package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** Small seeded inputs in the two pipelines' source formats: the wide
  * CSV Dashboard.run reads and the chart-JSON payloads EtlJob parses.
  * Each symbol is a log-normal walk over weekdays from 2024-01-01, with
  * a few null closes. */
object PipelineFixtures {

  private def walk(rng: scala.util.Random, days: Int): Seq[Double] =
    (1 to days).scanLeft(20.0 + rng.nextDouble() * 80)((p, _) =>
      p * math.exp(rng.nextGaussian() * 0.02)).tail.map(p => math.rint(p * 1e4) / 1e4)

  private def weekdays(days: Int): Seq[LocalDate] =
    Iterator.iterate(LocalDate.of(2024, 1, 1))(_.plusDays(1))
      .filter(_.getDayOfWeek.getValue <= 5).take(days).toSeq

  /** Writes `<dir>/wide.csv` (header `Date,{SYM}_{Field}…`, "None" for a
    * null) and returns its path. */
  def wideCsv(dir: Path, symbols: Seq[String], days: Int, seed: Long): String = {
    val rng = new scala.util.Random(seed)
    val closes = symbols.map(_ => walk(rng, days))
    val header = "Date" +: symbols.flatMap(s =>
      Seq("Open", "High", "Low", "Close", "Volume").map(f => s"${s}_$f"))
    val lines = weekdays(days).zipWithIndex.map { case (d, i) =>
      (d.toString +: closes.flatMap { c =>
        val close = if (rng.nextDouble() < 0.02) "None" else c(i).toString
        Seq(c(i) * 0.99, c(i) * 1.01, c(i) * 0.98).map(_.toString) ++
          Seq(close, (1000 + rng.nextInt(9000)).toString)
      }).mkString(",")
    }
    val path = dir.resolve("wide.csv")
    Files.writeString(path, (header.mkString(",") +: lines).mkString("", "\n", "\n"))
    path.toString
  }

  /** (symbol, chart JSON) payloads; symbol i starts i days late, so the
    * calendars differ at the edges. */
  def chartPayloads(spark: SparkSession, symbols: Seq[String], days: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val cal = weekdays(days + symbols.size)
    symbols.zipWithIndex.map { case (s, k) =>
      val ts = cal.slice(k, k + days).map(_.toEpochDay * 86400L)
      val close = walk(rng, days).map(c => if (rng.nextDouble() < 0.05) "null" else c.toString)
      def arr(xs: Seq[Any]): String = xs.mkString("[", ",", "]")
      (s, s"""{"chart":{"result":[{"timestamp":${arr(ts)},"indicators":{"quote":[{""" +
        s""""open":${arr(close.map(_ => 10.0))},"high":${arr(close.map(_ => 1e6))},""" +
        s""""low":${arr(close.map(_ => 0.5))},"close":${arr(close)},""" +
        s""""volume":${arr(close.map(_ => 100))}}]}}]}}""")
    }.toDF("symbol", "json")
  }
}
