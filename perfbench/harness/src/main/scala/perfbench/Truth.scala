package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.analytics.CompareAssets.SimilarityResult

/** Plain-Scala recomputation of the dashboard's numbers from the
  * generated wide CSV, read without Spark: per-symbol annualized
  * volatility, positional Pearson between return series, and the pair
  * metrics of CompareAssets. The output checks compare against these. */
final class Truth(val symbols: IndexedSeq[String], closes: Map[String, IndexedSeq[Option[Double]]]) {
  private def logRets(ps: IndexedSeq[Double]): Array[Double] =
    ps.indices.drop(1).map(i => math.log(ps(i) / ps(i - 1))).toArray

  /** Log returns over a symbol's non-null closes, in date order. */
  private val rets: Map[String, Array[Double]] = closes.map { case (s, cs) => s -> logRets(cs.flatten) }

  val vol: Map[String, Double] = rets.map { case (s, r) =>
    val m = r.sum / r.length
    s -> math.sqrt(r.map(x => (x - m) * (x - m)).sum / (r.length - 1)) * math.sqrt(252.0)
  }

  /** Heatmap cell: Pearson over the positionally aligned common prefix. */
  def heat(a: String, b: String): Double =
    if (a == b) 1.0 else graft.analytics.Similarity.pearsonKernel(rets(a), rets(b))

  /** The two return arrays CompareAssets builds: dates where both closes
    * are present and positive, returns over those aligned positions. */
  def pairReturns(a: String, b: String): (Array[Double], Array[Double]) = {
    val both = closes(a).zip(closes(b)).collect { case (Some(x), Some(y)) if x > 0 && y > 0 => (x, y) }
    (logRets(both.map(_._1)), logRets(both.map(_._2)))
  }

  def compare(a: String, b: String): SimilarityResult = {
    val (x, y) = pairReturns(a, b)
    val n = x.length
    if (n < 1) return graft.analytics.CompareAssets.Zero
    val dot = x.zip(y).map { case (p, q) => p * q }.sum
    val na = math.sqrt(x.map(v => v * v).sum)
    val nb = math.sqrt(y.map(v => v * v).sum)
    SimilarityResult(
      euclidean = math.sqrt(x.zip(y).map { case (p, q) => (p - q) * (p - q) }.sum),
      pearson = graft.analytics.Similarity.pearsonKernel(x, y),
      dtw = Double.NaN, // not recomputed; the DTW kernel is timed, not checked
      cosine = if (na == 0 || nb == 0) 0.0 else dot / (na * nb),
      n_points = n)
  }

  private def near(what: String, got: Double, want: Double, tol: Double): Seq[String] =
    if (math.abs(got - want) <= tol) Nil else Seq(f"$what: $got%.12f vs recomputed $want%.12f")

  /** A similarity request: every metric but DTW within 1e-9. */
  def checkCompare(a: String, b: String, r: SimilarityResult): Seq[String] = {
    val w = compare(a, b)
    near(s"$a/$b pearson", r.pearson, w.pearson, 1e-9) ++
      near(s"$a/$b euclidean", r.euclidean, w.euclidean, 1e-9) ++
      near(s"$a/$b cosine", r.cosine, w.cosine, 1e-9) ++
      (if (r.n_points == w.n_points) Nil else Seq(s"$a/$b n_points ${r.n_points} vs ${w.n_points}"))
  }

  /** Dashboard.run's artifacts: all exist and parse, k and k×k
    * cardinalities, and every number within its payload's rounding
    * (half a unit in the last place, plus 1e-9) of the recomputation. */
  def checkDashboard(dir: String): Seq[String] = {
    def json(name: String) = Main.mapper.readTree(new File(dir, name))
    val k = symbols.size
    val syms = json("symbols.json").get("symbols").asScala.map(_.asText).toSeq
    val risk = json("risk.json").get("classifications").asScala.toSeq
    val hm = json("heatmap.json")
    val hmSyms = hm.get("symbols").asScala.map(_.asText).toIndexedSeq
    val matrix = hm.get("matrix").asScala.map(_.asScala.map(_.asDouble).toIndexedSeq).toIndexedSeq
    val sim = json("similarity.json")
    val (a, b) = (sim.get("symbol_a").asText, sim.get("symbol_b").asText)
    val want = compare(a, b)
    val m = sim.get("metrics")
    val pdf = Files.readAllBytes(Paths.get(dir, "report.pdf"))
    val shape =
      (if (syms == symbols) Nil else Seq(s"symbols.json lists ${syms.size}, expected $k")) ++
        (if (risk.size == k) Nil else Seq(s"risk has ${risk.size} rows, expected $k")) ++
        (if (hmSyms == symbols && matrix.size == k && matrix.forall(_.size == k)) Nil
         else Seq(s"heatmap is not $k x $k")) ++
        (if (new String(pdf.take(5), "ISO-8859-1") == "%PDF-") Nil else Seq("report.pdf is not a PDF"))
    if (shape.nonEmpty) return shape
    risk.flatMap(r => near(s"vol ${r.get("symbol").asText}", r.get("volatility").asDouble,
        vol(r.get("symbol").asText), 0.5e-6 + 1e-9)) ++
      (for (i <- 0 until k; j <- 0 until k)
        yield near(s"heatmap ${hmSyms(i)}/${hmSyms(j)}", matrix(i)(j), heat(hmSyms(i), hmSyms(j)), 0.5e-4 + 1e-9)).flatten ++
      near(s"$a/$b pearson", m.get("pearson").asDouble, want.pearson, 0.5e-6 + 1e-9) ++
      near(s"$a/$b euclidean", m.get("euclidean").asDouble, want.euclidean, 0.5e-6 + 1e-9) ++
      near(s"$a/$b cosine", m.get("cosine").asDouble, want.cosine, 0.5e-6 + 1e-9)
  }
}

object Truth {
  def fromWideCsv(path: String): Truth = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq
    val header = lines.head.split(",", -1)
    val rows = lines.tail.map(_.split(",", -1))
    val symbols = header.filter(_.endsWith("_Close")).map(_.stripSuffix("_Close")).sorted.toIndexedSeq
    val closes = symbols.map { s =>
      val i = header.indexOf(s + "_Close")
      s -> rows.map(r => if (r(i) == "None" || r(i).isEmpty) None else Some(r(i).toDouble))
    }.toMap
    new Truth(symbols, closes)
  }
}
