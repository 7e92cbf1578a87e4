package graft.etl

import graft.align.Alignment
import graft.clean.Cleaning
import graft.ingest.ChartJson
import graft.io.BarsIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's ETL pipeline end-to-end (SURVEY.md §3.1), Spark-shaped:
  * chart-JSON payloads → parse → quality report → forward-fill close →
  * drop invalid → master-calendar alignment → wide assembly → sinks.
  *
  * The HTTP fetch stays a driver-side connector (it hands this job a
  * (symbol, json) frame); everything from parse on runs distributed.
  * One shuffle for the calendar alignment join, one for the pivot —
  * both keyed, both AQE-coalesced.
  */
object EtlJob {

  case class Report(symbols: Long, calendarDays: Long, alignedRows: Long,
    missingClose: Long, anomalies: Long)

  /** Returns (long bar table aligned to the master calendar, report). */
  def run(payloads: DataFrame): (DataFrame, Report) = {
    val (aligned, report, _) = runAligned(payloads)
    (aligned, report)
  }

  /** Full job with sinks: canonical parquet + reference-compatible wide CSV. */
  def runWithSinks(payloads: DataFrame, parquetOut: String, csvOut: String): Report = {
    val (aligned, report, symbols) = runAligned(payloads)
    aligned.write.mode("overwrite").parquet(parquetOut)
    val wide = Alignment.pivotWide(aligned, symbols)
    BarsIO.writeWideCsv(wide.withColumnRenamed("date", "Date"), csvOut)
    report
  }

  /** [[run]] plus the sorted symbol list the pivot needs. The four
    * aligned-table counts and the symbol list come from ONE aggregate,
    * not a job chain per count; its sets are bounded by the symbol
    * count and the calendar length. */
  private def runAligned(payloads: DataFrame): (DataFrame, Report, Seq[String]) = {
    val bars = ChartJson.parse(payloads)

    val anomalies = Cleaning.inconsistencies(bars).count()
    val filled = Cleaning.dropInvalid(
      Cleaning.forwardFill(bars, "close", Seq("symbol"), Seq(col("date"))))
    // feeds the report aggregate and is handed to the caller; blocks are
    // GC-reclaimed once the caller drops it (see Graft.materialize).
    val aligned = graft.Graft.materialize(Alignment.alignToCalendar(filled))

    val r = aligned.agg(
      collect_set(col("symbol")).as("symbols"),
      size(collect_set(col("date"))).cast("long").as("days"),
      count(lit(1)).as("rows"),
      count(when(col("close").isNull, 1)).as("missing")).head()
    val symbols = r.getSeq[String](0).sorted
    val report = Report(
      symbols = symbols.size.toLong,
      calendarDays = r.getLong(1),
      alignedRows = r.getLong(2),
      missingClose = r.getLong(3),
      anomalies = anomalies)
    (aligned, report, symbols)
  }
}
