package graft

import graft.align.Alignment
import graft.analytics.{CompareAssets, Similarity, Volatility}
import graft.io.{ApiJson, BarsIO, PdfReport}
import graft.ta.Technical
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The reference workload end-to-end, offline, as one `runMain`: the
  * user-facing demo that the completed §2 surface composes — wide CSV
  * source → vol/risk pipeline → correlation heatmap → pair similarity
  * (incl. DTW) → every dashboard JSON payload (`app.py:156-487` shapes
  * via [[graft.io.ApiJson]]) + the PDF report sink
  * ([[graft.io.PdfReport]]).
  *
  * {{{
  * sbt "runMain graft.Dashboard [wideCsv] [outDir] [symA symB]"
  * // defaults: /root/reference/data/dataset_maestro.csv target/dashboard VOO SPY
  * }}}
  *
  * Writes `symbols.json`, `risk.json`, `heatmap.json`,
  * `similarity.json`, `report.pdf` into `outDir`. Everything heavy runs
  * distributed (the payload renders collect only k-bounded frames —
  * see ApiJson's scaladoc); DashboardSpec asserts the composed
  * artifacts, ReferenceParitySpec the numeric anchors inside them.
  */
object Dashboard {
  def main(args: Array[String]): Unit = {
    val csv = if (args.length > 0) args(0) else "/root/reference/data/dataset_maestro.csv"
    val outDir = if (args.length > 1) args(1) else "target/dashboard"
    val spark = Graft.envSession()
    try {
      Files.createDirectories(Paths.get(outDir))
      val out = run(spark, csv, outDir,
        if (args.length > 3) Some((args(2), args(3))) else None)
      println(s"[dashboard] wrote ${out.mkString(", ")} to $outDir")
    } finally spark.stop()
  }

  /** Builds every artifact; returns the written file names. Separated
    * from main so DashboardSpec can drive it on the session it owns.
    *
    * Each k-bounded result is computed and collected ONCE and every
    * artifact renders from those rows: the symbol list comes from the
    * CSV header's `*_Close` columns (no job), the risk rows feed
    * risk.json and the PDF's vol table, the heatmap cells feed
    * heatmap.json and the PDF's top-10. Nothing is kept past the call. */
  def run(spark: SparkSession, csv: String, outDir: String,
      pair: Option[(String, String)] = None): Seq[String] = {
    val keys = Seq("symbol")
    val order = Seq(col("date"))
    val wide = BarsIO.readWideCsv(spark, csv)
    val syms = Alignment.wideSymbols(wide)
    val bars = Alignment.wideToLong(wide).cache()
    try {
      val priced = bars.filter(col("close").isNotNull)

      // /api/risk — annualized vol → tercile classification (A4-A8)
      val riskRows = ApiJson.riskRows(Volatility.classify(
        Volatility.annualized(priced, col("close"), keys, order),
        Seq(col("symbol"))))

      // /api/heatmap — Pearson over log returns, all pairs (A9/A10)
      val rets = priced
        .withColumn("ret", Technical.logReturnStrict(col("close"), keys, order))
        .filter(col("ret").isNotNull)
      val heatRows = Similarity.heatmap(
        Similarity.withPos(rets.select(col("symbol"), col("date"),
          col("ret").as("v")), keys, order),
        "symbol").select("ka", "kb", "corr").collect().toSeq

      // /api/similarity — the X3 façade (euclidean/pearson/DTW/cosine)
      val (symA, symB) = pair.getOrElse {
        if (syms.contains("VOO") && syms.contains("SPY")) ("VOO", "SPY")
        else (syms(0), syms(math.min(1, syms.length - 1)))
      }
      val sim = CompareAssets.compare(bars, symA, symB)

      def write(name: String, text: String): String = {
        Files.write(Paths.get(outDir, name), (text + "\n").getBytes("UTF-8"))
        name
      }
      val jsons = Seq(
        write("symbols.json", ApiJson.symbols(syms)),
        write("risk.json", ApiJson.risk(riskRows)),
        write("heatmap.json", ApiJson.heatmap(heatRows)),
        write("similarity.json", ApiJson.similarity(symA, symB, sim)))

      // the PDF report sink over the same result rows (S9)
      val volTable = riskRows.map(r => Row(r.getInt(3), r.getString(0),
        ApiJson.round(r.getDouble(1) * 100, 2), r.getString(2)))
      // pairs that tie on the rounded coefficient list in (ka, kb) order
      val topCorr = heatRows.filter(r => r.getString(0) < r.getString(1))
        .map(r => (r.getString(0), r.getString(1), ApiJson.round(r.getDouble(2), 4)))
        .sortBy { case (ka, kb, p) => (-p, ka, kb) }(
          Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.String, Ordering.String))
        .take(10).map(Row.fromTuple)
      PdfReport.write(s"$outDir/report.pdf", "Portfolio analytics report",
        s"source: $csv — ${syms.length} symbols",
        Seq(PdfReport.Section("Risk classification (annualized volatility)",
            Seq("rank", "symbol", "vol_pct", "risk_class"), volTable, PdfReport.MaxRows),
          PdfReport.Section("Top-10 correlated pairs",
            Seq("ka", "kb", "pearson"), topCorr, PdfReport.MaxRows)))
      jsons :+ "report.pdf"
    } finally bars.unpersist()
  }
}
