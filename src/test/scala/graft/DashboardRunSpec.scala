package graft

import graft.analytics.{CompareAssets, Similarity, Volatility}
import graft.io.{ApiJson, BarsIO, PdfReport}
import graft.ta.Technical
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Dashboard.run on a small generated wide CSV: each artifact must equal
  * what the modules produce when composed one DataFrame at a time, so
  * rendering from rows collected once changes no byte. */
class DashboardRunSpec extends SparkSpec {

  test("payloads and report equal the module-by-module frame composition") {
    val tmp = Files.createTempDirectory("graftdashrun")
    try {
      val csv = PipelineFixtures.wideCsv(tmp, Seq("KLM", "ABC", "XYZ", "DEF", "GHI"), 80, 5L)
      val out = tmp.resolve("out")
      Files.createDirectories(out)
      val files = Dashboard.run(spark, csv, out.toString)
      assert(files == Seq("symbols.json", "risk.json", "heatmap.json",
        "similarity.json", "report.pdf"))

      val keys = Seq("symbol")
      val order = Seq(col("date"))
      val bars = BarsIO.readLong(spark, csv)
      val priced = bars.filter(col("close").isNotNull)
      val classified = Volatility.classify(
        Volatility.annualized(priced, col("close"), keys, order), Seq(col("symbol")))
      val heat = Similarity.heatmap(Similarity.withPos(
        priced.withColumn("ret", Technical.logReturnStrict(col("close"), keys, order))
          .filter(col("ret").isNotNull)
          .select(col("symbol"), col("date"), col("ret").as("v")), keys, order), "symbol")
      // no VOO/SPY here: the first two sorted symbols
      val sim = CompareAssets.compare(bars, "ABC", "DEF")
      val expected = Seq(
        "symbols.json" -> ApiJson.symbols(bars),
        "risk.json" -> ApiJson.risk(classified),
        "heatmap.json" -> ApiJson.heatmap(heat),
        "similarity.json" -> ApiJson.similarity("ABC", "DEF", sim))
      for ((name, json) <- expected)
        assert(Files.readString(out.resolve(name)) == json + "\n", s"$name differs")

      val pdf = Files.readAllBytes(out.resolve("report.pdf"))
      assert(new String(pdf.take(8), "ISO-8859-1").startsWith("%PDF-1.4"))
      assert(new String(pdf.takeRight(16), "ISO-8859-1").contains("%%EOF"))
      // the frame-form sections render the same bytes
      val volTable = classified.select(col("rank"), col("symbol"),
        round(col("vol") * 100, 2).as("vol_pct"), col("risk_class")).orderBy("rank")
      val topCorr = heat.filter(col("ka") < col("kb"))
        .select(col("ka"), col("kb"), round(col("corr"), 4).as("pearson"))
        .orderBy(desc("pearson"), col("ka"), col("kb")).limit(10)
      val framePdf = PdfReport.render("Portfolio analytics report", s"source: $csv — 5 symbols",
        Seq(PdfReport.Section("Risk classification (annualized volatility)", volTable),
          PdfReport.Section("Top-10 correlated pairs", topCorr)))
      assert(pdf.sameElements(framePdf), "report.pdf differs from the frame-form render")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
