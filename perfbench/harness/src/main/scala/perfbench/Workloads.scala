package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Dashboard, SparkEntry}
import graft.align.Alignment
import graft.analytics.{CompareAssets, Dtw, Similarity, Volatility}
import graft.clean.Cleaning
import graft.etl.EtlJob
import graft.ingest.ChartJson
import graft.io.{ApiJson, BarsIO, PdfReport}
import graft.ta.Technical

/** The workloads. Each drives the program only through its public entry
  * points; the traced run additionally replays each pipeline one module
  * call at a time, from here, to split its time by layer. */
object Workloads {

  /** The cold op, then warm ops until `seconds` of them have been
    * measured and there are at least `atLeast` of them. Time spent in
    * traced-run replays does not count. */
  private def loop(ctx: Ctx, seconds: Double, atLeast: Int)(op: => Unit): Unit = {
    op
    val start = System.nanoTime() - ctx.replayNs
    var warm = 0
    while (warm < atLeast || System.nanoTime() - ctx.replayNs - start < seconds * 1e9) {
      op
      warm += 1
    }
  }

  private def problem(ok: Boolean, what: => String): Seq[String] = if (ok) Nil else Seq(what)

  // ---------------------------------------------------------- pipelines

  /** The system's two pipelines in one JVM. A refresh is one op: the
    * write side, EtlJob.runWithSinks over the chart-JSON payloads, then
    * the read side, Dashboard.run over the benchmark's own wide CSV (not
    * the ETL's, so each side is checked against its own generator).
    * After the refreshes, one closed-loop client sends seeded pair
    * requests over the long bar frame, loaded once. */
  def pipelines(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val payloads = Files.readAllLines(Paths.get(ctx.inDir, "payloads.tsv")).asScala.toSeq
      .map { l => val Array(s, j) = l.split("\t", 2); (s, j) }
      .toDF("symbol", "json")
    val e = ctx.inputs.get("etl")
    val want = EtlJob.Report(e.get("symbols").asLong, e.get("calendar_days").asLong,
      e.get("aligned_rows").asLong, e.get("missing_close").asLong, e.get("anomalies").asLong)
    val pq = s"${ctx.outDir}/etl/parquet"
    val csvOut = s"${ctx.outDir}/etl/csv"
    val csv = s"${ctx.inDir}/wide.csv"
    val truth = Truth.fromWideCsv(csv)
    val dash = s"${ctx.outDir}/dashboard"
    Files.createDirectories(Paths.get(dash))

    def checkEtl(r: EtlJob.Report): Seq[String] = {
      val rows = parquetRows(pq)
      val part = new File(csvOut).listFiles().filter(_.getName.endsWith(".csv"))
      val lines = if (part.length == 1) Files.readAllLines(part(0).toPath).asScala else Nil
      val cols = lines.headOption.map(_.split(",", -1).length).getOrElse(0)
      problem(r == want, s"report $r != expected $want") ++
        problem(rows == want.alignedRows, s"parquet rows $rows != ${want.alignedRows}") ++
        problem(part.length == 1, s"${part.length} csv part files, expected 1") ++
        problem(lines.size == want.calendarDays + 1, s"csv lines ${lines.size} != ${want.calendarDays + 1}") ++
        problem(cols == e.get("csv_columns").asInt, s"csv columns $cols != ${e.get("csv_columns")}")
    }

    // The cold refresh and one warm one: a warm refresh alone outlasts the
    // measuring window, which the requests get.
    for (_ <- 1 to 2) ctx.op("refresh", "refresh") {
      val r = ctx.spans("etl.runWithSinks") { EtlJob.runWithSinks(payloads, pq, csvOut) }
      ctx.spans("dashboard.run") { Dashboard.run(spark, csv, dash) }
      r
    }(r => checkEtl(r) ++ truth.checkDashboard(dash),
      r => { etlReplay(ctx, payloads, r, csvOut); dashboardReplay(ctx, csv, dash) })

    val bars = BarsIO.readLong(spark, csv).cache()
    bars.count()
    val syms = truth.symbols
    val rng = new scala.util.Random(ctx.seed)
    loop(ctx, ctx.seconds, ctx.inputs.get("requests").asInt - 1) {
      val a = syms(rng.nextInt(syms.size))
      val b = syms.filter(_ != a)(rng.nextInt(syms.size - 1))
      ctx.op("request", "request", Map("pair" -> s"$a/$b"), release = false) {
        val r = ctx.spans("analytics.compare") { CompareAssets.compare(bars, a, b) }
        (r, ctx.spans("io.api_json") { ApiJson.similarity(a, b, r) })
      }({ case (r, json) => truth.checkCompare(a, b, r) ++
          problem(Main.mapper.readTree(json).get("metrics").get("n_points").asLong == r.n_points,
            s"similarity json does not carry n_points: $json") },
        _ => { val (x, y) = truth.pairReturns(a, b); ctx.spans("analytics.dtw") { Dtw.distance(x, y) } })
    }
    bars.unpersist(true)
  }

  /** Row count from the parquet footers, without a Spark job. */
  private def parquetRows(dir: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The lines of the one CSV part file under `dir`, sorted. */
  private def csvLines(dir: String): Seq[String] =
    new File(dir).listFiles().filter(_.getName.endsWith(".csv")).toSeq
      .flatMap(f => Files.readAllLines(f.toPath).asScala).sorted

  /** EtlJob's pipeline, one module call at a time; each stage's input is
    * cached first so a span holds only its own module's work. Its outputs
    * must equal the refresh's (`report`, the CSV under `csvOut`), so a
    * replay that drifts from EtlJob fails the op. */
  private def etlReplay(ctx: Ctx, payloads: DataFrame, report: EtlJob.Report,
      csvOut: String): Unit = {
    val sp = ctx.spans
    val keys = Seq("symbol")
    val order = Seq(col("date"))
    val bars = sp("ingest.parse") { val b = ChartJson.parse(payloads).cache(); b.count(); b }
    sp("clean.inconsistencies") { Cleaning.inconsistencies(bars).count() }
    val filled = sp("clean.forward_fill") {
      val f = Cleaning.dropInvalid(Cleaning.forwardFill(bars, "close", keys, order)).cache()
      f.count(); f
    }
    val aligned = sp("align.calendar") { val a = Alignment.alignToCalendar(filled).cache(); a.count(); a }
    val replayed = sp("etl.run") { EtlJob.run(payloads)._2 }
    require(replayed == report, s"replay: EtlJob.run reports $replayed, the refresh $report")
    sp("io.parquet_write") { aligned.write.mode("overwrite").parquet(s"${ctx.outDir}/replay/parquet") }
    val rows = parquetRows(s"${ctx.outDir}/replay/parquet")
    require(rows == report.alignedRows, s"replay: parquet rows $rows != ${report.alignedRows}")
    val symbols = aligned.select("symbol").distinct().collect().map(_.getString(0)).sorted.toSeq
    val wide = sp("align.pivot") { val w = Alignment.pivotWide(aligned, symbols).cache(); w.count(); w }
    sp("io.csv_write") { BarsIO.writeWideCsv(wide.withColumnRenamed("date", "Date"), s"${ctx.outDir}/replay/csv") }
    require(csvLines(s"${ctx.outDir}/replay/csv") == csvLines(csvOut), "replay: wide CSV differs from the refresh's")
    Seq(bars, filled, aligned, wide).foreach(_.unpersist(true))
  }

  /** Dashboard.run's composition, one module call at a time. Each JSON
    * payload must equal the one the refresh wrote into `dash`, so a
    * replay that drifts from Dashboard.run fails the op. */
  private def dashboardReplay(ctx: Ctx, csv: String, dash: String): Unit = {
    val sp = ctx.spans
    val spark = ctx.spark
    val keys = Seq("symbol")
    val order = Seq(col("date"))
    val bars = sp("io.csv_read") { val b = BarsIO.readLong(spark, csv).cache(); b.count(); b }
    val priced = bars.filter(col("close").isNotNull)
    val classified = sp("analytics.volatility") {
      val c = Volatility.classify(Volatility.annualized(priced, col("close"), keys, order),
        Seq(col("symbol"))).cache()
      c.count(); c
    }
    val rets = sp("ta.log_return") {
      val r = priced.withColumn("ret", Technical.logReturnStrict(col("close"), keys, order))
        .filter(col("ret").isNotNull).cache()
      r.count(); r
    }
    val heat = sp("analytics.heatmap") {
      val h = Similarity.heatmap(Similarity.withPos(
        rets.select(col("symbol"), col("date"), col("ret").as("v")), keys, order), "symbol").cache()
      h.count(); h
    }
    val syms = bars.select("symbol").distinct().orderBy("symbol").collect().map(_.getString(0))
    val (symA, symB) =
      if (syms.contains("VOO") && syms.contains("SPY")) ("VOO", "SPY")
      else (syms(0), syms(math.min(1, syms.length - 1)))
    val sim = sp("analytics.compare") { CompareAssets.compare(bars, symA, symB) }
    val jsons = sp("io.api_json") {
      Seq("symbols.json" -> ApiJson.symbols(bars), "risk.json" -> ApiJson.risk(classified),
        "heatmap.json" -> ApiJson.heatmap(heat), "similarity.json" -> ApiJson.similarity(symA, symB, sim))
    }
    for ((name, json) <- jsons)
      require(Files.readString(Paths.get(dash, name)) == json + "\n", s"replay: $name differs from the refresh's")
    sp("io.pdf") {
      val volTable = classified.select(col("rank"), col("symbol"),
        round(col("vol") * 100, 2).as("vol_pct"), col("risk_class")).orderBy("rank")
      val topCorr = heat.filter(col("ka") < col("kb"))
        .select(col("ka"), col("kb"), round(col("corr"), 4).as("pearson"))
        .orderBy(desc("pearson")).limit(10)
      PdfReport.write(s"${ctx.outDir}/replay/report.pdf", "Portfolio analytics report",
        s"source: $csv — ${syms.length} symbols",
        Seq(PdfReport.Section("Risk classification (annualized volatility)", volTable),
          PdfReport.Section("Top-10 correlated pairs", topCorr)))
    }
    Seq(bars, classified, rets, heat).foreach(_.unpersist(true))
  }

  // ------------------------------------------------------------ catalog

  /** The sample run.py passes, (query, owning module) pairs, runs back to
    * back into the noop sink, releasing materialized frames between
    * executions as Bench does. */
  def catalog(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sample = ctx.inputs.get("sample").asScala.map(q => (q.get(0).asText, q.get(1).asText)).toSeq
    val dir = ctx.inDir
    val queries = SparkEntry.queries
    def exec(name: String): Unit =
      queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
    def pass(): Unit = sample.foreach { case (name, module) =>
      ctx.op("query", name, Map("module" -> module))(ctx.spans(s"operators.$module")(exec(name)))(_ => Nil)
    }
    loop(ctx, ctx.seconds, ctx.inputs.get("warm_reps").asInt)(pass())

    // Outside the timed region: dump each result for the oracle check.
    val dump = s"${ctx.outDir}/catalog"
    sample.foreach { case (name, _) =>
      queries(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
      graft.Graft.releaseMaterialized(spark, blocking = true)
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(dump, "oracle_sql.json"), Recorder.json(
      sample.flatMap { case (n, _) => oracle.get(n).map(n -> _) }.toMap))
  }
}
