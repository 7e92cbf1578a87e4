package graft

import graft.analytics.CompareAssets
import graft.etl.EtlJob
import graft.io.BarsIO
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Spark jobs per pipeline op, pinned: per-job overhead, not data, sets
  * these ops' latency, so an action quietly added back must fail here.
  * The bounds are the counts measured on these inputs. */
class JobCountSpec extends SparkSpec {

  private def jobs(body: => Any): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private val symbols = Seq("AAA", "BBB", "CCC", "DDD")

  test("CompareAssets.compare, collected arm: at most 3 jobs") {
    val tmp = Files.createTempDirectory("graftjobs")
    try {
      val bars = BarsIO.readLong(spark, PipelineFixtures.wideCsv(tmp, symbols, 120, 3L)).cache()
      bars.count()
      val n = jobs(CompareAssets.compare(bars, "AAA", "BBB"))
      bars.unpersist()
      assert(n <= 3, s"compare ran $n jobs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("EtlJob.run: at most 9 jobs; runWithSinks: at most 15") {
    val payloads = PipelineFixtures.chartPayloads(spark, symbols, 60, 4L)
    val nRun = jobs(EtlJob.run(payloads))
    val tmp = Files.createTempDirectory("graftjobs")
    try {
      val nSinks = jobs(EtlJob.runWithSinks(payloads, s"$tmp/pq", s"$tmp/csv"))
      assert(nRun <= 9, s"EtlJob.run ran $nRun jobs")
      assert(nSinks <= 15, s"EtlJob.runWithSinks ran $nSinks jobs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("Dashboard.run: at most 23 jobs") {
    val tmp = Files.createTempDirectory("graftjobs")
    try {
      val csv = PipelineFixtures.wideCsv(tmp, symbols, 120, 3L)
      val n = jobs(Dashboard.run(spark, csv, tmp.toString))
      assert(n <= 23, s"Dashboard.run ran $n jobs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
