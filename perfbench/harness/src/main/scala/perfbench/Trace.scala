package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine and JVM counters for the traced run. Everything here is
  * registered by the benchmark from outside the program: a SparkListener
  * for jobs, stages and tasks, a QueryExecutionListener for the planning
  * phases, and JMX beans for JIT, GC and Janino codegen. */
final class Engine(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val stageTaskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def add(k: String, v: Double): Unit = synchronized { acc(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    acc("sched.jobs") += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("sched.stages", 1)
    if (e.stageInfo.failureReason.isDefined) add("sched.failed_stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc("sched.tasks") += 1
    if (!e.taskInfo.successful) acc("exec.failed_tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      acc("exec.task_run_s") += m.executorRunTime / 1e3
      acc("exec.task_cpu_s") += m.executorCpuTime / 1e9
      acc("exec.task_gc_s") += m.jvmGCTime / 1e3
      acc("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / 1048576.0
      acc("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / 1048576.0
      acc("spill.mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
      // Spark UI's scheduler delay: task duration not spent running,
      // (de)serializing or fetching the result.
      val delay = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      acc("sched.delay_s") += math.max(0L, delay) / 1e3
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, s) => add(s"plan.${phase}_s", s.durationMs / 1e3) }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def jvm(): Map[String, Double] = {
    val comp = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = cg.getSnapshot
    Map(
      "jit.compile_s" -> comp.getTotalCompilationTime / 1e3,
      "gc.pause_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "gc.count" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "codegen.compiles" -> cg.getCount.toDouble,
      // the histogram holds milliseconds in a sampled reservoir, so this
      // total is its mean times the exact count: approximate
      "codegen.compile_s" -> snap.getMean * cg.getCount / 1e3)
  }

  private var mark: (Long, Map[String, Double]) = (0L, Map.empty)

  /** Starts one op's counter window. */
  def begin(): Unit = {
    Bus.drain(sc)
    synchronized { acc.clear(); jobSpans.clear(); jobStart.clear(); stageTaskMs.clear() }
    mark = (System.currentTimeMillis(), jvm())
  }

  /** Ends the window begun by [[begin]]: counters of the jobs, stages and
    * tasks the op ran, JVM deltas, and the derived ratios. */
  def end(): Map[String, Double] = {
    val t1 = System.currentTimeMillis()
    Bus.drain(sc)
    val (t0, jvm0) = mark
    val wallMs = math.max(1L, t1 - t0)
    synchronized {
      val inJobs = union(jobSpans.toSeq.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) })
      val skews = stageTaskMs.values.filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }
      val derived = Map(
        "driver.outside_jobs_s" -> (wallMs - inJobs) / 1e3,
        "exec.core_util" -> acc("exec.task_run_s") * 1e3 / (wallMs * sc.defaultParallelism),
        "exec.skew" -> (if (skews.isEmpty) 1.0 else skews.max))
      acc.toMap ++ jvm().map { case (k, v) => k -> (v - jvm0.getOrElse(k, 0.0)) } ++ derived
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered, reach = 0L
    var first = true
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > reach) { covered += e - s; reach = e; first = false }
      else if (e > reach) { covered += e - reach; reach = e }
    }
    covered
  }

  def close(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** A span around one call into a layer: name, start, end, the span that
  * caused it, and the op (trace) it belongs to. Kept in memory and
  * written when the run ends. */
final case class Span(id: Int, parent: Int, trace: Int, name: String, startNs: Long, endNs: Long)

final class Spans {
  val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  var trace = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, parent, trace, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }
}
