package perfbench

import java.io.{File, FileWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.Graft

/** One benchmark run inside one JVM. `perfbench/run.py` generates the
  * inputs, launches this main with a params file, and turns the records
  * it appends to `progress.jsonl` into the metrics.
  *
  * Every record is appended and flushed as soon as it is measured, so a
  * run that is killed keeps what it had measured. */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val p = mapper.readTree(new File(args(0)))
    val out = new Recorder(new File(p.get("out_dir").asText, "progress.jsonl"))
    val spark = Graft.envSession()
    out.write("setup", Map("ready_ms" -> System.currentTimeMillis()))
    val ctx = new Ctx(spark, p, out)
    try p.get("workload").asText match {
      case "pipelines" => Workloads.pipelines(ctx)
      case "catalog" => Workloads.catalog(ctx)
    } finally {
      out.write("end", Map("peak_rss_mb" -> peakRssMb,
        "process_cpu_s" -> processCpuNs / 1e9, "env" -> Raw(graft.RunEnv.json(
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), 1))))
      out.close()
      spark.stop()
    }
  }

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  /** VmHWM, the JVM's resident-set high-water mark, in MB. */
  def peakRssMb: Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** A JSON fragment that is already serialized. */
final case class Raw(json: String)

/** Appends one JSON object per line and flushes each. */
final class Recorder(file: File) {
  private val w = new FileWriter(file, true)

  def write(kind: String, fields: Map[String, Any]): Unit = synchronized {
    w.write(Recorder.json(fields + ("kind" -> kind)) + "\n")
    w.flush()
  }
  def close(): Unit = w.close()
}

object Recorder {
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case Raw(s) => s
    case s: String => Main.mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}

/** Run parameters and the services a workload uses. */
final class Ctx(val spark: SparkSession, p: JsonNode, val out: Recorder) {
  val seed: Long = p.get("seed").asLong
  val seconds: Double = p.get("seconds").asDouble
  val traced: Boolean = p.get("trace").asBoolean
  val inDir: String = p.get("in_dir").asText
  val outDir: String = p.get("out_dir").asText
  /** What run.py generated: the answers the checks expect, the sample. */
  val inputs: JsonNode = p.get("inputs")
  val spans = new Spans
  /** Time spent in traced-run replays, which the measuring window skips. */
  var replayNs = 0L
  private val reps = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)

  /** Runs one op: times it, checks its output outside the timed region,
    * and appends its record. In the traced run the benchmark's listeners
    * are registered around every op, and `after` runs untimed, after the
    * op and its check, to record further spans (module replays).
    * `release` frees what the op materialized (blocking, untimed), as
    * Bench does between executions. */
  def op[T](kind: String, key: String, fields: Map[String, Any] = Map.empty,
      release: Boolean = true)(body: => T)(
      check: T => Seq[String], after: T => Unit = (_: T) => ()): Option[T] = {
    val rep = reps(key)
    reps(key) = rep + 1
    val engine = if (traced) Some(new Engine(spark)) else None
    spans.trace += 1
    val first = spans.done.size
    engine.foreach(_.begin())
    val c0 = Main.processCpuNs
    val t0 = System.nanoTime()
    val res = try Right(spans(s"op.$kind")(body)) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Main.processCpuNs - c0) / 1e9
    val counters = engine.map(_.end()).getOrElse(Map.empty)
    engine.foreach(_.close())
    val checked = res match {
      case Left(e) => Seq(s"failed: $e")
      case Right(v) => try check(v) catch { case e: Throwable => Seq(s"check failed: $e") }
    }
    val a0 = System.nanoTime()
    val problems = checked ++ (if (traced) res.toOption.flatMap(v =>
      try { after(v); None } catch { case e: Throwable => Some(s"replay failed: $e") }) else None)
    replayNs += System.nanoTime() - a0
    val r0 = System.nanoTime()
    if (release) Graft.releaseMaterialized(spark, blocking = true)
    val releaseS = (System.nanoTime() - r0) / 1e9
    val opSpans = spans.done.drop(first)
    out.write("op", fields ++ Map("op" -> kind, "key" -> key, "rep" -> rep,
      "wall_s" -> wall, "cpu_s" -> cpu, "release_s" -> releaseS, "peak_rss_mb" -> Main.peakRssMb,
      "ok" -> problems.isEmpty, "problems" -> problems, "counters" -> counters,
      "spans" -> opSpans.map(s => Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq))
    res.toOption
  }
}
