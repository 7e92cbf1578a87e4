package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A query that
  * fails is logged and counted; the dump still completes, then prints
  * `FAILED n` and exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd arg (local iteration only — the driver passes 2):
    // comma-separated query names to dump, instead of the full catalog.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.envSession()
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally
        // Bound materializeDisk's session lifetime: without this a full
        // 246-query sweep accumulates every persist(DISK_ONLY) frame
        // until session end (r11 verdict "What's wrong" #2).
        Graft.releaseMaterialized(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Run-env fingerprint (sha/cpus/heap/GC/loadavg) alongside the dump:
    // scripts/oracle_check.py embeds it in its correctness artifact so
    // every rung JSON is self-describing (r10 verdict item 1).
    Files.writeString(Paths.get(s"$outDir/run_env.json"), RunEnv.json(cpus, 1))
    spark.stop()
    // a missing dump must not read as a pass: count it and exit nonzero
    if (nFailed > 0) {
      println(s"[verify] FAILED $nFailed")
      sys.exit(1)
    }
  }
}
