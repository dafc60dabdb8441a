package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev knob (same contract as Bench's SPARK_GRAFT_BENCH_ONLY):
    // comma-separated query names to dump in isolation while iterating
    // on one oracle; absent = the driver's full sweep, unchanged
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSeq))
    val spark = GraftSession.build("4")
    new java.io.File(outDir).mkdirs()
    var sinceGc = 0
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        e.printStackTrace()
      }
      // long-session driver hygiene: a 148-query sweep in one JVM
      // accumulates dead broadcasts / cached blocks faster than the
      // ContextCleaner's weak-ref GC notices — at sf1 that pressure
      // made ONE mid-sweep broadcast build refuse with "not enough
      // memory" even though the same query passes alone. Drop any
      // query-left cache entries and nudge a full GC every 16 queries
      // so the cleaner's queue drains (measured: the sweep's only
      // failure mode; the fix is session hygiene, not a plan change).
      sinceGc += 1
      if (sinceGc >= 16) {
        sinceGc = 0
        spark.catalog.clearCache()
        System.gc()
      }
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
    spark.stop()
  }
}
