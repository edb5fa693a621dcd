package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names] — the optional
    // filter is a local-iteration aid; the driver always passes two args.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      args.drop(2).headOption.map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.driver(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // ADVICE r17: several lifecycle gates persist() frames their
      // caller must not recompute (serve results probed twice in-gate);
      // once the gate's output is WRITTEN those blocks are dead weight.
      // Dropping them here keeps gate-local caches from accumulating
      // across the 230-gate sweep and leaning on LRU eviction.
      // Guarded (review r18): a broken cached relation left behind by
      // a FAILING gate must cost that gate only, not abort the sweep
      // and zero every remaining gate's correctness row. NonFatal only
      // (r18 advice): an OutOfMemoryError/LinkageError surfacing here
      // means the JVM is corrupted — continuing would misreport every
      // later gate as its own failure; let it propagate and die loudly.
      try spark.catalog.clearCache()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] clearCache after $name: ${e.getMessage}")
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
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
