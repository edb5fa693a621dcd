package graft.core

import org.apache.spark.sql.SparkSession
import scala.util.Try

/** Conf-scoped session clones. `newSession()` shares the SparkContext
  * but resets runtime `conf.set` values to builder/SparkConf defaults —
  * a clone used to scope one legacy flag would silently drop the
  * caller's runtime settings (timezone, ANSI, shuffle partitions) for
  * every plan built on it. `scoped` copies the caller's runtime SQL conf
  * onto the clone first, then applies the scoped overrides, so the clone
  * differs from the caller in EXACTLY the overridden keys. */
object Sessions {
  /** The session of the runnable mains graft.Verify, graft.Bench and
    * graft.PlanDump: `local[cpus]` with one shuffle partition per core,
    * UTC, AQE on, UI off, WARN logging. Verify and Bench outputs are
    * compared across commits, so this conf is part of their contract.
    *
    * InferFiltersFromGenerate is excluded: it turns
    * explode(expensive_array_expr) into a scan-level filter that
    * re-evaluates the whole array expression per row (interpreted,
    * single scan task) — a pure pessimization for the dedup pipelines;
    * excluding it is semantics-preserving. */
  def driver(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def scoped(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      Try(s.conf.set(k, v)) // static/non-settable entries are skipped
    }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
