package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.sql.perfbench.Bus

/** One timed call into a layer. `stats` holds the engine-counter
  * differences over the span, `busyMs` the part of it during which some
  * task ran and `serialMs` the part spent in single-task stages. */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      startMs: Double, endMs: Double, stats: Map[String, Double],
                      busyMs: Double, serialMs: Double) {
  def secs: Double = (endMs - startMs) / 1000
  def stat(k: String): Double = stats.getOrElse(k, 0.0)
}

/** Records spans in memory. The benchmark makes one call at a time, so
  * engine work between a span's start and end belongs to that span; the
  * listener bus is drained at both ends so every event of the span has
  * been counted before its snapshot is taken. */
final class Tracer(sc: SparkContext, engine: EngineProbe) {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private var stack: List[Int] = Nil
  private var nextId = 0
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  var run = 0

  /** Epoch milliseconds on the monotonic clock, comparable with the
    * task and stage times Spark reports. */
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def apply[T](name: String)(body: => T): T = {
    Bus.drain(sc)
    val before = engine.snapshot()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      stack = stack.tail
      Bus.drain(sc)
      val after = engine.snapshot()
      spans += Span(id, name, parent, run, t0, t1,
        after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) },
        engine.busyMs(t0, t1), engine.serialMs(t0, t1))
    }
  }

  def ofRun(r: Int): Seq[Span] = spans.filter(_.run == r).toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Spans of the run as JSON-ready maps, with self time. */
  def dump(): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "self_s" -> (s.secs - children(s).map(_.secs).sum),
      "busy_s" -> s.busyMs / 1000, "stats" -> s.stats)
  }

  /** Engine-level per-layer metrics over `s` on a `cores`-wide executor. */
  def engineMetrics(s: Span, cores: Int): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> s.stat("jobs"),
      "spark.stages" -> s.stat("stages"),
      "spark.tasks" -> s.stat("tasks"),
      "spark.executor_run_s" -> s.stat("run_ms") / 1000,
      "spark.executor_cpu_s" -> s.stat("cpu_ns") / 1e9,
      "spark.gc_s" -> s.stat("gc_ms") / 1000,
      "spark.cpu_busy_frac" -> s.stat("run_ms") / (s.secs * 1000 * cores),
      "spark.driver_only_s" -> (s.endMs - s.startMs - s.busyMs) / 1000,
      "spark.planning_s" -> s.stat("planning_ms") / 1000,
      "spark.shuffle_write_mb" -> s.stat("shuffle_write_b") / mb,
      "spark.spill_mb" -> s.stat("spill_b") / mb,
      "spark.input_mb" -> s.stat("input_b") / mb,
      "spark.output_mb" -> s.stat("output_b") / mb,
      "spark.output_files" -> s.stat("files"),
      "trace.uncovered_s" -> (s.secs - children(s).map(_.secs).sum))
  }
}
