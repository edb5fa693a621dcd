package graft

import java.nio.file.{Files, Paths}

/** Optimization-round helper: writes `.explain("formatted")` for the named
  * queries to `<outDir>/<name>_<tag>.txt` (the judge checks plan claims
  * against these committed files — round-21 deliverable).
  *
  * Usage: `sbt "runMain graft.PlanDump <tag> <q1,q2,...>"` with the same
  * env contract as Bench ($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS);
  * $PLAN_OUT overrides the output dir (default plans/r21).
  *
  * Composite lifecycle gates mutate scratch state while BUILDING their
  * frame; the dump runs the builder exactly once per query, like one
  * bench invocation, and explains the returned frame.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = Paths.get(sys.env.getOrElse("PLAN_OUT", "plans/r21"))
    Files.createDirectories(outDir)
    val spark = graft.core.Sessions.driver(cpus)
    // PLAN_FINAL=1 (r22): execute the query and append the FINAL adaptive
    // plan — the only place AQE stage reuse (ReusedExchange) is visible;
    // the static explain prints duplicated subtrees that may or may not
    // collapse at runtime, so reuse claims need this section.
    val wantFinal = sys.env.get("PLAN_FINAL").contains("1")
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val finalPart = if (!wantFinal) "" else {
          // collect(), not the noop writer: the writer wraps the frame in
          // its OWN QueryExecution, so df.queryExecution would still hold
          // isFinalPlan=false — the reuse evidence needs THIS plan driven
          df.collect()
          val s = df.queryExecution.executedPlan.toString
          val cut = s.indexOf("== Initial Plan ==")
          "\n\n== Final Adaptive Plan (after execution) ==\n" +
            (if (cut >= 0) s.substring(0, cut) else s)
        }
        Files.writeString(outDir.resolve(s"${n}_$tag.txt"), plan + finalPart)
        System.err.println(s"PLANDUMP ok $n (${plan.length} chars" +
          (if (wantFinal) s" + final ${finalPart.length}" else "") + ")")
      } catch { case e: Throwable =>
        System.err.println(s"PLANDUMP FAIL $n: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
      } finally {
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      }
    }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }
}
