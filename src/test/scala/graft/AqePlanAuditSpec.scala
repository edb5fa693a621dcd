package graft

import graft.queries.Registry

/** Executed-plan audits under AQE (round-6 verdict item 6). The static
  * audits in PlanAuditSpec pin the shape Catalyst STARTS from with AQE
  * off; these run the query to completion under AQE (the bench/driver
  * configuration) and assert on the FINAL adaptive plan — the only
  * place a claimed exchange reuse can be proven to actually fire, and
  * where AQE could silently split a documented shared exchange.
  *
  * What the r6 investigation found here: q55's `repartition(bg)` was
  * documented as "shared exchange: freq agg + join reuse it", but the
  * final AQE plan showed TWO independent bg exchanges — column pruning
  * projected the agg branch to bg-only while the probe carried
  * (doc_id, bg), so the subtrees never canonicalized equal and the
  * explode ran twice. The reuse that DOES fire (and is asserted) is the
  * round-robin scan exchange, whose subtree is identical on both
  * branches. */
class AqePlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Final adaptive plan text only — executedPlan.toString appends the
    * "Initial Plan" section, which would double-count exchanges. */
  private def finalPlan(name: String): String = {
    val df = Registry.byName(name).fn(spark, dir)
    df.collect() // drive to completion: all stages final
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  /** Non-reused shuffle exchanges on a key, in the final plan. */
  private def liveExchanges(p: String, key: String): Int =
    p.linesIterator.count(l => l.contains(s"Exchange hashpartitioning($key") &&
      !l.contains("ReusedExchange"))

  test("q55: doc-scan exchange reused by both consumers; exactly one bg shuffle survives AQE") {
    val p = finalPlan("q55_bigram_typicality")
    assert(p.contains("ReusedExchange"),
      s"the balanced-scan exchange must be reused by the agg and probe branches:\n$p")
    assert(liveExchanges(p, "bg") == 1,
      s"expected exactly one bg exchange (the frequency agg):\n$p")
  }

  test("q76 SCD2: lag + change-filter + lead ride ONE user_id exchange under AQE") {
    val p = finalPlan("q76_scd2_history")
    assert(liveExchanges(p, "user_id") == 1,
      s"AQE split the shared window exchange:\n$p")
  }

  test("q90 time-weighted avg: both windows ride ONE user_id exchange under AQE") {
    val p = finalPlan("q90_time_weighted_avg")
    assert(liveExchanges(p, "user_id") == 1,
      s"AQE split the shared window exchange:\n$p")
  }

  test("q67 paragraph dedup: the documented scan reuse still fires under AQE") {
    val p = finalPlan("q67_paragraph_dedup")
    assert(p.contains("ReusedExchange"),
      s"common-subplan reuse lost under AQE:\n$p")
  }

  test("q185 contamination spans: bench probe broadcasts; corpus side never sort-merges") {
    val p = finalPlan("q185_contamination_spans")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval-suite hash set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must not sort-merge on the bounded bench set:\n$p")
  }

  test("q186 dup-span removal: the span-hash exchange is shared by count and probe") {
    val p = finalPlan("q186_dup_span_removal")
    assert(p.contains("ReusedExchange"),
      s"the repartition(h) exchange must serve both the distinct-doc " +
        s"count and the join probe:\n$p")
  }

  test("q85 graph rank: the distinct edge list is reused across supersteps under AQE") {
    val p = finalPlan("q85_graph_rank")
    assert(p.contains("ReusedExchange"),
      s"edge-list reuse lost under AQE — each superstep would recompute the distinct:\n$p")
  }

  test("q231 BM25: the full corpus tokenizes ONCE in the final adaptive plan") {
    // r22 (plan audit over the r21 "single tokenize pass" rewrite): the
    // rewrite held in the INITIAL plan but not at runtime — the qt join
    // inferred isnotnull(doc_id) into the tf branch only, and column
    // pruning dropped tf's count from the df branch, so the subtrees
    // never canonicalized equal and the final plan ran FOUR live
    // tokenize passes. With the explicit isnotnull + count(tf)
    // alignment, exactly TWO Generate(explode) survive: the one full
    // corpus pass every statistic shares, and the qt branch's
    // doc_id<5 PRUNED mini-scan (PushedFilters prune it at the source —
    // cheaper than reading the full-corpus exchange back, kept
    // deliberately). Everything else must be ReusedExchange.
    val p = finalPlan("q231_bm25_topk")
    assert(p.contains("ReusedExchange"),
      s"tokenize-subtree reuse lost under AQE — the corpus would " +
        s"re-tokenize per statistic:\n$p")
    val liveExplodes = p.linesIterator.count(l =>
      l.contains("Generate explode"))
    assert(liveExplodes == 2,
      s"expected 2 live tokenize passes (full corpus + pruned qt), " +
        s"got $liveExplodes:\n$p")
    val liveRoundRobin = p.linesIterator.count(l =>
      l.contains("Exchange RoundRobinPartitioning") &&
        !l.contains("ReusedExchange"))
    assert(liveRoundRobin == 2,
      s"expected 2 live scan exchanges (full + doc_id<5 pruned), " +
        s"got $liveRoundRobin:\n$p")
  }

  test("q201 DSIR: the corpus explodes grams ONCE in the final adaptive plan") {
    // r22 (plan audit over the r21 "single gram explode" rewrite): the
    // ratio join inferred isnotnull(b) into the scoring and bucket-stat
    // branches but NOT the tot branch, so tot re-ran a full live gram
    // explode at runtime. With the explicit isnotnull(b) alignment all
    // three consumers ride ONE (doc, lang, source, b) subtree: exactly
    // one Generate survives in the final plan.
    val p = finalPlan("q201_dsir_selection")
    assert(p.contains("ReusedExchange"),
      s"gram-fold subtree reuse lost under AQE — the corpus would " +
        s"explode grams twice:\n$p")
    val liveExplodes = p.linesIterator.count(l =>
      l.contains("Generate explode"))
    assert(liveExplodes == 1,
      s"expected exactly one live gram explode, got $liveExplodes:\n$p")
  }

  test("q113/q213 ANN serves probe ONCE: no probe crossJoin behind the top-k broadcast") {
    // AnnIndex.probePairs collects the probed (qid, cell) pairs once and
    // rebuilds the probe frame as qs ⨝ broadcast(pairs) — a hash join.
    // A serve that re-executes its probe to build the top-k broadcast
    // carries the query x centroid crossJoin into the final plan.
    for (name <- Seq("q113_ann_index_serve", "q213_filtered_ann")) {
      val p = finalPlan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$name re-executes its probe crossJoin behind the top-k:\n$p")
    }
  }

  test("runtime bloom filter injects on a fact-fact shuffle join when thresholds allow") {
    // The 100 TB lever the engine inherits from Catalyst: a selective
    // filter on one shuffle-join side injects might_contain(bloom) into
    // the other side's scan (InjectRuntimeFilter). It is size-gated —
    // the application side must exceed ~10 GB, so it can never fire at
    // test SF and no registry plan can assert it directly. This audit
    // drops the gates and proves the injection path is LIVE in the
    // engine's Spark build and our plans don't break it; at the target
    // scale the same plans get it with default thresholds.
    val sc = graft.core.Sessions.scoped(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val li = graft.core.Tables.lineitem(sc, dir)
    val od = graft.core.Tables.orders(sc, dir)
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
    val j = li.join(od, li("l_orderkey") === od("o_orderkey"))
      .groupBy("o_orderpriority").count()
    val opt = j.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"),
      s"runtime bloom filter not injected with gates open:\n$opt")
    // and the filtered plan still computes the right answer: bloom
    // filters are best-effort probabilistic PRUNING, never row drops
    val bloom = j.collect()(0).getLong(1)
    val li2 = graft.core.Tables.lineitem(spark, dir)
    val od2 = graft.core.Tables.orders(spark, dir)
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
    val plain = li2.join(od2, li2("l_orderkey") === od2("o_orderkey")).count()
    assert(bloom == plain && bloom > 0, s"bloom=$bloom plain=$plain")
  }
}
