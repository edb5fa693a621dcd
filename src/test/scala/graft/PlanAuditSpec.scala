package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import graft.core.Tables
import graft.queries.Registry
import graft.sources.AnnIndex

/** Physical-plan audits: machine-checked versions of the `.explain`
  * inspections the scale posture rests on. A refactor that silently
  * breaks column pruning, filter pushdown, a provably-safe broadcast, or
  * whole-stage codegen fails HERE, not in a 100 TB incident.
  *
  * Assertions read the formatted explain string — the same surface a
  * human audit uses. sf0.001 keeps planning fast; plan SHAPE is
  * SF-independent for these queries (no AQE runtime re-plan is asserted).
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // Plans are audited with AQE off: adaptive plans defer codegen/stage
  // decisions until execution, so the static explain of an AQE plan shows
  // no `*(n)` markers. The audited shape (pushdown, pruning, broadcast,
  // exchange count) is what AQE *starts* from.
  private lazy val session = {
    val c = spark.newSession()
    c.conf.set("spark.sql.adaptive.enabled", "false")
    c.conf.set("spark.sql.maxMetadataStringLength", "2000") // untruncated PushedFilters
    c
  }

  // simple mode: one line per operator, `*(n)` marks whole-stage-codegen
  // stages, scan lines carry PushedFilters/ReadSchema
  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("simple"))

  private def q(name: String): String =
    planOf(Registry.byName(name).fn(session, dir))

  /** The pool AnnIndex.fold rewrites over the pristine q207/q212/q217
    * index (base + three pending fragments). */
  private def pendingFoldInput(): DataFrame =
    AnnIndex.foldInput(session, AnnIndex.load(AnnIndex.dirFor(
      graft.queries.EmbedOps.annIncTable(session, dir), "q")))._2

  /** Count shuffle exchanges. Explain indents operators with `+-`/`:-`
    * prefixes, so a startsWith("Exchange") only ever matches a root-level
    * node (i.e. counts 0 for any real plan — the round-6 review found
    * several audits passing vacuously that way). Matches the operator
    * name anywhere in the line; ReusedExchange deliberately does NOT
    * count — reuse is the thing the audits reward. */
  private def exchangeCount(p: String): Int =
    p.linesIterator.count(l => l.contains(" Exchange ") || l.startsWith("Exchange "))

  test("q47 export projection: scan reads ONLY the projected columns") {
    val p = q("q47_export_projection")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("c_custkey") && readSchema.contains("c_name") &&
      readSchema.contains("c_acctbal"))
    assert(!readSchema.contains("c_mktsegment") && !readSchema.contains("c_nationkey"),
      s"column pruning broken: $readSchema")
  }

  test("plain-column predicates push down to the parquet scan") {
    val p = planOf(Tables.orders(session, dir)
      .filter(col("o_totalprice") > 1000.0 && col("o_orderstatus") === "F")
      .select(col("o_orderkey")))
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("GreaterThan(o_totalprice") &&
        l.contains("EqualTo(o_orderstatus")),
      s"filters did not reach the scan:\n$p")
  }

  test("q11 price enrichment: bounded dim joins as broadcast, fact side never shuffles") {
    val p = q("q11_price_enrichment")
    assert(p.contains("BroadcastHashJoin"), "price dim must broadcast")
  }

  test("q24 exact dedup is ONE shuffle (hash-agg, no sort before the agg)") {
    val p = q("q24_dedup_exact")
    val exchanges = exchangeCount(p)
    // one hash exchange for the groupBy; the final orderBy adds a range
    // exchange — anything more means a redundant shuffle crept in
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
    assert(p.contains("HashAggregate"), "dedup must hash-aggregate")
  }

  test("q01 aggregation runs inside whole-stage codegen") {
    val p = q("q01_daily_attendance")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("HashAggregate")),
      s"agg fell out of codegen:\n$p")
  }

  test("custom expressions do not break codegen (q31 rolling hash)") {
    val p = q("q31_fingerprint")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"RollingHash should live inside a codegen stage:\n$p")
  }

  test("q51 as-of join lowers to window+filter — no join operator at all") {
    val p = q("q51_asof_join")
    assert(p.contains("Window"), "as-of lowering must use a window")
    assert(!p.contains("NestedLoop"), "inequality nested-loop crept in")
    assert(!p.contains("CartesianProduct"), "cartesian crept in")
  }

  test("q52 range join is an equi-join on buckets, never a nested loop") {
    val p = q("q52_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "range join degenerated to a nested loop")
  }

  test("q32 knn broadcasts the bounded query side only") {
    val p = q("q32_knn_bruteforce")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "query set must broadcast")
  }

  test("metadata-only media query never touches the content column") {
    val meta = graft.ext.Multimodal.mediaFromDocuments(session, dir)
      .select(col("media_id"), col("n_bytes"))
    val readSchema = planOf(meta).linesIterator
      .find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("content"),
      s"binary content must be pruned from metadata scans: $readSchema")
  }

  test("q68/q69 curation projections are map-only: no exchange before the output sort") {
    for (name <- Seq("q68_markup_strip", "q69_gopher_rules")) {
      val p = q(name)
      val exchanges = exchangeCount(p)
      // the only exchange allowed is the final orderBy's range partition
      assert(exchanges <= 1, s"$name grew a shuffle:\n$p")
    }
  }

  test("q70 k-means assignment broadcasts centroids — no cartesian, no per-vec window") {
    val p = q("q70_kmeans_embed")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroid array must broadcast")
    assert(!p.contains("CartesianProduct"), "assignment degenerated to a cartesian")
    assert(!p.contains("Window"), "argmin must be the in-row array_min, not a window")
  }

  test("q26c top-k per group engages WindowGroupLimit — partial top-5 before the group shuffle") {
    val p = q("q26c_top_tokens")
    // Spark's rank-limit pushdown: each map task keeps only its local
    // top-5 per lang (Partial) before shuffling — without it the window
    // sorts every (lang, token) row globally, which dies at corpus scale
    assert(p.contains("WindowGroupLimit"), s"top-k pushdown lost:\n$p")
  }

  test("q67 paragraph dedup reuses the scan exchange across its four block-derivation branches") {
    val p = q("q67_paragraph_dedup")
    assert(p.contains("ReusedExchange"), s"common-subplan reuse lost:\n$p")
  }

  test("q72 bloom filter ships as one broadcast row — no cartesian, no per-ngram shuffle join") {
    val p = q("q72_bloom_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "bloom map row must broadcast")
    assert(!p.contains("CartesianProduct"), "bloom probe degenerated to a cartesian")
    assert(!p.contains("SortMergeJoin"), "membership test must not shuffle-join")
  }

  test("q75 merge is ONE join: full-outer on the key, no nested-loop fallback") {
    val p = q("q75_merge_upsert")
    assert(p.linesIterator.count(l => l.contains("Join")) == 1,
      s"MERGE must be a single join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"MERGE degenerated to a non-equi join:\n$p")
  }

  test("q76 SCD2: lag, change-filter, and lead all ride ONE user_id shuffle") {
    val p = q("q76_scd2_history")
    val exchanges = exchangeCount(p)
    // one hash exchange on user_id shared by both windows + the final
    // orderBy range exchange — a second hash exchange means the lead
    // window re-shuffled what the lag window already partitioned
    assert(exchanges <= 2, s"SCD2 grew a shuffle:\n$p")
  }

  test("q77 rollup lowers to Expand + one aggregate pass, not one scan per level") {
    val p = q("q77_rollup_report")
    assert(p.contains("Expand"), s"rollup must use Expand:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"rollup must scan once:\n$p")
  }

  test("q78 running totals: one window shuffle, frame inside codegen-adjacent Window") {
    val p = q("q78_running_totals")
    val exchanges = exchangeCount(p)
    assert(exchanges <= 2, s"running total grew a shuffle:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"cumulative frame lost:\n$p")
  }

  test("q79 temperature mix: per-lang rates join back as broadcast, corpus never shuffle-joins") {
    val p = q("q79_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), s"rate table must broadcast:\n$p")
  }

  test("q80 priority dedup: the keep policy rides the MIN aggregate — no window, no join-back") {
    val p = q("q80_priority_dedup")
    assert(!p.contains("Window"), s"policy must not need a window:\n$p")
    assert(p.linesIterator.count(l => l.contains("Join")) == 0,
      s"policy must not need a join-back:\n$p")
  }

  test("q81 fuzzy join: token blocking keeps it an equi-join — no nested loop, no cartesian") {
    val p = q("q81_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join degenerated to all-pairs:\n$p")
  }

  test("q83 funnel: all three stage windows ride ONE user_id exchange") {
    val p = q("q83_funnel")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(hashEx == 1, s"funnel windows must share one user shuffle:\n$p")
  }

  test("q85 graph rank: the distinct edge list is computed once and reused across supersteps") {
    val p = q("q85_graph_rank")
    assert(p.contains("ReusedExchange"),
      s"edge-list exchange reuse lost — each superstep would recompute the distinct:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"supersteps must stay equi-joins:\n$p")
  }

  test("q88 cube: same one-scan Expand dataflow as rollup") {
    val p = q("q88_cube_report")
    assert(p.contains("Expand"), s"cube must use Expand:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"cube must scan once:\n$p")
  }

  test("q89 cohorts: the join back to first-seen is hash-based, corpus scanned twice at most") {
    val p = q("q89_retention_cohorts")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cohort join degenerated:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan")) <= 2,
      s"cohort build must touch the corpus at most twice:\n$p")
  }

  test("q90 time-weighted avg: lead window and final agg share ONE user shuffle") {
    val p = q("q90_time_weighted_avg")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(hashEx == 1, s"window and agg must share the user shuffle:\n$p")
  }

  test("q91 profile: multi-distinct lowers to Expand over ONE scan") {
    val p = q("q91_table_profile")
    assert(p.contains("Expand"), s"multi-distinct must Expand:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"profile must scan once:\n$p")
  }

  test("events loader: partition pruning survives the NTZ conversion") {
    val p = planOf(Tables.events(session, dir).filter(col("event_type") === "click"))
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("event_type")),
      "filter on a non-derived column must still push past the ts projection")
  }

  test("q102 pair top-k is TakeOrderedAndProject; the rank window sees 20 rows") {
    val p = q("q102_bpe_pair_stats")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be partial top-k per partition, not a global sort:\n$p")
    // the Window must sit ABOVE the take (post-limit, 20-row input) —
    // i.e. the plan has no Sort other than inside the take
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    val takeIdx = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(winIdx >= 0 && takeIdx > winIdx,
      s"rank window must run over the taken 20 rows, not the pair domain:\n$p")
  }

  test("q109 set ops lower to semi/anti hash joins over distinct key sets") {
    val p = q("q109_set_ops")
    assert(p.contains("LeftSemi"), s"INTERSECT must be a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"EXCEPT must be an anti join:\n$p")
    // tiny sides may broadcast-NL, but a cartesian is never acceptable
    assert(!p.contains("CartesianProduct") &&
      (!p.contains("NestedLoop") || p.contains("BroadcastNestedLoopJoin")),
      s"no unbounded join strategies:\n$p")
  }

  test("q105 stratified sample rides the same ObjectHashAggregate shape as q99") {
    val p = q("q105_stratified_sample")
    assert(!p.contains("Window"), s"no window over the corpus:\n$p")
    assert(p.contains("partial_topk_packed"),
      s"map-side partial top-k lost:\n$p")
  }

  test("q103 MAD thresholds join back as broadcasts — corpus never shuffle-joins") {
    val p = q("q103_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), s"threshold joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must not sort-merge on 5-row dims:\n$p")
  }

  test("q112 BPE superstep: pair selection is one vocabulary-bounded hash-agg + TakeOrdered top-1") {
    import session.implicits._
    // the words frame is already the distinct-vocabulary collapse; every
    // superstep's pair statistics must stay on that bounded domain
    val words = Seq((" a  b  c ", 3L), (" a  b ", 2L)).toDF("wr", "freq")
    val step = graft.queries.CorpusOps.bpePairStats(words)
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
    val p = planOf(step)
    assert(p.contains("TakeOrderedAndProject"),
      s"argmax must be partial top-1 per partition, not a global sort:\n$p")
    assert(p.contains("HashAggregate"), s"pair counts must hash-aggregate:\n$p")
    assert(!p.contains("Window"), s"no window in the superstep:\n$p")
    assert(exchangeCount(p) <= 1,
      s"one pair-domain exchange per superstep, got more:\n$p")
  }

  test("q177 BPE encode: merge chain is literal map-only work on vocabulary-bounded aggs") {
    // building the frame runs training (3 argmax collects, each
    // metadata-sized); the ENCODE plan it returns must be: one
    // (lang, word)-domain hash-agg exchange, the literal replace
    // chain as codegen'd projection work, one languages-sized final
    // agg, one presentation sort — and never a window or a join
    val p = q("q177_bpe_encode")
    // (the literal replace chain itself is fused into the partial
    // agg's input projection — simple-mode explain shows only its
    // aliased outputs, so there is no textual assertion for it)
    assert(p.contains("HashAggregate"), s"encode must hash-aggregate:\n$p")
    assert(!p.contains("Window"), s"no window in the encode pass:\n$p")
    assert(!p.contains("Join"), s"no join in the encode pass:\n$p")
    assert(exchangeCount(p) <= 3,
      s"encode is two agg exchanges + the presentation sort, got more:\n$p")
  }

  test("q113 ANN serve: the stored-vector scan is partition-pruned to the probed cells") {
    val p = q("q113_ann_index_serve")
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("vectors")).getOrElse(
      fail(s"no scan of the stored vector index found:\n$p"))
    // the probed-cell IN filter must land in PartitionFilters — directory
    // pruning is the inverted-list seek; an empty filter reads every cell
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']').contains("label"),
      s"probed cells must prune partitions:\n$scan")
  }

  test("q207 ANN upsert: both index layers prune to probed cells; no corpus-sized shuffle join") {
    val p = q("q207_ann_index_upsert")
    // base AND delta pool scans must both carry the probed-cell
    // partition filter — the incremental overlay prunes exactly like
    // the base (the query-set scan, filtered on vec_id, is exempt)
    val pruned = p.linesIterator.count(l =>
      l.contains("FileScan parquet") &&
        l.replaceAll(".*PartitionFilters: \\[", "")
          .takeWhile(_ != ']').contains("label"))
    assert(pruned >= 2,
      s"expected base + delta scans pruned to probed cells, got $pruned:\n$p")
    // centroids and probes broadcast; the pool join must never
    // shuffle the vector data
    assert(!p.contains("SortMergeJoin"),
      s"serve must broadcast-join the probe set:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q210 struct-leaf pruning: the executed plan reads a strict subset of segments") {
    val p = q("q210_nested_leaf_pruning")
    val m = "segments=(\\d+)/(\\d+)".r.findFirstMatchIn(p).getOrElse(
      fail(s"no docstore scan with a segment count found:\n$p"))
    val (kept, total) = (m.group(1).toInt, m.group(2).toInt)
    // 4 pre-ADD segments (stat-less, conservatively kept) + >= 3
    // banded commits; the w >= 400 predicate must PROVE the low bands
    // empty from their leaf envelopes — reading everything means the
    // `L,` stats or the dotted-name pushdown broke
    assert(kept < total,
      s"meta.w >= 400 must skip the low-band segments, read $kept/$total:\n$p")
    assert(total >= 7 && kept <= total - 2,
      s"expected >= 2 banded segments skipped, got $kept/$total:\n$p")
  }

  test("q212 fold: input reads only affected base cells; serve prunes both layers") {
    // the nightly fold's INPUT: the pool AnnIndex.fold rewrites over
    // an index with pending fragments — the base scan must carry the
    // affected-cell partition filter; untouched cells never read
    val foldPlan = planOf(pendingFoldInput())
    val baseScan = foldPlan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("base/vectors"))
      .getOrElse(fail(s"no base vector scan in the fold input plan:\n$foldPlan"))
    assert(baseScan.contains("PartitionFilters: [") &&
      baseScan.replaceAll(".*PartitionFilters: \\[", "")
        .takeWhile(_ != ']').contains("label"),
      s"the fold must prune base cells to the affected set:\n$baseScan")
    // the post-fold serve: every vector scan pruned to probed cells,
    // probe set broadcast, no corpus-sized shuffle join
    val p = q("q212_ann_delta_fold")
    val pruned = p.linesIterator.count(l =>
      l.contains("FileScan parquet") &&
        l.replaceAll(".*PartitionFilters: \\[", "")
          .takeWhile(_ != ']').contains("label"))
    assert(pruned >= 1,
      s"post-fold serve must prune probed cells, got $pruned:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"post-fold serve must broadcast-join the probe set:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q217 LSM fold+retire: one-pass fold input reads only affected cells; post-retire serve prunes and broadcasts") {
    // the MULTI-fragment fold input (the pool AnnIndex.fold rewrites
    // over the pristine index's three pending fragments): ONE pass
    // reads all three, and the base scan carries the affected-cell
    // partition filter — folding 3 fragments never rescans untouched
    // cells
    val foldPlan = planOf(pendingFoldInput())
    val fragScans = foldPlan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("/frag-"))
    assert(fragScans == 3,
      s"the fold input must read the three fragments once each:\n$foldPlan")
    val baseScan = foldPlan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("base/vectors"))
      .getOrElse(fail(s"no base vector scan in the fold input:\n$foldPlan"))
    assert(baseScan.contains("PartitionFilters: [") &&
      baseScan.replaceAll(".*PartitionFilters: \\[", "")
        .takeWhile(_ != ']').contains("label"),
      s"the multi-fragment fold must prune base cells:\n$baseScan")
    // the post-retire serve: probed cells pruned on the overlay and
    // the base; probe set broadcast; no corpus-sized shuffle join
    val p = q("q217_ann_lsm_fold_retire")
    val pruned = p.linesIterator.count(l =>
      l.contains("FileScan parquet") &&
        l.replaceAll(".*PartitionFilters: \\[", "")
          .takeWhile(_ != ']').contains("label"))
    assert(pruned >= 1,
      s"post-retire serve must prune probed cells, got $pruned:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"serve must broadcast-join the probe set:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q221 tombstone delete: masked pool prunes cells and broadcast-anti-joins the keys; post-compaction serve prunes") {
    // the pool AnnIndex resolves under a pending tombstone
    // (resolvePool over the pristine q221 index): the base scan pruned
    // to the requested cells, the tombstone keys a BROADCAST anti-join
    // (batch-sized by contract) — never a corpus-wide shuffle to apply
    // a delete
    val tombIdx = AnnIndex.load(AnnIndex.dirFor(
      graft.queries.EmbedOps.annTombTable(session, dir), "q"))
    assert(tombIdx.tombs.nonEmpty, s"fixture must carry a pending tombstone: $tombIdx")
    val mp = planOf(AnnIndex.resolvePool(session, tombIdx, Seq(0, 1)))
    assert(mp.contains("BroadcastHashJoin") && mp.contains("LeftAnti"),
      s"tombstone mask must be a broadcast anti-join:\n$mp")
    assert(mp.linesIterator.exists(l => l.contains("FileScan parquet") &&
      l.contains("base/vectors") &&
      l.replaceAll(".*PartitionFilters: \\[", "")
        .takeWhile(_ != ']').contains("label")),
      s"masked pool must prune probed cells:\n$mp")
    // the gate's returned frame (post-compaction serve): pruned
    // scans, broadcast probe, qid-partitioned ranking
    val p = q("q221_ann_tombstone_delete")
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan parquet") &&
        l.replaceAll(".*PartitionFilters: \\[", "")
          .takeWhile(_ != ']').contains("label")),
      s"post-compaction serve must prune probed cells:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"serve must broadcast-join the probe set:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q222 CDC forget: masked serve prunes probed cells; tombstone mask and audit join broadcast") {
    val p = q("q222_cdc_ann_forget")
    // the maintained serve scans base cells via label PartitionFilters
    // and applies the tombstone mask as a broadcast anti-join — never
    // a corpus-sized shuffle to forget
    val pruned = p.linesIterator.exists { l =>
      l.contains("FileScan parquet") &&
        l.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
          .contains("label")
    }
    assert(pruned, s"serve must prune probed cells via label:\n$p")
    assert(p.contains("LeftAnti"),
      s"tombstone mask must be an anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"mask/probe/audit joins must broadcast:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q213 filtered ANN: the metadata predicate lands in PartitionFilters before the probe") {
    val p = q("q213_filtered_ann")
    // the candidate pool scan must prune on BOTH partition levels:
    // src (the metadata PRE-filter) and label (the probed cells) —
    // a src filter that only appears post-scan is the broken
    // post-filter shape
    val pre = p.linesIterator.find { l =>
      l.contains("FileScan parquet") && {
        val pf = l.replaceAll(".*PartitionFilters: \\[", "")
          .takeWhile(_ != ']')
        pf.contains("src") && pf.contains("label")
      }
    }
    assert(pre.isDefined,
      s"no scan pruned on src AND label (pre-filter missing):\n$p")
    // the exact-audit scan prunes on src at least; nothing in the
    // pipeline shuffles the vector data
    assert(!p.contains("SortMergeJoin"),
      s"probe/audit joins must broadcast:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q215 bloom skipping: the fingerprint IN-list reads a strict subset of segments") {
    val p = q("q215_bloom_skipping")
    val m = "segments=(\\d+)/(\\d+)".r.findFirstMatchIn(p).getOrElse(
      fail(s"no docstore scan with a segment count found:\n$p"))
    val (kept, total) = (m.group(1).toInt, m.group(2).toInt)
    // 4 id-striped segments whose fingerprint envelopes all span the
    // hex domain — only the Bloom lines can prove any of them empty.
    // 8 keys + 1 absent key over 4 stripes: at least the absent key's
    // contribution must not force a keep, and with ~1% FPR the kept
    // set is deterministic on fixed test data
    assert(total == 4 && kept < total,
      s"bloom must skip at least one striped segment, read $kept/$total:\n$p")
  }

  test("q218 skewed-filter ANN: per-src centroids and pool both prune on the filter key") {
    val p = q("q218_filtered_ann_skew")
    // the remediation's read path: the per-src centroid scan prunes
    // on src (metadata-sized slice read), and every candidate-pool
    // scan prunes on src AND label — nothing touches out-of-filter
    // vector data
    val srcPruned = p.linesIterator.count { l =>
      l.contains("FileScan parquet") &&
        l.replaceAll(".*PartitionFilters: \\[", "")
          .takeWhile(_ != ']').contains("src")
    }
    assert(srcPruned >= 2,
      s"expected src PartitionFilters on centroid + pool scans, " +
        s"got $srcPruned:\n$p")
    val bothPruned = p.linesIterator.exists { l =>
      l.contains("FileScan parquet") && {
        val pf = l.replaceAll(".*PartitionFilters: \\[", "")
          .takeWhile(_ != ']')
        pf.contains("src") && pf.contains("label")
      }
    }
    assert(bothPruned,
      s"no pool scan pruned on src AND label:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"probe/recall joins must broadcast:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q219 struct-leaf bloom: the dotted IN-list reads a strict subset of segments") {
    val p = q("q219_nested_bloom_skipping")
    val m = "segments=(\\d+)/(\\d+)".r.findFirstMatchIn(p).getOrElse(
      fail(s"no docstore scan with a segment count found:\n$p"))
    val (kept, total) = (m.group(1).toInt, m.group(2).toInt)
    // 4 id-striped segments whose LEAF fingerprint envelopes all span
    // the hex domain — only the composite `B,<sec>:<path>` lines can
    // prove any of them empty (the struct-leaf twin of the q215 pin)
    assert(total == 4 && kept < total,
      s"leaf bloom must skip at least one striped segment, " +
        s"read $kept/$total:\n$p")
  }

  test("q214 CDC freshness: serve prunes probed cells; audit joins broadcast") {
    val p = q("q214_cdc_ann_freshness")
    // the maintained-index serve must scan base + fragments with the
    // probed cell ids as PartitionFilters — a serve that reads every
    // cell is the full-rescan shape the gate exists to forbid
    val pruned = p.linesIterator.exists { l =>
      l.contains("FileScan parquet") &&
        l.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
          .contains("label")
    }
    assert(pruned, s"serve must prune probed cells via label:\n$p")
    // the freshness audit (incremental vs rebuild) and the probe
    // attach are bounded — never a corpus-sized shuffle join
    assert(!p.contains("SortMergeJoin"),
      s"probe/audit joins must broadcast:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q224 mixed CDC: serve prunes probed cells; tombstone mask anti-joins broadcast over base AND fragments") {
    val p = q("q224_cdc_ann_mixed")
    // the maintained serve reads base + fragment cells via label
    // PartitionFilters and masks deletions as a broadcast anti-join —
    // per-batch maintenance is batch + metadata, and the serve never
    // rescans or shuffle-joins the corpus to apply either change type
    val pruned = p.linesIterator.exists { l =>
      l.contains("FileScan parquet") &&
        l.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
          .contains("label")
    }
    assert(pruned, s"serve must prune probed cells via label:\n$p")
    assert(p.contains("LeftAnti"),
      s"the tombstone mask must be an anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"mask/probe/audit joins must broadcast:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q225 filtered LSM: every pool scan prunes on the filter key; probed cells via label") {
    val p = q("q225_filtered_ann_lsm")
    // the filter key prunes by DIRECTORY: every index scan (pools of
    // the untouched src-1 serve and the src-0 serves) resolves inside
    // ONE sub-index tree, and pool scans prune probed cells via label
    // — maintenance in one src never widens another src's reads
    val idxScans = p.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("/_ann/")).toSeq
    assert(idxScans.nonEmpty &&
      idxScans.forall(l => "/_ann/q/src=\\d+/".r.findFirstIn(l).isDefined),
      s"every index scan must stay inside one sub-index tree:\n$p")
    assert(idxScans.exists(l =>
      l.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
        .contains("label")),
      s"no pool scan pruned probed cells via label:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"probe/mask joins must broadcast:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q226 family: sub-index pool scans prune probed cells; no corpus shuffle join") {
    val p = q("q226_filtered_ann_family")
    // every pool read resolves to ONE sub-index tree (the src choice
    // is a directory, not a filter) and prunes probed cells via label
    val pruned = p.linesIterator.exists { l =>
      l.contains("FileScan parquet") &&
        l.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
          .contains("label")
    }
    assert(pruned, s"no pool scan pruned probed cells via label:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"probe/serve joins must broadcast:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query ranking windows must stay qid-partitioned:\n$p")
  }

  test("q208 rerank: code scan + bounded candidate fetch broadcast; windows stay per-query") {
    val p = q("q208_hamming_rerank")
    // stage 2's candidate-id fetch and every query-code attach must
    // broadcast — the corpus is never shuffle-joined
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"candidate fetch must broadcast the bounded id set:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join in the rerank pipeline:\n$p")
    assert(!p.contains("SinglePartition"),
      s"per-query top-k windows must stay qid-partitioned:\n$p")
  }

  test("q116 top-K scoring: fixed-size table broadcasts, probe is map-only — no sort-merge join") {
    val p = q("q116_bigram_topk_score")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K must be partial top-K per partition:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the K-row table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus probe must never shuffle-join:\n$p")
  }

  test("q119 star join: dims broadcast, fact scanned once, date filter reaches the orders scan") {
    val p = q("q119_star_join")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
      s"bounded dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a correlated-condition join degenerated:\n$p")
    assert(p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem")) == 1,
      s"the fact table must be scanned exactly once:\n$p")
    // the year slice must prune the orders scan, not filter post-join
    val ordersScan = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("orders")).get
    assert(ordersScan.contains("o_orderdate"),
      s"date filter did not reach the orders scan:\n$ordersScan")
  }

  test("q117 skew audit: key collapse + TakeOrdered top-5 + 1-row broadcast, no data sort") {
    val p = q("q117_skew_audit")
    assert(p.contains("TakeOrderedAndProject"),
      s"heavy hitters must be partial top-5 per partition:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the global row must broadcast back:\n$p")
    // the rank window runs over the taken 5 rows, never the key domain
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    val takeIdx = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(winIdx >= 0 && takeIdx > winIdx,
      s"rank window must sit above the take:\n$p")
  }

  test("q99 top-k rides a partial+final ObjectHashAggregate — no Window, no per-group sort") {
    val p = q("q99_group_topk")
    assert(!p.contains("Window"), s"top-k must not window-sort the groups:\n$p")
    // TypedImperativeAggregate lowers to ObjectHashAggregate, once partial
    // (map side) and once final (after the group-key exchange)
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) == 2,
      s"expected partial+final object hash aggregate:\n$p")
    assert(p.contains("partial_topk_packed"),
      s"map-side partial aggregation lost:\n$p")
    // exactly: one exchange for the group keys + the final presentation
    // orderBy's range exchange over 15 rows — the DATA never globally sorts
    assert(exchangeCount(p) <= 2, s"unexpected extra shuffles:\n$p")
  }

  test("q126 PQ: assignments are broadcast map-only; no window, no vector sort") {
    val p = q("q126_pq_codes")
    // every centroid table rides along as a broadcast (4 assignment
    // passes = 2 subspaces × (init assign + post-update assign))
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 4,
      s"centroid tables must broadcast to the corpus scan:\n$p")
    assert(!p.contains("Window"), s"argmin must be in-row, not a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"vectors must never shuffle-join against centroids:\n$p")
  }

  test("q121/q125 docstore gates: the connector scan, not a fallback path") {
    val p = q("q121_dsv2_source")
    assert(p.contains("GraftDocStore"), s"q121 must read the connector:\n$p")
    assert(p.contains("doc_id=[100,350]"),
      s"q121's slice must be pushed into the scan:\n$p")
    val w = q("q125_dsv2_write")
    assert(w.contains("GraftDocStore"), s"q125's read-back must hit the connector:\n$w")
  }

  test("q196 budget selection: no corpus-sized input reaches an unpartitioned window") {
    val p = q("q196_budget_selection")
    val lines = p.linesIterator.toSeq
    val windowIdxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Window") => i }
    assert(windowIdxs.size == 2, s"expected exactly 2 windows (per-bucket " +
      s"cumsum + bounded offsets), got ${windowIdxs.size}:\n$p")
    // The corpus-side cumsum window is partitioned by (score, b): its
    // line must carry a doc_id ordering AND a score/b partition spec.
    val corpusWin = lines(windowIdxs.min)
    assert(corpusWin.contains("doc_id") && corpusWin.contains("score"),
      s"corpus cumsum window must partition by (score, b):\n$corpusWin")
    // Every SinglePartition exchange (the offsets window's, the scalar
    // budget sum's) must take its input from the (score x b) TOTALS
    // aggregate — bounded at |score domain| x nBuckets regardless of
    // corpus size (r13 verdict item 2: the fixed-WIDTH bucket made this
    // corpus-proportional). A SinglePartition fed by a raw scan fails.
    val spIdxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("SinglePartition") => i }
    assert(spIdxs.nonEmpty, s"expected bounded SinglePartition sites:\n$p")
    spIdxs.foreach { i =>
      val below = lines.drop(i + 1)
        .takeWhile(l => !l.contains("Scan parquet"))
      assert(below.exists(_.contains("HashAggregate")),
        s"the SinglePartition input must be the bounded totals " +
          s"aggregate, not a corpus scan:\n$p")
    }
  }

  test("q167 sequence packing: the prefix sum never collapses to one partition") {
    val p = q("q167_sequence_packing")
    // the cumsum window is PARTITIONED by the doc_id bucket — a global
    // (unpartitioned) running-total window would serialize the corpus
    // through one task, the exact shape the two-phase prefix sum avoids
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, s"expected a window operator:\n$p")
    assert(windowLines.forall(_.contains("partitionspec")) ||
      windowLines.forall(l => l.contains("[b#") || l.contains("b#")),
      s"cumsum window must be partitioned by the bucket:\n$p")
    assert(!p.contains("SinglePartition"),
      s"no stage may plan SinglePartition:\n$p")
  }

  test("q201 DSIR: bucket ratios broadcast back; selection is TakeOrdered, never a global window") {
    val p = q("q201_dsir_selection")
    assert(p.contains("BroadcastHashJoin"),
      s"the 256-row ratio table must join back as broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"quota selection must be the distributed top-k:\n$p")
    assert(!p.contains("Window"),
      s"no global window may rank the corpus:\n$p")
  }

  test("q202 hard negatives: anchors broadcast, ranking windows stay anchor-partitioned") {
    val p = q("q202_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 8 anchors must broadcast:\n$p")
    // every Window must be preceded by a hashpartitioning on qid — the
    // single-partition degenerate form never appears
    assert(!p.contains("SinglePartition"),
      s"per-anchor windows must not collapse to one partition:\n$p")
  }

  test("q203 preference pairs: one keyed aggregation, no window, no join") {
    val p = q("q203_preference_pairs")
    assert(!p.contains("Window"),
      s"pair assembly must be max_by/min_by aggregation, not a window:\n$p")
    assert(!p.contains("Join"),
      s"pair assembly must not self-join the candidate table:\n$p")
    // map-side partial aggregation must exist (max_by is object-hash)
    assert(p.contains("partial_max_by") || p.contains("partial_"),
      s"the aggregation must have a map-side partial phase:\n$p")
  }

  test("q204 RAG chunking: map-only explode — no shuffle before the sink sort") {
    val p = q("q204_rag_chunking")
    assert(p.contains("Generate"), s"expected an explode:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle — it is a pure per-doc map:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"chunking needs no window or join:\n$p")
  }

  test("q205 curriculum: bounds broadcast back; the only window reads the 8-row phase table") {
    val p = q("q205_curriculum_phases")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the min/max bounds must broadcast, never collect:\n$p")
    // the running-total window sits ABOVE the phase aggregation: the
    // corpus-sized rows are reduced to <= 8 before any ordered window
    val lines = p.linesIterator.toSeq
    val wIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.indexWhere(l =>
      l.contains("Aggregate") && l.contains("phase"))
    assert(wIdx >= 0 && aggIdx > wIdx,
      s"the window must consume the phase aggregate (agg deeper than window):\n$p")
  }
}
