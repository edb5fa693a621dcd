package graft
import java.nio.file.{Files, Paths}

/** Benchmark main. Runs every registered query on SPARK_GRAFT_SF_DIR and
  * emits one JSON line `{"metric":"total","value":N,"unit":"sec",...}`.
  *
  * Harness rules (round-1/2/4 verdict fixes):
  *  - action is the `noop` writer, not `.count()` — count() lets Catalyst
  *    prune derived columns and under-measures; noop evaluates every column;
  *  - one untimed warm-up action first so JVM/session startup doesn't
  *    pollute the first query's number;
  *  - a failed query records -1 and an `errors` entry instead of silently
  *    recording a timing;
  *  - (r7 fixes) each query reports the MIN of two timed runs, and the
  *    write/streaming gates (Registry.heavy) sweep LAST so their IO wake
  *    doesn't contaminate the scan-bound blocks that follow them in name
  *    order — r7's driver sweep inflated untouched q12–q23c 6–8× that way;
  *  - THE LAST STDOUT LINE MUST FIT THE DRIVER'S TAIL BUFFER. The driver
  *    keeps only the last ~2000 chars of stdout and parses a complete JSON
  *    line out of that window (r3 parsed, r4 didn't: 61 full-name entries
  *    pushed the line past 2000 chars and its head fell out of the buffer).
  *    So stdout gets a COMPACT line — short query keys (the `qNN` prefix)
  *    and millisecond-precision timings — sized well under the buffer, and
  *    the verbose full-name line goes to stderr and to $BENCH_OUT when set.
  *    stdout is otherwise clean: build.sbt sets `run / outputStrategy :=
  *    StdoutOutput` (no `[info]` prefix on forked output) and
  *    `showSuccess := false` (no trailing `[success]` line).
  */
object Bench {

  /** JSON string escape incl. ALL control chars: exception messages
    * routinely contain newlines — an unescaped one would split the
    * "single-line JSON" exactly when machine-readable errors matter. */
  def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `q26b_dedup_clusters` → `q26b`. Falls back to the full name if the
    * prefixes ever collide, so the compact line stays unambiguous. */
  def shortKeys(names: Seq[String]): Map[String, String] = {
    val pref = names.map(n => n -> n.takeWhile(_ != '_')).toMap
    val collisions = pref.values.groupBy(identity).collect {
      case (p, vs) if vs.size > 1 => p
    }.toSet
    pref.map { case (n, p) => n -> (if (collisions(p)) n else p) }
  }

  private def fmt(v: Double, scale: Int = 3): String =
    if (v < 0) "-1"
    else {
      // toPlainString + zero-strip: "1.500" → "1.5", "12.000" → "12" —
      // valid JSON, and the saved chars are what keep the full per-query
      // map under the driver's tail-buffer floor as the registry grows
      val s = BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }

  /** Renders (compactStdoutLine, verboseLine). Pure — unit-tested by
    * BenchJsonSpec against a replica of the driver's tail-buffer parse. */
  def render(timed: Seq[(String, Double, Option[String])], sfDir: String): (String, String) = {
    val short = shortKeys(timed.map(_._1))
    val total = timed.collect { case (_, v, _) if v >= 0 => v }.sum
    // r21 verdict item 2: the box-drift canary pair rides the COMPACT
    // stdout line too, so every driver BENCH record is self-normalizing
    // even when the sidecar is unavailable or was overwritten. Absent
    // when either canary errored or a filtered run skipped it —
    // consumers treat absence as "not normalizable". ~55 chars; the
    // budgeted rungs below account for it via head.length.
    val byName = timed.map { case (k, v, _) => k -> v }.toMap
    val canaryJson = (byName.get(CanaryZero).filter(_ >= 0),
        byName.get(CanaryScale).filter(_ >= 0)) match {
      case (Some(z), Some(sc)) =>
        s""""canary":{"zero_sec":${fmt(z, 3)},"scale_sec":${fmt(sc, 3)}},"""
      case _ => ""
    }
    def line(key: String => String, scale: Int): String = {
      val qs = timed.map { case (k, v, _) =>
        s"${jq(key(k))}:${if (scale < 0) v.toString else fmt(v, scale)}"
      }.mkString("{", ",", "}")
      val errs = timed.collect { case (k, _, Some(e)) => s"${jq(key(k))}:${jq(e)}" }
        .mkString("{", ",", "}")
      val tot = if (scale < 0) total.toString else fmt(total, 3)
      s"""{"metric":"total","value":$tot,"unit":"sec",$canaryJson"queries":$qs,"errors":$errs,"sf":${jq(sfDir)}}"""
    }
    val verbose = line(identity, scale = -1) // full names, full precision
    // Degrade gracefully as the registry grows: keep the FULL per-query map
    // by stepping precision 3 → 2 → 1 decimals (10 ms / 100 ms resolution —
    // the verbose channel keeps exact numbers), then dropping the uniform
    // `q` key prefix ("q26b" → "26b", still unique — r8 verdict item 5: at
    // 150 queries the 1-decimal line crossed 1900 chars), then integer
    // seconds, before ever dropping the map. The final drop stays LOUD
    // (r6 verdict item 7): silently losing per-query detail would look
    // like a harness bug.
    val bare: String => String =
      n => { val s = short(n); if (s.length > 1 && s.head == 'q') s.tail else s }
    // Adaptive rung (r15: at 217 queries the uniform-1-decimal line no
    // longer fits and the old integer-second fallback rendered most of
    // the registry as 0 — the official artifact silently lost all
    // sub-second per-query resolution in r14). Start from the
    // integer-second floor, then spend the remaining budget upgrading
    // the SLOWEST entries to 2 decimals — exactly the entries
    // per-query perf analysis reads.
    def adaptive(key: String => String): String = {
      val errsStr = timed.collect { case (k, _, Some(e)) =>
        s"${jq(key(k))}:${jq(e)}" }.mkString("{", ",", "}")
      val head = s"""{"metric":"total","value":${fmt(total, 3)},""" +
        s""""unit":"sec",$canaryJson"queries":"""
      val tailStr = s""","errors":$errsStr,"sf":${jq(sfDir)}}"""
      val es = timed.map { case (k, v, _) =>
        (key(k), fmt(v, 0), fmt(v, 2), v) }
      def qsLen(dec: Set[String]): Int =
        2 + es.map { case (k, i, d, _) =>
          jq(k).length + 1 + (if (dec(k)) d else i).length + 1 }.sum - 1
      var dec = Set.empty[String]
      es.sortBy(-_._4).foreach { case (k, i, d, _) =>
        if (d != i &&
          head.length + qsLen(dec + k) + tailStr.length <= 1900)
          dec += k
      }
      val qs = es.map { case (k, i, d, _) =>
        s"${jq(k)}:${if (dec(k)) d else i}" }.mkString("{", ",", "}")
      head + qs + tailStr
    }
    // Partial rung (r17 — the registry crossed the width where even the
    // adaptive full map fits the stressed profile): keep the SLOWEST
    // entries at 1-decimal resolution plus every error, and announce
    // the omission count IN the JSON (`"omitted":N`) — the sidecar and
    // stderr keep the full map, so only the compact artifact narrows,
    // and it narrows to exactly the entries perf analysis reads first.
    def partial(key: String => String): String = {
      val errsStr = timed.collect { case (k, _, Some(e)) =>
        s"${jq(key(k))}:${jq(e)}" }.mkString("{", ",", "}")
      val head = s"""{"metric":"total","value":${fmt(total, 3)},""" +
        s""""unit":"sec",$canaryJson"queries":"""
      def tailStr(omitted: Int) =
        s""","omitted":$omitted,"errors":$errsStr,"sf":${jq(sfDir)}}"""
      val es = timed.collect { case (k, v, None) => (key(k), fmt(v, 1), v) }
        .sortBy(-_._3)
      val picked = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var len = head.length + 2 + tailStr(timed.size).length
      es.foreach { case (k, d, _) =>
        val add = jq(k).length + 1 + d.length + (if (picked.isEmpty) 0 else 1)
        if (len + add <= 1900) { picked += ((k, d)); len += add }
      }
      val qs = picked.map { case (k, d) => s"${jq(k)}:$d" }
        .mkString("{", ",", "}")
      head + qs + tailStr(timed.count(_._3.isEmpty) - picked.size)
    }
    val candidates = Seq(
      ("3-decimal", line(short, 3)),
      ("2-decimal", line(short, 2)),
      ("1-decimal", line(short, 1)),
      ("1-decimal bare-key", line(bare, 1)),
      ("adaptive bare-key (2-decimal slowest, integer tail)",
        adaptive(bare)),
      ("integer-second bare-key", line(bare, 0)),
      ("partial bare-key (slowest-first, omission counted)",
        partial(bare))).view
    val safe = candidates.find(_._2.length <= 1900) match {
      case Some((label, l)) =>
        if (label != "3-decimal") System.err.println(s"BENCH NOTE: compact " +
          s"stdout line reduced to $label form to stay under the 1900-char " +
          "driver tail-buffer floor; exact timings on stderr and $BENCH_OUT.")
        l
      case None =>
        val (coarsest, coarsestLine) = candidates.last
        System.err.println(s"BENCH WARNING: compact stdout line is " +
          s"${coarsestLine.length} chars even in $coarsest form " +
          "(> 1900 driver tail-buffer floor); dropping the per-query map " +
          "from stdout — full detail still on stderr and $BENCH_OUT. " +
          "Shrink query keys or raise the floor.")
        // ADVICE r9: the r9 sweep hit this branch with 8 failing queries and
        // the driver's parsed record read errors:{} — a failed round looked
        // clean. The drop may sacrifice timings, NEVER failures: keep an
        // errors map at decreasing verbosity until it fits.
        def dropLine(errs: String) =
          s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$canaryJson"queries":{},"errors":$errs,"sf":${jq(sfDir)}}"""
        val errKeys = timed.collect { case (k, _, Some(e)) => (short(k), e) }
        val errLadder = Seq(
          errKeys.map { case (k, e) => s"${jq(k)}:${jq(e.take(60))}" },
          errKeys.map { case (k, _) => s"${jq(k)}:${jq("err")}" }
        ).map(_.mkString("{", ",", "}")) :+ s"""{"_failed":${errKeys.size}}"""
        (dropLine(errLadder.head) +: errLadder.tail.map(dropLine))
          .find(_.length <= 1900).getOrElse(dropLine("{}"))
    }
    (safe, verbose)
  }

  /** Box-drift canaries (r18 verdict item 3: builder-box and
    * driver-box runs of the SAME tree disagreed 24% and the repo had
    * no way to tell drift from regression). Two pinned carried
    * queries anchor every sidecar series: the ZERO-point is a
    * metadata-only aggregation (~0.03 s steady state — measures fixed
    * per-query harness overhead, immune to data-path regressions) and
    * the SCALE-point is a mid-weight scan-bound carried query
    * (measures the box's actual compute/IO speed). A cross-box
    * comparison normalizes a query series against the two canaries
    * before calling anything a regression: if the canaries moved by
    * the same factor as the suite, it's the box. */
  val CanaryZero = "q123_metadata_only_agg"
  val CanaryScale = "q21_pricing_summary"

  /** The committed sidecar's line (r16 verdict item 5): the official
    * first-sweep numbers (sum == wall, unchanged semantics) PLUS a
    * `queries_min`/`value_min` pair folding in a SECOND full timed
    * pass run later in the process — a per-query min across two
    * time-separated sweeps is robust to the multi-minute drift phases
    * that min-of-2 back-to-back runs share (r16: ~+9 s spread across
    * untouched queries, same-tree idle A/B 150.8 vs 160.4 s). Pure —
    * unit-tested by BenchJsonSpec.
    *
    * `sweeps` (r19 verdict item 4: the round ran three full timed
    * passes with 10-18% sweep-to-sweep spread, and "which run is
    * definitive" was a prose question): the RAW series of every full
    * timed pass, in time order — per-sweep total + both canaries —
    * plus `value_median`, the median of the sweep totals. One
    * artifact now carries the spread itself: min for
    * round-over-round comparison, median as the
    * single-number-with-its-noise answer, per-sweep canaries to tell
    * box drift from regression. */
  def sidecarLine(timed: Seq[(String, Double, Option[String])],
      second: Map[String, Double], sfDir: String,
      sweeps: Seq[Map[String, Double]] = Seq.empty): String = {
    val mins = timed.map { case (k, v, e) =>
      if (e.isDefined || v < 0) (k, v)
      else (k, second.get(k).filter(_ >= 0).map(math.min(v, _)).getOrElse(v))
    }
    val total = timed.collect { case (_, v, _) if v >= 0 => v }.sum
    val totalMin = mins.collect { case (_, v) if v >= 0 => v }.sum
    // ADVICE r17: errored queries carry a -1.0 sentinel internally; do
    // not leak it into the per-query maps, where an external consumer
    // summing values would silently subtract — `errors` already names
    // every failed query, so omission loses nothing.
    val qs = timed.collect { case (k, v, None) if v >= 0 => s"${jq(k)}:$v" }
      .mkString("{", ",", "}")
    val qm = mins.collect { case (k, v) if v >= 0 => s"${jq(k)}:$v" }
      .mkString("{", ",", "}")
    val errs = timed.collect { case (k, _, Some(e)) => s"${jq(k)}:${jq(e)}" }
      .mkString("{", ",", "}")
    // canary fields from the drift-robust min series (absent when a
    // canary query errored or a filtered run skipped it — consumers
    // treat absence as "not normalizable")
    val minMap = mins.toMap
    val canary = (minMap.get(CanaryZero).filter(_ >= 0),
        minMap.get(CanaryScale).filter(_ >= 0)) match {
      case (Some(z), Some(sc)) =>
        s""""canary":{"zero":${jq(CanaryZero)},"zero_sec":$z,""" +
          s""""scale":${jq(CanaryScale)},"scale_sec":$sc},"""
      case _ => ""
    }
    val sweepsJson = if (sweeps.isEmpty) "" else {
      val objs = sweeps.map { m =>
        val tot = m.values.filter(_ >= 0).sum
        s"""{"total":${fmt(tot, 3)}""" +
          m.get(CanaryZero).filter(_ >= 0)
            .map(v => s""","zero_sec":${fmt(v, 3)}""").getOrElse("") +
          m.get(CanaryScale).filter(_ >= 0)
            .map(v => s""","scale_sec":${fmt(v, 3)}""").getOrElse("") + "}"
      }
      val totals = sweeps.map(_.values.filter(_ >= 0).sum).sorted
      val median =
        if (totals.size % 2 == 1) totals(totals.size / 2)
        else (totals(totals.size / 2 - 1) + totals(totals.size / 2)) / 2
      s""""sweeps":[${objs.mkString(",")}],""" +
        s""""value_median":${fmt(median, 3)},"""
    }
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""value_min":$totalMin,"queries_min":$qm,$canary$sweepsJson""" +
      s""""errors":$errs,"sf":${jq(sfDir)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.driver(cpus)

    def runNoop(name: String): Option[String] =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }

    // Optional comma-separated name filter for isolation experiments
    // (e.g. timing one query in a fresh session vs after the full sweep
    // — the r6 regression investigation). The driver never sets this;
    // the full registry runs by default.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Write/streaming gates run LAST (r7 verdict item 2): in sorted-name
    // order q120–q131's checkpoint/RocksDB/small-file-commit wake landed
    // immediately before the scan-bound q12–q23c block and inflated
    // untouched queries 6–8×. Within each group the order stays sorted
    // (deterministic sweep; the report is re-sorted by name anyway).
    val sorted = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val (light, heavy) = sorted.partition(!graft.queries.Registry.heavy(_))

    // Per-query warm-up ON THE TARGET SF DIR (JMH steady-state): a
    // query's first execution pays Janino compilation of its
    // whole-stage-codegen stages plus JIT — ~4 s on the big dedup
    // plans. Earlier rounds warmed at sf0.001 (codegen is cached by
    // generated source text), but with AQE enabled runtime stats can
    // pick different join strategies / stage boundaries at sf0.001
    // vs the measured SF, so the AQE-chosen variant still compiled
    // inside the timed run (observed: q25 21.9 s driver-side vs
    // 2.6 s steady-state). Warming on sfDir itself compiles exactly
    // the measured plan; the cost is one extra full execution.
    // Warm-up failures are ignored — the measured run reports them.
    // Min-of-2 timed runs (r7 verdict item 2): min is robust to the
    // transient contention (GC wake, page-cache writeback from a
    // neighboring gate) that dominated r7's driver sweep — a one-off
    // stall inflates ONE of the two runs, not both. Any erroring run
    // marks the query failed; intermittent-only success should read red.
    // ADVICE r17: lifecycle gates persist() frames their caller must not
    // recompute; once a run has been materialized (timed or warm-up)
    // those blocks are dead weight. Dropping them between gates keeps
    // the double-sweep from accumulating ~230 gates' caches and leaning
    // on LRU eviction. Always AFTER the clock is read — never inside a
    // timed window.
    def clearGateCaches(): Unit =
      try spark.catalog.clearCache() catch { case _: Throwable => () }
    def time1(name: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      // phase attribution rides along (r19 verdict item 1): engine
      // steps instrumented with graft.core.Phases accumulate under
      // this gate's name; each withGate clears the previous run, so
      // what survives the sweeps is the LAST timed run's breakdown
      val err = graft.core.Phases.withGate(name) { runNoop(name) }
      val dt = (System.nanoTime() - t0) / 1e9
      clearGateCaches()
      (if (err.isDefined) -1.0 else dt, err)
    }
    // Raw per-sweep series (r19 verdict item 4): every full timed pass
    // records its unmodified numbers here — sweep 0/1 are the
    // back-to-back min-of-2 runs, sweep 2 the time-separated pass —
    // so the sidecar can carry the sweep-to-sweep spread itself.
    // Recheck re-timings deliberately do NOT touch these: they repair
    // the official min, not the box-state record.
    val sweepSeries =
      Array.fill(3)(scala.collection.mutable.Map.empty[String, Double])
    // Each group warms AND times before the next begins: a single
    // shared warm-up pass would end with the heavy gates' IO wake
    // draining right into the first timed light queries — the exact
    // contamination the heavy-last order exists to avoid.
    def sweep(group: Seq[String]): Seq[(String, Double, Option[String])] = {
      group.foreach { n =>
        try SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        clearGateCaches()
      }
      // Settle before the first TIMED run (r10 verdict item 5): the
      // warm-up pass leaves GC debt and async executor cleanup that
      // otherwise lands on whichever queries run first — r10 recorded
      // q01/q02 at 6-8x their steady state with unchanged code. An
      // explicit GC plus one untimed throwaway re-run of the group's
      // first query absorbs the ramp outside the timed region.
      System.gc()
      group.headOption.foreach { n =>
        try SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        clearGateCaches()
      }
      group.map { name =>
        val (s1, e1) = time1(name)
        sweepSeries(0)(name) = s1
        if (e1.isDefined) (name, -1.0, e1)
        else {
          val (s2, e2) = time1(name)
          sweepSeries(1)(name) = s2
          if (e2.isDefined) (name, -1.0, e2)
          else (name, math.min(s1, s2), None)
        }
      }
    }
    // r12 (r11 verdict item 1): contention-proof the light group. Twice
    // now the driver's sweep recorded unchanged light queries at 4-20x
    // their solo times (r7, r11 — 26 queries in r11, all at/below r10
    // when re-run in isolation), so min-of-2 alone is not robust against
    // box-level contention that spans both timed runs. Self-targeting
    // third attempt: any light query whose min exceeds 3x the group
    // median (floored at 0.8 s so sub-second noise never triggers it)
    // re-times at sweep end after a GC settle — up to two extra runs,
    // keeping the overall min. Bounded cost: only outliers re-run, and
    // a genuinely slow query re-reads its own steady state. Heavy gates
    // (streaming drains, table rewrites) are excluded: their cost is
    // intrinsic and a group median over heterogeneous gates would
    // mis-target.
    def recheck(timed: Seq[(String, Double, Option[String])])
        : Seq[(String, Double, Option[String])] = {
      val ok = timed.collect { case (_, v, None) => v }.sorted
      if (ok.isEmpty) return timed
      val median = ok(ok.size / 2)
      val thresh = math.max(3 * median, 0.8)
      val outliers = timed.collect {
        case (n, v, None) if v > thresh => n -> v }
      if (outliers.isEmpty) return timed
      System.err.println(s"BENCH RECHECK: ${outliers.size} light queries " +
        f"above ${thresh}%.3f s (3x group median ${median}%.3f s); " +
        "re-timing after settle: " + outliers.map(_._1).mkString(","))
      System.gc()
      // ADVICE r12: a recheck run is an EXTRA measurement attempt on a
      // query that already holds a valid min — if it errors, keep the
      // original timing and log, never convert a clean sweep to rc!=0.
      def keepOriginal(n: String, v: Double, e: Option[String]) = {
        System.err.println(s"BENCH RECHECK: $n re-timing errored " +
          s"(${e.getOrElse("?")}); keeping original measurement.")
        n -> ((v, Option.empty[String]))
      }
      val revised = outliers.map { case (n, v) =>
        val (s3, e3) = time1(n)
        if (e3.isDefined) keepOriginal(n, v, e3)
        else if (s3 <= thresh) n -> ((math.min(v, s3), Option.empty[String]))
        else {
          val (s4, e4) = time1(n)
          if (e4.isDefined) {
            System.err.println(s"BENCH RECHECK: $n second re-timing " +
              s"errored (${e4.getOrElse("?")}); keeping min of prior runs.")
            n -> ((math.min(v, s3), Option.empty[String]))
          }
          else n -> ((math.min(v, math.min(s3, s4)), Option.empty[String]))
        }
      }.toMap
      revised.foreach { case (n, (nv, _)) =>
        val old = outliers.toMap.apply(n)
        System.err.println(f"BENCH RECHECK: $n $old%.3f -> $nv%.3f s")
      }
      timed.map { case (n, v, e) =>
        revised.get(n).map { case (nv, ne) => (n, nv, ne) }
          .getOrElse((n, v, e))
      }
    }
    // r21 verdict item 2: the recheck used to fire IMMEDIATELY after the
    // light sweep — inside the same multi-minute contention window it
    // exists to defend against (r21: q22's 11.2 s survived min-of-2 PLUS
    // two recheck runs; the same box read 0.8 s at 8 cores later that
    // session). Running the heavy sweep first TIME-SEPARATES the recheck
    // from the light sweep by minutes; recheck keeps the min with the
    // original, so heavy-sweep IO wake can never worsen a number.
    val lightTimed = sweep(light)
    val heavyTimed = sweep(heavy)
    val timed = (recheck(lightTimed) ++ heavyTimed)
      .sortBy(_._1) // report in name order regardless of sweep order
    // r16 verdict item 5 (min-of-N protocol): ONE more timed pass over
    // the whole registry, minutes after the first — its per-query min
    // with the official number lands in the sidecar as `queries_min`,
    // the drift-robust series round-over-round comparisons should
    // read. The official wall keeps single-first-sweep semantics.
    // Skipped for filtered isolation runs (they skip the sidecar too).
    def sweepOnce(group: Seq[String]): Seq[(String, Double)] = {
      System.gc()
      group.headOption.foreach { n =>
        try SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        clearGateCaches()
      }
      group.map { n =>
        val (v, e) = time1(n)
        val clean = if (e.isDefined) -1.0 else v
        sweepSeries(2)(n) = clean
        n -> clean
      }
    }
    val second: Map[String, Double] =
      if (only.isEmpty) (sweepOnce(light) ++ sweepOnce(heavy)).toMap
      else Map.empty
    val (compact, verbose) = render(timed, sfDir)
    // r13 (r12 verdict item 1, third artifact failure): EMISSION ORDER is
    // the contract. The driver keeps only the last ~2000 chars of the
    // MERGED stdout+stderr streams — in r12 the ~6 KB BENCH_VERBOSE stderr
    // line printed AFTER the compact stdout line and evicted it from the
    // tail, so the round recorded `parsed: null`. Therefore:
    //   1. every auxiliary channel ($BENCH_OUT file, BENCH_VERBOSE stderr,
    //      failure notes) emits FIRST and is flushed;
    //   2. spark.stop() runs BEFORE the compact line so its shutdown
    //      logging (if any escapes the WARN level) cannot land after it;
    //   3. the compact stdout line is the process's ABSOLUTE LAST output.
    sys.env.get("BENCH_OUT").foreach(p => Files.writeString(Paths.get(p), verbose + "\n"))
    // r15 verdict item 4: the adaptive compact line renders ~160 fast
    // queries at integer seconds (0/1), so fast-query regressions are
    // invisible in the official BENCH_rN artifact and its per-query sum
    // no longer reconciles with the wall. The full-resolution sidecar is
    // COMMITTED per round (default path is repo-relative; the driver
    // sweeps uncommitted files into the round commit), restoring
    // round-over-round trackability at ms precision. Sidecar-sum == wall
    // by construction (both derive from the same `timed`); BenchJsonSpec
    // pins that reconciliation on the rendered line and, when the
    // committed file exists, on the artifact itself.
    // A FILTERED run (SPARK_GRAFT_BENCH_ONLY isolation experiments)
    // must not clobber the committed full-registry artifact with a
    // subset nobody would notice (sum==wall and recorded-subset-of-
    // registry both still hold for a partial file — r16 review
    // finding); the sidecar is the round-over-round trackability
    // record, so only full sweeps write it by default.
    // r21 verdict item 2: the sidecar is ALSO written to a per-cpus path
    // — the r21 driver session's 8-core run overwrote the 32-core run's
    // bench_sidecar.json, destroying the one artifact (canaries +
    // min-series) that could separate box drift from code. The default
    // path keeps its existing semantics (latest full sweep); the
    // _c<cpus> twin makes runs at different core counts never clobber
    // each other within a round.
    val sidecarPaths: Seq[String] = sys.env.get("BENCH_SIDECAR") match {
      case Some(p) => Seq(p)
      case None if only.isEmpty =>
        Seq("bench_sidecar.json", s"bench_sidecar_c$cpus.json")
      case None => Seq.empty
    }
    sidecarPaths.foreach { p =>
      try Files.writeString(Paths.get(p), sidecarLine(timed, second, sfDir,
        sweepSeries.map(_.toMap).toSeq.filter(_.nonEmpty)) + "\n")
      catch { case e: Exception =>
        System.err.println(s"BENCH: sidecar write to $p failed " +
          s"(${e.getMessage}); full detail still on stderr.")
      }
    }
    // Per-phase attribution artifact (r19 verdict item 1): one JSON
    // object per instrumented gate — the last timed run's dotted-path
    // phase seconds. Sidecar-adjacent, and it inherits the sidecar's
    // two write rules (review r20): a FILTERED isolation run must not
    // clobber the committed full-registry artifact (set BENCH_PHASES
    // explicitly for isolation experiments), and a full sweep always
    // writes — "{}" when no instrumented gate recorded — so a stale
    // prior-round file can never masquerade as this round's.
    // phases inherit the sidecar's per-cpus twin (same r21 overwrite).
    val phasesPaths: Seq[String] = sys.env.get("BENCH_PHASES") match {
      case Some(p) => Seq(p)
      case None if only.isEmpty =>
        Seq("bench_phases.json", s"bench_phases_c$cpus.json")
      case None => Seq.empty
    }
    phasesPaths.foreach { p =>
      try {
        val gates = timed.map(_._1).flatMap { n =>
          val m = graft.core.Phases.forGate(n)
          if (m.isEmpty) None
          else Some(s"${jq(n)}:" + m.toSeq.sortBy(-_._2)
            .map { case (ph, v) => s"${jq(ph)}:${fmt(v, 3)}" }
            .mkString("{", ",", "}"))
        }
        Files.writeString(Paths.get(p), gates.mkString("{", ",", "}") + "\n")
      } catch { case e: Exception =>
        System.err.println(s"BENCH: phases write failed (${e.getMessage})")
      }
    }
    System.err.println("BENCH_VERBOSE " + verbose)
    // ADVICE r9: rc must not read clean when queries failed — the r9
    // artifact recorded rc=0 over 8 analysis failures.
    val nFailed = timed.count(_._3.isDefined)
    if (nFailed > 0)
      System.err.println(s"BENCH: $nFailed queries failed; exiting nonzero.")
    // r17 verdict item 1 (fourth artifact failure): a StateStore
    // maintenance daemon survived spark.stop() and logged a ~1.3 KB
    // "SparkEnv not active" WARN stack trace AFTER the compact line,
    // evicting the JSON head from the driver's 2000-char merged tail
    // (`BENCH_r17.json` -> parsed: null). Emission ordering alone
    // cannot defend against a daemon thread that fires after our last
    // statement, so three independent locks:
    //   1. log level OFF before stop — the stray output was a log4j
    //      WARN, and setLogLevel rewrites the root logger the console
    //      appender actually serves (replacing System.err would NOT
    //      silence it: log4j captured the stream at init).
    //   2. StateStore.stop() — kill the maintenance task itself, not
    //      just its mouthpiece.
    //   3. emitAndExit: println(compact) + flush + UNCONDITIONAL
    //      sys.exit as the process's terminal statement, so no code of
    //      ours runs after the line either. BenchJsonSpec pins that
    //      main's tail matches this contract textually.
    try spark.sparkContext.setLogLevel("OFF")
    catch { case _: Throwable => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    // ADVICE r13: stop() must not be able to kill the compact line — if a
    // shutdown hook throws, a clean sweep would exit with no parseable
    // artifact, the exact loss the emission ordering exists to prevent.
    try spark.stop()
    catch {
      case e: Throwable =>
        System.err.println(s"BENCH: spark.stop() threw ${e.getClass.getName}: ${e.getMessage}; continuing to emit the result line.")
    }
    emitAndExit(compact, nFailed)
  }

  /** The ONLY exit path of a bench run: compact line, flush, exit.
    * Nothing — daemon or shutdown logging — may print after the line;
    * sys.exit(0) even on success guarantees our own code cannot either.
    */
  private def emitAndExit(compact: String, nFailed: Int): Nothing = {
    System.err.flush()
    println(compact)
    System.out.flush()
    sys.exit(if (nFailed > 0) 1 else 0)
  }
}
