package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.core.Fs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** First-class IVF ANN index over a docstore table — the promotion of
  * the gate-local LSM lifecycle (q207 upsert, q212/q217 fold+retire,
  * q221 tombstones, q214/q222 CDC maintenance) to a cataloged engine
  * object with a DDL/procedure surface (r17 verdict item 2):
  *
  * {{{
  *   CALL cat.system.ann_build('ns.t', 'doc_id', 'vec', 'cell')
  *   CALL cat.system.ann_sync('ns.t', 'vec')   -- CDF-driven, both change types
  *   CALL cat.system.ann_fold('ns.t', 'vec')   -- compact + retire
  *   CALL cat.system.ann_rebuild('ns.t', 'vec') -- fresh quantizer, atomic swap
  *   CALL cat.system.ann_drop('ns.t', 'vec')
  * }}}
  *
  * Layout — the index lives BESIDE the table's own manifest, under
  * `<tableDir>/_ann/<vecCol>/` (vacuum reclaims only `.gds` segment
  * files, so index parquet is never collateral):
  *
  *  - `MANIFEST` (+ retained `MANIFEST.v<n>` copies): `<kind>,<path>`
  *    lines published by ATOMIC RENAME under the docstore commit lock
  *    on the index root — a reader resolves its whole layer set from
  *    ONE manifest snapshot, so there is no window where a vector is
  *    served from both a fragment and its folded overlay (no double
  *    count) or from neither (no loss). `ann_fold` EXPIRES version
  *    copies below its own publish (they reference the layer dirs the
  *    fold just deleted), bounding the per-sync small-file growth.
  *  - `base/vectors/label=<cell>/` + `base/centroids/` — the build
  *    snapshot, cell-partitioned; the centroid table doubles as the
  *    PINNED coarse quantizer (the FAISS/Milvus posture: the cell
  *    space is fixed at build, so fragment assignment is
  *    arrival-order-independent and folds commute).
  *  - `frag-<v>/vectors/` + `frag-<v>/dcent/` — one delta fragment per
  *    synced table version carrying inserts; `dcent` is the fragment's
  *    per-cell integer sums/counts (metadata-sized).
  *  - `tomb-<v>/keys/` + `tomb-<v>/dcent/` — one tombstone fragment
  *    per synced version carrying deletes: (vec_id, cell) keys plus
  *    the per-cell integer aggregates the centroid state SUBTRACTS.
  *  - `fold-<n>/cells/` + `fold-<n>/centroids/` — compaction output.
  *    Folds are LSM levels: per cell, the newest fold covering it
  *    shadows older folds and base; ann_fold rewrites ONLY affected
  *    cells and deletes an older fold once fully shadowed.
  *
  * Exactness: every similarity runs over round(x*1000) integer
  * vectors (the proven cross-engine grid); centroid state is integer
  * sums+counts — a group under addition, so ADD (insert), SUBTRACT
  * (delete) and fold are exact and associative where float means are
  * not. Probe/assign ranking is the count-normalized [[cellDist]]
  * (exact integer numerator, deterministic double normalization).
  * Cells emptied by deletes leave c = 0 and never probe.
  *
  * 100 TB posture: build is one corpus pass; sync touches batch +
  * metadata per table version (never rescans the corpus — delete
  * cells resolve via a candidate-cell-pruned lookup, at most two
  * partitions per deleted row); fold cost scales with fragment bytes
  * + affected cells; serve reads probed cells only, resolved
  * newest-layer-first, minus broadcast tombstone keys. */
object AnnIndex {

  // ------------------------------------------------------------------
  // canonical vector math — ONE definition engine-wide (the gate suite
  // in graft.queries.EmbedOps calls these directly; a drift between two
  // copies of these folds would silently break serve == oracle)
  // ------------------------------------------------------------------

  /** Exact integer dot product — native codegen expression. */
  def dotL(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.column(graft.expr.DotProduct(
      org.apache.spark.sql.graftshim.expression(a),
      org.apache.spark.sql.graftshim.expression(b)))

  /** Cosine from exact integers — deterministic IEEE double. */
  def cosine(dot: Column, n1: Column, n2: Column): Column =
    dot.cast("double") / (sqrt(n1.cast("double")) * sqrt(n2.cast("double")))

  /** Count-normalized probe/assign distance ||q - sv/c||^2 — the
    * FAISS-style distance-to-centroid-MEAN, comparable ACROSS cells
    * with different populations (r18 advice: the previous
    * cross-multiplied form sum((c*q_i - sv_i)^2) = c^2*||q - sv/c||^2
    * inflated dense cells by c^2, biasing probes toward low-count
    * cells as permanent serving semantics).
    *
    * Determinism across engines AND overflow safety (the second r18
    * advice finding — at c ~ 1e9, per-term Long math wraps) come from
    * the evaluation shape, shared verbatim by the DuckDB oracles:
    *  1. the NUMERATOR sum((c*q_i - sv_i)^2) is exact integer
    *     arithmetic in DECIMAL(38,0) (DuckDB: HUGEINT) — order of
    *     summation cannot matter, and 38 digits hold the 100 TB worst
    *     case (c ~ 1e9, |q_i| ~ 1e3 -> terms ~ 1e24, sums ~ 1e26);
    *  2. ONE rounding converts the exact numerator to double;
    *  3. the denominator c*c is a product of exactly-representable
    *     doubles (c < 2^53) and the final division is one more
    *     correctly-rounded IEEE op.
    * Same exact inputs + same correctly-rounded op sequence =
    * bit-identical doubles, so (d, label) ranking stays engine-exact
    * the way the old all-integer form was — at every magnitude this
    * repo VERIFIES (oracle-scale numerators < 2^63, where both
    * engines' conversion is exactly the long->double cast, correctly
    * rounded by the IEEE/JLS spec). Beyond 2^63 (the 1e26 worst case
    * above) the ranking stays deterministic WITHIN each engine, and
    * cross-engine bit-identity additionally rests on
    * BigDecimal.doubleValue and DuckDB's HUGEINT->DOUBLE cast both
    * rounding to nearest — believed true but not pinned by any gate
    * here, so the cross-engine claim is scoped to verified magnitudes
    * (r19 advice: the earlier comment over-claimed "< 2^64" while
    * sizing the worst case at 1e26).
    *
    * Evaluation shape, per (query, cell) pair: the numerator expands
    * algebraically to c^2*||q||^2 - 2c*(q . sv) + ||sv||^2, so the
    * per-dimension work is ONE native codegen'd integer dot product
    * (q . sv stays within Long for c*max|q|^2*dim < 2^63 — beyond any
    * 100 TB configuration on the milli grid) plus three scalar DECIMAL
    * ops; ||sv||^2 (whose per-term squares DO overflow Long at extreme
    * cell counts) is precomputed in decimal ONCE PER CELL by
    * [[withCentNorm]], never per pair. A per-pair zip_with/aggregate
    * loop would run interpreted (higher-order functions don't codegen)
    * and in decimal — measured ~15% slower on the lifecycle gates. */
  def cellDist(qv: Column, sv: Column, c: Column,
      qn: Column, sn: Column): Column = {
    val cD = c.cast("decimal(38,0)")
    val num = cD * cD * qn - cD * lit(2) * dotL(qv, sv) + sn
    num.cast("double") / (c.cast("double") * c.cast("double"))
  }

  /** `sn` = exact ||sv||^2 per centroid row, in DECIMAL(38,0) —
    * cells x dim work on a metadata-sized frame, computed once before
    * the query crossJoin so no per-pair decimal loop exists. */
  def withCentNorm(cents: DataFrame): DataFrame =
    cents.withColumn("sn", aggregate(col("sv"),
      lit(0L).cast("decimal(38,0)"),
      (acc, x) => acc + x.cast("decimal(38,0)") * x))

  /** Quantize a float/double vector column onto the round(x*1000)
    * integer grid; integral element types pass through as BIGINT
    * (already-quantized columns, the CDC-gate table shape). */
  def quantExpr(df: DataFrame, vecCol: String): Column =
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        transform(col(vecCol),
          x => round(x.cast("double") * 1000).cast("long"))
      case ArrayType(LongType | IntegerType | ShortType | ByteType, _) =>
        transform(col(vecCol), _.cast("long"))
      case other => throw new IllegalArgumentException(
        s"ann index needs ARRAY<numeric> vector column, '$vecCol' is $other")
    }

  /** (label, sv: array<long>, c) — the integer centroid table of a
    * (…, q, label) frame. Dimension-agnostic (posexplode, not a fixed
    * DIM) so one fold serves every vector width. Extra grouping
    * columns ride along (the family build groups by src too —
    * one fold definition for every quantizer). */
  def centroidTable(df: DataFrame, extra: Seq[String] = Seq.empty)
      : DataFrame = {
    val keys = (extra :+ "label").map(col)
    val cellsum = df
      .select(keys :+ posexplode(col("q")).as(Seq("i", "x")): _*)
      .groupBy(keys :+ col("i"): _*)
      .agg(sum(col("x")).as("s"))
    cellsum.groupBy(keys: _*)
      .agg(transform(array_sort(collect_list(struct(col("i"), col("s")))),
        e => e.getField("s")).as("sv"))
      .join(df.groupBy(keys: _*).agg(count(lit(1)).as("c")),
        extra :+ "label")
  }

  /** (label, dv, dc) — a fragment's per-cell integer aggregates. */
  def fragmentAggregates(back: DataFrame): DataFrame =
    centroidTable(back)
      .withColumnRenamed("sv", "dv")
      .withColumnRenamed("c", "dc")

  /** Probe: top-`nprobe` cells per query by the count-normalized
    * distance-to-mean [[cellDist]] (ties by label). Cells with c <= 0
    * never probe — a fully-deleted cell leaves a zero centroid whose
    * distance would otherwise compete while holding no candidates. */
  def probeCells(qs: DataFrame, cents0: DataFrame, nprobe: Int): DataFrame = {
    val cents = withCentNorm(cents0.filter(col("c") > 0))
    val dist = qs.crossJoin(broadcast(cents))
      .withColumn("d",
        cellDist(col("qv"), col("sv"), col("c"), col("qn"), col("sn")))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("d").asc, col("label").asc)
    dist.withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("label"), col("qv"), col("qn"))
  }

  /** Exact cosine of each candidate pair: query (qv, qn) x row (q, nn). */
  private def withCos(cand: DataFrame): DataFrame =
    cand.withColumn("cos",
      cosine(dotL(col("qv"), col("q")), col("qn"), col("nn")))

  /** The rerank order: cosine descending, ties by the lower vec_id. */
  private def byCos(keys: String*) = Window.partitionBy(keys.map(col): _*)
    .orderBy(col("cos").desc, col("vec_id").asc)

  /** Exact cosine rerank — ONE definition for the index serve and every
    * gate that ranks candidates exactly. `cand` pairs a query (qid, qv,
    * qn) with a candidate row (vec_id, q, nn); adds `cos` and `rnk` (per
    * qid, [[byCos]] order) and keeps rnk <= k. */
  private[graft] def rerank(cand: DataFrame, k: Int): DataFrame =
    withCos(cand).withColumn("rnk", row_number().over(byCos("qid")))
      .filter(col("rnk") <= k)

  /** Serve tail shared with the gate suite: exact cosine rerank inside
    * the probed pool, top-k overall PLUS each query's best NEW
    * neighbor at its overall rank — the upserted-vectors-are-
    * searchable proof even when arrivals don't crack the top-k. */
  def topKWithBestNew(pool: DataFrame, probe: DataFrame, k: Int): DataFrame =
    withCos(pool.join(broadcast(probe),
        pool("label") === probe("label") && col("vec_id") =!= col("qid")))
      .withColumn("rnk", row_number().over(byCos("qid")))
      .withColumn("nrnk", when(col("is_new"),
        row_number().over(byCos("qid", "is_new"))).otherwise(lit(null)))
      .filter(col("rnk") <= k || col("nrnk") === 1)
      .select(col("qid").as("query_id"), col("rnk"),
        col("vec_id").as("neighbor_id"), pool("label").as("cell"),
        col("is_new"), round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rnk")

  // ------------------------------------------------------------------
  // manifest — `<kind>,<path>` lines, atomic-rename publish, retained
  // version copies
  // ------------------------------------------------------------------

  final class Manifest(val root: Path) {
    private val mf = root.resolve("MANIFEST")
    def exists: Boolean = Files.exists(mf)
    def read(): Seq[(String, String)] =
      Files.readAllLines(mf).asScala.toSeq
        .map(_.split(",", 2)).map(a => (a(0), a(1)))
    /** Version numbers of the retained `MANIFEST.v<n>` copies — the
      * ONE owner of the name format (fold expiry, currentVersion, and
      * the retention pins all read through here; r19 review). */
    def versionCopies: Seq[Int] =
      if (!Files.exists(root)) Seq.empty
      else Fs.numbered(root, "MANIFEST.v").map(_.toInt)
    /** Expire retained copies strictly below `v` (the current
      * MANIFEST file is untouched — readers resolve from it). */
    def expireCopiesBelow(v: Int): Unit =
      versionCopies.filter(_ < v)
        .foreach(n => Files.delete(root.resolve(s"MANIFEST.v$n")))
    /** Highest published version, -1 if none. */
    def currentVersion: Int = versionCopies.lastOption.getOrElse(-1)
    def publish(entries: Seq[(String, String)], v: Int): Unit = {
      // read() splits on the FIRST comma — refuse loudly in the only
      // writer rather than silently corrupt a reader's layer set
      entries.foreach { case (kind, p) =>
        require(!kind.contains(",") && !p.contains(","),
          s"manifest entry may not contain ',' (got: $kind,$p)")
      }
      Files.createDirectories(root)
      val bytes = entries.map { case (k, p) => s"$k,$p" }
        .mkString("\n").getBytes("UTF-8")
      // the version copy lands before the swap; a crash-retry of the
      // same publish overwrites it (idempotent, not fatal)
      Files.write(root.resolve(s"MANIFEST.v$v"), bytes)
      Fs.publish(root, "MANIFEST", bytes)
    }
  }

  /** One resolved manifest snapshot. Layer paths are index-relative
    * (the index survives a table move); `folds` in append (oldest →
    * newest) order. */
  final case class Layers(root: Path, idCol: String, vecCol: String,
      labelCol: String, synced: Long, base: String, folds: Seq[String],
      frags: Seq[String], tombs: Seq[String]) {
    def abs(rel: String): String = root.resolve(rel).toString
    def baseVectors: String = abs(s"$base/vectors")
    def baseCentroids: String = abs(s"$base/centroids")
  }

  def dirFor(tablePath: String, vecCol: String): Path =
    Paths.get(tablePath, "_ann", vecCol)

  def load(root: Path): Layers = {
    val m = new Manifest(root)
    require(m.exists, s"no ann index at $root — CALL system.ann_build first")
    val es = m.read()
    val cols = es.collectFirst { case ("cols", c) => c.split('|') }
      .getOrElse(throw new IllegalStateException(
        s"ann manifest at $root missing cols line"))
    Layers(root, cols(0), cols(1), cols(2),
      synced = es.collectFirst { case ("synced", v) => v.toLong }.get,
      base = es.collectFirst { case ("base", p) => p }.getOrElse("base"),
      folds = es.collect { case ("fold", p) => p },
      frags = es.collect { case ("frag", p) => p },
      tombs = es.collect { case ("tomb", p) => p })
  }

  // ------------------------------------------------------------------
  // filtered-index family: one SELF-CONTAINED sub-index per filter
  // value under `_ann/<vecCol>/src=<k>/`, each with its OWN manifest —
  // one src's maintenance commits never even touch another src's
  // manifest (the q225 blast-radius contract, made structural). The
  // family root carries a small manifest naming the filter column and
  // the sub-indexes.
  // ------------------------------------------------------------------

  /** Is the index at `root` a filtered family? */
  def isFamily(root: Path): Boolean = {
    val m = new Manifest(root)
    m.exists && m.read().exists(_._1 == "filter")
  }

  final case class Family(root: Path, idCol: String, vecCol: String,
      labelCol: String, filterCol: String, subs: Seq[Long]) {
    def subRoot(k: Long): Path = root.resolve(s"src=$k")
  }

  def loadFamily(root: Path): Family = {
    val m = new Manifest(root)
    require(m.exists, s"no ann index at $root — CALL system.ann_build first")
    val es = m.read()
    val cols = es.collectFirst { case ("cols", c) => c.split('|') }.get
    Family(root, cols(0), cols(1), cols(2),
      filterCol = es.collectFirst { case ("filter", f) => f }.getOrElse(
        throw new IllegalStateException(s"$root is not a filtered family")),
      subs = es.collect { case ("sub", k) => k.toLong })
  }

  /** Cells covered by a cell-partitioned layer dir — pure directory
    * metadata (label=<v> subdirs), no data read. */
  private def coveredCells(dir: Path): Set[Long] =
    if (!Files.exists(dir)) Set.empty
    else Fs.list(dir).map(_.getFileName.toString)
      .filter(_.startsWith("label="))
      .map(_.stripPrefix("label=").toLong).toSet

  // ------------------------------------------------------------------
  // lifecycle
  // ------------------------------------------------------------------

  /** (vec_id, q, nn, label) projection with the zero-norm guard; keeps
    * `_change_type`/`_commit_version` when present (the CDF face) and
    * the filter column as `src` when the index is a filtered family. */
  private def project(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, filterCol: Option[String] = None): DataFrame = {
    val extra =
      Seq("_change_type", "_commit_version")
        .filter(df.columns.contains).map(col) ++
        filterCol.map(f => col(f).cast("long").as("src")).toSeq
    // NULL filter values are NOT dropped here (r18 advice: a NULL-src
    // change row silently vanishing from serving is a data-loss bug);
    // the family build and sync paths each detect and refuse loudly
    df.select(Seq(col(idCol).cast("long").as("vec_id"),
        quantExpr(df, vecCol).as("q"),
        col(labelCol).cast("long").as("label")) ++ extra: _*)
      .withColumn("nn", dotL(col("q"), col("q")))
      .filter(col("nn") > 0 && col("label").isNotNull)
  }

  /** Assign unlabeled arrivals against the PINNED base centroids —
    * argmin of the count-normalized [[cellDist]], ties by label.
    * graft-visible: the filtered-index gate (q225) assigns against
    * per-src centroid slices through the same single definition. */
  /** `carry` columns ride through the assignment (the windowed sync
    * carries `_commit_version` so ONE assignment job serves every
    * version's arrivals); they join the argmin window's partition key
    * because the same vec_id may legitimately recur across versions
    * (delete + re-insert) and each occurrence assigns independently. */
  private[graft] def assign(batch: DataFrame, baseCents: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val ad = batch.drop("label")
      .crossJoin(broadcast(withCentNorm(baseCents)))
      .withColumn("d",
        cellDist(col("q"), col("sv"), col("c"), col("nn"), col("sn")))
    val wa = Window.partitionBy(col("vec_id") +: carry.map(col): _*)
      .orderBy(col("d").asc, col("label").asc)
    ad.withColumn("ar", row_number().over(wa))
      .filter(col("ar") === 1)
      .select((Seq("vec_id", "q", "nn", "label") ++ carry).map(col): _*)
  }

  final case class BuildStats(indexDir: String, builtAtVersion: Long,
      cells: Long, vectors: Long)

  /** Build the base layer from the table's CURRENT snapshot. The
    * label column seeds the coarse quantizer (cells = its distinct
    * values); later arrivals are assigned against the pinned
    * centroids, never against their own label. One corpus pass.
    *
    * With `filterCol` set, builds a FILTERED FAMILY instead: one
    * self-contained sub-index per filter value (own manifest, base,
    * pinned quantizer, lifecycle) under `src=<k>/` — the q218/q225
    * per-slice posture made structural. Still one corpus pass: the
    * snapshot writes src/label-partitioned into a staging dir whose
    * src partitions RENAME into the sub-index roots. */
  def build(tablePath: String, idCol: String, vecCol: String,
      labelCol: String, filterCol: String = ""): BuildStats = {
    val s = SparkSession.active
    val root = dirFor(tablePath, vecCol)
    val m = new Manifest(root)
    require(!m.exists,
      s"ann index for '$vecCol' already exists — CALL system.ann_drop first")
    // no published manifest -> anything under the root is a crashed
    // earlier build's unreachable debris; clear it so the rerun's
    // writes don't die on ErrorIfExists (review r18)
    Fs.deleteRecursively(root)
    val head = DocStoreCommitOps.nextVersion(tablePath) - 1
    // read the CAPTURED version's retained manifest, not the live head:
    // a commit racing between the version capture and this scan would
    // otherwise land in the base AND later replay through ann_sync
    // (double-counted)
    val snap = s.read.format("graft-docstore").option("path", tablePath)
      .option("manifest", s"MANIFEST.v$head").load()
    if (filterCol.isEmpty) {
      // ONE corpus pass feeds the base write AND the centroid/stat
      // aggregations off the cache (r18 verdict item 1: the sealed
      // base used to re-read the written layer for its centroids).
      // The cache is advisory — an evicted partition recomputes the
      // projection, which is exactly the old read-back cost.
      val v = project(snap, idCol, vecCol, labelCol).persist()
      try {
        // refuse BEFORE any write: an empty base layer would be an
        // unreadable parquet dir (no footers) and a useless index
        require(v.take(1).nonEmpty,
          s"ann_build over '$vecCol' found no indexable vectors (non-null " +
            "label, non-zero norm) — refusing to publish an empty index")
        // vectors, centroids, and stats all derive from the cached
        // projection and write/collect independently — run concurrently
        // (the serial chain left the box idle between small jobs)
        var r: org.apache.spark.sql.Row = null
        graft.core.Phases("base_write") {
          inParallel(
            clusterForWrite(v, "label").write.partitionBy("label")
              .parquet(root.resolve("base").resolve("vectors").toString),
            inParallel(
              centroidTable(v).write
                .parquet(root.resolve("base").resolve("centroids").toString),
              { r = v.agg(count_distinct(col("label")), count(lit(1))).head() }))
        }
        DocStoreCommitOps.withCommitLock(root.toString) {
          m.publish(Seq(("cols", s"$idCol|$vecCol|$labelCol"),
            ("synced", head.toString), ("base", "base")), 0)
        }
        BuildStats(root.toString, head, r.getLong(0), r.getLong(1))
      } finally { v.unpersist(); () }
    } else {
      // the cached projection feeds the staging write AND the
      // family-wide centroid aggregation (r18 verdict item 1: the
      // aggregation used to re-read the entire staging dir)
      val v = project(snap, idCol, vecCol, labelCol, Some(filterCol))
        .persist()
      try {
      require(v.take(1).nonEmpty,
        s"ann_build over '$vecCol' found no indexable vectors — " +
          "refusing to publish an empty index family")
      // ONE corpus pass into staging, then per-src directory RENAMES
      // into the self-contained sub-index roots (no second data pass).
      // The family-wide centroid aggregation reads the SAME cached
      // projection and is independent of the staging dir — concurrent;
      // its rows are mapped only after the NULL-filter refusal below
      // (a null src group would fail the long mapping before the
      // intended loud refusal could fire).
      val stage = root.resolve(".stage-build")
      var centRowsRaw: Array[org.apache.spark.sql.Row] = null
      graft.core.Phases("stage_write") {
        inParallel(
          clusterForWrite(v, "src", "label").write
            .partitionBy("src", "label").parquet(stage.toString),
          { centRowsRaw = centroidTable(v, Seq("src"))
            .select(col("src"), col("label"), col("sv"), col("c"))
            .collect() })
      }
      // a NULL filter value has no sub-index to live in — it would be
      // unreachable from every filtered serve. Detection is FREE: the
      // partitioned write routes null-src rows to the hive default
      // partition dir, so one directory listing (no data read, no
      // second corpus pass) proves their presence (r18 advice)
      val stagedDirs = Fs.list(stage).map(_.getFileName.toString)
        .filter(_.startsWith("src="))
      if (stagedDirs.exists(_.contains("__HIVE_DEFAULT_PARTITION__"))) {
        Fs.deleteRecursively(root)
        throw new IllegalArgumentException(
          s"ann_build: rows with NULL '$filterCol' cannot join any " +
            "sub-index and would vanish from filtered serving — " +
            "refusing the family build")
      }
      val srcs = stagedDirs.map(_.stripPrefix("src=").toLong).sorted
      // EVERY sub's pinned quantizer in ONE aggregation over the
      // CACHED projection (per-sub centroid jobs would pay the
      // posexplode shuffle once per src, and the r18 shape re-read
      // the whole staging dir); the result is metadata-sized
      // (subs x cells x (dim+1) integers), so it collects and writes
      // per sub from the driver
      val centRows = centRowsRaw
        .map(r => (r.getAs[Number](0).longValue(),
          r.getAs[Number](1).longValue(),
          r.getSeq[Long](2), r.getLong(3)))
      // per-sub publishes are independent (own dir, own manifest, own
      // lock) — a serial loop left the driver idle between three tiny
      // centroid writes (guide §2.6); parallel, summed after
      val perSub = inParallelMap(srcs) { k => graft.core.Phases("sub_publish") {
        val sub = root.resolve(s"src=$k")
        Files.createDirectories(sub.resolve("base"))
        Files.move(stage.resolve(s"src=$k"),
          sub.resolve("base").resolve("vectors"))
        val mine = centRows.filter(_._1 == k)
          .map { case (_, l, sv, c) => (l, sv, c) }.toSeq
        import s.implicits._
        mine.toDF("label", "sv", "c").coalesce(1).write
          .parquet(sub.resolve("base").resolve("centroids").toString)
        DocStoreCommitOps.withCommitLock(sub.toString) {
          new Manifest(sub).publish(
            Seq(("cols", s"$idCol|$vecCol|$labelCol"),
              ("synced", head.toString), ("base", "base")), 0)
        }
        (mine.size.toLong, mine.map(_._3).sum)
      } }
      val cells = perSub.map(_._1).sum
      val vecs = perSub.map(_._2).sum
      Fs.deleteRecursively(stage)
      DocStoreCommitOps.withCommitLock(root.toString) {
        m.publish(Seq(("cols", s"$idCol|$vecCol|$labelCol"),
          ("filter", filterCol)) ++
          srcs.map(k => ("sub", k.toString)), 0)
      }
      BuildStats(root.toString, head, cells, vecs)
      } finally { v.unpersist(); () }
    }
  }

  final case class SyncStats(fromVersion: Long, toVersion: Long,
      fragments: Long, tombstones: Long, inserted: Long, deleted: Long)

  /** Test-visible count of CDF reads `sync` issues — AnnIndexSpec pins
    * the one-read-per-sync-window contract (r19: a regression back to
    * per-version reads would be invisible to correctness gates). */
  private[graft] val cdfReads = new java.util.concurrent.atomic.AtomicLong

  /** ONE windowed change-feed read for a whole unsynced range —
    * r18 verdict item 2: the per-version loop paid one CDF read (and
    * its full plan/scan setup) per table version, so a table 500
    * commits behind ran 500 serial read cycles. The batch CDC face
    * serves `table_changes(from, to)` in one scan and stamps each row
    * with `_commit_version`, which the sync loop groups by. */
  private def readChanges(s: SparkSession, tablePath: String,
      from: Long, to: Long): DataFrame = {
    cdfReads.incrementAndGet()
    s.read.format("graft-docstore").option("path", tablePath)
      .option("readChangeFeed", "true")
      .option("startingVersion", from.toString)
      .option("endingVersion", to.toString).load()
  }

  /** CDF-driven maintenance — BOTH change types in one pass (the
    * composition of q214's insert path and q222's delete path): for
    * each unsynced table version, inserts (+ update post-images)
    * become a cell-partitioned delta fragment assigned against the
    * pinned quantizer, deletes (+ update pre-images) become a
    * tombstone fragment whose cells resolve via a candidate-cell-
    * pruned lookup (a deleted row lives either in the cell its label
    * column names — the build path — or in the cell the pinned
    * quantizer assigns — the fragment path; at most two partitions
    * read per deleted row, never the corpus).
    *
    * Read amplification vs crash consistency (r18 verdict item 2):
    * the change feed is read ONCE for the whole `synced+1..head`
    * window (persisted; per-version slices filter the cache on
    * `_commit_version`), but the index still commits its manifest
    * ONCE PER TABLE VERSION with the synced cursor conflict-checked —
    * the crash contract is untouched: a re-run resumes from `synced`
    * and re-reads only the remaining window. */
  def sync(tablePath: String, vecCol: String): SyncStats = {
    val s = SparkSession.active
    val root = dirFor(tablePath, vecCol)
    if (isFamily(root)) return syncFamily(s, tablePath, root)
    val start = load(root)
    val head = DocStoreCommitOps.nextVersion(tablePath) - 1
    if (head <= start.synced)
      return SyncStats(start.synced, start.synced, 0, 0, 0, 0)
    val baseCents = baseCentroidsOf(s, start)
    // localCheckpoint (guide §5): every per-version slice of the
    // window re-analyzed the CDF-read lineage with persist; the
    // checkpoint makes each a LogicalRDD filter (same blocks, same
    // one-read-per-window contract — the read happens at the eager
    // checkpoint)
    val proj = project(readChanges(s, tablePath, start.synced + 1, head),
      start.idCol, start.vecCol, start.labelCol).localCheckpoint()
    try {
      // ONE routing pre-pass over the cached window (r19 phase
      // attribution: the per-version ins.count()/del.count() pair cost
      // more than the actual fragment writes — two full-plan jobs per
      // version just to learn emptiness). One aggregation yields every
      // (version, change-kind) count; the per-version loop then runs
      // ONLY the jobs its routed counts justify.
      val routed = routeCounts(proj, Seq(col("_commit_version")),
        r => r.getLong(0))
      val (frags, tombs, nIns, nDel) = syncRange(s, root, baseCents,
        proj, (start.synced + 1) to head, routed)
      SyncStats(start.synced, head, frags, tombs, nIns, nDel)
    } finally { proj.unpersist(); () }
  }

  /** The streaming face of [[sync]]: apply ONE change-feed micro-batch
    * (the docstore CDC stream's rows, `_change_type` and
    * `_commit_version` included) instead of reading the window itself —
    * a `foreachBatch` over `readChangeFeed` started at `synced + 1`
    * hands each batch here. Rows of versions at or below the synced
    * cursor are dropped, so a batch replayed after a crash
    * (foreachBatch is at-least-once) is a no-op. The per-version
    * commits and the crash contract are [[syncRange]]'s. Plain indexes
    * only: a family routes through [[sync]]. */
  def syncBatch(tablePath: String, vecCol: String,
      changes: DataFrame): SyncStats = {
    val s = changes.sparkSession
    val root = dirFor(tablePath, vecCol)
    require(!isFamily(root),
      s"syncBatch needs a plain index; the '$vecCol' index is a " +
        "filtered family — call sync")
    val start = load(root)
    // persist, not localCheckpoint: a micro-batch's lineage is shallow,
    // and the eager checkpoint measured as a per-batch regression
    val proj = project(
      changes.filter(col("_commit_version") > start.synced),
      start.idCol, start.vecCol, start.labelCol).persist()
    try {
      val routed = routeCounts(proj, Seq(col("_commit_version")),
        r => r.getLong(0))
      if (routed.isEmpty)
        return SyncStats(start.synced, start.synced, 0, 0, 0, 0)
      val head = routed.keys.max
      val (frags, tombs, nIns, nDel) = syncRange(s, root,
        baseCentroidsOf(s, start), proj, (start.synced + 1) to head, routed)
      SyncStats(start.synced, head, frags, tombs, nIns, nDel)
    } finally { proj.unpersist(); () }
  }

  /** Windowed (key -> (inserts, deletes)) routing counts in ONE
    * aggregation over the cached change window — what lets the
    * per-version maintenance loop skip the jobs its slice doesn't
    * need. UPDATE images count with their CDF kind (post -> insert,
    * pre -> delete), matching the per-version filters. */
  private def routeCounts[K](proj: DataFrame, keys: Seq[Column],
      keyOf: org.apache.spark.sql.Row => K): Map[K, (Long, Long)] =
    graft.core.Phases("route") {
      proj.groupBy(keys: _*)
        .agg(
          sum(when(col("_change_type").isin("insert", "update_postimage"),
            1L).otherwise(0L)).as("ni"),
          sum(when(col("_change_type").isin("delete", "update_preimage"),
            1L).otherwise(0L)).as("nd"))
        .collect()
        .map(r => keyOf(r) ->
          (r.getAs[Long]("ni"), r.getAs[Long]("nd"))).toMap
    }

  /** One (sub-)index's maintenance across `versions`, driven by the
    * routed per-version (inserts, deletes) counts over the cached
    * change window `proj` (which carries `_commit_version`).
    *
    * Job shape (r19 phase attribution: the floor was COUNT of small
    * serial jobs, not data): ONE windowed assignment job labels every
    * version's arrivals against the pinned quantizer (assignment
    * depends only on the quantizer, so per-version slices of the
    * windowed result equal per-version assignments); runs of
    * DELETE-FREE versions then write their fragment layers
    * concurrently (independent dirs, nothing same-window reads them
    * before their commit) while manifest commits stay strictly serial
    * and per-version — the crash contract is untouched: a re-run
    * resumes from the synced cursor, uncommitted fragment dirs are
    * unreachable debris the rerun clears. A delete-bearing version is
    * a barrier: its tombstone resolution reads the layer view as of
    * its predecessor, so every earlier version must have committed. */
  private def syncRange(s: SparkSession, root: Path,
      baseCents: DataFrame, proj: DataFrame, versions: Seq[Long],
      routed: Map[Long, (Long, Long)]): (Long, Long, Long, Long) = {
    var frags = 0L; var tombs = 0L; var nIns = 0L; var nDel = 0L
    def routedOf(w: Long) = routed.getOrElse(w, (0L, 0L))
    val anyIns = versions.exists(w => routedOf(w)._1 > 0)
    // the docstore CDF surfaces an UPDATE as a delete(pre-image) +
    // insert(post-image) pair (AnnIndexSpec pins the route-through);
    // the update_* names are matched too for Delta-style feeds that
    // tag update images distinctly
    // one windowed assignment, lazily materialized by the first
    // fragment write (an explicit pre-count was A/B'd: the concurrent
    // writes dedupe cache computation via block locks already, and the
    // extra job only added wall — the residual frag_write cost is
    // serialized DRIVER planning of the per-layer write commands, not
    // executor work)
    // the windowed assignment is clustered by (version, label) ONCE for
    // the whole window before it persists: every (version, cell) group
    // then lives in one cached partition, so each fragment write emits
    // ~one file per cell WITHOUT a per-write exchange (the first r21
    // attempt put a REBALANCE inside writeFragment — one shuffle per
    // version — and the interleaved A/B read neutral: the added
    // exchanges ate the file-count win; one shared exchange keeps it).
    // localCheckpoint, not persist (guide §5 lineage truncation): the
    // residual frag_write cost is serialized DRIVER planning — with
    // persist every per-version slice re-analyzes the full CDF-read +
    // assign + rebalance tree before the cache lookup swaps it out;
    // the checkpoint leaves each write a LogicalRDD + filter plan.
    // Fault story unchanged in kind: a lost executor fails the sync
    // call and the crash contract reruns from the synced cursor
    // (local mode shares one process anyway); the checkpointed blocks
    // are batch-sized and reclaimed by the ContextCleaner once the
    // call returns.
    val assignedW = if (!anyIns) None else Some(
      clusterForWrite(assign(proj.filter(
          col("_change_type").isin("insert", "update_postimage")),
        baseCents, carry = Seq("_commit_version")),
        "_commit_version", "label").localCheckpoint())
    def fragSlice(w: Long): DataFrame =
      assignedW.get.filter(col("_commit_version") === w)
        .drop("_commit_version")
    try {
      val vs = versions.toVector
      var idx = 0
      while (idx < vs.size) {
        val w = vs(idx)
        val (ri, rd) = routedOf(w)
        if (rd == 0) {
          // extend to the whole delete-free run: parallel writes,
          // then serial per-version commits
          val run = vs.drop(idx).takeWhile(v => routedOf(v)._2 == 0)
          val withIns = run.filter(v => routedOf(v)._1 > 0)
          graft.core.Phases("frag_write") {
            inParallelAll(withIns.map(v =>
              () => writeFragment(root, v, fragSlice(v))))
          }
          run.foreach { v =>
            val hasFrag = routedOf(v)._1 > 0
            commitSynced(root, v,
              if (hasFrag) Seq(("frag", s"frag-$v")) else Seq.empty)
            if (hasFrag) { frags += 1; nIns += routedOf(v)._1 }
          }
          idx += run.size
        } else {
          // delete-bearing barrier version
          if (ri > 0) {
            graft.core.Phases("frag_write") {
              writeFragment(root, w, fragSlice(w))
            }
          }
          val del = proj.filter(col("_commit_version") === w &&
            col("_change_type").isin("delete", "update_preimage"))
            .drop("_commit_version").persist()
          try {
            val d = tombstoneVersion(s, root, baseCents, del, w)
            commitSynced(root, w,
              (if (ri > 0) Seq(("frag", s"frag-$w")) else Seq.empty) ++
                (if (d > 0) Seq(("tomb", s"tomb-$w")) else Seq.empty))
            if (ri > 0) { frags += 1; nIns += ri }
            if (d > 0) { tombs += 1; nDel += d }
          } finally { del.unpersist(); () }
          idx += 1
        }
      }
      (frags, tombs, nIns, nDel)
    } finally { assignedW.foreach(_.unpersist()); () }
  }

  /** One fragment layer: vectors + dcent aggregates from the SAME
    * pre-assigned slice (the aggregation used to re-read the written
    * layer), the two independent writes concurrent. Clears a crashed
    * attempt's orphan dir first (unreachable: its manifest commit
    * never ran) so the rerun doesn't die on ErrorIfExists. The slice
    * arrives (version, label)-clustered from the shared windowed
    * assignment, so the partitioned write needs no exchange of its
    * own to come out at ~one file per cell. */
  private def writeFragment(root: Path, w: Long, slice: DataFrame): Unit = {
    val fragRel = s"frag-$w"
    Fs.deleteRecursively(root.resolve(fragRel))
    inParallel(
      slice.write.partitionBy("label")
        .parquet(root.resolve(fragRel).resolve("vectors").toString),
      fragmentAggregates(slice).write
        .parquet(root.resolve(fragRel).resolve("dcent").toString))
  }

  /** One version's tombstone layer (if any of its deleted ids resolve
    * to live index rows): keys + dcent from the same cached
    * resolution, written concurrently. Returns resolved-row count. */
  private def tombstoneVersion(s: SparkSession, root: Path,
      baseCents: DataFrame, del: DataFrame, w: Long): Long = {
    // the layer view as of version w-1 (already committed — the
    // barrier), which includes fragments committed for EARLIER
    // versions in this sync window (insert-then-delete across
    // versions resolves). Deliberately NOT the fragment written for
    // version w itself: a version's deletes target rows that existed
    // BEFORE it — including the same-version fragment would make a
    // same-cell UPDATE tombstone its own post-image and
    // double-subtract the centroid state (review r18)
    val cur = load(root)
    // candidate cells: the label-column cell (build-time rows) and
    // the pinned-quantizer cell (fragment rows) — at most two
    // partitions read per deleted row, never the corpus
    val candCells = graft.core.Phases("tomb_cells") {
      del.select(col("label"))
        .unionByName(assign(del, baseCents).select(col("label")))
        .distinct().collect().map(_.getLong(0)).toSeq
    }
    val delKeys = del.select(col("vec_id"), col("q"))
    val resolved = resolvePool(s, cur, candCells)
      .select(col("vec_id"), col("label"))
      .join(broadcast(delKeys.select("vec_id")), Seq("vec_id"))
      .persist()
    try {
      val resolvedN =
        graft.core.Phases("tomb_resolve") { resolved.count() }
      if (resolvedN > 0) {
        val tombRel = s"tomb-$w"
        Fs.deleteRecursively(root.resolve(tombRel))
        graft.core.Phases("tomb_write") {
          inParallel(
            clusterForWrite(resolved, "label").write.partitionBy("label")
              .parquet(root.resolve(tombRel).resolve("keys").toString),
            fragmentAggregates(resolved
                .join(broadcast(delKeys), Seq("vec_id")))
              .write
              .parquet(root.resolve(tombRel).resolve("dcent").toString))
        }
      }
      resolvedN
    } finally { resolved.unpersist(); () }
  }

  /** A dedicated unbounded daemon pool for concurrent INDEPENDENT
    * Spark actions (writes to different dirs, a write beside an
    * aggregation): the lifecycle's serial chains of small jobs leave
    * 30 of 32 local cores idle, and a 1000-executor cluster idles the
    * same way between tiny metadata-sized jobs. Not the global EC —
    * nested inParallel calls (a parallel fragment batch whose members
    * each pair two writes) must never starve a fixed pool into an
    * Await deadlock. */
  private lazy val ioPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-ann-io-${n.incrementAndGet()}")
            t.setDaemon(true); t
          }
        }))

  /** Concurrency cap per batch: a delete-free CDC backlog of N
    * versions offers N fragment writes at once — unchunked, a
    * 5000-commit backlog would submit thousands of simultaneous Spark
    * actions and ~2x as many threads at the driver (review r20).
    * Chunks of 8 keep the wall win (the serialized cost is per-write
    * DRIVER planning, which 8-way overlap already hides) with a
    * bounded footprint; nested pairs inside a chunk stay
    * deadlock-free on the unbounded pool. */
  private val MaxParallelActions = 8

  /** Failures propagate: the chunk head's immediately, the rest's
    * after that chunk settles (never abandoning an in-flight write);
    * later chunks don't start after a failed one. Each task replays
    * the SUBMITTER's Phases snapshot so instrumentation inside a
    * parallel thunk attributes to the right gate (r20 ADVICE: the
    * plain ThreadLocal dropped pool-thread phases silently). Returns
    * results in input order. */
  private def inParallelMap[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val snap = graft.core.Phases.snapshot()
    items.grouped(MaxParallelActions).flatMap { chunk =>
      if (chunk.size == 1) Seq(f(chunk.head))
      else {
        val rest = chunk.tail.map(a =>
          Future(graft.core.Phases.withSnapshot(snap)(f(a)))(ioPool))
        val headR =
          try f(chunk.head)
          finally rest.foreach(r => Await.ready(r, Duration.Inf))
        headR +: rest.map(r => Await.result(r, Duration.Inf))
      }
    }.toVector
  }

  private[graft] def inParallelAll(thunks: Seq[() => Unit]): Unit = {
    inParallelMap(thunks)(t => t()); ()
  }

  private[graft] def inParallel(a: => Unit, b: => Unit): Unit =
    inParallelAll(Seq(() => a, () => b))

  /** Cluster a cell-partitioned layer write by its partition column(s)
    * before `partitionBy` (guide §6 file sizing): the un-clustered
    * write emits one file per (task × cell) — q223's fold layer
    * measured 344 parquet files averaging 1.4 KB, and every later
    * serve/fold read plus the write commit pays per-file overhead.
    * AQE REBALANCE both coalesces small cells into shared write tasks
    * (local layers come out at ~one file per cell) and splits an
    * oversized cell at the advisory partition size (a 100 TB cell
    * still fans out across tasks — no skewed single-task write). */
  private[graft] def clusterForWrite(df: DataFrame, cols: String*): DataFrame =
    df.hint("rebalance", cols.map(col): _*)

  /** One index commit per table version: synced advances even for
    * no-op versions so a crash-rerun never replays a commit. */
  private def commitSynced(root: Path, w: Long,
      add: Seq[(String, String)]): Unit = graft.core.Phases("commit") {
    DocStoreCommitOps.withCommitLock(root.toString) {
      val m = new Manifest(root)
      val es = m.read()
      val cursynced = es.collectFirst { case ("synced", v) => v.toLong }.get
      require(cursynced == w - 1,
        s"concurrent ann_sync advanced synced to $cursynced while " +
          s"processing version $w; refusing the commit")
      m.publish(es.map {
        case ("synced", _) => ("synced", w.toString)
        case e => e
      } ++ add, m.currentVersion + 1)
    }
  }

  /** Family sync: ONE windowed CDF read feeds every sub-index across
    * every unsynced table version (r18 verdict item 2 extended the
    * one-read-per-version routing to one read per WINDOW) — each sub
    * takes its slice's inserts/deletes against its OWN manifest and
    * synced cursor (a crash between subs resumes exactly: only the
    * behind subs replay their versions, off a fresh window read). A
    * change row whose filter value has no sub-index — or a NULL one —
    * refuses loudly; it would otherwise vanish from serving silently. */
  private def syncFamily(s: SparkSession, tablePath: String,
      root: Path): SyncStats = {
    val fam = loadFamily(root)
    val head = DocStoreCommitOps.nextVersion(tablePath) - 1
    val start = fam.subs.map(k => load(fam.subRoot(k)).synced).min
    if (head <= start) return SyncStats(start, start, 0, 0, 0, 0)
    val subCents = fam.subs.map(k =>
      k -> baseCentroidsOf(s, load(fam.subRoot(k)))).toMap
    // localCheckpoint for the same lineage-truncation reason as the
    // plain sync's window (guide §5)
    val proj = project(readChanges(s, tablePath, start + 1, head),
      fam.idCol, fam.vecCol, fam.labelCol, Some(fam.filterCol))
      .localCheckpoint()
    try {
      // ONE routing pre-pass for the WHOLE window: per-(version, src)
      // insert/delete counts in a single aggregation. Unknown filter
      // values refuse loudly (they would vanish from serving silently)
      // — and so do NULL filter values, which the same silent-vanish
      // argument covers (r18 advice: project() used to drop them
      // before this check could see them). A (sub, version) with ZERO
      // rows takes a metadata-only cursor advance — no Spark jobs —
      // and the per-kind counts let syncVersion skip its own
      // emptiness-probe jobs too (r19 phase attribution).
      val counted = routeCounts(proj,
        Seq(col("_commit_version"), col("src")),
        r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))))
      val nullRows = counted.collect {
        case ((_, None), (i, d)) => i + d }.sum
      if (nullRows > 0) throw new IllegalStateException(
        s"ann_sync: $nullRows change rows carry NULL ${fam.filterCol} " +
          "— no sub-index can serve them; refusing the sync")
      val perVerSub = counted.collect {
        case ((w, Some(k)), nd) => (w, k) -> nd }.toMap
      val unknown = perVerSub.keySet.map(_._2) -- fam.subs.toSet
      require(unknown.isEmpty,
        s"change rows carry ${fam.filterCol} values with no " +
          s"sub-index (${unknown.mkString(",")}) — CALL ann_drop + " +
          "ann_build to re-partition")
      // one syncRange per sub, in sub order, each against its own
      // manifest and synced cursor: a crash leaves every sub at its
      // own committed cursor and a rerun replays only the behind
      // subs, off a fresh window read. Serial on purpose: running the
      // subs concurrently measured no win (an interleaved A/B on
      // q225/q226 — a window's change rows usually land in one sub,
      // the others only advance their cursors)
      val perSubStats = fam.subs.map { k =>
        val subVersions = (load(fam.subRoot(k)).synced + 1) to head
        if (subVersions.isEmpty) (0L, 0L, 0L, 0L)
        else {
          val subRouted = subVersions.map(w =>
            w -> perVerSub.getOrElse((w, k), (0L, 0L))).toMap
          syncRange(s, fam.subRoot(k), subCents(k),
            proj.filter(col("src") === k).drop("src"),
            subVersions, subRouted)
        }
      }
      SyncStats(start, head,
        perSubStats.map(_._1).sum, perSubStats.map(_._2).sum,
        perSubStats.map(_._3).sum, perSubStats.map(_._4).sum)
    } finally { proj.unpersist(); () }
  }

  /** The table version a `frag-<v>` / `tomb-<v>` layer carries. */
  private def layerVersion(rel: String): Long =
    rel.dropWhile(!_.isDigit).toLong

  /** Centroid/dcent layer schemas are FIXED by their writers —
    * declaring them on read skips a per-layer parquet footer
    * inference pass (r19 phase attribution: serve and sync each open
    * several metadata-sized layers, and inference was a visible slice
    * of their driver latency). */
  private val centroidSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("label", LongType),
      StructField("sv", ArrayType(LongType)),
      StructField("c", LongType)))
  }
  private val dcentSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("label", LongType),
      StructField("dv", ArrayType(LongType)),
      StructField("dc", LongType)))
  }
  private def baseCentroidsOf(s: SparkSession, L: Layers): DataFrame =
    s.read.schema(centroidSchema).parquet(L.baseCentroids)

  /** Layer schemas are FIXED by the writers, so reads declare them —
    * schema inference would die on a data-less layer dir (a fold that
    * emptied every affected cell holds only empty label= dirs, which
    * is exactly the shadowing the emptied-cell contract needs). */
  private def layerSchema(withNew: Boolean) = {
    import org.apache.spark.sql.types._
    val core = Seq(StructField("vec_id", LongType),
      StructField("q", ArrayType(LongType)),
      StructField("nn", LongType))
    StructType((if (withNew) core :+ StructField("is_new", BooleanType)
      else core) :+ StructField("label", LongType))
  }

  /** The serving pool for `cells`, resolved from one manifest
    * snapshot: per cell the NEWEST fold covering it shadows older
    * folds and base; pending fragments union in as is_new; pending
    * tombstone keys anti-join (broadcast — tombstones are batch-sized
    * by contract).
    *
    * Tombstone VISIBILITY is versioned: a tombstone at table version
    * w masks only layers OLDER than w — base and folds always (folds
    * seal pre-tombstone state: ann_fold retires every pending
    * tombstone it folds), a pending fragment frag-v only when v < w.
    * A same-cell UPDATE (delete pre-image + insert post-image in ONE
    * version) would otherwise have its own post-image masked by its
    * tombstone, vanishing the updated vector (review r18). */
  def resolvePool(s: SparkSession, L: Layers, cells: Seq[Any],
      applyTombs: Boolean = true): DataFrame = {
    val want = cells.map(_.toString.toLong).toSet
    val tombsOf: Long => Seq[String] =
      v => if (!applyTombs) Seq.empty
        else L.tombs.filter(t => layerVersion(t) > v)
    val keysSchema = {
      import org.apache.spark.sql.types._
      StructType(Seq(StructField("vec_id", LongType),
        StructField("label", LongType)))
    }
    def mask(df: DataFrame, tombs: Seq[String]): DataFrame =
      if (tombs.isEmpty) df
      else df.join(broadcast(tombs.map(t => s.read.schema(keysSchema)
          .parquet(L.abs(s"$t/keys"))).reduce(_.unionByName(_))),
        Seq("vec_id", "label"), "left_anti")
    // newest-first shadowing over fold levels, base last; all masked
    // by every pending tombstone (strictly newer than sealed layers)
    var remaining = want
    var parts = Seq.empty[DataFrame]
    (L.folds.reverse.map(f => (L.abs(s"$f/cells"), true)) :+
      (L.baseVectors, false)).foreach { case (dir, isFold) =>
      val take = remaining.intersect(coveredCells(Paths.get(dir)))
      if (take.nonEmpty) {
        val df0 = s.read.schema(layerSchema(isFold)).parquet(dir)
          .filter(col("label").isin(take.toSeq: _*))
        parts :+= (if (isFold) df0
          else df0.withColumn("is_new", lit(false)))
        remaining --= take
      }
    }
    val layered = mask(parts match {
      case Seq() =>
        s.read.schema(layerSchema(withNew = false)).parquet(L.baseVectors)
          .withColumn("is_new", lit(false)).filter(lit(false))
      case ps => ps.reduce(_.unionByName(_))
    }, tombsOf(Long.MinValue))
    L.frags.foldLeft(layered) { (acc, f) =>
      acc.unionByName(mask(
        s.read.schema(layerSchema(withNew = false))
          .parquet(L.abs(s"$f/vectors"))
        .filter(col("label").isin(want.toSeq: _*))
        .withColumn("is_new", lit(true)), tombsOf(layerVersion(f))))
    }
  }

  /** The centroid state one manifest snapshot serves from: the newest
    * fold's persisted table (else base), PLUS pending fragment
    * aggregates, MINUS pending tombstone aggregates — all integer-
    * exact and metadata-sized.
    *
    * Folded layer-by-layer with broadcast zip_with joins, NOT by
    * unioning the dcent tables and posexplode-regrouping (guide §2.4
    * — remove shuffles outright): each layer's dcent is unique per
    * label by construction (fragmentAggregates groups by label), so
    * no pre-aggregation is needed, and sequential elementwise integer
    * adds equal the summed form exactly. The old union+explode shape
    * put 3 shuffle exchanges inside EVERY probe job (serveCentroids
    * runs inside serve_plan); this form is exchange-free — pending
    * layers are few by the fold cadence, so the join chain stays
    * shallow. */
  def serveCentroids(s: SparkSession, L: Layers): DataFrame = {
    val sealed0 = L.folds.lastOption
      .map(f => s.read.schema(centroidSchema)
        .parquet(L.abs(s"$f/centroids")))
      .getOrElse(baseCentroidsOf(s, L))
    def applyLayer(acc: DataFrame, dcentDir: String, sign: Int)
        : DataFrame =
      acc.join(broadcast(s.read.schema(dcentSchema).parquet(dcentDir)),
          Seq("label"), "left")
        .select(col("label"),
          when(col("dv").isNull, col("sv"))
            .otherwise(zip_with(col("sv"), col("dv"),
              (a, b) => a + lit(sign) * b)).as("sv"),
          (col("c") + lit(sign.toLong) * coalesce(col("dc"), lit(0L)))
            .as("c"))
    val afterFrags = L.frags.foldLeft(sealed0)((acc, f) =>
      applyLayer(acc, L.abs(s"$f/dcent"), 1))
    L.tombs.foldLeft(afterFrags)((acc, t) =>
      applyLayer(acc, L.abs(s"$t/dcent"), -1))
  }

  /** Serve top-k (+ best-new) for `qs` = (qid, qv: array<long>, qn) —
    * the library face of the index (query vectors are data, not SQL
    * literals, so serving stays a DataFrame API while the lifecycle is
    * SQL CALLs). Resolves ONE manifest snapshot for the whole read. */
  def serve(s: SparkSession, tablePath: String, vecCol: String,
      qs: DataFrame, nprobe: Int = 2, k: Int = 3,
      filter: Option[Long] = None): DataFrame = {
    val root0 = dirFor(tablePath, vecCol)
    val root = filter match {
      case Some(f) =>
        require(isFamily(root0),
          s"a filter value was given but the '$vecCol' index is not a " +
            "filtered family")
        val fam = loadFamily(root0)
        require(fam.subs.contains(f),
          s"no sub-index for ${fam.filterCol} = $f " +
            s"(family covers ${fam.subs.mkString(",")})")
        fam.subRoot(f)
      case None =>
        require(!isFamily(root0),
          s"the '$vecCol' index is a filtered family — pass the " +
            "filter value to serve (or a filter column via serveMixed)")
        root0
    }
    serveOne(s, root, qs, nprobe, k)
  }

  /** MIXED-filter family serve (r19 verdict item 3): `qs` carries the
    * family's filter column, and ONE call routes each query to its
    * sub-index and unions the per-sub top-k — a batch spanning N
    * filter values used to pay N serve calls and N manifest
    * resolutions. Only subs the batch actually names resolve their
    * manifests. NULL filter values refuse loudly (no sub-index could
    * serve them — the build/sync posture), as do values without a
    * sub. Per (filter value, query) the result rows equal the
    * single-value `serve(filter = Some(v))` exactly (spec-pinned). */
  def serveMixed(s: SparkSession, tablePath: String, vecCol: String,
      qs: DataFrame, filterCol: String, nprobe: Int = 2, k: Int = 3)
      : DataFrame = {
    val root = dirFor(tablePath, vecCol)
    require(isFamily(root),
      s"serveMixed needs a filtered family; the '$vecCol' index is " +
        "plain — call serve without a filter")
    val fam = loadFamily(root)
    val vals = qs.select(col(filterCol).cast("long").as("f"))
      .distinct().collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getLong(0)))
    require(!vals.contains(None),
      s"serveMixed: query rows carry NULL $filterCol — no sub-index " +
        "can serve them; refusing the batch")
    val known = vals.flatten.sorted
    val unknown = known.filterNot(fam.subs.contains)
    require(unknown.isEmpty,
      s"no sub-index for ${fam.filterCol} = ${unknown.mkString(",")} " +
        s"(family covers ${fam.subs.mkString(",")})")
    if (known.isEmpty) {
      // empty batch -> empty result in the serve shape (not a crash):
      // one sub's serve over zero queries IS that frame
      return serveOne(s, fam.subRoot(fam.subs.head),
          qs.limit(0).drop(filterCol), nprobe, k)
        .withColumn(filterCol, lit(null).cast("long"))
    }
    // per-sub serves are independent reads (own manifest snapshot, own
    // layer dirs) whose probe jobs the driver used to run back-to-back
    // — overlap them (guide §2.6); results union in `known` order
    // exactly as the serial loop did
    inParallelMap(known) { v =>
      serveOne(s, fam.subRoot(v),
          qs.filter(col(filterCol) === v).drop(filterCol), nprobe, k)
        .withColumn(filterCol, lit(v))
    }.reduce(_.unionByName(_))
  }

  /** Driver-memory bound for the serve's probe-pair collect:
    * 4M pairs ≈ 64 MB on the driver — far above any online batch
    * (pairs = queries × nprobe), far below driver OOM territory. */
  private val MaxServePairs = 4 << 20

  /** Probe ONCE, return (probed cell ids, rebuilt probe frame): the
    * (qid, cell) pairs collect to the driver (bounded — see
    * [[MaxServePairs]]) and the probe frame rebuilds as
    * qs ⨝ broadcast(pairs), so the final top-k job replays a tiny
    * local join instead of re-executing the whole probe subtree
    * (centroid fold + crossJoin + window) behind its broadcast. The
    * r19 serveOne fix, factored out so the gate-local serves
    * (EmbedOps q113/q213/q214/q218/q224) share it — r22 phase
    * attribution showed each of their serves still paying the probe
    * twice (once for the cells collect, once rebuilding the broadcast).
    * The probe frame keeps every `qs` column (q213's filter key). */
  private[graft] def probePairs(s: SparkSession, qs: DataFrame,
      cents: DataFrame, nprobe: Int): (Seq[Long], DataFrame) = {
    // getAs[Number]: qid's type is the CALLER's (an Int qid worked
    // through the joins before this collect existed — review r20)
    val pairs = probeCells(qs, cents, nprobe)
      .select(col("qid"), col("label")).collect()
      .map(r => (r.getAs[Number](0).longValue(),
        r.getAs[Number](1).longValue()))
    require(pairs.length <= MaxServePairs,
      s"ann serve: the query batch probes ${pairs.length} (qid, cell) " +
        s"pairs (> $MaxServePairs) — too large for the driver-planned " +
        "serve; split the batch (or serve it distributed)")
    val cells = pairs.map(_._2).distinct.toSeq
    import s.implicits._
    (cells, qs.join(broadcast(pairs.toSeq.toDF("qid", "label")), Seq("qid")))
  }

  /** One (sub-)index's serve against a resolved root. */
  private def serveOne(s: SparkSession, root: Path, qs: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val L = load(root)
    graft.core.Phases("serve_plan") {
      // the probed (qid, cell) PAIRS collect — not just the distinct
      // cells (r19 phase attribution: the final top-k job used to
      // re-execute the whole probe plan — centroid-state folds,
      // crossJoin, window — behind the broadcast). The pairs are
      // queries x nprobe x 16 bytes (no vectors), so the driver cost
      // stays negligible even for huge offline query batches; the
      // query vectors re-join from `qs` itself, which the top-k job
      // needed anyway.
      // r21 note: a persist()-based variant that kept the pairs
      // distributed (collect only the distinct cells) was built and
      // interleave-A/B'd — serve_plan read 0.48-1.5 s vs this form's
      // 0.24-0.81 s on every gate (cache write of the vector-carrying
      // probe frame + an uncollectable CacheManager entry per serve),
      // so the pairs collect stays; the unbounded-batch face is the
      // documented serveToTable follow-up, not this path.
      // r22 (r21 verdict "scale-killers" 4a): the collect is BOUNDED —
      // the raw transfer is hard-capped by spark.driver.maxResultSize
      // (its own loud error), and the probePairs guard converts "a
      // huge offline batch crept under that cap" into a
      // domain-specific refusal instead of letting driver memory
      // scale silently with batch size. A CollectLimit form was
      // considered and rejected: its incremental partition drain
      // (1, 4, 16… scale-up waves) adds up to ~4 sequential mini-jobs
      // to EVERY serve's hot probe path to defend an offline-only
      // hazard. Online batches sit orders of magnitude below the
      // bound; the face for offline-scale batches is a distributed
      // serveToTable (deferred feature work, r20 item 5 — the r21
      // persist() experiment showed a cached probe frame LOSES to
      // this collect at every gate).
      val (cells, probe) = probePairs(s, qs.select("qid", "qv", "qn"),
        serveCentroids(s, L), nprobe)
      topKWithBestNew(resolvePool(s, L, cells.map(c => c: Any)), probe, k)
    }
  }

  /** The SQL query face (r19 verdict item 1/2: discovery `t.ann`,
    * lifecycle `CALL system.ann_*`, and detail were SQL; SERVING was
    * Scala-only, so the catalog story ended one step short of an
    * answered query). Query vectors are data, not SQL literals — so
    * the procedure takes a query TABLE whose rows carry the SAME id
    * and vector column NAMES as the indexed table (and, for a
    * filtered family, the filter column, which routes each query row
    * to its sub-index in this one call — the mixed-filter face).
    * Zero-norm query vectors refuse loudly: their cosine is undefined
    * and silently returning nothing for a qid would read as "no
    * neighbors". Returns (flt, query_id, rnk, neighbor_id, cell,
    * is_new, cosine) — q113's output shape plus the routing value
    * (NULL for a plain index). */
  def searchTable(s: SparkSession, tablePath: String, vecCol: String,
      queryDf: DataFrame, k: Int = 3, nprobe: Int = 2): DataFrame = {
    val root = dirFor(tablePath, vecCol)
    val m = new Manifest(root)
    require(m.exists,
      s"no ann index at $root — CALL system.ann_build first")
    val cols = m.read().collectFirst { case ("cols", c) => c.split('|') }
      .getOrElse(throw new IllegalStateException(
        s"ann manifest at $root missing cols line"))
    val idCol = cols(0)
    Seq(idCol, vecCol).foreach(c => require(queryDf.columns.contains(c),
      s"ann_search: the query table must carry the indexed table's " +
        s"'$c' column (its id/vector names name the query shape)"))
    val qs0 = queryDf.withColumn("qv", quantExpr(queryDf, vecCol))
      .withColumn("qn", dotL(col("qv"), col("qv")))
    // NULL vectors produce NULL qn — `qn <= 0` alone would pass them
    // through to meaningless NULL-cosine neighbors (review r20); the
    // guard refuses both shapes in one count. NULL ids refuse in the
    // SAME job (r20 ADVICE: a NULL id used to slide through the serve
    // joins and surface as an opaque downstream error instead of this
    // procedure's refuse-loudly posture).
    val bad = qs0.select(
      count(when(col("qn").isNull || col("qn") <= 0, 1)).as("badNorm"),
      count(when(col(idCol).isNull, 1)).as("badId")).head()
    require(bad.getLong(0) == 0,
      s"ann_search: ${bad.getLong(0)} query rows have NULL or zero-norm " +
        "vectors — cosine similarity is undefined for them; filter " +
        "them out")
    require(bad.getLong(1) == 0,
      s"ann_search: ${bad.getLong(1)} query rows have NULL '$idCol' — " +
        "a result row could not name its query; filter them out")
    val out =
      if (isFamily(root)) {
        val fam = loadFamily(root)
        require(queryDf.columns.contains(fam.filterCol),
          s"the '$vecCol' index is a filtered family — the query " +
            s"table must carry its '${fam.filterCol}' column to route")
        val qs = qs0.select(col(idCol).cast("long").as("qid"),
          col("qv"), col("qn"),
          col(fam.filterCol).cast("long").as("_flt"))
        serveMixed(s, tablePath, vecCol, qs, "_flt", nprobe, k)
          .withColumnRenamed("_flt", "flt")
      } else {
        val qs = qs0.select(col(idCol).cast("long").as("qid"),
          col("qv"), col("qn"))
        serve(s, tablePath, vecCol, qs, nprobe, k)
          .withColumn("flt", lit(null).cast("long"))
      }
    out.select(col("flt"), col("query_id"), col("rnk"),
        col("neighbor_id"), col("cell"), col("is_new"), col("cosine"))
      .orderBy(col("flt").asc_nulls_first, col("query_id"), col("rnk"))
  }

  final case class FoldStats(foldedFragments: Long, appliedTombstones: Long,
      affectedCells: Long, retiredLayers: Long)

  /** Compaction: fold every pending fragment and tombstone into a new
    * fold level covering ONLY the affected cells (read amplification
    * leaves with the retired fragments), seal the serve centroids
    * beside it, and RETIRE atomically — the manifest swap runs under
    * the commit lock with a conflict check that refuses if the
    * fragment/tombstone set changed since the fold was computed;
    * retired files are deleted only AFTER the swap made them
    * unreachable. Older folds fully shadowed by newer levels are
    * vacuumed in the same commit. serve-after == serve-before is the
    * correctness contract (pinned by AnnIndexSpec and gate q223). */
  def fold(tablePath: String, vecCol: String): FoldStats = {
    val s = SparkSession.active
    val root = dirFor(tablePath, vecCol)
    if (isFamily(root)) {
      // fold each sub-index with pending layers; the others are
      // untouched (their manifests never even open for writing)
      val fam = loadFamily(root)
      return fam.subs.map(k => foldOne(s, fam.subRoot(k)))
        .reduce((a, b) => FoldStats(
          a.foldedFragments + b.foldedFragments,
          a.appliedTombstones + b.appliedTombstones,
          a.affectedCells + b.affectedCells,
          a.retiredLayers + b.retiredLayers))
    }
    foldOne(s, root)
  }

  /** What a fold rewrites: the cells the pending fragments and
    * tombstones cover (directory metadata) and the current pool of
    * exactly those cells — base and fold reads pruned to them.
    * graft-visible so PlanAuditSpec pins the pruned plan. */
  private[graft] def foldInput(s: SparkSession, L: Layers)
      : (Set[Long], DataFrame) = {
    val affected = (L.frags.map(f => coveredCells(
        Paths.get(L.abs(s"$f/vectors")))) ++
      L.tombs.map(t => coveredCells(Paths.get(L.abs(s"$t/keys")))))
      .foldLeft(Set.empty[Long])(_ ++ _)
    (affected, resolvePool(s, L, affected.toSeq))
  }

  private def foldOne(s: SparkSession, root: Path): FoldStats = {
    val L = load(root)
    if (L.frags.isEmpty && L.tombs.isEmpty)
      return FoldStats(0, 0, 0, 0)
    val (affected, pool) = foldInput(s, L)
    val foldRel = s"fold-${new Manifest(root).currentVersion + 1}"
    // a crashed earlier attempt may have left this dir half-written
    // and unreachable (its manifest swap never ran) — clear it so the
    // documented crash-rerun actually reruns (review r18)
    Fs.deleteRecursively(root.resolve(foldRel))
    // ONE affected-cells-only pass: current pool resolution (newest
    // layer per cell + fragments - tombstones), is_new preserved.
    // The sealed centroid write below is independent (it reads the
    // PRE-fold layer aggregates, not the new cells dir) — concurrent.
    graft.core.Phases("cells_write") {
      inParallel(
        clusterForWrite(pool, "label")
          .write.partitionBy("label")
          .parquet(root.resolve(foldRel).resolve("cells").toString),
        serveCentroids(s, L).write
          .parquet(root.resolve(foldRel).resolve("centroids").toString))
    }
    // an affected cell whose rows ALL died writes no label dir, which
    // would UN-cover it — base would leak its tombstoned rows back
    // once a later arrival re-populates the cell and probing resumes.
    // Materialize empty partition dirs so the fold keeps shadowing
    // every affected cell (review r18; pinned by AnnIndexSpec's
    // emptied-cell test)
    affected.foreach { c =>
      Files.createDirectories(root.resolve(foldRel)
        .resolve("cells").resolve(s"label=$c"))
    }
    var retired = 0L
    graft.core.Phases("swap") {
    DocStoreCommitOps.withCommitLock(root.toString) {
      val m = new Manifest(root)
      val es = m.read()
      val curFrags = es.collect { case ("frag", p) => p }
      val curTombs = es.collect { case ("tomb", p) => p }
      require(curFrags == L.frags && curTombs == L.tombs,
        s"concurrent fragment/tombstone change since the fold was " +
          s"computed (expected ${L.frags}/${L.tombs}, manifest has " +
          s"$curFrags/$curTombs); refusing the swap")
      // an older fold fully shadowed by newer levels (this one
      // included) serves no cell — vacuum it in the same commit
      val folds = es.collect { case ("fold", p) => p } :+ foldRel
      val keptFolds = folds.zipWithIndex.filter { case (f, i) =>
        val newer = folds.drop(i + 1)
          .map(n => coveredCells(root.resolve(n).resolve("cells")))
          .foldLeft(Set.empty[Long])(_ ++ _)
        !coveredCells(root.resolve(f).resolve("cells")).subsetOf(newer) ||
          f == foldRel
      }.map(_._1)
      val published = m.currentVersion + 1
      m.publish(es.filter(e =>
          e._1 != "frag" && e._1 != "tomb" && e._1 != "fold") ++
        keptFolds.map(("fold", _)), published)
      (curFrags ++ curTombs ++ folds.filterNot(keptFolds.contains))
        .foreach { rel =>
          Fs.deleteRecursively(root.resolve(rel)); retired += 1
        }
      // manifest retention (r18 verdict item 4): sync publishes one
      // MANIFEST.v<n> per table version, forever — an unbounded
      // small-file leak under the "runs forever" posture. Older
      // versions also reference the fragment/tombstone dirs this
      // commit just deleted, so they are dangling the moment the swap
      // lands; expire everything below the fold's own version
      // (mirroring the table's expire_snapshots contract, q154).
      // Readers are unaffected: the current snapshot is resolved from
      // the atomically-renamed MANIFEST, never from version copies.
      m.expireCopiesBelow(published)
    }
    }
    FoldStats(L.frags.size.toLong, L.tombs.size.toLong,
      affected.size.toLong, retired)
  }

  final case class DetailRow(scope: String, synced: Long, cells: Long,
      fragments: Long, tombstones: Long, folds: Long)

  /** Metadata-only index inspection (the DESCRIBE DETAIL face): one
    * row per (sub-)index — synced cursor and layer counts from the
    * manifest, cell count from partition-directory listings. Zero
    * data bytes read. */
  def detail(tablePath: String, vecCol: String): Seq[DetailRow] = {
    val root = dirFor(tablePath, vecCol)
    def rowOf(scope: String, r: Path): DetailRow = {
      val l = load(r)
      DetailRow(scope, l.synced,
        coveredCells(Paths.get(l.baseVectors)).size.toLong,
        l.frags.size.toLong, l.tombs.size.toLong, l.folds.size.toLong)
    }
    if (isFamily(root)) {
      val fam = loadFamily(root)
      fam.subs.map(k => rowOf(s"${fam.filterCol}=$k", fam.subRoot(k)))
    } else Seq(rowOf("", root))
  }

  /** Zero-downtime REINDEX from the table's CURRENT snapshot — the
    * quantizer-refresh step every IVF deployment eventually needs:
    * the coarse quantizer is PINNED at build time (what makes folds
    * commute), so as the corpus drifts, arrival assignment degrades
    * and the only remedy used to be ann_drop + ann_build (serve
    * downtime, and the family's unknown-filter-value refusal told
    * users to do exactly that). Rebuild is downtime-free:
    *
    *  - the new base layer is built under an ERA-NAMED dir
    *    (`base-<n>`, n = the index manifest's next version) while
    *    readers keep resolving the current manifest untouched;
    *  - ONE atomic manifest publish (the existing rename contract)
    *    flips `base` to the new era with `synced` = the snapshot
    *    head and ZERO fragment/tombstone/fold entries — a reader is
    *    entirely pre-rebuild or entirely post-rebuild;
    *  - the old era's layers (base, folds, fragments, tombstones)
    *    are deleted only AFTER the swap made them unreachable, and
    *    retained manifest copies below the publish expire with them.
    *
    * Pending layers need no replay: the snapshot at `head` already
    * contains every synced AND unsynced change, so the rebuild also
    * heals an index that had fallen behind. The label column re-seeds
    * the quantizer from the CURRENT rows (rows that arrived through
    * sync contribute their own labels now). For a FAMILY, the sub
    * SET is re-derived from the current snapshot's filter values —
    * new values gain self-contained subs, vanished values' subs are
    * dropped — each sub swapping through its own manifest, the
    * family manifest publishing the new sub list last. Crash-rerun:
    * unpublished era/staging dirs are unreachable debris, cleared on
    * the next attempt; a concurrent index commit between the era
    * build and the swap fails the version conflict check and refuses
    * (rerun rebuilds against the new state).
    *
    * Family crash WINDOW (r19 advice, documented as the contract): a
    * crash or swapToEra conflict BETWEEN sub swaps leaves the family
    * manifest still listing the pre-rebuild sub set — every sub
    * remains internally consistent (its own era swap is atomic), but
    * already-swapped subs serve the new snapshot while unswapped ones
    * (including subs whose filter value vanished from the table)
    * serve the PRE-rebuild rows until a rerun completes. That is the
    * same read semantics any interrupted multi-table refresh has:
    * per-object atomicity, cross-object eventual consistency via
    * rerun — the rerun converges from any interruption point
    * (spec-pinned), and vanished-value subs plus orphan era dirs are
    * deleted once the new family manifest publishes. Publishing the
    * new sub list FIRST would be strictly worse: it would name subs
    * whose era dirs do not exist yet, breaking serves instead of
    * aging them. */
  def rebuild(tablePath: String, vecCol: String): BuildStats = {
    val s = SparkSession.active
    val root = dirFor(tablePath, vecCol)
    require(new Manifest(root).exists,
      s"no ann index at $root — CALL system.ann_build first")
    val head = DocStoreCommitOps.nextVersion(tablePath) - 1
    val snap = s.read.format("graft-docstore").option("path", tablePath)
      .option("manifest", s"MANIFEST.v$head").load()
    if (isFamily(root)) return rebuildFamily(s, tablePath, root, snap, head)
    val L = load(root)
    sweepOrphanEras(root)
    val v = project(snap, L.idCol, L.vecCol, L.labelCol).persist()
    try {
      require(v.take(1).nonEmpty,
        s"ann_rebuild over '$vecCol' found no indexable vectors — " +
          "refusing to swap the index away")
      val era = s"base-${new Manifest(root).currentVersion + 1}"
      Fs.deleteRecursively(root.resolve(era))
      // all three derive from the cached projection — concurrent
      var r: org.apache.spark.sql.Row = null
      inParallel(
        clusterForWrite(v, "label").write.partitionBy("label")
          .parquet(root.resolve(era).resolve("vectors").toString),
        inParallel(
          centroidTable(v).write
            .parquet(root.resolve(era).resolve("centroids").toString),
          { r = v.agg(count_distinct(col("label")), count(lit(1))).head() }))
      swapToEra(root, s"${L.idCol}|${L.vecCol}|${L.labelCol}", era, head)
      BuildStats(root.toString, head, r.getLong(0), r.getLong(1))
    } finally { v.unpersist(); () }
  }

  /** Clear era dirs NO manifest references before a rebuild writes its
    * own (r19 advice: a rebuild refused by swapToEra's conflict check —
    * or crashed after the era write — orphans its `base-<n>` dir
    * forever, because the next attempt computes a HIGHER era number
    * and the per-attempt clearing only targets that one name; repeated
    * conflicts leaked one dir each). An unreferenced `base-*` dir is
    * unreachable by construction (readers resolve only manifest
    * entries), so the sweep can never race a serve. The live base —
    * `base` from the original build or the `base-<n>` the manifest
    * names — is never touched.
    *
    * Concurrency (r20 ADVICE): the sweep runs under the index commit
    * lock so the manifest it reads cannot flip mid-listing. CONCURRENT
    * REBUILDS of one index remain unsupported regardless — both
    * attempts name the same `base-<currentVersion+1>` era dir, so
    * their era WRITES collide before any sweep matters; the swapToEra
    * conflict check refuses the loser cleanly whenever the attempts
    * serialize, and a refused attempt's debris is what this sweep
    * exists to clear on the next run. */
  private def sweepOrphanEras(root: Path): Unit = {
    if (!Files.exists(root)) return
    DocStoreCommitOps.withCommitLock(root.toString) {
      val m = new Manifest(root)
      val live: Set[String] =
        if (!m.exists) Set.empty
        else m.read().collect { case ("base", p) => p }.toSet
      val orphans = Fs.list(root).map(_.getFileName.toString)
        .filter(n => n.startsWith("base-") && !live(n))
      orphans.foreach(n => Fs.deleteRecursively(root.resolve(n)))
    }
  }

  /** The rebuild's atomic flip: publish a manifest whose ONLY layer
    * is the new era base, conflict-checked against concurrent index
    * commits, then delete the old era's now-unreachable layers. */
  private def swapToEra(root: Path, cols: String, era: String,
      head: Long): Unit =
    DocStoreCommitOps.withCommitLock(root.toString) {
      val m = new Manifest(root)
      val published = m.currentVersion + 1
      require(era == s"base-$published",
        s"concurrent index commit during ann_rebuild (expected to " +
          s"publish ${era.stripPrefix("base-")}, next is $published); " +
          "rerun the rebuild")
      // a brand-new family sub has no manifest yet — nothing to retire
      val old = if (!m.exists) Seq.empty else m.read().collect {
        case (k, p) if Set("base", "fold", "frag", "tomb")(k) => p }
      m.publish(Seq(("cols", cols), ("synced", head.toString),
        ("base", era)), published)
      old.foreach(p => Fs.deleteRecursively(root.resolve(p)))
      m.expireCopiesBelow(published)
    }

  private def rebuildFamily(s: SparkSession, tablePath: String,
      root: Path, snap: DataFrame, head: Long): BuildStats = {
    val fam = loadFamily(root)
    val cols = s"${fam.idCol}|${fam.vecCol}|${fam.labelCol}"
    val v = project(snap, fam.idCol, fam.vecCol, fam.labelCol,
      Some(fam.filterCol)).persist()
    try {
      require(v.take(1).nonEmpty,
        s"ann_rebuild found no indexable vectors — refusing to swap " +
          "the family away")
      val stage = root.resolve(".stage-rebuild")
      Fs.deleteRecursively(stage)
      // staging write ∥ centroid aggregation — same cached projection,
      // independent outputs; rows map after the NULL refusal below
      var centRowsRaw: Array[org.apache.spark.sql.Row] = null
      inParallel(
        clusterForWrite(v, "src", "label").write
          .partitionBy("src", "label").parquet(stage.toString),
        { centRowsRaw = centroidTable(v, Seq("src"))
          .select(col("src"), col("label"), col("sv"), col("c"))
          .collect() })
      val stagedDirs = Fs.list(stage).map(_.getFileName.toString)
        .filter(_.startsWith("src="))
      if (stagedDirs.exists(_.contains("__HIVE_DEFAULT_PARTITION__"))) {
        Fs.deleteRecursively(stage)
        throw new IllegalArgumentException(
          s"ann_rebuild: rows with NULL '${fam.filterCol}' cannot " +
            "join any sub-index — refusing the rebuild")
      }
      val srcs = stagedDirs.map(_.stripPrefix("src=").toLong).sorted
      val centRows = centRowsRaw
        .map(r => (r.getAs[Number](0).longValue(),
          r.getAs[Number](1).longValue(),
          r.getSeq[Long](2), r.getLong(3)))
      var cells = 0L; var vecs = 0L
      srcs.foreach { k =>
        val sub = root.resolve(s"src=$k")
        sweepOrphanEras(sub)
        val era = s"base-${new Manifest(sub).currentVersion + 1}"
        Fs.deleteRecursively(sub.resolve(era))
        Files.createDirectories(sub.resolve(era))
        Files.move(stage.resolve(s"src=$k"),
          sub.resolve(era).resolve("vectors"))
        val mine = centRows.filter(_._1 == k)
          .map { case (_, l, sv, c) => (l, sv, c) }.toSeq
        import s.implicits._
        mine.toDF("label", "sv", "c").coalesce(1).write
          .parquet(sub.resolve(era).resolve("centroids").toString)
        swapToEra(sub, cols, era, head)
        cells += mine.size; vecs += mine.map(_._3).sum
      }
      Fs.deleteRecursively(stage)
      DocStoreCommitOps.withCommitLock(root.toString) {
        val m = new Manifest(root)
        m.publish(Seq(("cols", cols), ("filter", fam.filterCol)) ++
          srcs.map(k => ("sub", k.toString)), m.currentVersion + 1)
      }
      // subs for VANISHED filter values (and any prior crash's orphan
      // sub dirs) are unreachable once the family manifest stopped
      // listing them — delete after the publish
      val keep = srcs.map(k => s"src=$k").toSet
      val orphans = Fs.list(root).map(_.getFileName.toString)
        .filter(n => n.startsWith("src=") && !keep(n))
      orphans.foreach(n => Fs.deleteRecursively(root.resolve(n)))
      BuildStats(root.toString, head, cells, vecs)
    } finally { v.unpersist(); () }
  }

  /** The vector columns of `tablePath` with a PUBLISHED index, sorted;
    * crashed builds (a column dir with no manifest) skipped. Directory
    * metadata only. */
  def publishedColumns(tablePath: String): Seq[String] = {
    val annRoot = Paths.get(tablePath, "_ann")
    if (!Files.exists(annRoot)) Seq.empty
    else Fs.list(annRoot).map(_.getFileName.toString).sorted
      .filter(c => new Manifest(annRoot.resolve(c)).exists)
  }

  /** Every published index root under `tablePath/_ann`, flattened to
    * (vecCol, scope, root) — family subs listed individually. */
  private def publishedRoots(tablePath: String): Seq[(String, String, Path)] =
    publishedColumns(tablePath).flatMap { c =>
      val root = dirFor(tablePath, c)
      if (isFamily(root))
        loadFamily(root).subs.map(k => (c, s"src=$k", root.resolve(s"src=$k")))
      else Seq((c, "", root))
    }

  /** The vector columns whose published indexes DEPEND on `column`
    * (as their id, vector, label, or family filter column) — the DDL
    * guard's input: dropping or renaming such a column would strand
    * every later sync/serve against a name the manifest still
    * records. Metadata-only. */
  def indexesDependingOn(tablePath: String, column: String): Seq[String] =
    publishedColumns(tablePath).filter { c =>
      val root = dirFor(tablePath, c)
      val deps =
        if (isFamily(root)) {
          val f = loadFamily(root)
          Seq(f.idCol, f.vecCol, f.labelCol, f.filterCol)
        } else {
          val l = load(root)
          Seq(l.idCol, l.vecCol, l.labelCol)
        }
      deps.contains(column)
    }

  /** Guard for CONTENT-destroying history resets (TRUNCATE, INSERT
    * OVERWRITE truncate commits, CREATE OR REPLACE): the index would
    * keep serving rows the reset just destroyed, silently. Refuse
    * while any index is published — `CALL system.ann_drop` first,
    * rebuild after (r19 review: vacuum's version renumbering already
    * desynced the cursor; content resets are strictly worse). */
  def refuseContentReset(tablePath: String, op: String): Unit = {
    val cols = publishedRoots(tablePath).map(_._1).distinct
    require(cols.isEmpty,
      s"$op would invalidate the ANN index(es) on column(s) " +
        s"${cols.mkString(", ")} — the index would keep serving " +
        "destroyed rows. CALL system.ann_drop first and ann_build " +
        "after the reset")
  }

  /** Pre-check for a CONTENT-PRESERVING history reset (vacuum): every
    * index must be synced past the last DATA-CHANGING table version,
    * because the reset deletes the retained version manifests the
    * change feed replays from — an index still behind could never
    * catch up and its unsynced changes would silently never serve.
    * Unsynced `dataChange=false` rewrites (OPTIMIZE) are exempt: the
    * change feed skips them, so skipping them in the cursor loses
    * nothing. Runs BEFORE anything is deleted so the refusal aborts
    * cleanly. */
  def requireSyncedForHistoryReset(tablePath: String, oldHead: Long): Unit =
    publishedRoots(tablePath).foreach { case (c, scope, root) =>
      val synced = load(root).synced
      val pendingData = ((synced + 1) to oldHead).filterNot(v =>
        DocStoreCommitOps.isRewriteCommit(tablePath, v))
      require(pendingData.isEmpty,
        s"vacuum resets version history, but the ann index on '$c'" +
          (if (scope.isEmpty) "" else s" ($scope)") +
          s" is synced to $synced and data-changing version(s) " +
          s"${pendingData.mkString(",")} pend — their change feed " +
          "would become unreadable. CALL system.ann_sync first " +
          "(or ann_drop)")
    }

  /** Guard for RETENTION expiry (expire_snapshots): the change-feed
    * diff for table version v reads the retained manifests of v AND
    * v-1, so an index synced to s still needs versions s..head
    * retained until its next sync. Dropping one would strand the
    * index permanently (the later sync fails loudly on the missing
    * manifest with no way to catch up short of a rebuild) — refuse
    * instead, before anything is deleted. */
  def requireCdfReplayable(tablePath: String, drop: Seq[Long]): Unit =
    if (drop.nonEmpty) publishedRoots(tablePath).foreach {
      case (c, scope, root) =>
        val synced = load(root).synced
        val clash = drop.filter(_ >= synced)
        require(clash.isEmpty,
          s"expire_snapshots would drop version(s) " +
            s"${clash.mkString(",")} that the ann index on '$c'" +
            (if (scope.isEmpty) "" else s" ($scope)") +
            s" (synced to $synced) still needs for change-feed " +
            "replay — CALL system.ann_sync first (or ann_drop / " +
            "ann_rebuild)")
    }

  /** Re-anchor every index's synced cursor after the reset renumbered
    * the table's history (vacuum reseeds at version `newCurrent`, so
    * the next commit is newCurrent+1): without this, the stale cursor
    * makes the windowed sync see head <= synced and silently no-op
    * while new arrivals never index (r19 review finding).
    *
    * Pending layers are COMPACTED first: fragment/tombstone dirs are
    * named by the TABLE version that produced them (`frag-<v>`), so
    * the renumbered era would eventually reuse a name an old-era
    * layer still holds — the sync's crash-orphan clearing would then
    * destroy committed, reachable data — and versioned tombstone
    * visibility is undefined across eras. Fold levels are named by
    * the INDEX-LOCAL manifest version, which never resets, so a
    * folded index re-anchors with zero cross-era state. */
  def rebaseAfterHistoryReset(tablePath: String, newCurrent: Long): Unit = {
    val roots = publishedRoots(tablePath)
    if (roots.isEmpty) return
    val s = SparkSession.active
    roots.foreach { case (_, _, root) =>
      foldOne(s, root)
      DocStoreCommitOps.withCommitLock(root.toString) {
        val m = new Manifest(root)
        m.publish(m.read().map {
          case ("synced", _) => ("synced", newCurrent.toString)
          case e => e
        }, m.currentVersion + 1)
      }
    }
  }

  /** Drop the index directory (the table is untouched). */
  def drop(tablePath: String, vecCol: String): Boolean = {
    val root = dirFor(tablePath, vecCol)
    val existed = Files.exists(root)
    Fs.deleteRecursively(root)
    existed
  }
}
