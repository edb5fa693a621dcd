package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.sources.AnnIndex

/** Similarity-search operators over the `embeddings` table
  * (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT).
  *
  * Cross-engine determinism: float sums are order-sensitive, so every
  * similarity is computed over *quantized integer* vectors
  * (`round(x*1000)` as BIGINT — int8/int16-style quantization, the same
  * trick production ANN systems use for speed). Integer dot products and
  * norms are exact and order-independent; the final
  * `dot / (sqrt(n1)*sqrt(n2))` is a deterministic IEEE computation from
  * identical integers in Spark and DuckDB.
  *
  * Scale design: the brute-force path broadcasts only the (small, bounded)
  * query set against a full corpus scan — linear in corpus size, the
  * correct baseline shape. The IVF path probes nprobe cells chosen by
  * exact integer centroid distance, searching only those partitions —
  * the inverted-file ANN layout at 100 TB (cells ≡ coarse-quantizer
  * partitions; here the corpus ships its cluster id in `label`).
  */
object EmbedOps {

  private val DIM = 64

  /** Quantized vector: round(x*1000) per element, as BIGINT. */
  private def quant(c: Column): Column =
    transform(c, x => round(x.cast("double") * 1000).cast("long"))

  /** Exact integer squared norm (native dot with itself). The vector
    * math (dotL, cosine, cellDist, withCentNorm, centroidTable) and the
    * search steps built on it — the exact cosine rerank
    * ([[AnnIndex.rerank]]) and the IVF probe ([[AnnIndex.probeCells]]
    * in-plan, [[AnnIndex.probePairs]] probe-once) — have ONE
    * definition, in [[AnnIndex]]: a precision, codegen or plan tweak
    * there must reach the gate path and the index serve path together
    * (review r18). */
  private def norm2(v: Column): Column = AnnIndex.dotL(v, v)

  /** Exact brute-force top-k: every corpus row but the query itself,
    * ranked by [[AnnIndex.rerank]] — the baseline every ANN gate is
    * graded against. The bounded query set (qid, qv, qn) broadcasts
    * against one linear corpus scan. */
  private def exactTopK(corpus: DataFrame, qs: DataFrame, k: Int): DataFrame =
    AnnIndex.rerank(corpus.join(broadcast(qs), col("vec_id") =!= col("qid")), k)

  /** IVF search output: (query_id, rnk, neighbor_id, cell, cosine). */
  private def annRows(ranked: DataFrame, cell: Column): DataFrame =
    ranked.select(col("qid").as("query_id"), col("rnk"),
      col("vec_id").as("neighbor_id"), cell.as("cell"),
      round(col("cos"), 6).as("cosine"))

  /** Integer centroids (label, sv, c) over EVERY embedding — zero-norm
    * vectors included, the rows the q33/q113 oracles' `cnt` counts. */
  private def embedCentroids(s: SparkSession, dir: String): DataFrame =
    AnnIndex.centroidTable(Tables.embeddings(s, dir)
      .select(col("label"), quant(col("embedding")).as("q")))

  /** Lloyd assign, map-only: each row of `v` (q, qn = ||q||²) to its
    * nearest centroid of `cent` (k, c). All centroids ride along as ONE
    * broadcast array row; the per-row argmin is array_min over (d, k)
    * structs — deterministic ties to the lowest k, zero shuffle. The
    * distance is ||q||² - 2q·c + ||c||² with the dot NATIVE
    * (DotProduct) and ||c||² computed once per centroid — the
    * interpreted aggregate(zip_with(...)) form is the known hot-loop
    * pathology. Returns v's columns plus k and d. */
  private def lloydAssign(v: DataFrame, cent: DataFrame): DataFrame = {
    val cs = cent.withColumn("cn", norm2(col("c")))
      .agg(collect_list(struct(col("k"), col("c"), col("cn"))).as("cs"))
    val best = array_min(transform(col("cs"), e =>
      struct((col("qn") - lit(2L) * AnnIndex.dotL(col("q"), e.getField("c")) +
        e.getField("cn")).as("d"), e.getField("k").as("k"))))
    v.crossJoin(broadcast(cs)).select(v.columns.map(col) :+
      best.getField("k").as("k") :+ best.getField("d").as("d"): _*)
  }

  /** Lloyd update: one hash-agg on (k, dim), c = floor(sum/count) per
    * element. Floor division stays in PURE LONG arithmetic (subtract the
    * positive modulus, then exact `div`) — a double division would round
    * once a per-dimension sum passes 2^53, which a 100 TB partition can
    * reach. The oracles mirror it with (sx - ((sx % cnt + cnt) % cnt)) // cnt. */
  private def lloydUpdate(assigned: DataFrame): DataFrame =
    assigned.select(col("k"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy(col("k"), col("i"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
      .withColumn("ci", expr("(sx - pmod(sx, cnt)) div cnt"))
      .groupBy(col("k"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("ci")))),
        e => e.getField("ci")).as("c"))

  /** Sign code for one 32-dim half of a quantized vector `q`: a fold
    * acc*2 + (x>0) — the first element lands on the word's high bit,
    * identical to the oracle's shift sum; two BIGINT words keep every
    * value positive (no 64-bit sign games in either engine). Shared by
    * the 1-bit tier (q199) and the rerank stage built on it (q208). */
  private def packHalf(off: Int): Column = expr(
    s"aggregate(slice(q, ${off + 1}, 32), 0L, " +
      "(acc, x) -> acc * 2L + IF(x > 0, 1L, 0L))")

  /** The oracle twin of [[packHalf]] — the shift-sum CTE fragment. */
  private def oPackHalf(off: Int): String =
    s"list_sum(list_transform(range(32), i -> CASE WHEN q[i+${off + 1}] > 0" +
      s" THEN (1::BIGINT << (31 - i)) ELSE 0::BIGINT END))"

  /** (vec_id, label, q: array<long>, nn: long) with nonzero norm. */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), quant(col("embedding")).as("q"))
      .withColumn("nn", norm2(col("q")))
      .filter(col("nn") > 0)

  /** [[quantized]] staged ONCE as a Scratch parquet, shared by every
    * docstore-backed ann gate (r18 verdict item 1: q214/q222/q223/
    * q224/q226 each re-derived quant()+norms from the embeddings
    * parquet on EVERY INSERT INTO their gate-local table — ~10
    * recomputes of the same projection per bench sweep; the staged
    * copy makes each load a columnar read of precomputed q/nn). */
  private def quantizedStaged(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.core.Scratch.materialize("quantized_src",
      s"v1|$dir|${graft.core.Scratch.sourceSignature(dir)}") { p =>
      quantized(s, dir).write.mode("overwrite")
        .parquet(java.nio.file.Paths.get(p, "rows").toString)
    } + "/rows")

  private val oQuant =
    "list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT)"
  private val oNorm2 = "list_sum(list_transform(q, a -> a * a))"
  private def oDot(a: String, b: String): String =
    s"list_sum(list_transform(range($DIM), i -> $a[i+1] * $b[i+1]))"
  private def oDotHalf(a: String, b: String): String =
    s"list_sum(list_transform(range(${DIM / 2}), i -> $a[i+1] * $b[i+1]))"

  /** The oracle twin of [[AnnIndex.cellDist]]: exact HUGEINT numerator
    * (order-independent integer sum, no 64-bit wrap), ONE correctly-rounded
    * cast to DOUBLE, denominator a product of exactly-representable
    * doubles — the same IEEE op sequence Spark's decimal path runs,
    * so the ranking doubles are bit-identical across engines. */
  private def oCellDist(qv: String): String =
    s"(CAST(list_sum(list_transform(range($DIM), i -> " +
      s"(c::HUGEINT * $qv[i+1] - sv[i+1]) * " +
      s"(c::HUGEINT * $qv[i+1] - sv[i+1]))) AS DOUBLE) " +
      "/ (c::DOUBLE * c::DOUBLE))"

  val all: Seq[Q] = Seq(

    // ------------------------------------------- int8 vector quantization
    Q("q111_embed_quantize",
      "Per-vector int8 quantization with reconstruction-error audit — " +
        "the memory move behind every large-scale vector index (float32 " +
        "→ 1 byte/dim + 1 scale/vector, 4× smaller, SIMD-friendly " +
        "integer dot products). Codes are derived in PURE INTEGER " +
        "arithmetic on the proven round(x·1000) grid: per-vector scale " +
        "= max|xq|, shifted non-negative so floor division agrees " +
        "across engines (Spark DIV truncates, DuckDB // floors — they " +
        "differ on negatives, so codes live in [0, 127] via " +
        "(xq+scale)·127 div (2·scale) — 7-bit resolution, max recon " +
        "error scale/127 on the milli grid), and the reconstruction " +
        "error is " +
        "exact BIGINT math both engines replay bit-for-bit. Output per " +
        "label: mean scale, worst and mean per-vector max-error on the " +
        "milli grid — the audit that decides whether int8 is safe for " +
        "a given corpus. 100 TB shape: map-only per-vector codegen'd " +
        "array math + one small hash-agg; no shuffle of vector data.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS xq FROM embeddings),
        sc AS (SELECT vec_id, label, xq,
                      list_max(list_transform(xq, a -> abs(a))) AS scale
               FROM v),
        e AS (SELECT vec_id, label, scale,
                     CASE WHEN scale = 0 THEN 0 ELSE
                       list_max(list_transform(xq, a ->
                         abs(a - (((a + scale) * 127) // (2 * scale)
                                  * 2 * scale) // 127 + scale)))
                     END AS max_err
              FROM sc)
        SELECT label, COUNT(*) AS n_vecs,
               ROUND(CAST(CAST(SUM(scale) AS BIGINT) AS DOUBLE)
                     / COUNT(*) / 1000, 4) AS avg_scale,
               ROUND(CAST(MAX(max_err) AS DOUBLE) / 1000, 4) AS worst_err,
               ROUND(CAST(CAST(SUM(max_err) AS BIGINT) AS DOUBLE)
                     / COUNT(*) / 1000, 4) AS avg_max_err
        FROM e GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), quant(col("embedding")).as("xq"))
        .withColumn("scale", array_max(transform(col("xq"), a => abs(a))))
        // code = ((a+scale)·127) div (2·scale) ∈ [0,127];
        // recon_shifted = (code·2·scale) div 127; err = (a+scale) −
        // recon_shifted — every dividend non-negative, so DIV (truncate)
        // and // (floor) agree
        .withColumn("max_err", when(col("scale") === 0, lit(0L)).otherwise(
          expr("array_max(transform(xq, a -> abs(a - (((a + scale) * 127)" +
            " DIV (2 * scale) * 2 * scale) DIV 127 + scale)))")))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("scale")).cast("double") / count(lit(1)) / 1000, 4)
            .as("avg_scale"),
          round(max(col("max_err")).cast("double") / 1000, 4).as("worst_err"),
          round(sum(col("max_err")).cast("double") / count(lit(1)) / 1000, 4)
            .as("avg_max_err"))
        .orderBy("label")
    },

    // ------------------------------------------------ brute-force top-k
    Q("q32_knn_bruteforce",
      "Exact cosine top-k: broadcast the bounded query set (vec_id < 10) " +
        "against one linear corpus scan, integer dot products, " +
        "row_number top-5 per query. The exact-search baseline every ANN " +
        "variant is graded against.",
      Some(s"""
        WITH v AS (SELECT vec_id, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM nz WHERE vec_id < 10),
        pairs AS (SELECT qid, vec_id AS neighbor_id,
                         ${oDot("qv", "q")}::DOUBLE / (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                  FROM qs JOIN nz ON vec_id <> qid),
        r AS (SELECT qid AS query_id, neighbor_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rnk
              FROM pairs)
        SELECT query_id, rnk::INT AS rnk, neighbor_id, ROUND(cos, 6) AS cosine
        FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""")) { (s, dir) =>
      val corpus = quantized(s, dir)
      val qs = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("q").as("qv"), col("nn").as("qn"))
      exactTopK(corpus, qs, 5)
        .select(col("qid").as("query_id"), col("rnk"),
          col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cosine"))
        .orderBy("query_id", "rnk")
    },

    // ------------------------------------------------------- IVF probe
    Q("q33_knn_ivf",
      "IVF-style ANN: per-cell integer centroids (elementwise sums + " +
        "counts — exact, no float drift), each query probes the nprobe=3 " +
        "nearest cells by the count-normalized distance-to-mean " +
        "||q - sv/c||² (FAISS-style; exact integer numerator), then " +
        "searches only those cells. Search cost drops from N to " +
        "N*nprobe/cells; at 100 TB the cells are the partition layout.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        cellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                    FROM v CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                    GROUP BY 1, 2),
        cent AS (SELECT label, array_agg(s ORDER BY i) AS sv FROM cellsum GROUP BY 1),
        cnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM v GROUP BY 1),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM nz WHERE vec_id < 5),
        dist AS (SELECT qid, cent.label, qv, qn,
                        ${oCellDist("qv")} AS d
                 FROM qs CROSS JOIN cent JOIN cnt ON cent.label = cnt.label),
        probe AS (SELECT qid, label, qv, qn FROM (
                    SELECT qid, label, qv, qn,
                           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, label) AS pr
                    FROM dist) WHERE pr <= 3),
        cand AS (SELECT qid, nz.vec_id AS neighbor_id, nz.label,
                        ${oDot("qv", "q")}::DOUBLE / (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                 FROM probe JOIN nz ON nz.label = probe.label AND nz.vec_id <> probe.qid),
        r AS (SELECT qid AS query_id, neighbor_id, label, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rnk
              FROM cand)
        SELECT query_id, rnk::INT AS rnk, neighbor_id, label AS cell,
               ROUND(cos, 6) AS cosine
        FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""")) { (s, dir) =>
      val corpus = quantized(s, dir)
      val qs = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qv"), col("nn").as("qn"))
      // the index is derived inside the query, so the probe stays
      // in-plan; search only the probed cells (broadcast probe plan)
      val probe = AnnIndex.probeCells(qs, embedCentroids(s, dir), 3)
      annRows(AnnIndex.rerank(corpus.join(broadcast(probe),
          corpus("label") === probe("label") && col("vec_id") =!= col("qid")),
          3), corpus("label"))
        .orderBy("query_id", "rnk")
    },

    // ---------------------------------------- persisted IVF index + serve
    Q("q113_ann_index_serve",
      "The production ANN lifecycle: the IVF index is BUILT ONCE and " +
        "PERSISTED — integer centroids to one tiny parquet, the " +
        "quantized corpus (norms precomputed) partitioned BY CELL into " +
        "the lake — and queries are SERVED from the stored index: read " +
        "centroids, pick nprobe=3 cells per query, then scan ONLY those " +
        "cell directories (partition pruning IS the IVF inverted-list " +
        "seek; plan-audited). Build-to-serve separation is the point: " +
        "q33 derives its index inside the query, this gate reads " +
        "standing state the way a deployed system does — at 100 TB the " +
        "index is written by a nightly job and served by thousands of " +
        "probes that each touch nprobe/cells of the corpus. Probed cell " +
        "ids reach the driver (nprobe × |queries| rows, metadata-sized " +
        "— the q104 manifest move) to prune partitions; vector data " +
        "never does. Cell ranking note (r18 advice closed the r15 " +
        "trade): cells are scored by the count-normalized " +
        "distance-to-mean ||q - sv/c||^2 — comparable across cells of " +
        "different populations (the earlier cross-multiplied integer " +
        "form inflated dense cells by c^2 and biased probes toward " +
        "low-count cells). Cross-engine exactness survives the " +
        "normalization: the numerator stays an exact integer sum and " +
        "the double conversion/division is the same correctly-rounded " +
        "IEEE op sequence in both engines.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        cellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                    FROM v CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                    GROUP BY 1, 2),
        cent AS (SELECT label, array_agg(s ORDER BY i) AS sv FROM cellsum GROUP BY 1),
        cnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM v GROUP BY 1),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM nz
               WHERE vec_id >= 5 AND vec_id < 10),
        dist AS (SELECT qid, cent.label, qv, qn,
                        ${oCellDist("qv")} AS d
                 FROM qs CROSS JOIN cent JOIN cnt ON cent.label = cnt.label),
        probe AS (SELECT qid, label, qv, qn FROM (
                    SELECT qid, label, qv, qn,
                           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, label) AS pr
                    FROM dist) WHERE pr <= 3),
        cand AS (SELECT qid, nz.vec_id AS neighbor_id, nz.label,
                        ${oDot("qv", "q")}::DOUBLE / (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                 FROM probe JOIN nz ON nz.label = probe.label AND nz.vec_id <> probe.qid),
        r AS (SELECT qid AS query_id, neighbor_id, label, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rnk
              FROM cand)
        SELECT query_id, rnk::INT AS rnk, neighbor_id, label AS cell,
               ROUND(cos, 6) AS cosine
        FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""")) { (s, dir) =>
      val idx = graft.core.Scratch.materialize("ivf_index", s"v3|$dir|${graft.core.Scratch.sourceSignature(dir)}") { p =>
        // build job: exact integer centroids (q33's derivation) + the
        // corpus laid out as one directory per cell with norms baked in
        embedCentroids(s, dir).write.mode("overwrite")
          .parquet(java.nio.file.Paths.get(p, "centroids").toString)
        AnnIndex.clusterForWrite(quantized(s, dir), "label")
          .write.mode("overwrite").partitionBy("label")
          .parquet(java.nio.file.Paths.get(p, "vectors").toString)
      }
      // ---- serve path: everything below reads only standing state
      val qs = quantized(s, dir)
        .filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("q").as("qv"), col("nn").as("qn"))
      // probe ONCE; the inverted-list seek: probed cell ids → literal
      // IN-filter → only those label= directories are scanned
      val (cells, probe) = AnnIndex.probePairs(s, qs,
        s.read.parquet(s"$idx/centroids"), 3)
      val stored = s.read.parquet(s"$idx/vectors")
        .filter(col("label").isin(cells: _*))
      annRows(AnnIndex.rerank(stored.join(broadcast(probe),
          stored("label") === probe("label") && col("vec_id") =!= col("qid")),
          3), stored("label"))
        .orderBy("query_id", "rnk")
    },

    // -------------------------------------- random-hyperplane LSH near-dup
    Q("q34b_embed_neardup_lsh",
      "Embedding near-dup via sign-random-projection LSH: 16 integer " +
        "hyperplanes (components derived from md5 arithmetic — exact in " +
        "both engines), 16-bit signatures, candidates from 4-bit chunk " +
        "collisions, exact integer-cosine verify at 0.4. The oracle " +
        "replicates the same pipeline, so the gate verifies the " +
        "implementation bit-for-bit (LSH recall itself is probabilistic " +
        "by design; the exact baseline is q32/q34).",
      Some(s"""
        WITH v AS (SELECT vec_id, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        planes AS (SELECT j, list_transform(range($DIM),
                     i -> ((('0x' || substr(md5('p_' || j || '_' || i), 1, 7))::BIGINT) % 2001) - 1000) AS w
                   FROM (SELECT unnest(range(16)) AS j)),
        dots AS (SELECT vec_id, j,
                        list_sum(list_transform(range($DIM), i -> q[i+1] * w[i+1])) AS d
                 FROM nz CROSS JOIN planes),
        sig AS (SELECT vec_id,
                       SUM(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS sg
                FROM dots GROUP BY 1),
        chunks0 AS (SELECT vec_id, c, (sg >> (4 * c)) & 15 AS cv
                    FROM sig CROSS JOIN (SELECT unnest(range(4)) AS c)),
        chunks AS (SELECT vec_id, c, cv FROM (
                     SELECT vec_id, c, cv,
                            COUNT(*) OVER (PARTITION BY c, cv) AS bn
                     FROM chunks0) WHERE bn <= 500),
        cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
                 FROM chunks a JOIN chunks b
                   ON a.c = b.c AND a.cv = b.cv AND a.vec_id < b.vec_id),
        ver AS (SELECT ia, ib,
                       ${oDot("x.q", "y.q")}::DOUBLE / (sqrt(x.nn::DOUBLE) * sqrt(y.nn::DOUBLE)) AS cos
                FROM cand JOIN nz x ON x.vec_id = ia JOIN nz y ON y.vec_id = ib)
        SELECT ia AS id_a, ib AS id_b, ROUND(cos, 6) AS cosine
        FROM ver WHERE cos >= 0.4 ORDER BY 1, 2""")) { (s, dir) =>
      val nz = quantized(s, dir)
      // deterministic integer planes, same md5 arithmetic as the oracle
      val md = java.security.MessageDigest.getInstance("MD5")
      def h28(key: String): Long = {
        val hex = md.digest(key.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(7)
        java.lang.Long.parseLong(hex, 16)
      }
      val planes: Seq[Seq[Long]] = (0 until 16).map(j =>
        (0 until DIM).map(i => (h28(s"p_${j}_$i") % 2001) - 1000))
      // native expression: all 16 plane dots in one loop per row instead
      // of 16 interpreted zip_with/aggregate pairs
      val sig = nz.select(col("vec_id"), col("q"), col("nn"),
          org.apache.spark.sql.graftshim.column(graft.expr.PlaneSignBits(
            org.apache.spark.sql.graftshim.expression(col("q")), planes)).as("sg"))
        .repartition(col("vec_id")) // exchange barrier (see LlmOps q25 note)
      val chunks0 = sig.select(col("vec_id"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("c"),
            ((col("sg") / (1L << (4 * c))).cast("long") % 16).as("cv"))
        }: _*)).as("ck"))
        .select(col("vec_id"), col("ck.c"), col("ck.cv"))
      // 4-bit chunks have only 16 values — buckets grow linearly with the
      // corpus, so the cap is structural here, and it is REPLICATED in
      // the oracle (bn <= 500): the gate verifies capped candidate
      // generation bit-for-bit, not just the happy path
      val chunks = graft.operators.Buckets.capBuckets(chunks0,
        Seq(col("c"), col("cv")), 500, "q34b_chunk_cap")
      val cand = chunks.as("x").join(chunks.as("y"),
          col("x.c") === col("y.c") && col("x.cv") === col("y.cv") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("ia"), col("y.vec_id").as("ib"))
        .distinct()
      cand
        .join(sig.select(col("vec_id").as("ia"), col("q").as("qa"), col("nn").as("na")), "ia")
        .join(sig.select(col("vec_id").as("ib"), col("q").as("qb"), col("nn").as("nb")), "ib")
        .withColumn("cos", AnnIndex.cosine(AnnIndex.dotL(col("qa"), col("qb")),
          col("na"), col("nb")))
        .filter(col("cos") >= 0.4)
        .select(col("ia").as("id_a"), col("ib").as("id_b"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    },

    // ------------------------------------------------ distributed k-means
    Q("q70_kmeans_embed",
      "Distributed k-means (2 Lloyd iterations, k=8) over quantized " +
        "embeddings — the coarse-quantizer training step that PRODUCES " +
        "q33's IVF cells, and the clustering behind semantic dedup and " +
        "data-mixture curation. The scale shape: centroids are k tiny " +
        "rows broadcast to a map-only assignment (argmin over an in-row " +
        "centroid array — no shuffle, no window), and each update is one " +
        "hash-agg over (cluster, dim). Everything is integer-exact: " +
        "squared-integer distances, ties argmin to the lowest cluster id, " +
        "centroid elements floor(sum/count) — both engines reproduce the " +
        "iteration bit-for-bit. At real scale each iteration's centroid " +
        "table is checkpointed; the lazy re-derivation here is the same " +
        "plan a 2-step pipeline materializes.",
      Some {
        def iter(n: Int, prevC: String): String = s"""
        d$n AS (SELECT v.vec_id, v.q, $prevC.k,
                      list_sum(list_transform(range($DIM),
                        i -> (v.q[i+1] - $prevC.c[i+1]) * (v.q[i+1] - $prevC.c[i+1])))::BIGINT AS d
               FROM v CROSS JOIN $prevC),
        a$n AS (SELECT vec_id, q, k, d FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
                  FROM d$n) WHERE rn = 1),
        s$n AS (SELECT k, i, SUM(q[i+1])::BIGINT AS sx, COUNT(*)::BIGINT AS cnt
               FROM a$n, (SELECT unnest(range($DIM)) AS i) idx GROUP BY 1, 2),
        c$n AS (SELECT k, array_agg((sx - ((sx % cnt + cnt) % cnt)) // cnt ORDER BY i) AS c
               FROM s$n GROUP BY 1)"""
        s"""
        WITH v AS (SELECT vec_id, $oQuant AS q FROM embeddings),
        c0 AS (SELECT vec_id::INT AS k, q AS c FROM v WHERE vec_id < 8),
        ${iter(1, "c0")},
        ${iter(2, "c1")},
        d3 AS (SELECT v.vec_id, c2.k,
                      list_sum(list_transform(range($DIM),
                        i -> (v.q[i+1] - c2.c[i+1]) * (v.q[i+1] - c2.c[i+1])))::BIGINT AS d
               FROM v CROSS JOIN c2),
        a3 AS (SELECT vec_id, k, d FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
                 FROM d3) WHERE rn = 1)
        SELECT k AS cluster, COUNT(*)::BIGINT AS n_vecs,
               SUM(d)::BIGINT AS total_sqdist, MIN(vec_id) AS min_vec
        FROM a3 GROUP BY 1 ORDER BY 1"""
      }) { (s, dir) =>
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), quant(col("embedding")).as("q"))
        .withColumn("qn", norm2(col("q")))
      val c0 = v.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("k"), col("q").as("c"))
      def step(cent: DataFrame) = lloydUpdate(lloydAssign(v, cent))
      lloydAssign(v, step(step(c0)))
        .groupBy(col("k").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("d")).as("total_sqdist"),
          min(col("vec_id")).as("min_vec"))
        .orderBy("cluster")
    },

    // ------------------------------------------- cell-blocked pair stats
    Q("q34_embed_celldup_stats",
      "Embedding near-dup audit, cell-blocked: within each label cell, " +
        "count pairs above cosine thresholds (exact integer comparison " +
        "counts — no float aggregation). The blocked-quadratic shape: " +
        "quadratic only within a cell, never across the corpus.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        p AS (SELECT a.label,
                     ${oDot("a.q", "b.q")}::DOUBLE / (sqrt(a.nn::DOUBLE) * sqrt(b.nn::DOUBLE)) AS cos
              FROM nz a JOIN nz b ON a.label = b.label AND a.vec_id < b.vec_id)
        SELECT label AS cell, COUNT(*) AS n_pairs,
               COUNT(CASE WHEN cos >= 0.3 THEN 1 END) AS n_ge_03,
               COUNT(CASE WHEN cos >= 0.2 THEN 1 END) AS n_ge_02
        FROM p GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val nz = quantized(s, dir)
      val a = nz.select(col("label"), col("vec_id").as("ia"),
        col("q").as("qa"), col("nn").as("na"))
      val b = nz.select(col("label").as("lb"), col("vec_id").as("ib"),
        col("q").as("qb"), col("nn").as("nb"))
      a.join(b, col("label") === col("lb") && col("ia") < col("ib"))
        .withColumn("cos", AnnIndex.cosine(AnnIndex.dotL(col("qa"), col("qb")),
          col("na"), col("nb")))
        .groupBy(col("label").as("cell"))
        .agg(count(lit(1)).as("n_pairs"),
          H.cnt(col("cos") >= 0.3).as("n_ge_03"),
          H.cnt(col("cos") >= 0.2).as("n_ge_02"))
        .orderBy("cell")
    },

    // ------------------------------------------- product quantization
    Q("q126_pq_codes",
      "Product quantization — the third leg of the quantization story " +
        "(q70 coarse IVF cells, q111 scalar int8, here PQ): the 64-dim " +
        "milli-grid vector splits into M=2 subvectors, each subspace " +
        "trains its OWN k=4 codebook (one Lloyd step from a " +
        "deterministic init, the q70 machinery verbatim per subspace), " +
        "and a vector's code is the PAIR of per-subspace argmins — 16 " +
        "virtual cells from 8 stored centroids, the multiplicative " +
        "compression that lets Faiss-style IVF-PQ hold billion-vector " +
        "indexes in RAM. Per code cell: population, total quantization " +
        "error (exact integer sum of both subspace residuals — the " +
        "number an ADC distance table is built from), min vec_id. " +
        "Training is 2 broadcast map-only assignments + 2 (k, dim) " +
        "hash-aggs; encoding joins the two assignments on vec_id — " +
        "at 100 TB both subspace passes run in the same corpus scan.",
      Some {
        val SUB = 32
        // per-subspace Lloyd step + final assignment, q70's CTE shape
        // parameterized by the subvector slice
        def sub(tag: String, qcol: String): String = s"""
        v$tag AS (SELECT vec_id, $qcol AS q FROM vs),
        c${tag}0 AS (SELECT vec_id::INT AS k, q AS c FROM v$tag WHERE vec_id < 4),
        d${tag}1 AS (SELECT v$tag.vec_id, v$tag.q, c${tag}0.k,
                      list_sum(list_transform(range($SUB),
                        i -> (v$tag.q[i+1] - c${tag}0.c[i+1]) * (v$tag.q[i+1] - c${tag}0.c[i+1])))::BIGINT AS d
               FROM v$tag CROSS JOIN c${tag}0),
        a${tag}1 AS (SELECT vec_id, q, k FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
                  FROM d${tag}1) WHERE rn = 1),
        s$tag AS (SELECT k, i, SUM(q[i+1])::BIGINT AS sx, COUNT(*)::BIGINT AS cnt
               FROM a${tag}1, (SELECT unnest(range($SUB)) AS i) idx GROUP BY 1, 2),
        c${tag}1 AS (SELECT k, array_agg((sx - ((sx % cnt + cnt) % cnt)) // cnt ORDER BY i) AS c
               FROM s$tag GROUP BY 1),
        d${tag}2 AS (SELECT v$tag.vec_id, c${tag}1.k,
                      list_sum(list_transform(range($SUB),
                        i -> (v$tag.q[i+1] - c${tag}1.c[i+1]) * (v$tag.q[i+1] - c${tag}1.c[i+1])))::BIGINT AS d
               FROM v$tag CROSS JOIN c${tag}1),
        a${tag}2 AS (SELECT vec_id, k, d FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
                 FROM d${tag}2) WHERE rn = 1)"""
        s"""
        WITH v AS (SELECT vec_id, $oQuant AS q FROM embeddings),
        vs AS (SELECT vec_id, q[1:32] AS qa, q[33:64] AS qb FROM v),
        ${sub("a", "qa")},
        ${sub("b", "qb")}
        SELECT aa2.k AS c0, ab2.k AS c1,
               COUNT(*)::BIGINT AS n_vecs,
               SUM(aa2.d + ab2.d)::BIGINT AS total_err,
               MIN(aa2.vec_id) AS min_vec
        FROM aa2 JOIN ab2 ON aa2.vec_id = ab2.vec_id
        GROUP BY 1, 2 ORDER BY 1, 2"""
      }) { (s, dir) =>
      val SUB = 32
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), quant(col("embedding")).as("qf"))
      // one Lloyd step + final assignment in one subspace (q70's assign/
      // update, over the subvector slice)
      def codes(off: Int) = {
        val vj = v.select(col("vec_id"), slice(col("qf"), off, SUB).as("q"))
          .withColumn("qn", norm2(col("q")))
        val init = vj.filter(col("vec_id") < 4)
          .select(col("vec_id").cast("int").as("k"), col("q").as("c"))
        lloydAssign(vj, lloydUpdate(lloydAssign(vj, init)))
      }
      codes(1).select(col("vec_id"), col("k").as("c0"), col("d").as("d0"))
        .join(codes(33).select(col("vec_id").as("vb"),
          col("k").as("c1"), col("d").as("d1")),
          col("vec_id") === col("vb"))
        .groupBy("c0", "c1")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("d0") + col("d1")).as("total_err"),
          min("vec_id").as("min_vec"))
        .orderBy("c0", "c1")
    },

    // ----------------------------------------------- semantic dedup
    Q("q158_semdedup",
      "SemDeDup (cluster-scoped semantic dedup, Abbas et al. 2023): " +
        "assign every embedding to its nearest of k=8 fixed seed " +
        "centroids (exact integer squared distance, ties to the " +
        "lowest cluster id — the q70 coarse-quantizer step), then " +
        "deduplicate WITHIN each cluster only: drop a vector when an " +
        "earlier (lower vec_id) cluster-mate has cosine >= 0.4 with " +
        "it. The clustering is the scale lever — pairwise comparison " +
        "runs inside clusters (quadratic in cluster size, never in " +
        "corpus size), and each cluster's pairs co-locate under one " +
        "shuffle key, so a 100 TB corpus shards its quadratic across " +
        "executors by cluster (real runs pick k ~ sqrt(n) to bound " +
        "cluster sizes; k=8 here keeps the DuckDB oracle exact). " +
        "Output per cluster: size, drops, and the kept-id checksum " +
        "that pins the exact surviving set.",
      Some(s"""
        WITH v AS (SELECT vec_id, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        seeds AS (SELECT vec_id::INT AS k, q AS c,
                         list_sum(list_transform(q, a -> a * a)) AS cn
                  FROM nz WHERE vec_id < 8),
        d AS (SELECT nz.vec_id, nz.q, nz.nn, seeds.k,
                     nz.nn - 2 * ${oDot("nz.q", "seeds.c")} + seeds.cn AS d
              FROM nz CROSS JOIN seeds),
        a AS (SELECT vec_id, q, nn, k FROM (
                SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY vec_id ORDER BY d, k) AS rn
                FROM d) WHERE rn = 1),
        drops AS (SELECT DISTINCT y.vec_id
                  FROM a x JOIN a y ON x.k = y.k AND x.vec_id < y.vec_id
                  WHERE ${oDot("x.q", "y.q")}::DOUBLE /
                        (sqrt(x.nn::DOUBLE) * sqrt(y.nn::DOUBLE)) >= 0.4)
        SELECT a.k AS cluster, COUNT(*)::BIGINT AS n_vecs,
               COUNT(dr.vec_id)::BIGINT AS n_dropped,
               SUM(CASE WHEN dr.vec_id IS NULL THEN a.vec_id
                   END)::BIGINT AS kept_id_sum
        FROM a LEFT JOIN drops dr ON a.vec_id = dr.vec_id
        GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val nz = quantized(s, dir)
        .select(col("vec_id"), col("q"), col("nn").as("qn"))
      // map-only assignment to the 8 seed centroids (q70's assign)
      val a = lloydAssign(nz, nz.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("int").as("k"), col("q").as("c")))
        .drop("d")
        // one shuffle on the cluster id; both join sides and the final
        // aggregate reuse this clustering
        .repartition(col("k"))
      val xa = a.select(col("k"), col("vec_id").as("ia"),
        col("q").as("qa"), col("qn").as("na"))
      val xb = a.select(col("k"), col("vec_id").as("ib"),
        col("q").as("qb"), col("qn").as("nb"))
      val drops = xa.join(xb, "k").filter(col("ia") < col("ib"))
        .filter(AnnIndex.cosine(AnnIndex.dotL(col("qa"), col("qb")),
          col("na"), col("nb")) >= 0.4)
        .select(col("ib").as("vec_id")).distinct()
        .withColumn("dropped", lit(1))
      a.join(drops, Seq("vec_id"), "left")
        .groupBy(col("k").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          count(col("dropped")).as("n_dropped"),
          sum(when(col("dropped").isNull, col("vec_id"))).as("kept_id_sum"))
        .orderBy("cluster")
    },

    // ------------------------------------- Matryoshka truncation audit
    Q("q187_matryoshka_recall",
      "Matryoshka-truncation recall audit (MRL: serve with the first " +
        "D/2 dimensions, re-rank or accept the quality loss — the " +
        "standard embedding-cost lever): for each query, exact cosine " +
        "top-5 under the FULL 64 dims vs the top-5 under the first 32 " +
        "dims only, and the per-query overlap count — recall@5 of the " +
        "truncated index against the exact baseline, the number that " +
        "decides whether the half-dimension serving tier is usable. " +
        "Same machinery as q32 (integer-quantized vectors, native " +
        "dot-product expression, deterministic (cos, id) tie-break), " +
        "run twice with the truncated side re-normed over its own 32 " +
        "dims; vectors whose truncated norm is zero drop from the " +
        "truncated candidate set only, identically in both engines. " +
        "100 TB shape: both passes are broadcast-queries linear " +
        "scans over one shared quantized subtree; nothing " +
        "quadratic, nothing driver-side.",
      Some(s"""
        WITH v AS (SELECT vec_id, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        hv AS (SELECT vec_id, q[1:${DIM / 2}] AS q FROM v),
        hn AS (SELECT vec_id, q, $oNorm2 AS nn FROM hv),
        hz AS (SELECT * FROM hn WHERE nn > 0),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM nz WHERE vec_id < 10),
        hqs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM hz WHERE vec_id < 10),
        fp AS (SELECT qid, vec_id AS neighbor_id,
                      ${oDot("qv", "q")}::DOUBLE / (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
               FROM qs JOIN nz ON vec_id <> qid),
        fr AS (SELECT qid, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, neighbor_id) AS rnk
               FROM fp),
        hp AS (SELECT qid, vec_id AS neighbor_id,
                      ${oDotHalf("qv", "q")}::DOUBLE / (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
               FROM hqs JOIN hz ON vec_id <> qid),
        hr AS (SELECT qid, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, neighbor_id) AS rnk
               FROM hp)
        SELECT f.qid AS query_id, COUNT(h.neighbor_id) AS n_overlap
        FROM (SELECT * FROM fr WHERE rnk <= 5) f
        LEFT JOIN (SELECT * FROM hr WHERE rnk <= 5) h
          ON f.qid = h.qid AND f.neighbor_id = h.neighbor_id
        GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val half = DIM / 2
      def topk(corpus: DataFrame): DataFrame =
        exactTopK(corpus, corpus.filter(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("q").as("qv"),
              col("nn").as("qn")), 5)
          .select(col("qid"), col("vec_id").as("neighbor_id"))
      val full = quantized(s, dir)
      // derived from the SAME quantized frame (quant is element-wise,
      // so slice-then-quant == quant-then-slice): one common subtree
      // serves both passes, and the full-norm>0 prefilter is exact —
      // a vector with zero FULL norm has zero half norm too
      val truncated = full
        .select(col("vec_id"), slice(col("q"), 1, half).as("q"))
        .withColumn("nn", norm2(col("q")))
        .filter(col("nn") > 0)
      topk(full).as("f")
        .join(topk(truncated).as("h"),
          col("f.qid") === col("h.qid") &&
            col("f.neighbor_id") === col("h.neighbor_id"), "left")
        .groupBy(col("f.qid").as("query_id"))
        .agg(count(col("h.neighbor_id")).as("n_overlap"))
        .orderBy("query_id")
    },

    // ------------------------------------- 1-bit binary quantization tier
    Q("q199_binary_quantize",
      "1-bit binary quantization + Hamming top-k recall audit (r12/r13 " +
        "verdict gap — the tier the scalar-int8 q111 / PQ q126 ladder " +
        "stopped before, and the tier modern ANN serving defaults to, " +
        "RaBitQ/BQ-style): each 64-dim vector collapses to its SIGN " +
        "CODE, packed into two 32-bit words carried as BIGINTs — 8 " +
        "bytes/vector, a 32x memory cut vs float32, which at 100 TB of " +
        "embeddings is the difference between a RAM-resident and a " +
        "disk-bound serving tier. Candidate search is integer-only: " +
        "Hamming distance = popcount(xor) per word (hardware POPCNT in " +
        "codegen), top-5 per query by (distance, vec_id). The gate " +
        "reports recall@5 of the Hamming tier against the exact-cosine " +
        "baseline plus the rank-5 Hamming radius — the two numbers " +
        "that size a re-rank stage (fetch radius-bounded candidates, " +
        "re-score exactly, like q187's truncation audit). Packing is a " +
        "deterministic integer fold (acc*2 + signbit) both engines " +
        "replay bit-for-bit; 100 TB shape: map-only encode, broadcast " +
        "query codes, linear scan of 8-byte codes, per-query bounded " +
        "top-k — no shuffle of vector data at all.",
      Some(s"""
        WITH v AS (SELECT vec_id, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        c AS (SELECT vec_id, q, nn,
                ${oPackHalf(0)} AS clo,
                ${oPackHalf(32)} AS chi
              FROM nz),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn, clo AS qlo,
                      chi AS qhi
               FROM c WHERE vec_id < 10),
        fp AS (SELECT qid, vec_id AS neighbor_id,
                      ${oDot("qv", "q")}::DOUBLE / (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
               FROM qs JOIN nz ON vec_id <> qid),
        fr AS (SELECT qid, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, neighbor_id) AS rnk
               FROM fp),
        hp AS (SELECT qid, c.vec_id AS neighbor_id,
                      bit_count(xor(qlo, clo))::BIGINT
                        + bit_count(xor(qhi, chi))::BIGINT AS ham
               FROM qs JOIN c ON c.vec_id <> qid),
        hr AS (SELECT qid, neighbor_id, ham,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY ham, neighbor_id) AS rnk
               FROM hp)
        SELECT f.qid AS query_id,
               COUNT(h.neighbor_id)::BIGINT AS n_overlap,
               r.ham_radius
        FROM (SELECT * FROM fr WHERE rnk <= 5) f
        LEFT JOIN (SELECT * FROM hr WHERE rnk <= 5) h
          ON f.qid = h.qid AND f.neighbor_id = h.neighbor_id
        JOIN (SELECT qid, MAX(ham)::BIGINT AS ham_radius
              FROM hr WHERE rnk <= 5 GROUP BY qid) r ON f.qid = r.qid
        GROUP BY 1, 3 ORDER BY 1""")) { (s, dir) =>
      val full = quantized(s, dir)
      val coded = full
        .withColumn("clo", packHalf(0)).withColumn("chi", packHalf(32))
      val qs = coded.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("nn").as("qn"), col("clo").as("qlo"), col("chi").as("qhi"))
      // exact-cosine baseline (the q32/q187 machinery)
      val exact = exactTopK(full, qs.drop("qlo", "qhi"), 5)
        .select(col("qid"), col("vec_id").as("neighbor_id"))
      // Hamming tier: two POPCNT(xor) per candidate, integer order
      val wHam = Window.partitionBy(col("qid"))
        .orderBy(col("ham").asc, col("vec_id").asc)
      val hammed = coded.drop("q", "nn")
        .join(broadcast(qs.drop("qv", "qn")), col("vec_id") =!= col("qid"))
        .withColumn("ham", expr(
          "CAST(bit_count(qlo ^ clo) AS BIGINT) + " +
            "CAST(bit_count(qhi ^ chi) AS BIGINT)"))
        .withColumn("rnk", row_number().over(wHam))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("vec_id").as("neighbor_id"), col("ham"))
      // rank-5 radius is tie-break-independent: the 5th smallest value
      // of the per-query Hamming multiset
      // rqid: a fresh name — radius shares hammed's lineage, so joining
      // it back by `qid` would be ambiguous against the h-side alias
      val radius = hammed.groupBy(col("qid").as("rqid"))
        .agg(max("ham").as("ham_radius"))
      exact.as("f")
        .join(hammed.as("h"),
          col("f.qid") === col("h.qid") &&
            col("f.neighbor_id") === col("h.neighbor_id"), "left")
        .join(radius, col("f.qid") === col("rqid"))
        .groupBy(col("f.qid").as("query_id"), col("ham_radius"))
        .agg(count(col("h.neighbor_id")).as("n_overlap"))
        .select(col("query_id"), col("n_overlap"), col("ham_radius"))
        .orderBy("query_id")
    },

    // ------------------------------------ two-stage Hamming -> exact rerank
    Q("q208_hamming_rerank",
      "The RERANK serving stage q199's recall audit sizes (r14 verdict " +
        "item 7): stage 1 scans only the 8-byte sign codes — " +
        "popcount(xor) Hamming, broadcast query codes, bounded top-20 " +
        "per query; stage 2 FETCHES just those candidates' full " +
        "vectors (a broadcast semi-join on vec_id — the point-lookup " +
        "tier at scale; 20 x |queries| ids, never the corpus) and " +
        "re-scores them with the exact integer cosine, emitting the " +
        "reranked top-5. The audit joins the full exact-scan baseline " +
        "to report recall@5 of the two-stage pipeline — the number " +
        "that says whether 20 Hamming candidates are enough or the " +
        "radius must widen (q199's ham_radius is the dial). At 100 TB " +
        "the float vectors stay on disk and only the 32x-smaller code " +
        "tier is scanned: stage-2 IO is candidates x 256 bytes per " +
        "query, independent of corpus size.",
      Some(s"""
        WITH v AS (SELECT vec_id, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        c AS (SELECT vec_id, q, nn,
                ${oPackHalf(0)} AS clo,
                ${oPackHalf(32)} AS chi
              FROM nz),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn, clo AS qlo,
                      chi AS qhi
               FROM c WHERE vec_id < 10),
        hp AS (SELECT qid, c.vec_id AS neighbor_id,
                      bit_count(xor(qlo, clo))::BIGINT
                        + bit_count(xor(qhi, chi))::BIGINT AS ham
               FROM qs JOIN c ON c.vec_id <> qid),
        cand AS (SELECT qid, neighbor_id FROM (
                   SELECT qid, neighbor_id,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY ham, neighbor_id) AS hrnk
                   FROM hp) WHERE hrnk <= 20),
        rr AS (SELECT cand.qid, cand.neighbor_id,
                      ${oDot("qv", "q")}::DOUBLE /
                        (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
               FROM cand JOIN nz ON nz.vec_id = cand.neighbor_id
                         JOIN qs ON qs.qid = cand.qid),
        rtop AS (SELECT qid, neighbor_id, cos,
                        ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY cos DESC, neighbor_id) AS rnk
                 FROM rr),
        fp AS (SELECT qid, nz.vec_id AS neighbor_id,
                      ${oDot("qv", "q")}::DOUBLE /
                        (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
               FROM qs JOIN nz ON nz.vec_id <> qid),
        fr AS (SELECT qid, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cos DESC, neighbor_id) AS rnk
               FROM fp)
        SELECT f.qid AS query_id,
               t.top1 AS reranked_top1,
               COUNT(r5.neighbor_id)::BIGINT AS n_overlap
        FROM (SELECT * FROM fr WHERE rnk <= 5) f
        LEFT JOIN (SELECT * FROM rtop WHERE rnk <= 5) r5
          ON f.qid = r5.qid AND f.neighbor_id = r5.neighbor_id
        JOIN (SELECT qid, neighbor_id AS top1 FROM rtop WHERE rnk = 1) t
          ON f.qid = t.qid
        GROUP BY 1, 2 ORDER BY 1""")) { (s, dir) =>
      val full = quantized(s, dir)
      val coded = full
        .withColumn("clo", packHalf(0)).withColumn("chi", packHalf(32))
      val qs = coded.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("nn").as("qn"), col("clo").as("qlo"), col("chi").as("qhi"))
      // stage 1: code-only scan, bounded top-20 per query
      val wHam = Window.partitionBy(col("qid"))
        .orderBy(col("ham").asc, col("vec_id").asc)
      val cand = coded.drop("q", "nn")
        .join(broadcast(qs.drop("qv", "qn")), col("vec_id") =!= col("qid"))
        .withColumn("ham", expr(
          "CAST(bit_count(qlo ^ clo) AS BIGINT) + " +
            "CAST(bit_count(qhi ^ chi) AS BIGINT)"))
        .withColumn("hrnk", row_number().over(wHam))
        .filter(col("hrnk") <= 20)
        .select(col("qid"), col("vec_id").as("neighbor_id"))
      // stage 2: fetch ONLY the candidates' vectors (broadcast the
      // bounded id set — the point-lookup tier) and re-score exactly
      val rtop = AnnIndex.rerank(full.join(broadcast(cand),
          full("vec_id") === cand("neighbor_id"))
        .join(broadcast(qs.drop("qlo", "qhi")), Seq("qid")), 5)
        .select(col("qid"), col("neighbor_id"), col("rnk"))
      val top1 = rtop.filter(col("rnk") === 1)
        .select(col("qid").as("tqid"), col("neighbor_id").as("reranked_top1"))
      // audit tier: the full exact scan is the BASELINE being compared
      // against, not the serving path
      val exact = exactTopK(full, qs.drop("qlo", "qhi"), 5)
        .select(col("qid"), col("vec_id").as("neighbor_id"))
      exact.as("f")
        .join(broadcast(rtop.as("r5")), // 5 x |queries| rows — tiny
          col("f.qid") === col("r5.qid") &&
            col("f.neighbor_id") === col("r5.neighbor_id"), "left")
        .join(broadcast(top1), col("f.qid") === col("tqid"))
        .groupBy(col("f.qid").as("query_id"), col("reranked_top1"))
        .agg(count(col("r5.neighbor_id")).as("n_overlap"))
        .select(col("query_id"), col("reranked_top1"), col("n_overlap"))
        .orderBy("query_id")
    },

    // ----------------------------------- contrastive hard-negative mining
    Q("q202_hard_negatives",
      "Hard-negative mining for contrastive training (the retrieval/" +
        "embedding-model data-prep step: for each anchor, find the " +
        "most-similar vectors of a DIFFERENT class — the negatives " +
        "that actually move the loss; random negatives are too easy " +
        "and same-class neighbors are false negatives). For 8 anchor " +
        "vectors: candidates = every other-label vector, ranked by " +
        "exact cosine over the int-quantized embeddings (ties by " +
        "vec_id — the integer-derived double ordering every ANN gate " +
        "here uses), top-3 per anchor emitted with their INTEGER dot " +
        "products, plus the anchor's weakest same-label dot " +
        "(pos_floor) — the number a margin/temperature choice needs: " +
        "negatives harder than the weakest positive are the " +
        "label-noise candidates curriculum schedules postpone. 100 TB " +
        "shape: broadcast the 8 anchors, one map-only linear scan " +
        "scoring both faces (negative top-k + positive min) in a " +
        "single pass, per-anchor bounded top-k windows over " +
        "anchor-partitioned data — no vector shuffle, no all-pairs. " +
        "Contract: the negative top-k inner-joins the positive floor, " +
        "so an anchor with NO same-label non-self peer is excluded " +
        "from the output entirely (deliberate — without a pos_floor " +
        "the margin filter downstream has no reference; surface such " +
        "anchors by LEFT JOIN + null pos_floor if a pipeline wants " +
        "them).",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        qs AS (SELECT vec_id AS qid, label AS qlab, q AS qv, nn AS qn
               FROM nz WHERE vec_id < 8),
        scored AS (SELECT qid, qlab, vec_id, label,
                          ${oDot("qv", "q")}::BIGINT AS dot,
                          ${oDot("qv", "q")}::DOUBLE /
                            (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                   FROM qs JOIN nz ON vec_id <> qid),
        neg AS (SELECT qid, vec_id, dot,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, vec_id) AS rnk
                FROM scored WHERE label <> qlab),
        pos AS (SELECT qid, MIN(dot)::BIGINT AS pos_floor
                FROM scored WHERE label = qlab GROUP BY qid)
        SELECT n.qid AS query_id, n.rnk::INTEGER AS rnk,
               n.vec_id AS neighbor_id,
               n.dot AS neg_dot, p.pos_floor
        FROM neg n JOIN pos p ON n.qid = p.qid
        WHERE n.rnk <= 3 ORDER BY query_id, rnk""")) { (s, dir) =>
      val full = quantized(s, dir)
      val qs = full.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("label").as("qlab"),
          col("q").as("qv"), col("nn").as("qn"))
      // ONE scan scores every (anchor, candidate) pair; both faces
      // (other-label ranking, same-label floor) read from it
      val scored = full
        .join(broadcast(qs), col("vec_id") =!= col("qid"))
        .withColumn("dot", AnnIndex.dotL(col("qv"), col("q")))
      val neg = AnnIndex.rerank(scored.filter(col("label") =!= col("qlab")), 3)
        .select(col("qid"), col("rnk"), col("vec_id").as("neighbor_id"),
          col("dot").as("neg_dot"))
      val pos = scored.filter(col("label") === col("qlab"))
        .groupBy(col("qid").as("pqid"))
        .agg(min(col("dot")).as("pos_floor"))
      neg.join(pos, col("qid") === col("pqid"))
        .select(col("qid").as("query_id"), col("rnk"),
          col("neighbor_id"), col("neg_dot"), col("pos_floor"))
        .orderBy("query_id", "rnk")
    },

    // -------------------------------- incremental ANN index maintenance
    Q("q207_ann_index_upsert",
      "Incremental IVF maintenance — the serving twin of q194's " +
        "incremental dedup (r14 verdict item 7): a daily batch of NEW " +
        "vectors (vec_id % 10 = 0 stands in for today's arrivals) is " +
        "folded into q113's persisted index WITHOUT rebuilding it and " +
        "WITHOUT scanning the stored corpus. Three incremental steps, " +
        "all new-batch-sized: (1) ASSIGN each new vector to a cell by " +
        "the count-normalized centroid score ||q - sv/c||^2 " +
        "(broadcast the tiny centroid table, map-only over the batch; " +
        "exact integer numerator, deterministic double normalization " +
        "— the q113 ranking); (2) PERSIST each arrival commit as a " +
        "cell-partitioned DELTA FRAGMENT beside the immutable base " +
        "(AnnIndex.sync over the table's change feed, built once as a " +
        "Scratch artifact — q212 is the nightly fold that merges the " +
        "fragments back); (3) update " +
        "centroids by ADDING the fragment's per-cell integer " +
        "sums/counts to the stored ones (exact — integer centroid " +
        "state is associative, which float means are not). Serving " +
        "probes the UPDATED centroids and scans only the probed " +
        "cells of base + delta (partition pruning on both layers); " +
        "is_new in the output proves upserted vectors are " +
        "immediately searchable. At 100 TB: the upsert touches " +
        "batch + metadata, never the corpus — the difference between " +
        "a nightly full rebuild and a continuously-fresh index.",
      Some(annIncOracle)) { (s, dir) =>
      // the Scratch-built index holds base + the three synced arrival
      // fragments; the serve probes the fragment-folded centroid state
      // and reads only probed cells of both layers
      annServe(s, dir, annIncTable(s, dir))
    },

    Q("q212_ann_delta_fold",
      "The NIGHTLY FOLD that completes q207's LSM story (r15 verdict " +
        "item 2 — the documented-but-unimplemented half): delta " +
        "fragments accumulate per upsert batch, and the fold merges " +
        "them back into the base index by rewriting ONLY the " +
        "AFFECTED cells (cells holding delta rows — partition " +
        "pruning on the base; untouched cells are never read or " +
        "rewritten, PlanAuditSpec pins the fold input's plan) and " +
        "publishing centroids with the delta sums folded in (the " +
        "same associative integer update serving used). The gate " +
        "then SERVES from the folded layout — probed affected cells " +
        "read the folded overlay, probed untouched cells read the " +
        "immutable base — and its output equals q207's pre-fold " +
        "serve EXACTLY (same oracle, same top-k): " +
        "serve-after-fold == serve-before-fold is the fold's " +
        "correctness contract. At 100 TB: fold cost scales with " +
        "fragment size + affected cells, not corpus size — the " +
        "compaction half of an LSM index, scheduled off-peak.",
      Some(annIncOracle)) { (s, dir) =>
      annServe(s, dir, annFoldedTable(s, dir))
    },

    // -------------------------------- hybrid filtered vector search
    Q("q213_filtered_ann",
      "FILTERED vector search (r15 verdict item 6 — real retrieval " +
        "stacks filter by metadata before searching; the serving " +
        "ladder q113/q199/q208 always searched the whole corpus): " +
        "the index layout bakes the filter key in as the LEADING " +
        "partition column — vectors live under src=<k>/label=<cell>/ " +
        "(the Milvus partition-key / Lance scalar-index shape) — so " +
        "a query's metadata predicate prunes DIRECTORIES before the " +
        "probe ever touches vector data: PRE-filter, not post-filter " +
        "(post-filtering the unfiltered top-k silently breaks " +
        "recall@k when matches rank past k). Each query carries its " +
        "own filter (src = (qid+1) % 3, decoupled from the query " +
        "vector's origin); candidates come only from the filtered " +
        "slice of probed cells, and a RECALL AUDIT joins the ANN " +
        "top-3 against the exact brute-force top-3 over the same " +
        "filtered slice — the number a production stack monitors, " +
        "since global centroids can under-recall a skewed filter. " +
        "At 100 TB: the filter prunes src partitions, the probe " +
        "prunes cells within them, and the exact audit runs on " +
        "sampled queries off-path.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, vec_id % 3 AS src,
                          $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, src, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        cellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                    FROM nz CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                    GROUP BY 1, 2),
        cent AS (SELECT label, array_agg(s ORDER BY i) AS sv
                 FROM cellsum GROUP BY 1),
        cnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM nz GROUP BY 1),
        cc AS (SELECT cent.label, sv, c
               FROM cent JOIN cnt ON cent.label = cnt.label),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn,
                      (vec_id + 1) % 3 AS filt
               FROM nz WHERE vec_id >= 5 AND vec_id < 10),
        dist AS (SELECT qid, cc.label, qv, qn, filt,
                        ${oCellDist("qv")} AS d
                 FROM qs CROSS JOIN cc),
        probe AS (SELECT qid, label, qv, qn, filt FROM (
                    SELECT qid, label, qv, qn, filt,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY d, label) AS pr
                    FROM dist) WHERE pr <= 3),
        cand AS (SELECT qid, nz.vec_id AS neighbor_id, nz.label,
                        ${oDot("qv", "q")}::DOUBLE /
                          (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                 FROM probe JOIN nz ON nz.label = probe.label
                                   AND nz.src = probe.filt
                                   AND nz.vec_id <> probe.qid),
        ann AS (SELECT qid AS query_id, neighbor_id, label AS cell, cos,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY cos DESC, neighbor_id) AS rnk
                FROM cand),
        ex AS (SELECT qid AS query_id, nz.vec_id AS neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                        ${oDot("qv", "q")}::DOUBLE /
                          (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) DESC,
                        nz.vec_id) AS ernk
               FROM qs JOIN nz ON nz.src = qs.filt
                              AND nz.vec_id <> qs.qid),
        rec AS (SELECT a.query_id,
                       ROUND(COUNT(e.neighbor_id) / 3.0, 6) AS recall
                FROM ann a LEFT JOIN (SELECT * FROM ex WHERE ernk <= 3) e
                  ON a.query_id = e.query_id
                 AND a.neighbor_id = e.neighbor_id
                WHERE a.rnk <= 3 GROUP BY 1)
        SELECT a.query_id, a.rnk::INT AS rnk, a.neighbor_id, a.cell,
               ROUND(a.cos, 6) AS cosine, rec.recall
        FROM ann a JOIN rec ON a.query_id = rec.query_id
        WHERE a.rnk <= 3 ORDER BY a.query_id, a.rnk""")) { (s, dir) =>
      val idx = graft.core.Scratch.materialize("ivf_filtered",
        s"v2|$dir|${graft.core.Scratch.sourceSignature(dir)}") { p =>
        val v = quantized(s, dir)
          .withColumn("src", pmod(col("vec_id"), lit(3)))
        AnnIndex.centroidTable(v).write
          .parquet(java.nio.file.Paths.get(p, "centroids").toString)
        // FILTER KEY FIRST: src prunes before label — the whole point
        AnnIndex.clusterForWrite(v, "src", "label")
          .write.partitionBy("src", "label")
          .parquet(java.nio.file.Paths.get(p, "vectors").toString)
      }
      val qs = s.read.parquet(s"$idx/vectors")
        .filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("nn").as("qn"),
          pmod(col("vec_id") + 1, lit(3)).as("filt"))
      // probe ONCE (the probe frame carries each query's filt); bounded
      // driver move: nprobe x |queries| cell ids + <= 3 srcs, the srcs
      // read off the rebuilt probe frame (a local join, no re-probe)
      val (cells, probe) = AnnIndex.probePairs(s, qs,
        s.read.parquet(s"$idx/centroids"), 3)
      val srcs = probe.select("filt").distinct().collect().map(_.get(0)).toSeq
      // PRE-filter: src prunes partitions BEFORE label — candidates
      // never include out-of-filter vectors, so top-k is computed on
      // the filtered slice (post-filtering would silently lose
      // matches ranked past k in the unfiltered order)
      val pool = s.read.parquet(s"$idx/vectors")
        .filter(col("src").isin(srcs: _*) &&
          col("label").isin(cells: _*))
      val ann = annRows(AnnIndex.rerank(pool.join(broadcast(probe),
          pool("label") === probe("label") &&
            pool("src") === probe("filt") &&
            col("vec_id") =!= col("qid")), 3), pool("label"))
      // exact brute-force over the SAME filtered slice (src-pruned
      // scan, no label filter) — the recall audit's ground truth
      val exPool = s.read.parquet(s"$idx/vectors")
        .filter(col("src").isin(srcs: _*))
      val ex = AnnIndex.rerank(exPool.join(broadcast(qs),
          exPool("src") === qs("filt") && col("vec_id") =!= col("qid")), 3)
        .select(col("qid").as("equery_id"),
          col("vec_id").as("eneighbor_id"))
      val rec = ann.join(broadcast(ex),
          ann("query_id") === ex("equery_id") &&
            ann("neighbor_id") === ex("eneighbor_id"), "left")
        .groupBy(ann("query_id").as("rquery_id"))
        .agg(round(count(col("eneighbor_id")) / 3.0, 6).as("recall"))
      ann.join(broadcast(rec), ann("query_id") === col("rquery_id"))
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("cell"), col("cosine"), col("recall"))
        .orderBy("query_id", "rnk")
    },

    // ------------------------- CDC -> ANN end-to-end freshness
    Q("q214_cdc_ann_freshness",
      "The steady-state 100 TB story told ONCE, end-to-end (r15 " +
        "verdict item 5): vectors live in a docstore table (arrays " +
        "ride the nested evolved-column codec), a nightly build lays " +
        "the VERSION-1 slice out as the cell-partitioned base index, " +
        "and then the table's CHANGE DATA FEED STREAM " +
        "(readChangeFeed, startingVersion=base+1) drives index " +
        "maintenance through foreachBatch: each commit's insert rows " +
        "arrive as ONE micro-batch (version-paced offsets), the " +
        "batch appends a cell-partitioned delta fragment, and the " +
        "associative integer centroid state (per-cell sums+counts, " +
        "cells x dim — metadata-sized) folds the batch's aggregates " +
        "in. NO step rescans the corpus: every batch touches its own " +
        "rows plus metadata. After draining three commits, serving " +
        "probes the maintained centroids over base + fragments " +
        "(partition-pruned), and the `fresh` column is the in-query " +
        "AUDIT: the incrementally-maintained serve is joined against " +
        "a from-scratch batch rebuild over the table's CURRENT " +
        "snapshot — serve-freshness == batch-rebuild, row by row " +
        "(the oracle IS the rebuild, so the hash match proves it " +
        "independently too). Composes q149's CDF stream, q194's " +
        "incremental shape, and q207's associative centroid fold " +
        "into the continuously-fresh-index pipeline a production " +
        "stack runs.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        cellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                    FROM nz CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                    GROUP BY 1, 2),
        cent AS (SELECT label, array_agg(s ORDER BY i) AS sv
                 FROM cellsum GROUP BY 1),
        cnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM nz GROUP BY 1),
        cc AS (SELECT cent.label, sv, c
               FROM cent JOIN cnt ON cent.label = cnt.label),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM nz
               WHERE vec_id < 5 AND vec_id % 10 <> 0),
        dist AS (SELECT qid, cc.label, qv, qn,
                        ${oCellDist("qv")} AS d
                 FROM qs CROSS JOIN cc),
        probe AS (SELECT qid, label, qv, qn FROM (
                    SELECT qid, label, qv, qn,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY d, label) AS pr
                    FROM dist) WHERE pr <= 2),
        cand AS (SELECT qid, nz.vec_id AS neighbor_id, nz.label,
                        ${oDot("qv", "q")}::DOUBLE /
                          (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                 FROM probe JOIN nz ON nz.label = probe.label
                                   AND nz.vec_id <> probe.qid),
        r AS (SELECT qid AS query_id, neighbor_id, label AS cell, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos DESC, neighbor_id) AS rnk
              FROM cand)
        SELECT query_id, rnk::INT AS rnk, neighbor_id, cell,
               ROUND(cos, 6) AS cosine, TRUE AS fresh
        FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""")) { (s, dir) =>
      val root = graft.core.Fs.rotatingTempRoot("q214_vx")
      val t = new VecTable(s, dir, "graft_cat_vx", root)
      // commit 1: the nightly slice the base index is built from
      // (CREATE/ALTER consumed versions of their own — capture the
      // actual head so the nightly snapshot and the CDF stream's
      // starting offset track the table's real history)
      t.ins("vec_id % 10 <> 0")
      val baseV =
        graft.sources.DocStoreCommitOps.nextVersion(t.path) - 1
      // commits 2-4: three arrival batches
      (0 to 2).foreach(k => t.ins(s"vec_id % 10 = 0 AND vec_id % 3 = $k"))
      val baseDir = root.resolve("base").toString
      val state = cdcBuild(t, baseV, baseDir)
      // ---- streaming maintenance: one micro-batch per commit
      val fragDir = root.resolve("frags").toString
      drainChanges(t, baseV + 1, root) { batch =>
        // two actions consume the micro-batch (fragment append +
        // centroid fold): persist it so the CDF source's segment
        // files are read once per commit, not twice (r16 review).
        // persist, NOT localCheckpoint: the r22 A/B read the eager
        // checkpoint as a per-batch regression (an extra serial
        // materialization job before the parallel consumers; q224
        // 3.89 -> 4.94 s) — the micro-batch lineage is shallow, so
        // there is no planning debt for the checkpoint to pay off.
        val rows = cdcVecsOf(batch
          .filter(col("_change_type") === "insert")).persist()
        try {
          // fragment append and centroid-fold aggregation both read
          // the cached rows and are independent — concurrent (guide
          // §2.6); the state mutation stays on this thread
          var agg: Array[(Int, Seq[Long], Long)] = null
          AnnIndex.inParallel(
            AnnIndex.clusterForWrite(rows, "label").write.mode("append")
              .partitionBy("label").parquet(fragDir),
            { agg = cdcCellAgg(rows) })
          cdcApply(state, agg, 1)
        } finally { rows.unpersist(); () }
      }
      // ---- serve from the MAINTAINED state (base + fragments)
      val qs = s.read.parquet(baseDir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("nn").as("qn"))
      val incr = graft.core.Phases("serve") {
        stateServe(qs, stateFrame(s, state),
          s.read.parquet(baseDir).unionByName(s.read.parquet(fragDir)))
      }
      // ---- the freshness AUDIT against a from-scratch rebuild over
      // the table's current snapshot
      cdcFreshAudit(t, qs, incr)
    },

    Q("q217_ann_lsm_fold_retire",
      "The FULL LSM lifecycle for the ANN index (r16 verdict item 1 — " +
        "q212 proved fold-of-ONE and nothing ever vacuumed a folded " +
        "fragment; at 100 TB the fragment pile IS the read " +
        "amplification): THREE accumulated delta fragments — each an " +
        "upsert batch assigned against the PINNED base coarse " +
        "quantizer, the FAISS/Milvus posture that makes folds " +
        "arrival-order-independent — are folded in ONE " +
        "affected-cells-only pass (base partition-pruned to the union " +
        "of the fragments' cells; untouched cells never read) and the " +
        "folded fragments are RETIRED atomically: the index MANIFEST " +
        "swaps {base + 3 fragments} -> {base + overlay} in one atomic " +
        "rename under the docstore commit lock (with a conflict check " +
        "that refuses if the fragment set changed since the fold was " +
        "computed), and only then are the retired fragment files " +
        "deleted — a reader resolves its layer set from ONE manifest " +
        "snapshot, so there is NO window where a vector is served " +
        "from both its fragment and the overlay (no double-count) or " +
        "from neither (no loss). serve-after == serve-before row for " +
        "row (required in-gate, and both equal q207's pre-fold serve " +
        "— the shared oracle pins the whole triple). At 100 TB: fold " +
        "cost scales with fragment bytes + affected cells, the " +
        "manifest swap is metadata-sized, and retired fragments stop " +
        "taxing every probe — compaction, scheduled off-peak.",
      Some(annIncOracle)) { (s, dir) =>
      // the fold MUTATES index state — operate on a per-invocation copy
      // of the pristine Scratch table (milliseconds; the catalogCopy
      // precedent)
      val path = graft.core.Fs.rotatingTempRoot("q217_lsm").resolve("vecs")
      graft.core.Phases("setup") {
        graft.core.Fs.copyRecursively(
          java.nio.file.Paths.get(annIncTable(s, dir)), path)
      }
      val idxRoot = AnnIndex.dirFor(path.toString, "q")
      val pending = AnnIndex.load(idxRoot)
      val before = graft.core.Phases("serve_pre") {
        annServe(s, dir, path.toString).collect()
      }
      // ---- the FOLD + atomic RETIRE: one affected-cells-only pass,
      // the conflict-checked manifest swap under the commit lock, and
      // the retired fragments deleted only after the swap
      val f = graft.core.Phases("fold") { AnnIndex.fold(path.toString, "q") }
      require(f.foldedFragments == 3 && f.retiredLayers == 3,
        s"expected 3 fragments folded and retired, got $f")
      require(pending.frags.forall(fr =>
        !java.nio.file.Files.exists(idxRoot.resolve(fr))),
        "retired fragments must be deleted after the swap")
      val post = AnnIndex.load(idxRoot)
      require(post.frags.isEmpty && post.folds.nonEmpty,
        s"post-fold manifest must list base + overlay only, got $post")
      // ---- serve AFTER, resolved through the swapped manifest;
      // persist: the caller executes the returned frame again
      val afterDf = annServe(s, dir, path.toString).persist()
      val after = graft.core.Phases("serve_post") { afterDf.collect() }
      requireSame(before, after,
        "serve-after-fold must equal serve-before-fold")
      afterDf
    },

    Q("q218_filtered_ann_skew",
      "SKEW REMEDIATION for filtered vector search (r16 verdict item " +
        "2 — q213's recall audit MEASURED that global centroids can " +
        "under-recall a skewed filter slice; this gate ACTS on it, " +
        "the Milvus partition-key / Lance scalar-index answer: " +
        "partition the INDEX by the filter key). The skew is the " +
        "realistic one — one source's content concentrates in two " +
        "clusters (src = 0 iff label <= 1; think a code source " +
        "inside a text corpus). A filtered query probed through " +
        "GLOBAL centroids ranks all ten cells by whole-corpus " +
        "geometry, lands its nprobe = 2 on cells holding ZERO " +
        "src-0 vectors, and returns a silently empty or partial " +
        "top-k — recall_global collapses (the production failure " +
        "filtered-ANN stacks monitor for). The PER-SRC centroid " +
        "tables (metadata-sized, nested under the same src=<k>/" +
        "label=<cell>/ layout) rank only the slice's own cells, so " +
        "the same nprobe covers the slice and recall_slice = 1.0 — " +
        "asserted in-gate, computed (not assumed) in BOTH engines " +
        "against the exact filtered baseline. At 100 TB: one extra " +
        "cells x srcs x dim integer table turns the skewed-filter " +
        "tail from a recall incident into a partition-pruned read.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n0 AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT vec_id, label, q, nn,
                      CASE WHEN label <= 1 THEN 0
                           ELSE 1 + vec_id % 2 END AS src
               FROM n0 WHERE nn > 0),
        cellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                    FROM nz CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                    GROUP BY 1, 2),
        cent AS (SELECT label, array_agg(s ORDER BY i) AS sv
                 FROM cellsum GROUP BY 1),
        cnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM nz GROUP BY 1),
        cc AS (SELECT cent.label, sv, c
               FROM cent JOIN cnt ON cent.label = cnt.label),
        s0 AS (SELECT * FROM nz WHERE src = 0),
        scellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                     FROM s0 CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                     GROUP BY 1, 2),
        scent AS (SELECT label, array_agg(s ORDER BY i) AS sv
                  FROM scellsum GROUP BY 1),
        scnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM s0 GROUP BY 1),
        scc AS (SELECT scent.label, sv, c
                FROM scent JOIN scnt ON scent.label = scnt.label),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM nz
               WHERE vec_id >= 5 AND vec_id < 15),
        ex AS (SELECT qid, s0.vec_id AS nid,
                      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                        ${oDot("qv", "q")}::DOUBLE /
                          (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) DESC,
                        s0.vec_id) AS ernk
               FROM qs JOIN s0 ON s0.vec_id <> qs.qid),
        ex3 AS (SELECT qid, nid FROM ex WHERE ernk <= 3),
        gdist AS (SELECT qid, cc.label, qv, qn,
                         ${oCellDist("qv")} AS d
                  FROM qs CROSS JOIN cc),
        gprobe AS (SELECT qid, label, qv, qn FROM (
                     SELECT qid, label, qv, qn,
                            ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY d, label) AS pr
                     FROM gdist) WHERE pr <= 2),
        gcand AS (SELECT qid, s0.vec_id AS nid,
                         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                           ${oDot("qv", "q")}::DOUBLE /
                             (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) DESC,
                           s0.vec_id) AS rnk
                  FROM gprobe JOIN s0 ON s0.label = gprobe.label
                                     AND s0.vec_id <> gprobe.qid),
        grec AS (SELECT e.qid,
                        ROUND(COUNT(g.nid) / 3.0, 6) AS recall
                 FROM ex3 e LEFT JOIN
                   (SELECT qid, nid FROM gcand WHERE rnk <= 3) g
                   ON e.qid = g.qid AND e.nid = g.nid
                 GROUP BY e.qid),
        sdist AS (SELECT qid, scc.label, qv, qn,
                         ${oCellDist("qv")} AS d
                  FROM qs CROSS JOIN scc),
        sprobe AS (SELECT qid, label, qv, qn FROM (
                     SELECT qid, label, qv, qn,
                            ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY d, label) AS pr
                     FROM sdist) WHERE pr <= 2),
        scand AS (SELECT qid, s0.vec_id AS nid, s0.label AS cell,
                         ${oDot("qv", "q")}::DOUBLE /
                           (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                  FROM sprobe JOIN s0 ON s0.label = sprobe.label
                                     AND s0.vec_id <> sprobe.qid),
        s3 AS (SELECT qid, nid, cell, cos,
                      ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cos DESC, nid) AS rnk
               FROM scand),
        srec AS (SELECT e.qid,
                        ROUND(COUNT(x.nid) / 3.0, 6) AS recall
                 FROM ex3 e LEFT JOIN
                   (SELECT qid, nid FROM s3 WHERE rnk <= 3) x
                   ON e.qid = x.qid AND e.nid = x.nid
                 GROUP BY e.qid)
        SELECT s3.qid AS query_id, s3.rnk::INT AS rnk,
               s3.nid AS neighbor_id, s3.cell,
               ROUND(s3.cos, 6) AS cosine,
               srec.recall AS recall_slice, grec.recall AS recall_global
        FROM s3 JOIN srec ON s3.qid = srec.qid
                JOIN grec ON s3.qid = grec.qid
        WHERE s3.rnk <= 3 ORDER BY query_id, rnk""")) { (s, dir) =>
      val idx = graft.core.Scratch.materialize("ivf_filtered_slice",
        s"v2|$dir|${graft.core.Scratch.sourceSignature(dir)}") { p =>
        val v = quantized(s, dir).withColumn("src",
          when(col("label") <= 1, lit(0L))
            .otherwise(lit(1L) + pmod(col("vec_id"), lit(2))))
        AnnIndex.centroidTable(v).write
          .parquet(java.nio.file.Paths.get(p, "centroids").toString)
        // the remediation: ONE per-src centroid table, src-partitioned
        // (a probe reads exactly its slice's cells-x-dim integers)
        AnnIndex.clusterForWrite((0L to 2L)
            .map(k => AnnIndex.centroidTable(v.filter(col("src") === k))
              .withColumn("src", lit(k)))
            .reduce(_.unionByName(_)), "src")
          .write.partitionBy("src")
          .parquet(java.nio.file.Paths.get(p, "scentroids").toString)
        AnnIndex.clusterForWrite(v, "src", "label")
          .write.partitionBy("src", "label")
          .parquet(java.nio.file.Paths.get(p, "vectors").toString)
      }
      val qs = s.read.parquet(s"$idx/vectors")
        .filter(col("vec_id") >= 5 && col("vec_id") < 15)
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("nn").as("qn"))
      // probe ONCE per centroid table (r19 probePairs shape): the
      // rank3/recall jobs used to re-execute the probe subtree
      // building their broadcasts
      def probeOf(cents: DataFrame) = AnnIndex.probePairs(s, qs, cents, 2)
      def rank3(pool: DataFrame, probe: DataFrame): DataFrame =
        AnnIndex.rerank(pool.join(broadcast(probe),
          pool("label") === probe("label") && col("vec_id") =!= col("qid")), 3)
      // exact ground truth over the filtered slice (src-pruned scan)
      val slice = s.read.parquet(s"$idx/vectors").filter(col("src") === 0)
      val ex3 = exactTopK(slice, qs, 3)
        .select(col("qid").as("eqid"), col("vec_id").as("enid"))
      def recallOf(top3: DataFrame, name: String): DataFrame =
        ex3.join(broadcast(top3
            .select(col("qid").as("tqid"), col("vec_id").as("tnid"))),
            col("eqid") === col("tqid") && col("enid") === col("tnid"),
            "left")
          .groupBy(col("eqid").as(s"${name}_qid"))
          .agg(round(count(col("tnid")) / 3.0, 6).as(name))
      // GLOBAL path: whole-corpus centroids mis-rank the skewed slice
      val (gCellIds, gcells) = probeOf(s.read.parquet(s"$idx/centroids"))
      val gPool = slice.filter(col("label").isin(gCellIds: _*))
      val gRec = recallOf(rank3(gPool, gcells), "recall_global")
      // SLICED path: per-src centroids (partition-pruned to src = 0)
      // rank only the slice's own cells — nprobe covers the slice
      val (sCellIds, scells) = probeOf(s.read.parquet(s"$idx/scentroids")
        .filter(col("src") === 0).drop("src"))
      val sPool = slice.filter(col("label").isin(sCellIds: _*))
      val s3 = rank3(sPool, scells)
      val sRec = recallOf(s3, "recall_slice")
      val out = annRows(s3, sPool("label"))
        .join(broadcast(sRec), col("query_id") === col("recall_slice_qid"))
        .join(broadcast(gRec), col("query_id") === col("recall_global_qid"))
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("cell"), col("cosine"), col("recall_slice"),
          col("recall_global"))
        .orderBy("query_id", "rnk")
      // the remediation contract, asserted where the driver can see a
      // loud failure: the per-slice index recovers FULL recall on the
      // slice the global index under-recalls (persist: the caller
      // executes the returned frame again — serve once, not twice)
      out.persist()
      val rows = out.collect()
      require(rows.nonEmpty && rows.forall(_.getDouble(5) == 1.0),
        s"per-src centroids must recover recall@3 = 1.0 on the " +
          s"skewed slice: ${rows.map(_.getDouble(5)).toSeq}")
      require(rows.exists(_.getDouble(6) < 1.0),
        "the skewed slice must DEMONSTRATE global under-recall " +
          s"(got ${rows.map(_.getDouble(6)).distinct.toSeq})")
      out
    },

    Q("q221_ann_tombstone_delete",
      "DELETION through the LSM ANN index — the right-to-be-forgotten " +
        "/ decontamination face the lifecycle was missing (q207 " +
        "inserts, q212/q217 fold; production stacks must also FORGET: " +
        "a takedown or a contaminated-document purge must leave the " +
        "serving index, not just the corpus). Delete requests arrive " +
        "from the corpus pipeline CARRYING THEIR ROWS (the q214 CDF " +
        "posture), so the TOMBSTONE FRAGMENT is cell-partitioned and " +
        "metadata-locatable — no corpus scan ever looks up where a " +
        "deleted id lives. Three phases, each batch-or-metadata-" +
        "sized: (1) the tombstone fragment publishes (vec_id, cell) " +
        "keys plus per-cell integer sums/counts, and the centroid " +
        "state SUBTRACTS them — exact, because integer sums are a " +
        "group under addition where float means are not; (2) " +
        "serve-with-tombstones probes the subtracted centroids and " +
        "ANTI-JOINS the broadcast tombstone keys inside probed cells " +
        "only — deleted vectors are unfindable IMMEDIATELY, before " +
        "any rewrite; (3) COMPACTION rewrites only the affected " +
        "cells without the tombstoned rows and atomically retires " +
        "the fragment (commit-locked manifest swap, fragment files " +
        "deleted after the swap), and serve-after-compaction == " +
        "serve-with-tombstones row for row (required in-gate; the " +
        "oracle — brute force over the surviving vectors — pins both " +
        "independently). In-gate audits: no tombstoned id in either " +
        "serve, none left in the compacted cells, fragment gone. At " +
        "100 TB: forget-latency is one metadata commit, compaction " +
        "cost scales with affected cells, and the physical bytes " +
        "leave at the next fold — the GDPR story an append-only " +
        "index cannot tell.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        base AS (SELECT * FROM nz WHERE vec_id % 10 <> 0),
        live AS (SELECT * FROM base WHERE vec_id % 7 <> 3),
        cellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                    FROM live CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                    GROUP BY 1, 2),
        cent AS (SELECT label, array_agg(s ORDER BY i) AS sv
                 FROM cellsum GROUP BY 1),
        cnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM live GROUP BY 1),
        cc AS (SELECT cent.label, sv, c
               FROM cent JOIN cnt ON cent.label = cnt.label),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM base
               WHERE vec_id < 5),
        dist AS (SELECT qid, cc.label, qv, qn,
                        ${oCellDist("qv")} AS d
                 FROM qs CROSS JOIN cc),
        probe AS (SELECT qid, label, qv, qn FROM (
                    SELECT qid, label, qv, qn,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY d, label) AS pr
                    FROM dist) WHERE pr <= 2),
        cand AS (SELECT qid, live.vec_id AS neighbor_id, live.label,
                        ${oDot("qv", "q")}::DOUBLE /
                          (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                 FROM probe JOIN live ON live.label = probe.label
                                     AND live.vec_id <> probe.qid),
        r AS (SELECT qid AS query_id, neighbor_id, label AS cell, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos DESC, neighbor_id) AS rnk
              FROM cand)
        SELECT query_id, rnk::INT AS rnk, neighbor_id, cell,
               ROUND(cos, 6) AS cosine
        FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""")) { (s, dir) =>
      // per-invocation copy: compaction RETIRES the tombstone layer
      val path = graft.core.Fs.rotatingTempRoot("q221_tomb").resolve("vecs")
      graft.core.Phases("setup") {
        graft.core.Fs.copyRecursively(
          java.nio.file.Paths.get(annTombTable(s, dir)), path)
      }
      val idxRoot = AnnIndex.dirFor(path.toString, "q")
      val pending = AnnIndex.load(idxRoot)
      val deadIds = graft.core.Phases("setup") { tombstonedIds(s, pending) }
      // no arrivals: every row is base, so is_new is constant and the
      // serve is exactly top-3
      def serve(): DataFrame = annServe(s, dir, path.toString)
        .select("query_id", "rnk", "neighbor_id", "cell", "cosine")
      // ---- serve WITH the pending tombstone: subtracted centroids and
      // the broadcast keys anti-joined inside probed cells — deleted
      // vectors are unfindable before any byte is rewritten
      val before = graft.core.Phases("serve_pre") { serve().collect() }
      require(before.forall(r => !deadIds(r.getLong(2))),
        "a tombstoned vector surfaced in the masked serve")
      // ---- COMPACTION: rewrite only the affected cells without the
      // tombstoned rows, seal the subtracted centroids, swap the
      // manifest atomically, delete the retired tombstone layer
      val f = graft.core.Phases("compact") {
        AnnIndex.fold(path.toString, "q")
      }
      require(f.appliedTombstones == 1 && pending.tombs.forall(tb =>
        !java.nio.file.Files.exists(idxRoot.resolve(tb))),
        "the retired tombstone fragment must be deleted after the swap")
      val leaked = graft.core.Phases("audit") {
        foldedLeaks(s, idxRoot, deadIds)
      }
      require(leaked == 0, s"$leaked tombstoned rows survived compaction")
      val afterDf = serve().persist()
      val after = graft.core.Phases("serve_post") { afterDf.collect() }
      requireSame(before, after,
        "serve-after-compaction must equal serve-with-tombstones")
      afterDf
    },

    Q("q222_cdc_ann_forget",
      "CDC-DRIVEN FORGETTING — q214's freshness pipeline closed for " +
        "DELETES (q214 streams inserts into the index; a production " +
        "corpus also takes takedowns, and the index must forget " +
        "WITHOUT a rebuild and WITHOUT scanning the corpus): vectors " +
        "live in a docstore table, the nightly build lays the base " +
        "out cell-partitioned, then three DELETE commits remove a " +
        "slice and the table's CHANGE DATA FEED STREAM drives index " +
        "maintenance through foreachBatch — each commit's delete " +
        "rows arrive as ONE micro-batch CARRYING THEIR PRE-IMAGE " +
        "VALUES (the CDF contract is what makes the tombstone " +
        "cell-locatable with zero lookups), the batch appends a " +
        "cell-partitioned tombstone fragment, and the associative " +
        "integer centroid state SUBTRACTS the batch's per-cell " +
        "sums/counts. Serving probes the subtracted centroids and " +
        "anti-joins the broadcast tombstone keys inside probed " +
        "cells; the `fresh` column is the in-query audit joining it " +
        "row-by-row against a from-scratch rebuild over the table's " +
        "CURRENT snapshot (the oracle IS the rebuild). NO maintenance " +
        "step rescans the corpus: per batch, work is batch + " +
        "metadata. Composes q214 (CDF-driven maintenance), q216 " +
        "(the DELETE itself can be metadata-only on the table side) " +
        "and q221 (tombstone serving) into the full forget path a " +
        "GDPR/takedown pipeline runs at 100 TB.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        live AS (SELECT * FROM nz WHERE vec_id % 7 <> 3),
        cellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                    FROM live CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                    GROUP BY 1, 2),
        cent AS (SELECT label, array_agg(s ORDER BY i) AS sv
                 FROM cellsum GROUP BY 1),
        cnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM live GROUP BY 1),
        cc AS (SELECT cent.label, sv, c
               FROM cent JOIN cnt ON cent.label = cnt.label),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM nz
               WHERE vec_id < 5),
        dist AS (SELECT qid, cc.label, qv, qn,
                        ${oCellDist("qv")} AS d
                 FROM qs CROSS JOIN cc),
        probe AS (SELECT qid, label, qv, qn FROM (
                    SELECT qid, label, qv, qn,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY d, label) AS pr
                    FROM dist) WHERE pr <= 2),
        cand AS (SELECT qid, live.vec_id AS neighbor_id, live.label,
                        ${oDot("qv", "q")}::DOUBLE /
                          (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                 FROM probe JOIN live ON live.label = probe.label
                                     AND live.vec_id <> probe.qid),
        r AS (SELECT qid AS query_id, neighbor_id, label AS cell, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos DESC, neighbor_id) AS rnk
              FROM cand)
        SELECT query_id, rnk::INT AS rnk, neighbor_id, cell,
               ROUND(cos, 6) AS cosine, TRUE AS fresh
        FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""")) { (s, dir) =>
      val root = graft.core.Fs.rotatingTempRoot("q222_forget")
      // merge-on-read DELETEs: deletion vectors make the change feed
      // emit EXACTLY the deleted rows (the CDC-friendly cost model —
      // Delta enables DVs by default for the same reason); a
      // copy-on-write DELETE would surface as rewrite churn
      // (delete-all + reinsert-survivors) in a snapshot-diff CDF
      val t = new VecTable(s, dir, "graft_cat_fg", root, mor = true)
      t.ins("true")
      val b = graft.core.Phases("build") {
        AnnIndex.build(t.path, "doc_id", "q", "vlabel")
      }
      // commits 2-4: three takedown batches (together: doc_id % 7 = 3)
      (0 to 2).foreach(k => t.del(s"doc_id % 7 = 3 AND doc_id % 3 = $k"))
      // ---- streaming maintenance: each DELETE commit's micro-batch
      // (pre-image rows) goes to AnnIndex.syncBatch — one tombstone
      // layer per commit, the centroid state SUBTRACTing its sums
      drainChanges(t, b.builtAtVersion + 1, root) { batch =>
        AnnIndex.syncBatch(t.path, "q", batch); ()
      }
      val L = AnnIndex.load(AnnIndex.dirFor(t.path, "q"))
      require(L.tombs.size == 3 && L.frags.isEmpty,
        s"expected one tombstone layer per DELETE commit, got $L")
      // ---- serve from the maintained index (base minus the masked
      // tombstone keys, subtracted centroids)
      val incr = graft.core.Phases("serve") {
        annServe(s, dir, t.path, "vec_id < 5")
          .select("query_id", "rnk", "neighbor_id", "cell", "cosine")
      }
      // ---- freshness audit against a from-scratch rebuild over the
      // table's CURRENT snapshot, off the maintenance path
      cdcFreshAudit(t, annQueries(s, dir, "vec_id < 5"), incr)
    },

    Q("q223_ann_procedures",
      "The ANN index as a FIRST-CLASS docstore object (r17 verdict " +
        "item 1 — until now the LSM lifecycle was gate-local plumbing " +
        "every consumer would re-implement): this gate runs the FULL " +
        "q217 lifecycle purely through the catalog's SQL procedure " +
        "surface — CALL system.ann_build (base layer + pinned coarse " +
        "quantizer, stored beside the table's own manifest under " +
        "_ann/<col>/), three INSERT commits, CALL system.ann_sync " +
        "(CDF-driven: one cell-partitioned delta fragment per table " +
        "version, assigned against the pinned quantizer, integer " +
        "centroid state folded associatively — batch+metadata per " +
        "version, never a corpus rescan), and CALL system.ann_fold " +
        "(ONE affected-cells-only compaction pass, conflict-checked " +
        "atomic manifest swap under the docstore commit lock, retired " +
        "fragments deleted only after the swap). The library serve " +
        "resolves every read from ONE manifest snapshot (layer " +
        "shadowing newest-first), and serve-after-fold == " +
        "serve-before-fold row for row is required in-gate; both " +
        "equal q207/q212/q217's shared oracle — four independent " +
        "implementations of the same contract now pin each other. At " +
        "100 TB this is the difference between a re-plumbed script " +
        "per pipeline and `CALL system.ann_*` next to OPTIMIZE/" +
        "VACUUM/ANALYZE in the nightly maintenance job.",
      Some(annIncOracle)) { (s, dir) =>
      val t = new VecTable(s, dir, "graft_cat_ap",
        graft.core.Fs.rotatingTempRoot("q223_annproc"))
      val sc = t.sc
      // commit 1: the nightly slice; then the build — THROUGH SQL
      t.ins("vec_id % 10 <> 0")
      val b = graft.core.Phases("build") {
        sc.sql("CALL graft_cat_ap.system.ann_build(" +
          "'default.vecs', 'doc_id', 'q', 'vlabel')").head()
      }
      require(b.getLong(3) > 0, s"ann_build indexed no vectors: $b")
      // commits 2-4: three arrival batches; ONE sync call folds all
      // three pending versions — one fragment per commit
      t.ins("vec_id % 10 = 0 AND vec_id % 3 = 0")
      t.ins("vec_id % 10 = 0 AND vec_id % 3 = 1")
      t.ins("vec_id % 10 = 0 AND vec_id % 3 = 2")
      val sy = graft.core.Phases("sync") {
        sc.sql("CALL graft_cat_ap.system.ann_sync(" +
          "'default.vecs', 'q')").head()
      }
      require(sy.getLong(2) == 3 && sy.getLong(3) == 0,
        s"expected 3 fragments / 0 tombstones from ann_sync, got $sy")
      val tablePath = t.path
      val idxRoot = AnnIndex.dirFor(tablePath, "q")
      val qs = s.read.parquet(
          idxRoot.resolve("base").resolve("vectors").toString)
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("nn").as("qn"))
      // the index stores cells as LONG partition values; the oracle's
      // cell column is the parquet label (INT) — align the output type
      def serve(): DataFrame = graft.sources.AnnIndex
        .serve(sc, tablePath, "q", qs)
        .withColumn("cell", col("cell").cast("int"))
      val before = graft.core.Phases("serve_pre") { serve().collect() }
      val f = graft.core.Phases("fold") {
        sc.sql("CALL graft_cat_ap.system.ann_fold(" +
          "'default.vecs', 'q')").head()
      }
      require(f.getLong(0) == 3 && f.getLong(3) == 3,
        s"expected 3 fragments folded and retired, got $f")
      require((0 to 2).forall(k => !java.nio.file.Files.exists(
        idxRoot.resolve(s"frag-${b.getLong(1) + 1 + k}"))),
        "retired fragment dirs must be deleted after the swap")
      val afterDf = serve()
      // persist: the caller executes the returned frame again
      afterDf.persist()
      val after = graft.core.Phases("serve_post") { afterDf.collect() }
      require(before.toSeq == after.toSeq,
        s"serve-after-fold must equal serve-before-fold: " +
          s"${before.toSeq.diff(after.toSeq)} vs " +
          s"${after.toSeq.diff(before.toSeq)}")
      afterDf
    },

    Q("q224_cdc_ann_mixed",
      "ONE CDF stream, BOTH change types (r17 verdict item 3 — q214 " +
        "maintained the index from an insert stream, q222 from a " +
        "delete stream; a production upsert feed INTERLEAVES them, " +
        "and the index must consume the one real change log, not two " +
        "curated ones): five commits alternate INSERT and DELETE on a " +
        "merge-on-read docstore table, and a SINGLE foreachBatch over " +
        "the table's change feed routes each micro-batch's rows by " +
        "_change_type against ONE shared state — inserts append a " +
        "cell-partitioned delta fragment and ADD their per-cell " +
        "integer aggregates, deletes append a cell-partitioned " +
        "tombstone (pre-image rows make it cell-locatable with zero " +
        "lookups) and SUBTRACT theirs. The deletes deliberately hit " +
        "rows that arrived through EARLIER insert batches as well as " +
        "base rows — the cross-type interaction a split pipeline " +
        "gets wrong (a tombstone must mask fragment rows too, and " +
        "the centroid group structure makes ADD-then-SUBTRACT exact " +
        "in either arrival order). Serving probes the maintained " +
        "centroids over base + fragments minus broadcast tombstone " +
        "keys; the `fresh` column audits it row-by-row against a " +
        "from-scratch rebuild over the table's CURRENT snapshot " +
        "(centroids re-derived from the snapshot — the oracle IS the " +
        "rebuild). Per batch the work is batch + metadata; no step " +
        "rescans the corpus. This is the steady-state maintenance " +
        "loop a 100 TB index runs forever.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        live AS (SELECT * FROM nz
                 WHERE NOT (vec_id % 7 = 3 AND vec_id % 3 IN (0, 1))),
        cellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                    FROM live CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                    GROUP BY 1, 2),
        cent AS (SELECT label, array_agg(s ORDER BY i) AS sv
                 FROM cellsum GROUP BY 1),
        cnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM live GROUP BY 1),
        cc AS (SELECT cent.label, sv, c
               FROM cent JOIN cnt ON cent.label = cnt.label),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM nz
               WHERE vec_id < 5 AND vec_id % 10 <> 0),
        dist AS (SELECT qid, cc.label, qv, qn,
                        ${oCellDist("qv")} AS d
                 FROM qs CROSS JOIN cc),
        probe AS (SELECT qid, label, qv, qn FROM (
                    SELECT qid, label, qv, qn,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY d, label) AS pr
                    FROM dist) WHERE pr <= 2),
        cand AS (SELECT qid, live.vec_id AS neighbor_id, live.label,
                        ${oDot("qv", "q")}::DOUBLE /
                          (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                 FROM probe JOIN live ON live.label = probe.label
                                     AND live.vec_id <> probe.qid),
        r AS (SELECT qid AS query_id, neighbor_id, label AS cell, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos DESC, neighbor_id) AS rnk
              FROM cand)
        SELECT query_id, rnk::INT AS rnk, neighbor_id, cell,
               ROUND(cos, 6) AS cosine, TRUE AS fresh
        FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""")) { (s, dir) =>
      val root = graft.core.Fs.rotatingTempRoot("q224_mixed")
      // merge-on-read: DELETE commits emit exactly the deleted rows
      // with their pre-image values on the change feed (q222's cost
      // model) — what keeps the tombstone cell-locatable lookup-free
      val t = new VecTable(s, dir, "graft_cat_mx", root, mor = true)
      // commit 1: the nightly slice the base index is built from
      t.ins("vec_id % 10 <> 0")
      val baseV =
        graft.sources.DocStoreCommitOps.nextVersion(t.path) - 1
      // commits 2-6: INSERT and DELETE interleave; each DELETE also
      // hits rows the PREVIOUS insert batch brought in (cross-type)
      t.ins("vec_id % 10 = 0 AND vec_id % 3 = 0")
      t.del("doc_id % 7 = 3 AND doc_id % 3 = 0")
      t.ins("vec_id % 10 = 0 AND vec_id % 3 = 1")
      t.del("doc_id % 7 = 3 AND doc_id % 3 = 1")
      t.ins("vec_id % 10 = 0 AND vec_id % 3 = 2")
      val baseDir = root.resolve("base").toString
      val state = cdcBuild(t, baseV, baseDir)
      // ---- ONE maintenance stream: each micro-batch (one per commit)
      // routes its rows by change type against the SHARED state
      val fragDir = root.resolve("frags").toString
      val tombDir = root.resolve("tombs").toString
      drainChanges(t, baseV + 1, root) { batch =>
        // persist ONCE: both routes read the commit's CDF segments
        // from the cache, not twice from disk (persist, not
        // localCheckpoint — see the q214 batch note)
        val chg = batch.persist()
        try {
          val insRows = cdcVecsOf(chg
            .filter(col("_change_type") === "insert"))
          val delRows = cdcVecsOf(chg
            .filter(col("_change_type") === "delete"))
          // both routes' aggregations read the cached commit — run
          // them concurrently, then the (independent-dir) layer writes
          // the counts justify, then the state mutations on this
          // thread. ADD-then-SUBTRACT stays exact in any order
          // (integer group); the apply order is kept ins-then-del.
          var insAgg: Array[(Int, Seq[Long], Long)] = null
          var delAgg: Array[(Int, Seq[Long], Long)] = null
          AnnIndex.inParallel(
            { insAgg = cdcCellAgg(insRows) },
            { delAgg = cdcCellAgg(delRows) })
          val writes = Seq(
            if (insAgg.nonEmpty) Some(() =>
              AnnIndex.clusterForWrite(insRows, "label").write
                .mode("append").partitionBy("label")
                .parquet(fragDir) : Unit) else None,
            if (delAgg.nonEmpty) Some(() =>
              AnnIndex.clusterForWrite(delRows.select("vec_id", "label"),
                  "label")
                .write.mode("append")
                .partitionBy("label").parquet(tombDir) : Unit) else None
          ).flatten
          AnnIndex.inParallelAll(writes)
          cdcApply(state, insAgg, 1)
          cdcApply(state, delAgg, -1)
        } finally { chg.unpersist(); () }
      }
      // ---- serve from the maintained state: probed cells of base +
      // fragments, masked by the broadcast tombstone keys (the mask
      // covers FRAGMENT rows too — the cross-type case)
      val tombKeys = s.read.parquet(tombDir)
      val qs = s.read.parquet(baseDir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("nn").as("qn"))
      val incr = graft.core.Phases("serve") {
        stateServe(qs, stateFrame(s, state),
          s.read.parquet(baseDir).unionByName(s.read.parquet(fragDir))
            .join(broadcast(tombKeys), Seq("vec_id", "label"), "left_anti"))
      }
      // ---- freshness audit vs a from-scratch rebuild of the CURRENT
      // snapshot (centroids re-derived from the snapshot, never the
      // maintained state)
      cdcFreshAudit(t, qs, incr)
    },

    Q("q225_filtered_ann_lsm",
      "LSM maintenance for the FILTERED index (r17 verdict item 4 — " +
        "q218's per-src centroid tables were built once, statically; " +
        "at 100 TB the filtered index needs the same fragment/" +
        "tombstone lifecycle as the global one, scoped to its src " +
        "partition): the filtered family (one self-contained " +
        "sub-index per src under src=<k>/, per-src pinned quantizers; " +
        "AnnIndex.build with a filter column) syncs an UPSERT commit " +
        "(held-out arrivals assigned against src 0's pinned " +
        "centroids -> a cell-partitioned fragment) and a DELETE " +
        "commit (tombstone keys + per-cell integer aggregates " +
        "SUBTRACTed from src 0's centroid state), then a FOLD pruned " +
        "to src 0's affected cells with the q217 atomic retire " +
        "(conflict-checked manifest swap under the commit lock, " +
        "retired fragment/tombstone dirs deleted after the swap). " +
        "serve-after-fold == serve-before-fold row for row, " +
        "tombstoned ids unfindable in both, upserted ids searchable " +
        "(is_new). The OTHER slice is the point: src 1's serve runs " +
        "through the SAME manifest epoch and its input-file set is " +
        "asserted in-gate to contain ZERO lifecycle files — every " +
        "file it reads lives under the immutable base layout, so one " +
        "src's maintenance storm never taxes another src's latency. " +
        "At 100 TB: per-src maintenance cost scales with that src's " +
        "fragments + affected cells; the blast radius of an upsert " +
        "or takedown is its own partition, by construction.",
      Some(filteredLsmOracle)) { (s, dir) =>
      // per-invocation copy of the pristine family table: base built
      // (one self-contained sub-index per src), src 0's upsert and
      // delete commits pending on the change feed
      val path = graft.core.Fs.rotatingTempRoot("q225_flsm")
        .resolve("vecs").toString
      graft.core.Phases("setup") {
        graft.core.Fs.copyRecursively(
          java.nio.file.Paths.get(annFamilyTable(s, dir)),
          java.nio.file.Paths.get(path))
      }
      // ---- ONE sync: src 0's arrivals assigned against ITS pinned
      // quantizer -> a fragment, its takedowns -> a tombstone; src 1
      // and src 2 only advance their cursors
      val sy = graft.core.Phases("sync") { AnnIndex.sync(path, "q") }
      require(sy.fragments == 1 && sy.tombstones == 1,
        s"expected 1 fragment + 1 tombstone (both in src 0), got $sy")
      val fam = AnnIndex.dirFor(path, "q")
      val sub0 = fam.resolve("src=0")
      val pending = AnnIndex.load(sub0)
      val deadIds = graft.core.Phases("delete") {
        tombstonedIds(s, pending)
      }
      // ---- the OTHER slice: src 1 serves while src 0 carries pending
      // layers, and every index file it reads lives under its own
      // immutable base — zero lifecycle files
      val s1serve = annServe(s, dir, path, filter = Some(1L))
      // inputFiles BEFORE persist: caching swaps the optimized plan's
      // scans for an InMemoryRelation and the file set goes empty
      val s1base = fam.resolve("src=1")
        .resolve(AnnIndex.load(fam.resolve("src=1")).base).toString
      val s1files = s1serve.inputFiles
        .map(f => java.net.URI.create(f).getPath)
        .filter(_.startsWith(fam.toString))
      s1serve.persist()
      require(s1files.nonEmpty && s1files.forall(_.startsWith(s1base)),
        s"src-1 serve must read zero lifecycle files, got " +
          s"${s1files.filterNot(_.startsWith(s1base)).toSeq}")
      // ---- serve WITH src 0's pending layers
      val before = graft.core.Phases("serve_pre") {
        annServe(s, dir, path, filter = Some(0L)).collect()
      }
      require(before.forall(r => !deadIds(r.getLong(2))),
        "a tombstoned vector surfaced in the masked src-0 serve")
      require(before.exists(_.getBoolean(4)),
        "an upserted vector must be searchable in the src-0 serve")
      // ---- FOLD: only src 0 holds pending layers, so only its cells
      // are rewritten and only its manifest swaps
      val f = graft.core.Phases("fold") { AnnIndex.fold(path, "q") }
      require(f.foldedFragments == 1 && f.appliedTombstones == 1,
        s"expected the fold to take 1 fragment + 1 tombstone, got $f")
      require((pending.frags ++ pending.tombs).forall(l =>
        !java.nio.file.Files.exists(sub0.resolve(l))),
        "retired layers must be deleted after the swap")
      val leaked = graft.core.Phases("audit") {
        foldedLeaks(s, sub0, deadIds)
      }
      require(leaked == 0, s"$leaked tombstoned rows survived the fold")
      val s0after = annServe(s, dir, path, filter = Some(0L)).persist()
      val after = graft.core.Phases("serve_post") { s0after.collect() }
      requireSame(before, after,
        "src-0 serve-after-fold must equal serve-before-fold")
      val out = s0after.withColumn("flt_src", lit(0))
        .unionByName(s1serve.withColumn("flt_src", lit(1)))
        .select(col("flt_src"), col("query_id"), col("rnk"),
          col("neighbor_id"), col("cell"), col("is_new"), col("cosine"))
        .orderBy("flt_src", "query_id", "rnk")
      out.persist()
      out
    },

    Q("q226_filtered_ann_family",
      "The FILTERED index as a first-class docstore object — q225's " +
        "per-src lifecycle driven purely through the catalog's SQL " +
        "procedures (the composition of this round's two promotions): " +
        "CALL system.ann_build('t','id','vec','cell','src') builds a " +
        "FAMILY of self-contained sub-indexes, one per filter value, " +
        "each with its OWN manifest, base layer, and pinned per-src " +
        "quantizer under _ann/<col>/src=<k>/ — the q225 blast-radius " +
        "contract made STRUCTURAL: one src's maintenance commits " +
        "never even open another src's manifest. One insert commit " +
        "and one delete commit land in src 0; ONE ann_sync call reads " +
        "each table version's change feed ONCE and routes every " +
        "sub-index its slice (per-sub synced cursors make a crash " +
        "between subs resume exactly); ann_fold compacts only the " +
        "sub-indexes holding pending layers. serve(src=0) after the " +
        "fold equals serve before it row for row; serve(src=1) is " +
        "asserted in-gate to read ZERO lifecycle files (no fragment/" +
        "tombstone/fold path in its input set — structurally " +
        "guaranteed by the separate trees, and checked anyway). The " +
        "oracle is SHARED with q225 — the gate-local lifecycle and " +
        "the procedure surface must produce identical serves, so the " +
        "two implementations pin each other. At 100 TB: `CALL " +
        "system.ann_build(..., filter_col)` next to OPTIMIZE in the " +
        "nightly job is the whole filtered-ANN deployment story.",
      Some(filteredLsmOracle)) { (s, dir) =>
      val t = new VecTable(s, dir, "graft_cat_fa",
        graft.core.Fs.rotatingTempRoot("q226_family"), mor = true, src = true)
      val sc = t.sc
      // commit 1: the base slice; the family build — THROUGH SQL
      t.ins("vec_id % 10 <> 0")
      val b = graft.core.Phases("build") {
        sc.sql("CALL graft_cat_fa.system.ann_build(" +
          "'default.vecs', 'doc_id', 'q', 'vlabel', 'src')").head()
      }
      require(b.getLong(3) > 0, s"family build indexed no vectors: $b")
      val tablePath = t.path
      val idxRoot = AnnIndex.dirFor(tablePath, "q")
      require(AnnIndex.isFamily(idxRoot),
        "ann_build with filter_col must produce a filtered family")
      // commits 2-3: an upsert and a takedown, both in src 0 only
      // (the delete targets BASE rows — q225's dead slice)
      t.ins("vec_id % 10 = 0 AND src = 0")
      graft.core.Phases("dml") {
        sc.sql("DELETE FROM graft_cat_fa.default.vecs " +
          "WHERE doc_id % 7 = 3 AND src = 0 AND doc_id % 10 <> 0")
      }
      val sy = graft.core.Phases("sync") {
        sc.sql("CALL graft_cat_fa.system.ann_sync(" +
          "'default.vecs', 'q')").head()
      }
      require(sy.getLong(2) == 1 && sy.getLong(3) == 1,
        s"expected 1 fragment + 1 tombstone (both in src 0), got $sy")
      // queries: base rows vec_id < 5 (any src) — the union of the
      // sub-index bases IS the base slice
      val qs = (0L to 2L).map(k => s.read.parquet(idxRoot
          .resolve(s"src=$k").resolve("base").resolve("vectors").toString))
        .reduce(_.unionByName(_))
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("nn").as("qn"))
      def serveF(src: Long): DataFrame = graft.sources.AnnIndex
        .serve(sc, tablePath, "q", qs, filter = Some(src))
        .withColumn("cell", col("cell").cast("int"))
      // src 1 serves WHILE src 0 carries pending layers: its input
      // set must contain zero lifecycle files (frag/tomb exist right
      // now in src 0's tree — and nowhere near src 1's)
      val s1pre = serveF(1L)
      // inputFiles BEFORE persist (caching swaps the scans for an
      // InMemoryRelation); persist because s1pre serves the output
      // union too — src 1 is untouched by the src-0 fold, so the
      // pre-fold serve IS the post-fold serve
      val s1files = graft.core.Phases("audit_inputs") {
        s1pre.inputFiles.map(f => java.net.URI.create(f).getPath)
      }
      s1pre.persist()
      require(s1files.nonEmpty && !s1files.exists(f =>
        f.contains("frag-") || f.contains("tomb-") || f.contains("fold-")),
        s"src-1 serve must read zero lifecycle files: " +
          s"${s1files.filter(f => f.contains("frag-") ||
            f.contains("tomb-") || f.contains("fold-")).toSeq}")
      val before = graft.core.Phases("serve_pre") { serveF(0L).collect() }
      val f = graft.core.Phases("fold") {
        sc.sql("CALL graft_cat_fa.system.ann_fold(" +
          "'default.vecs', 'q')").head()
      }
      require(f.getLong(0) == 1 && f.getLong(1) == 1,
        s"expected the fold to take 1 fragment + 1 tombstone, got $f")
      require(graft.sources.AnnIndex
        .load(idxRoot.resolve("src=1")).folds.isEmpty,
        "src 1 must not gain a fold level from src-0 compaction")
      val s0after = serveF(0L)
      s0after.persist()
      val after = graft.core.Phases("serve_post") { s0after.collect() }
      require(before.toSeq == after.toSeq,
        s"src-0 serve-after-fold must equal serve-before-fold: " +
          s"${before.toSeq.diff(after.toSeq)} vs " +
          s"${after.toSeq.diff(before.toSeq)}")
      val out = s0after.withColumn("flt_src", lit(0))
        .unionByName(s1pre.withColumn("flt_src", lit(1)))
        .select(col("flt_src"), col("query_id"), col("rnk"),
          col("neighbor_id"), col("cell"), col("is_new"), col("cosine"))
        .orderBy("flt_src", "query_id", "rnk")
      out.persist()
      out
    },

    Q("q227_ann_catalog_discovery",
      "The index's CATALOG story closed end-to-end through SQL (r18 " +
        "verdict items 4+6): the `t.ann` metadata table is the " +
        "discovery face — one row per (vector column, sub-index " +
        "scope) with the synced cursor and layer counts, the same " +
        "rows CALL system.ann_detail returns but composable like any " +
        "relation — and ann_fold's MANIFEST RETENTION is asserted " +
        "in-gate: sync publishes one MANIFEST.v<n> per table version " +
        "(the crash contract), and the fold expires every version " +
        "copy below its own publish, since they reference the layer " +
        "dirs the fold just deleted (the expire_snapshots contract, " +
        "applied to the index). The gate drives build + insert + " +
        "MoR delete + windowed sync through procedures, snapshots " +
        "`t.ann` BEFORE the fold (1 fragment + 1 tombstone pending) " +
        "and AFTER (compacted to 1 fold level, cursor unchanged), " +
        "and emits both phases; the oracle recomputes the cell count " +
        "from the corpus and pins the layer arithmetic as literals. " +
        "At 100 TB this is how a SQL-only consumer learns an index " +
        "exists, how fresh it is, and how much pending maintenance " +
        "it carries — without a procedure call or a filesystem walk.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        cells AS (SELECT COUNT(DISTINCT label)::BIGINT AS cells
                  FROM nz WHERE vec_id % 10 <> 0)
        SELECT ph.phase, 'q' AS vec_column, '' AS scope,
               2::BIGINT AS synced_delta, cells.cells,
               ph.fragments::BIGINT AS fragments,
               ph.tombstones::BIGINT AS tombstones,
               ph.folds::BIGINT AS folds
        FROM (VALUES ('folded', 0, 0, 1), ('pending', 1, 1, 0))
             ph(phase, fragments, tombstones, folds)
        CROSS JOIN cells ORDER BY ph.phase""")) { (s, dir) =>
      val root = graft.core.Fs.rotatingTempRoot("q227_anncat")
      val sc = graft.core.Sessions.scoped(s,
        "spark.sql.catalog.graft_cat_ad" ->
          classOf[graft.sources.DocStoreCatalog].getName,
        "spark.sql.catalog.graft_cat_ad.root" ->
          root.resolve("cat").toString)
      sc.sql("CREATE NAMESPACE graft_cat_ad.default")
      sc.sql("CREATE TABLE graft_cat_ad.default.vecs (" +
        "doc_id BIGINT NOT NULL, n_chars BIGINT, lang STRING, " +
        "source STRING, text STRING) TBLPROPERTIES " +
        "('graft.rowlevel.mode' = 'merge-on-read')")
      sc.sql("ALTER TABLE graft_cat_ad.default.vecs ADD COLUMNS " +
        "(vlabel INT, q ARRAY<BIGINT>)")
      quantizedStaged(sc, dir).createOrReplaceTempView("q227_src")
      def ins(where: String): Unit = graft.core.Phases("dml") {
        sc.sql("INSERT INTO graft_cat_ad.default.vecs " +
          "SELECT vec_id, nn, 'x', 's', '', CAST(label AS INT), q " +
          s"FROM q227_src WHERE $where")
      }
      ins("vec_id % 10 <> 0")
      val b = graft.core.Phases("build") {
        sc.sql("CALL graft_cat_ad.system.ann_build(" +
          "'default.vecs', 'doc_id', 'q', 'vlabel')").head()
      }
      val built = b.getLong(1)
      // one insert commit + one MoR delete commit; ONE windowed sync
      ins("vec_id % 10 = 0")
      graft.core.Phases("dml") {
        sc.sql("DELETE FROM graft_cat_ad.default.vecs " +
          "WHERE doc_id % 7 = 3 AND doc_id % 10 <> 0")
      }
      graft.core.Phases("sync") {
        sc.sql("CALL graft_cat_ad.system.ann_sync('default.vecs', 'q')")
      }
      def snap(phase: String) =
        sc.sql("SELECT * FROM graft_cat_ad.default.vecs.ann")
          .select(lit(phase).as("phase"), col("vec_column"), col("scope"),
            (col("synced_version") - lit(built)).as("synced_delta"),
            col("cells"), col("fragments"), col("tombstones"),
            col("folds"))
      // pin the pre-fold snapshot DRIVER-SIDE before the fold mutates
      // the index — a persist() would be advisory only: an evicted
      // partition of the lazy metadata relation would recompute
      // against post-fold state and flip the 'pending' row silently
      // (r19 review)
      val pre = snap("pending")
      val preRows = graft.core.Phases("snap_pre") { pre.collect().toSeq }
      graft.core.Phases("fold") {
        sc.sql("CALL graft_cat_ad.system.ann_fold('default.vecs', 'q')")
      }
      // retention through the procedure surface: build v0 + two sync
      // commits (v1, v2) + the fold's v3 — the fold keeps ONLY v3
      val idxRoot = AnnIndex.dirFor(root.resolve("cat")
        .resolve("default").resolve("vecs").toString, "q")
      val keptVs = new AnnIndex.Manifest(idxRoot).versionCopies
      require(keptVs == Seq(3),
        s"ann_fold must expire manifest versions below its publish, " +
          s"kept: $keptVs")
      import scala.jdk.CollectionConverters._
      sc.createDataFrame(preRows.asJava, pre.schema)
        .unionByName(snap("folded")).orderBy("phase")
    },

    Q("q228_ann_rebuild",
      "Zero-downtime REINDEX (r19, beyond the list): the coarse " +
        "quantizer is PINNED at build time — the invariant that makes " +
        "folds commute and fragment assignment arrival-order-" +
        "independent — so as the corpus drifts, arrival assignment " +
        "degrades and the only remedy used to be ann_drop + ann_build " +
        "with serve downtime. CALL system.ann_rebuild builds a fresh " +
        "base + quantizer from the table's CURRENT snapshot under an " +
        "ERA-NAMED dir (base-<n>) while readers keep resolving the " +
        "live manifest, then flips it with ONE atomic manifest " +
        "publish — a reader is entirely pre- or entirely post-rebuild " +
        "— and retires every old layer (base, fragments, tombstones, " +
        "folds) plus expired manifest copies only after the swap. " +
        "Pending layers need no replay: the snapshot already holds " +
        "every synced and unsynced change, so a rebuild also heals a " +
        "behind index. The gate builds, syncs an insert + a MoR " +
        "delete commit, rebuilds, asserts the post-swap manifest " +
        "holds ONLY the new era (old dirs physically gone, cursor at " +
        "head), and serves — the oracle is a FRESH BUILD over the " +
        "live rows (label-column cells, nothing is_new): " +
        "rebuild == build-from-scratch is the swap's correctness " +
        "contract. At 100 TB this is the nightly/weekly retrain every " +
        "IVF deployment schedules, priced at one corpus pass with " +
        "zero serve interruption.",
      Some(s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        live AS (SELECT * FROM nz
                 WHERE NOT (vec_id % 7 = 3 AND vec_id % 10 <> 0)),
        cellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                    FROM live CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                    GROUP BY 1, 2),
        cent AS (SELECT label, array_agg(s ORDER BY i) AS sv
                 FROM cellsum GROUP BY 1),
        cnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM live GROUP BY 1),
        cc AS (SELECT cent.label, sv, c
               FROM cent JOIN cnt ON cent.label = cnt.label),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM live
               WHERE vec_id < 5),
        dist AS (SELECT qid, cc.label, qv, qn,
                        ${oCellDist("qv")} AS d
                 FROM qs CROSS JOIN cc),
        probe AS (SELECT qid, label, qv, qn FROM (
                    SELECT qid, label, qv, qn,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY d, label) AS pr
                    FROM dist) WHERE pr <= 2),
        cand AS (SELECT qid, live.vec_id AS neighbor_id, live.label,
                        ${oDot("qv", "q")}::DOUBLE /
                          (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                 FROM probe JOIN live ON live.label = probe.label
                                     AND live.vec_id <> probe.qid),
        r AS (SELECT qid AS query_id, neighbor_id, label AS cell, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos DESC, neighbor_id) AS rnk
              FROM cand)
        SELECT query_id, rnk::INT AS rnk, neighbor_id, cell,
               FALSE AS is_new, ROUND(cos, 6) AS cosine
        FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""")) { (s, dir) =>
      val t = new VecTable(s, dir, "graft_cat_rb",
        graft.core.Fs.rotatingTempRoot("q228_annrb"), mor = true)
      val sc = t.sc
      t.ins("vec_id % 10 <> 0")
      graft.core.Phases("build") {
        sc.sql("CALL graft_cat_rb.system.ann_build(" +
          "'default.vecs', 'doc_id', 'q', 'vlabel')")
      }
      t.ins("vec_id % 10 = 0")
      graft.core.Phases("dml") {
        sc.sql("DELETE FROM graft_cat_rb.default.vecs " +
          "WHERE doc_id % 7 = 3 AND doc_id % 10 <> 0")
      }
      graft.core.Phases("sync") {
        sc.sql("CALL graft_cat_rb.system.ann_sync('default.vecs', 'q')")
      }
      val tablePath = t.path
      val rb = graft.core.Phases("rebuild") {
        sc.sql("CALL graft_cat_rb.system.ann_rebuild(" +
          "'default.vecs', 'q')").head()
      }
      val idxRoot = AnnIndex.dirFor(tablePath, "q")
      val L = AnnIndex.load(idxRoot)
      // the swap's post-state, asserted in-gate: ONLY the new era
      // base serves (cursor at the rebuild head, no pending layers),
      // and the old era's dirs are physically unreachable AND gone
      require(L.synced == rb.getLong(1) && L.base.startsWith("base-") &&
        L.frags.isEmpty && L.tombs.isEmpty && L.folds.isEmpty,
        s"post-rebuild manifest must hold only the new era: $L")
      require(!java.nio.file.Files.exists(idxRoot.resolve("base")),
        "the old era's base dir must be deleted after the swap")
      val qs = sc.sql("SELECT doc_id, n_chars, q FROM " +
          "graft_cat_rb.default.vecs WHERE doc_id < 5")
        .select(col("doc_id").as("qid"), col("q").as("qv"),
          col("n_chars").as("qn"))
      val out = graft.core.Phases("serve") {
        AnnIndex.serve(sc, tablePath, "q", qs)
          .withColumn("cell", col("cell").cast("int"))
      }
      out.persist()
      out
    },

    Q("q229_ann_search_sql",
      "The index's SQL QUERY face — the step the q227 catalog story " +
        "stopped short of (r19 verdict item 2: discovery via `t.ann`, " +
        "lifecycle via CALL system.ann_*, detail via ann_detail were " +
        "all SQL; SERVING was Scala-only): this gate drives " +
        "build -> three arrival commits -> windowed sync -> SEARCH " +
        "entirely through SQL. Query vectors are data, not SQL " +
        "literals, so `CALL system.ann_search('ns.t','q'," +
        "'ns.queries',k,nprobe)` takes a query TABLE whose rows carry " +
        "the indexed table's id and vector column names; the result " +
        "is q113's serve shape (query_id, rnk, neighbor_id, cell, " +
        "is_new, cosine) plus the family-routing value (NULL here — " +
        "plain index), driver-materialized because top-k over a query " +
        "batch is queries x k rows by contract. The oracle is SHARED " +
        "with q207/q212/q217/q223 (annIncOracle) — five independent " +
        "faces of the same serve contract now pin each other. At " +
        "100 TB: an analyst answers a similarity question with one " +
        "CALL next to the SELECTs they already write — no Scala, no " +
        "notebook plumbing.",
      Some(annIncOracle)) { (s, dir) =>
      val t = new VecTable(s, dir, "graft_cat_as",
        graft.core.Fs.rotatingTempRoot("q229_annsearch"))
      val sc = t.sc
      graft.core.Phases("setup") {
        // the query table: same id/vector column NAMES as the indexed
        // table — that correspondence IS the query shape contract
        sc.sql("CREATE TABLE graft_cat_as.default.queries (" +
          "doc_id BIGINT NOT NULL, n_chars BIGINT, lang STRING, " +
          "source STRING, text STRING)")
        sc.sql("ALTER TABLE graft_cat_as.default.queries " +
          "ADD COLUMNS (q ARRAY<BIGINT>)")
      }
      t.ins("vec_id % 10 <> 0")
      val b = graft.core.Phases("build") {
        sc.sql("CALL graft_cat_as.system.ann_build(" +
          "'default.vecs', 'doc_id', 'q', 'vlabel')").head()
      }
      require(b.getLong(3) > 0, s"ann_build indexed no vectors: $b")
      t.ins("vec_id % 10 = 0 AND vec_id % 3 = 0")
      t.ins("vec_id % 10 = 0 AND vec_id % 3 = 1")
      t.ins("vec_id % 10 = 0 AND vec_id % 3 = 2")
      graft.core.Phases("sync") {
        sc.sql("CALL graft_cat_as.system.ann_sync('default.vecs', 'q')")
      }
      graft.core.Phases("dml") {
        sc.sql("INSERT INTO graft_cat_as.default.queries " +
          "SELECT vec_id, nn, 'x', 's', '', q FROM graft_cat_as_src " +
          "WHERE vec_id % 10 <> 0 AND vec_id < 5")
      }
      val hits = graft.core.Phases("search") {
        sc.sql("CALL graft_cat_as.system.ann_search(" +
          "'default.vecs', 'q', 'default.queries', 3, 2)")
      }
      // plain index: the family-routing value must be NULL on every
      // row; dropped for the shared-oracle shape
      val out = hits
        .withColumn("cell", col("cell").cast("int"))
      out.persist()
      require(out.filter(col("flt").isNotNull).isEmpty,
        "ann_search on a plain index must return flt = NULL")
      out.drop("flt")
    },

    Q("q230_hybrid_rrf",
      "HYBRID retrieval with reciprocal-rank fusion — the RAG/" +
        "training-data shape neither pure system covers alone: a " +
        "LEXICAL channel (distinct-token Jaccard, candidates " +
        "generated by an inverted-index join — query tokens " +
        "broadcast against the corpus posting list, so cost scales " +
        "with postings touched, never corpus x queries) and a " +
        "VECTOR channel (the q32 exact integer cosine) each rank " +
        "their top-20 per query, and RRF fuses the UNION: score = " +
        "sum over channels of 1/(60 + rank), missing membership " +
        "contributing zero — the standard k=60 form, robust to the " +
        "two channels' incomparable score scales precisely because " +
        "only RANKS cross the fusion boundary. Cross-engine " +
        "exactness: Jaccard is one correctly-rounded division of " +
        "exact integer set sizes, cosine is the proven integer-grid " +
        "form, and each RRF term is one correctly-rounded division " +
        "of small integers summed once — bit-identical doubles, so " +
        "rank order and the 6-dp rounding agree with DuckDB " +
        "exactly. Output marks each fused hit's channel membership " +
        "(in_lex / in_vec) — the observability a fusion debug needs. " +
        "At 100 TB: the lexical side is a posting-list join (skew-" +
        "capped the q25/q116 way), the vector side swaps in the ANN " +
        "index's probed serve (q113/q229) unchanged — fusion only " +
        "ever sees two ranked top-k lists.",
      Some(s"""
        WITH tn AS (SELECT doc_id,
                           unnest(list_distinct(string_split_regex(
                             text, '\\s+'))) AS tok
                    FROM documents),
        toks AS (SELECT doc_id, tok FROM tn WHERE tok <> ''),
        sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS nt
                  FROM toks GROUP BY 1),
        qt AS (SELECT doc_id AS qid, tok FROM toks WHERE doc_id < 5),
        inter AS (SELECT qt.qid, toks.doc_id, COUNT(*)::BIGINT AS ni
                  FROM toks JOIN qt USING (tok)
                  WHERE toks.doc_id <> qt.qid
                  GROUP BY 1, 2),
        lex0 AS (SELECT qid, inter.doc_id,
                        ni::DOUBLE / (sq.nt + sd.nt - ni) AS jac
                 FROM inter
                 JOIN sizes sq ON sq.doc_id = inter.qid
                 JOIN sizes sd ON sd.doc_id = inter.doc_id),
        lex AS (SELECT qid, doc_id, rl FROM (
                  SELECT qid, doc_id, ROW_NUMBER() OVER (
                    PARTITION BY qid ORDER BY jac DESC, doc_id) AS rl
                  FROM lex0) WHERE rl <= 20),
        v AS (SELECT vec_id, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM nz
               WHERE vec_id < 5),
        cosd AS (SELECT qid, nz.vec_id AS doc_id,
                        ${oDot("qv", "q")}::DOUBLE /
                          (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS c
                 FROM qs CROSS JOIN nz WHERE nz.vec_id <> qs.qid),
        vec AS (SELECT qid, doc_id, rv FROM (
                  SELECT qid, doc_id, ROW_NUMBER() OVER (
                    PARTITION BY qid ORDER BY c DESC, doc_id) AS rv
                  FROM cosd) WHERE rv <= 20),
        fused AS (SELECT COALESCE(lex.qid, vec.qid) AS qid,
                         COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                         rl, rv
                  FROM lex FULL JOIN vec
                    ON lex.qid = vec.qid AND lex.doc_id = vec.doc_id),
        sc AS (SELECT qid, doc_id,
                      COALESCE(1.0 / (60 + rl), 0) +
                        COALESCE(1.0 / (60 + rv), 0) AS s,
                      rl IS NOT NULL AS in_lex,
                      rv IS NOT NULL AS in_vec
               FROM fused),
        r AS (SELECT qid AS query_id, doc_id, s, in_lex, in_vec,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY s DESC, doc_id) AS rnk
              FROM sc)
        SELECT query_id, rnk::INT AS rnk, doc_id, ROUND(s, 6) AS rrf,
               in_lex, in_vec
        FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""")) { (s, dir) =>
      // ---- lexical channel: inverted-index candidate generation
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), "\\s+"))).as("tok"))
        .filter(col("tok") =!= "")
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val qt = toks.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("tok"))
      val inter = toks.join(broadcast(qt), Seq("tok"))
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(count(lit(1)).as("ni"))
      val lex = inter
        .join(broadcast(sizes.withColumnRenamed("doc_id", "qid")
          .withColumnRenamed("nt", "nq")), Seq("qid"))
        .join(sizes, Seq("doc_id"))
        .withColumn("jac", col("ni").cast("double") /
          (col("nq") + col("nt") - col("ni")))
        .withColumn("rl", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("jac").desc, col("doc_id").asc)))
        .filter(col("rl") <= 20)
        .select(col("qid"), col("doc_id"), col("rl"))
      // ---- vector channel: q32's exact integer cosine
      val nz = quantized(s, dir)
      val qs = nz.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qv"),
          col("nn").as("qn"))
      val vec = exactTopK(nz, qs, 20)
        .select(col("qid"), col("vec_id").as("doc_id"), col("rnk").as("rv"))
      // ---- RRF over the union of the two top-20 lists
      val fused = lex.join(vec, Seq("qid", "doc_id"), "full_outer")
        .withColumn("s",
          coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)))
        .withColumn("in_lex", col("rl").isNotNull)
        .withColumn("in_vec", col("rv").isNotNull)
        .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("s").desc, col("doc_id").asc)))
        .filter(col("rnk") <= 5)
      fused.select(col("qid").as("query_id"), col("rnk"), col("doc_id"),
          round(col("s"), 6).as("rrf"), col("in_lex"), col("in_vec"))
        .orderBy("query_id", "rnk")
    }
  )

  /** Shared DuckDB oracle of the incremental-index pair: q207 serves
    * base + delta fragment, q212 serves the folded layout — the SAME
    * result by the fold's correctness contract, so one oracle pins
    * both (serve-after-fold == serve-before-fold). */
  private lazy val annIncOracle: String = s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT * FROM n WHERE nn > 0),
        base AS (SELECT * FROM nz WHERE vec_id % 10 <> 0),
        newb AS (SELECT * FROM nz WHERE vec_id % 10 = 0),
        cellsum AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                    FROM base CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                    GROUP BY 1, 2),
        cent AS (SELECT label, array_agg(s ORDER BY i) AS sv
                 FROM cellsum GROUP BY 1),
        cnt AS (SELECT label, COUNT(*)::BIGINT AS c FROM base GROUP BY 1),
        cc AS (SELECT cent.label, sv, c
               FROM cent JOIN cnt ON cent.label = cnt.label),
        ad AS (SELECT newb.vec_id, newb.q, newb.nn, cc.label,
                      ${oCellDist("q")} AS d
               FROM newb CROSS JOIN cc),
        assign AS (SELECT vec_id, q, nn, label AS cell FROM (
                     SELECT vec_id, q, nn, label,
                            ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d, label) AS ar
                     FROM ad) WHERE ar = 1),
        dsum AS (SELECT cell AS label, i, SUM(q[i+1])::BIGINT AS ds
                 FROM assign CROSS JOIN (SELECT unnest(range($DIM)) AS i) idx
                 GROUP BY 1, 2),
        dvec AS (SELECT label, array_agg(ds ORDER BY i) AS dv
                 FROM dsum GROUP BY 1),
        dcnt AS (SELECT cell AS label, COUNT(*)::BIGINT AS dc
                 FROM assign GROUP BY 1),
        upd AS (SELECT cc.label,
                       CASE WHEN dv IS NULL THEN sv ELSE
                         list_transform(range($DIM),
                           i -> sv[i+1] + dv[i+1]) END AS sv,
                       c + COALESCE(dc, 0) AS c
                FROM cc LEFT JOIN dvec ON cc.label = dvec.label
                        LEFT JOIN dcnt ON cc.label = dcnt.label),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM base
               WHERE vec_id < 5),
        dist AS (SELECT qid, upd.label, qv, qn,
                        ${oCellDist("qv")} AS d
                 FROM qs CROSS JOIN upd),
        probe AS (SELECT qid, label, qv, qn FROM (
                    SELECT qid, label, qv, qn,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY d, label) AS pr
                    FROM dist) WHERE pr <= 2),
        pool AS (SELECT vec_id, label AS cell, q, nn, FALSE AS is_new
                 FROM base
                 UNION ALL
                 SELECT vec_id, cell, q, nn, TRUE AS is_new FROM assign),
        cand AS (SELECT qid, pool.vec_id AS neighbor_id, pool.cell,
                        pool.is_new,
                        ${oDot("qv", "q")}::DOUBLE /
                          (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                 FROM probe JOIN pool ON pool.cell = probe.label
                                      AND pool.vec_id <> probe.qid),
        r AS (SELECT qid AS query_id, neighbor_id, cell, is_new, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos DESC, neighbor_id) AS rnk,
                     CASE WHEN is_new THEN ROW_NUMBER() OVER (
                       PARTITION BY qid, is_new
                       ORDER BY cos DESC, neighbor_id) ELSE NULL END AS nrnk
              FROM cand)
        SELECT query_id, rnk::INT AS rnk, neighbor_id, cell, is_new,
               ROUND(cos, 6) AS cosine
        FROM r WHERE rnk <= 3 OR nrnk = 1
        ORDER BY query_id, rnk"""

  /** A gate-local docstore table of the staged quantized rows (doc_id =
    * vec_id, n_chars = nn, vlabel = label, q; `src` adds the filtered-
    * family stratum) under a scoped catalog `cat` rooted at `root` —
    * the table every docstore-backed lifecycle gate indexes. `q` joins
    * by ALTER so the arrays ride the nested evolved-column codec. */
  private final class VecTable(s: SparkSession, dir: String, cat: String,
      root: java.nio.file.Path, mor: Boolean = false,
      src: Boolean = false) {
    val sc: SparkSession = graft.core.Sessions.scoped(s,
      s"spark.sql.catalog.$cat" ->
        classOf[graft.sources.DocStoreCatalog].getName,
      s"spark.sql.catalog.$cat.root" -> root.resolve("cat").toString)
    val name = s"$cat.default.vecs"
    val path: String =
      root.resolve("cat").resolve("default").resolve("vecs").toString
    graft.core.Phases("ddl") {
      sc.sql(s"CREATE NAMESPACE $cat.default")
      sc.sql(s"CREATE TABLE $name (doc_id BIGINT NOT NULL, " +
        "n_chars BIGINT, lang STRING, source STRING, text STRING)" +
        (if (mor) " TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')"
         else ""))
      sc.sql(s"ALTER TABLE $name ADD COLUMNS (vlabel INT, " +
        (if (src) "src INT, " else "") + "q ARRAY<BIGINT>)")
      val rows = quantizedStaged(sc, dir)
      (if (!src) rows else rows.withColumn("src",
          when(col("label") <= 1, lit(0L))
            .otherwise(lit(1L) + pmod(col("vec_id"), lit(2)))))
        .createOrReplaceTempView(s"${cat}_src")
    }
    def ins(where: String): Unit = graft.core.Phases("dml") {
      sc.sql(s"INSERT INTO $name SELECT vec_id, nn, 'x', 's', '', " +
        "CAST(label AS INT), " + (if (src) "CAST(src AS INT), " else "") +
        s"q FROM ${cat}_src WHERE $where")
      ()
    }
    def del(where: String): Unit = graft.core.Phases("dml") {
      sc.sql(s"DELETE FROM $name WHERE $where"); ()
    }
  }

  /** The pristine LSM fixture of the q207/q212/q217 triple: the base
    * slice (vec_id % 10 <> 0) built into an [[AnnIndex]], then three
    * arrival commits synced as three pending fragments assigned
    * against the pinned quantizer (which is what lets the triple share
    * one oracle). Built once per source dir; returns the table path.
    * Gates that fold operate on a per-invocation copy. */
  private[graft] def annIncTable(s: SparkSession, dir: String): String =
    graft.core.Scratch.materialize("ann_inc_table",
      s"v1|$dir|${graft.core.Scratch.sourceSignature(dir)}") { p =>
      val t = new VecTable(s, dir, "graft_cat_ib", java.nio.file.Paths.get(p))
      t.ins("vec_id % 10 <> 0")
      AnnIndex.build(t.path, "doc_id", "q", "vlabel")
      (0 to 2).foreach(k => t.ins(s"vec_id % 10 = 0 AND vec_id % 3 = $k"))
      AnnIndex.sync(t.path, "q"); ()
    } + "/cat/default/vecs"

  /** [[annIncTable]] after the nightly fold — q212's serving layout. */
  private def annFoldedTable(s: SparkSession, dir: String): String =
    graft.core.Scratch.materialize("ann_inc_folded",
      s"v1|$dir|${graft.core.Scratch.sourceSignature(dir)}") { p =>
      val t = java.nio.file.Paths.get(p, "vecs")
      graft.core.Fs.copyRecursively(
        java.nio.file.Paths.get(annIncTable(s, dir)), t)
      AnnIndex.fold(t.toString, "q"); ()
    } + "/vecs"

  /** q221's pristine fixture: the base slice indexed, then ONE
    * merge-on-read DELETE of vec_id % 7 = 3 synced as a pending
    * tombstone layer. */
  private[graft] def annTombTable(s: SparkSession, dir: String): String =
    graft.core.Scratch.materialize("ann_tomb_table",
      s"v1|$dir|${graft.core.Scratch.sourceSignature(dir)}") { p =>
      val t = new VecTable(s, dir, "graft_cat_tb",
        java.nio.file.Paths.get(p), mor = true)
      t.ins("vec_id % 10 <> 0")
      AnnIndex.build(t.path, "doc_id", "q", "vlabel")
      t.del("doc_id % 7 = 3")
      AnnIndex.sync(t.path, "q"); ()
    } + "/cat/default/vecs"

  /** q225's pristine fixture: the base slice built into a filtered
    * family (one sub-index per src), then src 0's upsert commit (the
    * held-out vec_id % 10 = 0 arrivals) and delete commit (its
    * vec_id % 7 = 3 base rows) left PENDING on the change feed — the
    * gate's sync is part of its measured lifecycle. */
  private def annFamilyTable(s: SparkSession, dir: String): String =
    graft.core.Scratch.materialize("ann_family_table",
      s"v1|$dir|${graft.core.Scratch.sourceSignature(dir)}") { p =>
      val t = new VecTable(s, dir, "graft_cat_fb",
        java.nio.file.Paths.get(p), mor = true, src = true)
      t.ins("vec_id % 10 <> 0")
      AnnIndex.build(t.path, "doc_id", "q", "vlabel", "src")
      t.ins("vec_id % 10 = 0 AND src = 0")
      t.del("doc_id % 7 = 3 AND src = 0 AND doc_id % 10 <> 0")
    } + "/cat/default/vecs"

  /** The oracles' query set: the `where` rows of the staged corpus. */
  private def annQueries(s: SparkSession, dir: String,
      where: String): DataFrame =
    quantizedStaged(s, dir).filter(expr(where))
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("nn").as("qn"))

  /** Serve the oracles' query set (the `qsWhere` rows) from the index
    * on `q` of a gate table. The index stores cells as LONG; the
    * oracles' cell column is the INT label. */
  private def annServe(s: SparkSession, dir: String, tablePath: String,
      qsWhere: String = "vec_id < 5 AND vec_id % 10 <> 0",
      filter: Option[Long] = None): DataFrame =
    AnnIndex.serve(s, tablePath, "q", annQueries(s, dir, qsWhere),
        filter = filter)
      .withColumn("cell", col("cell").cast("int"))

  /** The in-gate row-for-row equality of two serves. */
  private def requireSame(before: Array[Row], after: Array[Row],
      what: String): Unit =
    require(before.toSeq == after.toSeq,
      s"$what: ${before.toSeq.diff(after.toSeq)} vs " +
        s"${after.toSeq.diff(before.toSeq)}")

  /** The vector ids an index's pending tombstone layers mask. */
  private def tombstonedIds(s: SparkSession, L: AnnIndex.Layers): Set[Long] =
    L.tombs.map(tb => s.read.parquet(L.abs(s"$tb/keys")).select("vec_id"))
      .reduce(_.unionByName(_)).collect().map(_.getLong(0)).toSet

  /** Rows of `ids` the index's newest fold level still holds — 0 once
    * compaction physically dropped every tombstoned row. */
  private def foldedLeaks(s: SparkSession, idxRoot: java.nio.file.Path,
      ids: Set[Long]): Long = {
    val L = AnnIndex.load(idxRoot)
    s.read.parquet(L.abs(s"${L.folds.last}/cells"))
      .filter(col("vec_id").isin(ids.toSeq: _*)).count()
  }

  /** Shared DuckDB oracle of the filtered-LSM pair: q225 drives the
    * AnnIndex Scala API over a Scratch-built family, q226 runs the
    * whole lifecycle through the catalog's ann_* procedures — the SAME
    * slices, the same assignment and add/subtract maintenance, so one
    * oracle pins both. */
  private lazy val filteredLsmOracle: String = s"""
        WITH v AS (SELECT vec_id, label, $oQuant AS q FROM embeddings),
        n0 AS (SELECT vec_id, label, q, $oNorm2 AS nn FROM v),
        nz AS (SELECT vec_id, label, q, nn,
                      CASE WHEN label <= 1 THEN 0
                           ELSE 1 + vec_id % 2 END AS src
               FROM n0 WHERE nn > 0),
        base AS (SELECT * FROM nz WHERE vec_id % 10 <> 0),
        arr AS (SELECT vec_id, label, q, nn FROM nz
                WHERE vec_id % 10 = 0 AND src = 0),
        s0 AS (SELECT * FROM base WHERE src = 0),
        s1 AS (SELECT * FROM base WHERE src = 1),
        dead AS (SELECT vec_id, label, q, nn FROM s0 WHERE vec_id % 7 = 3),
        idxs AS (SELECT unnest(range($DIM)) AS i),
        c0s AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                FROM s0 CROSS JOIN idxs GROUP BY 1, 2),
        c0v AS (SELECT label, array_agg(s ORDER BY i) AS sv
                FROM c0s GROUP BY 1),
        c0c AS (SELECT label, COUNT(*)::BIGINT AS c FROM s0 GROUP BY 1),
        cc0 AS (SELECT c0v.label, sv, c
                FROM c0v JOIN c0c ON c0v.label = c0c.label),
        ad AS (SELECT arr.vec_id, arr.q, arr.nn, cc0.label,
                      ${oCellDist("q")} AS d
               FROM arr CROSS JOIN cc0),
        asg AS (SELECT vec_id, q, nn, label AS cell FROM (
                  SELECT vec_id, q, nn, label,
                         ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY d, label) AS ar FROM ad)
                WHERE ar = 1),
        adds AS (SELECT cell AS label, i, SUM(q[i+1])::BIGINT AS s
                 FROM asg CROSS JOIN idxs GROUP BY 1, 2),
        addv AS (SELECT label, array_agg(s ORDER BY i) AS av
                 FROM adds GROUP BY 1),
        addc AS (SELECT cell AS label, COUNT(*)::BIGINT AS ac
                 FROM asg GROUP BY 1),
        subs AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                 FROM dead CROSS JOIN idxs GROUP BY 1, 2),
        subv AS (SELECT label, array_agg(s ORDER BY i) AS bv
                 FROM subs GROUP BY 1),
        subc AS (SELECT label, COUNT(*)::BIGINT AS bc
                 FROM dead GROUP BY 1),
        upd AS (SELECT cc0.label,
                       list_transform(range($DIM), i ->
                         sv[i+1] + COALESCE(av[i+1], 0::BIGINT)
                                 - COALESCE(bv[i+1], 0::BIGINT)) AS sv,
                       c + COALESCE(ac, 0::BIGINT)
                         - COALESCE(bc, 0::BIGINT) AS c
                FROM cc0 LEFT JOIN addv ON cc0.label = addv.label
                         LEFT JOIN addc ON cc0.label = addc.label
                         LEFT JOIN subv ON cc0.label = subv.label
                         LEFT JOIN subc ON cc0.label = subc.label),
        live0 AS (SELECT vec_id, label AS cell, q, nn, FALSE AS is_new
                  FROM s0 WHERE vec_id % 7 <> 3
                  UNION ALL
                  SELECT vec_id, cell, q, nn, TRUE AS is_new FROM asg),
        qs AS (SELECT vec_id AS qid, q AS qv, nn AS qn FROM base
               WHERE vec_id < 5),
        d0 AS (SELECT qid, upd.label, qv, qn,
                      ${oCellDist("qv")} AS d
               FROM qs CROSS JOIN upd WHERE c > 0),
        p0 AS (SELECT qid, label, qv, qn FROM (
                 SELECT qid, label, qv, qn,
                        ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY d, label) AS pr FROM d0)
               WHERE pr <= 2),
        cand0 AS (SELECT qid, l.vec_id AS neighbor_id, l.cell, l.is_new,
                         ${oDot("qv", "q")}::DOUBLE /
                           (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                  FROM p0 JOIN live0 l ON l.cell = p0.label
                                      AND l.vec_id <> p0.qid),
        r0 AS (SELECT qid AS query_id, neighbor_id, cell, is_new, cos,
                      ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cos DESC, neighbor_id) AS rnk,
                      CASE WHEN is_new THEN ROW_NUMBER() OVER (
                        PARTITION BY qid, is_new
                        ORDER BY cos DESC, neighbor_id)
                      ELSE NULL END AS nrnk
               FROM cand0),
        c1s AS (SELECT label, i, SUM(q[i+1])::BIGINT AS s
                FROM s1 CROSS JOIN idxs GROUP BY 1, 2),
        c1v AS (SELECT label, array_agg(s ORDER BY i) AS sv
                FROM c1s GROUP BY 1),
        c1c AS (SELECT label, COUNT(*)::BIGINT AS c FROM s1 GROUP BY 1),
        cc1 AS (SELECT c1v.label, sv, c
                FROM c1v JOIN c1c ON c1v.label = c1c.label),
        d1 AS (SELECT qid, cc1.label, qv, qn,
                      ${oCellDist("qv")} AS d
               FROM qs CROSS JOIN cc1 WHERE c > 0),
        p1 AS (SELECT qid, label, qv, qn FROM (
                 SELECT qid, label, qv, qn,
                        ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY d, label) AS pr FROM d1)
               WHERE pr <= 2),
        cand1 AS (SELECT qid, s1.vec_id AS neighbor_id,
                         s1.label AS cell, FALSE AS is_new,
                         ${oDot("qv", "q")}::DOUBLE /
                           (sqrt(qn::DOUBLE) * sqrt(nn::DOUBLE)) AS cos
                  FROM p1 JOIN s1 ON s1.label = p1.label
                                 AND s1.vec_id <> p1.qid),
        r1 AS (SELECT qid AS query_id, neighbor_id, cell, is_new, cos,
                      ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cos DESC, neighbor_id) AS rnk
               FROM cand1)
        SELECT * FROM (
          SELECT 0 AS flt_src, query_id, rnk::INT AS rnk, neighbor_id,
                 cell, is_new, ROUND(cos, 6) AS cosine
          FROM r0 WHERE rnk <= 3 OR nrnk = 1
          UNION ALL
          SELECT 1 AS flt_src, query_id, rnk::INT AS rnk, neighbor_id,
                 cell, is_new, ROUND(cos, 6) AS cosine
          FROM r1 WHERE rnk <= 3
        ) ORDER BY flt_src, query_id, rnk"""

  /** (vec_id, q, nn, label) projection of the CDC gates' vecs table. */
  private def cdcVecsOf(df: DataFrame): DataFrame = df.select(
    col("doc_id").as("vec_id"), col("q"),
    col("n_chars").as("nn"), col("vlabel").as("label"))

  /** Driver-collected per-cell integer aggregates — the CDC gates'
    * metastore-sized centroid-state entries. */
  private def cdcCellAgg(df: DataFrame): Array[(Int, Seq[Long], Long)] =
    AnnIndex.centroidTable(df).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2)))

  private type CdcState =
    scala.collection.mutable.HashMap[Int, (Array[Long], Long)]

  /** ADD (sign 1) or SUBTRACT (sign -1) per-cell aggregates into the
    * driver-held state — integer sums are a group, so exact in any
    * order. */
  private def cdcApply(state: CdcState, agg: Array[(Int, Seq[Long], Long)],
      sign: Int): Unit =
    agg.foreach { case (l, sv, c) =>
      val (os, oc) = state.getOrElse(l, (new Array[Long](DIM), 0L))
      var i = 0
      while (i < DIM) { os(i) += sign * sv(i); i += 1 }
      state(l) = (os, oc + sign * c)
    }

  /** The CDC gates' nightly build: the version-`v` snapshot laid out
    * cell-partitioned under `baseDir` plus the driver-held integer
    * centroid state (cells x (dim + 1) integers — the metastore-sized
    * piece of a production index). ONE snapshot scan feeds the layout
    * write AND the state off the cache, the two actions concurrent
    * (guide §2.6). */
  private def cdcBuild(t: VecTable, v: Long, baseDir: String): CdcState = {
    val state: CdcState = scala.collection.mutable.HashMap()
    graft.core.Phases("build") {
      val v1c = cdcVecsOf(
        t.sc.sql(s"SELECT * FROM ${t.name} VERSION AS OF $v")).persist()
      try {
        var agg: Array[(Int, Seq[Long], Long)] = null
        AnnIndex.inParallel(
          AnnIndex.clusterForWrite(v1c, "label").write.partitionBy("label")
            .parquet(baseDir),
          { agg = cdcCellAgg(v1c) })
        cdcApply(state, agg, 1)
      } finally { v1c.unpersist(); () }
    }
    state
  }

  private def stateFrame(s: SparkSession, state: CdcState): DataFrame = {
    import s.implicits._
    state.toSeq.map { case (l, (sv, c)) => (l, sv.toSeq, c) }
      .toDF("label", "sv", "c")
  }

  /** Drain `t`'s change feed from `fromVersion` (AvailableNow, one
    * micro-batch per commit — version-paced offsets) through `each`,
    * which runs on the stream thread under the caller's phase path. */
  private def drainChanges(t: VecTable, fromVersion: Long,
      root: java.nio.file.Path)(each: DataFrame => Unit): Unit =
    graft.core.Phases("stream") {
      val phases = graft.core.Phases.snapshot()
      val q = t.sc.readStream.format("graft-docstore")
        .option("path", t.path)
        .option("readChangeFeed", "true")
        .option("startingVersion", fromVersion.toString)
        .load()
        .writeStream
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.core.Phases.withSnapshot(phases)(each(batch))
        }
        .start()
      try q.awaitTermination() finally q.stop()
    }

  /** The CDC gates' serve over driver-held state: probe `cents` ONCE
    * ([[AnnIndex.probePairs]] — cells with c <= 0 never probe: a batch
    * that empties a cell leaves a zero centroid whose distance would
    * win a slot while holding no candidates), read only probed cells of
    * `pool`, exact top-3 ([[AnnIndex.topKWithBestNew]] over an all-base
    * pool adds no best-new rows). */
  private def stateServe(qs: DataFrame, cents: DataFrame,
      pool: DataFrame): DataFrame = {
    val (cells, probe) = AnnIndex.probePairs(qs.sparkSession, qs, cents, 2)
    AnnIndex.topKWithBestNew(pool.filter(col("label").isin(cells: _*))
        .withColumn("is_new", lit(false)), probe, 3)
      .drop("is_new")
  }

  /** The CDC gates' `fresh` audit: the maintained serve joined row by
    * row against a from-scratch rebuild over the table's CURRENT
    * snapshot. The rebuild's centroids re-derive from the snapshot —
    * probing the maintained state would audit it against itself (r17
    * review) — and the snapshot persists so the centroid fold, probe
    * collect and pool read share one scan. */
  private def cdcFreshAudit(t: VecTable, qs: DataFrame,
      incr: DataFrame): DataFrame = graft.core.Phases("audit") {
    val cur = cdcVecsOf(t.sc.read.format("graft-docstore")
      .option("path", t.path).load()).persist()
    freshAudit(incr, stateServe(qs, AnnIndex.centroidTable(cur), cur))
  }

  /** Row-by-row freshness audit: the maintained serve joined against
    * a from-scratch rebuild (whose centroids MUST be derived from the
    * current snapshot, not the maintained state — auditing the state
    * against itself would be vacuous for the fold/subtract path; r17
    * review). */
  private def freshAudit(incr: DataFrame, rebuilt0: DataFrame): DataFrame = {
    val rebuilt = rebuilt0
      .withColumnRenamed("neighbor_id", "r_neighbor_id")
      .withColumnRenamed("cell", "r_cell")
      .withColumnRenamed("cosine", "r_cosine")
      .withColumnRenamed("query_id", "r_query_id")
      .withColumnRenamed("rnk", "r_rnk")
    incr.join(broadcast(rebuilt),
        incr("query_id") === col("r_query_id") &&
          incr("rnk") === col("r_rnk"), "left")
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("cell"), col("cosine"),
        (col("neighbor_id") === col("r_neighbor_id") &&
          col("cell") === col("r_cell") &&
          col("cosine") === col("r_cosine")).as("fresh"))
      .orderBy("query_id", "rnk")
  }

}
