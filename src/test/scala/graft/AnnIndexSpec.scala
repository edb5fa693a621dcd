package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.AnnIndex

/** The first-class ANN index lifecycle (build / sync / fold / drop via
  * the docstore procedure surface) against an INDEPENDENT plain-Scala
  * oracle: handcrafted integer vectors whose probe routing, centroid
  * maintenance (ADD on insert, SUBTRACT on delete), tombstone masking,
  * and fold shadowing are all recomputed here with local arithmetic —
  * no AnnIndex code on the oracle side. Gate q223 pins the
  * insert-only lifecycle against DuckDB; this spec pins the paths the
  * gate can't reach: the delete/tombstone route (MoR CDF pre-images),
  * mixed insert+delete sync, repeated folds with fully-shadowed-level
  * vacuuming, and the lifecycle guards. */
class AnnIndexSpec extends SparkSpec {

  // ---- independent oracle -------------------------------------------
  private type Vec = Array[Long]
  private def dot(a: Vec, b: Vec): Long =
    a.zip(b).map { case (x, y) => x * y }.sum
  private def cos(a: Vec, b: Vec): Double =
    dot(a, b).toDouble /
      (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))

  /** index state: id -> (vector, index cell, is_new) */
  private def centroids(state: Map[Long, (Vec, Long, Boolean)])
      : Map[Long, (Vec, Long)] =
    state.values.groupBy(_._2).map { case (cell, vs) =>
      cell -> (vs.map(_._1).transpose.map(_.sum).toArray, vs.size.toLong)
    }

  // count-normalized distance-to-mean ||q - sv/c||^2 (r18 advice),
  // recomputed with local arithmetic in the SAME op sequence as the
  // engine: exact integer numerator, one int->double rounding, double
  // denominator product, one division — bit-identical doubles
  private def cellDist(q: Vec, sv: Vec, c: Long): Double = {
    val num = q.indices.map(i => { val d = c * q(i) - sv(i); d * d }).sum
    num.toDouble / (c.toDouble * c.toDouble)
  }

  private def assignCell(q: Vec, cents: Map[Long, (Vec, Long)]): Long =
    cents.toSeq.map { case (cell, (sv, c)) => (cellDist(q, sv, c), cell) }
      .minBy(identity)._2

  // minBy over (d, cell) pairs — Ordering[(Double, Long)] is
  // lexicographic, which is exactly the probe's (distance, label)
  // tie-break
  private def bestCells(q: Vec, cents: Map[Long, (Vec, Long)],
      nprobe: Int): Seq[Long] =
    cents.toSeq.filter(_._2._2 > 0).map { case (cell, (sv, c)) =>
      (cellDist(q, sv, c), cell)
    }.sorted.take(nprobe).map(_._2)

  /** (neighbor_id, cell, is_new, cosine) rows the serve must return:
    * top-k overall plus the best NEW row, ordered by rank. */
  private def expectedServe(q: Vec,
      state: Map[Long, (Vec, Long, Boolean)],
      cents: Map[Long, (Vec, Long)], nprobe: Int, k: Int)
      : Seq[(Long, Long, Boolean, Double)] = {
    val cells = bestCells(q, cents, nprobe).toSet
    val ranked = state.toSeq
      .filter { case (_, (_, cell, _)) => cells(cell) }
      .map { case (id, (v, cell, isNew)) => (id, cell, isNew, cos(q, v)) }
      .sortBy { case (id, _, _, c) => (-c, id) }
    val topK = ranked.take(k)
    val bestNew = ranked.find(_._3).filterNot(topK.contains)
    (topK ++ bestNew).sortBy { case (id, _, _, c) => (-c, id) }
  }

  private def checkServe(s: SparkSession, path: String,
      q: Vec, state: Map[Long, (Vec, Long, Boolean)]): Unit = {
    import s.implicits._
    val qn = dot(q, q)
    val qs = Seq((900L, q.toSeq, qn)).toDF("qid", "qv", "qn")
    val got = AnnIndex.serve(s, path, "v", qs).collect()
      .map(r => (r.getLong(2), r.getAs[Number](3).longValue(),
        r.getBoolean(4), r.getDouble(5)))
    val want = expectedServe(q, state, centroids(state), nprobe = 2, k = 3)
      .map { case (id, cell, isNew, c) =>
        (id, cell, isNew,
          BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }
    assert(got.toSeq == want,
      s"serve mismatch:\n  got  ${got.toSeq}\n  want $want")
  }

  // ---- fixture -------------------------------------------------------
  /** Base corpus: three axis-aligned clusters, cell = the axis. */
  private val base: Seq[(Long, Long, Vec)] =
    (0L to 5L).map(k => (1L + k, 0L, Array(1000L, k, 0L, 0L))) ++
      (0L to 5L).map(k => (11L + k, 1L, Array(0L, 1000L, k, 0L))) ++
      (0L to 5L).map(k => (21L + k, 2L, Array(0L, k, 1000L, 0L)))

  private def freshCat(name: String): (SparkSession, String) = {
    val root = Files.createTempDirectory(s"ann-$name").toString
    val s = graft.core.Sessions.scoped(spark,
      s"spark.sql.catalog.$name" ->
        classOf[graft.sources.DocStoreCatalog].getName,
      s"spark.sql.catalog.$name.root" -> root)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.default")
    // merge-on-read: DELETEs emit exactly the deleted rows on the CDF
    // (the q222 posture) — the shape ann_sync's tombstone route needs
    s.sql(s"CREATE TABLE $name.default.t (doc_id BIGINT NOT NULL, " +
      "n_chars BIGINT, lang STRING, source STRING, text STRING) " +
      "TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')")
    s.sql(s"ALTER TABLE $name.default.t ADD COLUMNS " +
      "(cell INT, v ARRAY<BIGINT>)")
    (s, Paths.get(root, "default", "t").toString)
  }

  private def ins(s: SparkSession, cat: String,
      rows: Seq[(Long, Long, Vec)]): Unit =
    s.sql(s"INSERT INTO $cat.default.t VALUES " + rows.map {
      case (id, cell, v) =>
        s"($id, 0, 'x', 's', '', $cell, array(${v.mkString(",")}L))"
    }.mkString(", "))

  // ---- tests ---------------------------------------------------------

  test("mixed insert+delete sync: fragments, pruned tombstone lookup, " +
      "exact centroid maintenance, fold retires and serve is unchanged") {
    val (s, path) = freshCat("annmx")
    ins(s, "annmx", base)
    val b = s.sql("CALL annmx.system.ann_build(" +
      "'default.t', 'doc_id', 'v', 'cell')").head
    assert(b.getLong(2) == 3 && b.getLong(3) == 18, s"build stats: $b")

    // oracle state after build: label-column cells, nothing new
    var state: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    val pinned = centroids(state) // the coarse quantizer is FIXED here

    // commit A: arrivals — 101/102 near e1 (assign -> cell 0), 111
    // near e2 (assign -> cell 1); labelCol deliberately WRONG (9) to
    // prove sync assigns against the pinned quantizer, not the label
    val arrivals = Seq(
      (101L, 9L, Array(1000L, 0L, 0L, 7L): Vec),
      (102L, 9L, Array(1000L, 0L, 0L, 9L): Vec),
      (111L, 9L, Array(0L, 1000L, 0L, 7L): Vec))
    ins(s, "annmx", arrivals)
    // commit B: delete one BASE row and one ARRIVAL row — the
    // tombstone lookup must resolve the base row via its label cell
    // and the fragment row via its assigned cell
    s.sql("DELETE FROM annmx.default.t WHERE doc_id IN (2, 101)")

    val sy = s.sql("CALL annmx.system.ann_sync('default.t', 'v')").head
    assert(sy.getLong(2) == 1 && sy.getLong(3) == 1 &&
      sy.getLong(4) == 3 && sy.getLong(5) == 2,
      s"expected 1 frag / 1 tomb / 3 ins / 2 del, got $sy")

    state ++= arrivals.map { case (id, _, v) =>
      id -> (v, assignCell(v, pinned), true) }
    state --= Seq(2L, 101L)
    assert(state(102L)._2 == 0L && state(111L)._2 == 1L,
      "fixture must route arrivals to cells 0 and 1")

    val q: Vec = Array(1000L, 1L, 0L, 0L)
    checkServe(s, path, q, state)
    // deleted ids unfindable through any probe direction
    Seq[Vec](Array(1000L, 1L, 0L, 0L), Array(0L, 1000L, 1L, 0L),
      Array(0L, 1L, 1000L, 0L)).foreach { qq =>
      import s.implicits._
      val qs = Seq((901L, qq.toSeq, dot(qq, qq))).toDF("qid", "qv", "qn")
      val ids = AnnIndex.serve(s, path, "v", qs).collect()
        .map(_.getLong(2)).toSet
      assert(!ids(2L) && !ids(101L), s"tombstoned id served: $ids")
    }

    // fold: retire the fragment + tombstone, serve unchanged
    import s.implicits._
    val qs = Seq((900L, q.toSeq, dot(q, q))).toDF("qid", "qv", "qn")
    val before = AnnIndex.serve(s, path, "v", qs).collect().toSeq
    val f = s.sql("CALL annmx.system.ann_fold('default.t', 'v')").head
    assert(f.getLong(0) == 1 && f.getLong(1) == 1 && f.getLong(3) == 2,
      s"fold stats: $f")
    val idxRoot = AnnIndex.dirFor(path, "v")
    val L = AnnIndex.load(idxRoot)
    assert(L.frags.isEmpty && L.tombs.isEmpty && L.folds.size == 1,
      s"post-fold manifest: $L")
    assert(AnnIndex.serve(s, path, "v", qs).collect().toSeq == before,
      "serve-after-fold must equal serve-before-fold")
    // the compacted cells physically lack the tombstoned rows
    val leaked = s.read.parquet(
        Paths.get(L.abs(s"${L.folds.head}/cells")).toString)
      .filter(col("vec_id").isin(2L, 101L)).count()
    assert(leaked == 0, s"$leaked tombstoned rows survived the fold")
  }

  test("repeated folds: a level fully shadowed by newer ones is vacuumed") {
    val (s, path) = freshCat("annsh")
    ins(s, "annsh", base)
    s.sql("CALL annsh.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    val idxRoot = AnnIndex.dirFor(path, "v")
    var state: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    val pinned = centroids(state)

    def round(arr: Seq[(Long, Long, Vec)], del: Seq[Long]): Unit = {
      if (arr.nonEmpty) ins(s, "annsh", arr)
      if (del.nonEmpty) s.sql(
        s"DELETE FROM annsh.default.t WHERE doc_id IN (${del.mkString(",")})")
      s.sql("CALL annsh.system.ann_sync('default.t', 'v')")
      s.sql("CALL annsh.system.ann_fold('default.t', 'v')")
      state ++= arr.map { case (id, _, v) =>
        id -> (v, assignCell(v, pinned), true) }
      state --= del
    }

    // fold 1 touches cells {0, 1}; fold 2 {1, 2}: fold 1 survives
    round(Seq((101L, 9L, Array(1000L, 0L, 0L, 7L)),
      (111L, 9L, Array(0L, 1000L, 0L, 7L))), Seq.empty)
    round(Seq((121L, 9L, Array(0L, 0L, 1000L, 7L))), Seq(11L))
    val l2 = AnnIndex.load(idxRoot)
    assert(l2.folds.size == 2, s"fold 1 {0,1} is not shadowed by {1,2}: $l2")
    // fold 3 touches cell {0}: fold 1 {0,1} is now fully shadowed by
    // {1,2} ∪ {0} and must be vacuumed in the same commit
    round(Seq.empty, Seq(3L))
    val l3 = AnnIndex.load(idxRoot)
    assert(l3.folds.size == 2 && !l3.folds.contains(l2.folds.head),
      s"fully-shadowed fold 1 must be vacuumed: $l3")
    assert(!Files.exists(idxRoot.resolve(l2.folds.head)),
      "vacuumed fold dir must be deleted")
    // the serve contract held through every level
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    checkServe(s, path, Array(0L, 1000L, 1L, 0L), state)
    checkServe(s, path, Array(0L, 1L, 1000L, 0L), state)
  }

  test("UPDATE routes through sync as tombstone + fragment: the old " +
      "vector is unfindable, the new one is searchable") {
    val (s, path) = freshCat("annup")
    ins(s, "annup", base)
    s.sql("CALL annup.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    var state: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    val pinned = centroids(state)
    // the docstore CDF surfaces an UPDATE as a delete (pre-image) +
    // insert (post-image) pair in ONE version — ann_sync must
    // tombstone the old row and fragment the new one, moving vector 12
    // from the e2 cluster to the e1 cluster
    val newV: Vec = Array(1000L, 0L, 0L, 3L)
    s.sql("UPDATE annup.default.t SET v = array(" +
      newV.mkString(",") + s") WHERE doc_id = 12")
    val sy = s.sql("CALL annup.system.ann_sync('default.t', 'v')").head
    assert(sy.getLong(2) == 1 && sy.getLong(3) == 1 &&
      sy.getLong(4) == 1 && sy.getLong(5) == 1,
      s"expected 1 frag / 1 tomb / 1 ins / 1 del from the UPDATE, got $sy")
    state += 12L -> (newV, assignCell(newV, pinned), true)
    assert(state(12L)._2 == 0L, "the updated vector must move to cell 0")
    // the new value ranks near e1 queries; the old value no longer
    // ranks near e2 queries — both slices checked against the oracle
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    checkServe(s, path, Array(0L, 1000L, 1L, 0L), state)
    // fold compacts the move and nothing changes
    s.sql("CALL annup.system.ann_fold('default.t', 'v')")
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    checkServe(s, path, Array(0L, 1000L, 1L, 0L), state)
  }

  test("SAME-CELL update: the tombstone must not mask its own " +
      "post-image (versioned tombstone visibility)") {
    val (s, path) = freshCat("annsc")
    ins(s, "annsc", base)
    s.sql("CALL annsc.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    var state: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    val pinned = centroids(state)
    // vector 3 stays in the e1 cluster: pre-image cell 0, post-image
    // assigns to cell 0 too — the delete+insert pair lands in ONE
    // version, so an unversioned tombstone would kill the post-image
    // (and double-subtract the centroid state; r18 review finding)
    val newV: Vec = Array(1000L, 0L, 0L, 5L)
    s.sql("UPDATE annsc.default.t SET v = array(" +
      newV.mkString(",") + ") WHERE doc_id = 3")
    val sy = s.sql("CALL annsc.system.ann_sync('default.t', 'v')").head
    assert(sy.getLong(4) == 1 && sy.getLong(5) == 1,
      s"expected 1 insert + 1 delete routed, got $sy")
    state += 3L -> (newV, assignCell(newV, pinned), true)
    assert(state(3L)._2 == 0L, "fixture: the update must stay in cell 0")
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    // fold compacts the in-place update and nothing changes
    s.sql("CALL annsc.system.ann_fold('default.t', 'v')")
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
  }

  test("fold of a fully-emptied cell keeps shadowing it: deleted rows " +
      "must not resurrect when an arrival re-populates the cell") {
    val (s, path) = freshCat("annec")
    ins(s, "annec", base)
    s.sql("CALL annec.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    // empty cell 0 entirely, fold the tombstone away (the fold writes
    // ZERO rows for cell 0 — before the r18 fix it also wrote no
    // label=0 dir, un-covering the cell so base leaked back)
    s.sql("DELETE FROM annec.default.t WHERE doc_id <= 6")
    s.sql("CALL annec.system.ann_sync('default.t', 'v')")
    s.sql("CALL annec.system.ann_fold('default.t', 'v')")
    var state: Map[Long, (Vec, Long, Boolean)] =
      base.filter(_._1 > 6L)
        .map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    // an arrival re-populates cell 0 (assignment runs against the
    // PINNED base quantizer, where cell 0 still exists)
    val arrV: Vec = Array(1000L, 0L, 0L, 2L)
    ins(s, "annec", Seq((200L, 9L, arrV)))
    s.sql("CALL annec.system.ann_sync('default.t', 'v')")
    state += 200L -> (arrV, 0L, true)
    assert(state(200L)._2 == 0L)
    // an e1-direction query probes cell 0 again: it must see ONLY the
    // arrival — none of the six deleted base rows
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    import s.implicits._
    val qs = Seq((900L, Seq(1000L, 1L, 0L, 0L), 1000001L))
      .toDF("qid", "qv", "qn")
    val served = AnnIndex.serve(s, path, "v", qs).collect()
      .map(_.getLong(2)).toSet
    assert((1L to 6L).forall(id => !served(id)),
      s"deleted base rows resurrected through the emptied fold: $served")
    // and a second fold persists the correct state
    s.sql("CALL annec.system.ann_fold('default.t', 'v')")
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
  }

  test("filtered family: per-src sub-indexes, maintenance in one src " +
      "leaves the others' manifests and files untouched") {
    val (s, path) = freshCat("annfm")
    import s.implicits._
    // src 0 = ids < 100, src 1 = ids >= 100; both span cells 0-2
    val fam = base.map { case (id, cell, v) => (id, cell, 0L, v) } ++
      base.map { case (id, cell, v) => (id + 100L, cell, 1L, v) }
    s.sql("ALTER TABLE annfm.default.t ADD COLUMNS (src INT)")
    s.sql("INSERT INTO annfm.default.t VALUES " + fam.map {
      case (id, cell, src, v) =>
        s"($id, 0, 'x', 's', '', $cell, array(${v.mkString(",")}L), $src)"
    }.mkString(", "))
    val b = s.sql("CALL annfm.system.ann_build(" +
      "'default.t', 'doc_id', 'v', 'cell', 'src')").head
    assert(b.getLong(2) == 6 && b.getLong(3) == 36,
      s"family build: 2 subs x 3 cells, 36 vectors: $b")
    val root = AnnIndex.dirFor(path, "v")
    assert(AnnIndex.isFamily(root))
    // per-src oracle state (the same hand model, one map per src)
    var st0: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    val st1: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => (id + 100L) -> (v, cell, false) }
        .toMap
    val pinned0 = centroids(st0)

    // maintenance lands ONLY in src 0: one insert commit, one delete
    // commit (the delete hits a base row and the fresh arrival's
    // sibling stays)
    s.sql("INSERT INTO annfm.default.t VALUES " +
      "(50, 0, 'x', 's', '', 9, array(1000,0,0,7), 0), " +
      "(51, 0, 'x', 's', '', 9, array(0,1000,0,7), 0)")
    s.sql("DELETE FROM annfm.default.t WHERE doc_id IN (2, 50)")
    val sy = s.sql("CALL annfm.system.ann_sync('default.t', 'v')").head
    assert(sy.getLong(2) == 1 && sy.getLong(3) == 1 &&
      sy.getLong(4) == 2 && sy.getLong(5) == 2, s"family sync: $sy")
    st0 ++= Seq(
      50L -> (Array(1000L, 0L, 0L, 7L): Vec, assignCell(
        Array(1000L, 0L, 0L, 7L), pinned0), true),
      51L -> (Array(0L, 1000L, 0L, 7L): Vec, assignCell(
        Array(0L, 1000L, 0L, 7L), pinned0), true))
    st0 --= Seq(2L, 50L)

    def serveF(src: Long, q: Vec): Array[(Long, Long, Boolean, Double)] = {
      val qs = Seq((900L, q.toSeq, dot(q, q))).toDF("qid", "qv", "qn")
      AnnIndex.serve(s, path, "v", qs, filter = Some(src)).collect()
        .map(r => (r.getLong(2), r.getAs[Number](3).longValue(),
          r.getBoolean(4), r.getDouble(5)))
    }
    def checkF(src: Long, q: Vec,
        st: Map[Long, (Vec, Long, Boolean)]): Unit = {
      val want = expectedServe(q, st, centroids(st), 2, 3).map {
        case (id, cell, isNew, c) => (id, cell, isNew,
          BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }
      assert(serveF(src, q).toSeq == want,
        s"src=$src serve mismatch vs hand oracle")
    }
    checkF(0L, Array(1000L, 1L, 0L, 0L), st0)
    checkF(0L, Array(0L, 1000L, 1L, 0L), st0)
    checkF(1L, Array(1000L, 1L, 0L, 0L), st1)
    // the untouched sub-index gains NO layers — its synced cursor
    // advances (it observed the versions and found nothing), but one
    // src's maintenance storm leaves zero fragment/tombstone/fold
    // files in another's tree
    val l1 = AnnIndex.load(root.resolve("src=1"))
    assert(l1.frags.isEmpty && l1.tombs.isEmpty && l1.folds.isEmpty,
      s"src=1 must take no layers from src-0 maintenance: $l1")
    // ann_detail: one metadata row per sub-index, layers where the
    // maintenance actually landed
    val det = s.sql("CALL annfm.system.ann_detail('default.t', 'v')")
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
      .toSeq.sorted
    assert(det == Seq(("src=0", 1L, 1L), ("src=1", 0L, 0L)),
      s"family detail rows: $det")
    // the SQL discovery face (r18 verdict item 6): the same story
    // through the `.ann` metadata table — no procedure call needed
    val meta = s.sql("SELECT vec_column, scope, fragments, tombstones " +
        "FROM annfm.default.t.ann ORDER BY scope")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSeq
    assert(meta == Seq(("v", "src=0", 1L, 1L), ("v", "src=1", 0L, 0L)),
      s"ann meta-table rows: $meta")
    // fold compacts src 0 only; src 1 still has no fold dirs
    val f = s.sql("CALL annfm.system.ann_fold('default.t', 'v')").head
    assert(f.getLong(0) == 1 && f.getLong(1) == 1, s"family fold: $f")
    assert(AnnIndex.load(root.resolve("src=1")).folds.isEmpty,
      "src=1 must not gain a fold level")
    checkF(0L, Array(1000L, 1L, 0L, 0L), st0)
    checkF(1L, Array(0L, 1000L, 1L, 0L), st1)
    // serving a family without a filter, or an unknown value, refuses
    val qs = Seq((900L, Seq(1000L, 0L, 0L, 0L), 1000000L))
      .toDF("qid", "qv", "qn")
    assert(intercept[IllegalArgumentException](
      AnnIndex.serve(s, path, "v", qs)).getMessage.contains("family"))
    assert(intercept[IllegalArgumentException](AnnIndex.serve(
      s, path, "v", qs, filter = Some(7L))).getMessage
      .contains("no sub-index"))
  }

  test("windowed sync: ONE change-feed read covers the whole unsynced " +
      "range while the manifest still commits once per table version") {
    val (s, path) = freshCat("annwd")
    ins(s, "annwd", base)
    s.sql("CALL annwd.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    var state: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    val pinned = centroids(state)
    // three table commits pend before ONE sync call: two arrival
    // batches and a delete that targets a row from the FIRST batch
    // (cross-version resolution inside the window)
    val a1 = Seq((101L, 9L, Array(1000L, 0L, 0L, 7L): Vec))
    val a2 = Seq((111L, 9L, Array(0L, 1000L, 0L, 7L): Vec))
    ins(s, "annwd", a1)
    ins(s, "annwd", a2)
    s.sql("DELETE FROM annwd.default.t WHERE doc_id IN (101, 21)")
    val reads0 = AnnIndex.cdfReads.get()
    val sy = s.sql("CALL annwd.system.ann_sync('default.t', 'v')").head
    assert(AnnIndex.cdfReads.get() == reads0 + 1,
      s"sync must read the change feed ONCE for the whole window, " +
        s"issued ${AnnIndex.cdfReads.get() - reads0} reads")
    assert(sy.getLong(2) == 2 && sy.getLong(3) == 1 &&
      sy.getLong(4) == 2 && sy.getLong(5) == 2,
      s"expected 2 frags / 1 tomb / 2 ins / 2 del, got $sy")
    // one manifest commit PER version: 3 versions -> synced advanced 3
    // times past the build manifest (v0), so current version is 3
    val root = AnnIndex.dirFor(path, "v")
    assert(new AnnIndex.Manifest(root).currentVersion == 3,
      "the crash contract needs one manifest version per table version")
    state ++= (a1 ++ a2).map { case (id, _, v) =>
      id -> (v, assignCell(v, pinned), true) }
    state --= Seq(101L, 21L)
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    checkServe(s, path, Array(0L, 1L, 1000L, 0L), state)
    // manifest retention (r18 verdict item 4): before the fold, one
    // MANIFEST.v<n> per synced version has accumulated (v0..v3); the
    // fold publishes v4 and EXPIRES everything below it — a reader on
    // the current MANIFEST (load + serve) is unaffected
    assert((0 to 3).forall(n =>
      Files.exists(root.resolve(s"MANIFEST.v$n"))),
      "pre-fold: every synced version retains a manifest copy")
    s.sql("CALL annwd.system.ann_fold('default.t', 'v')")
    val kept = new AnnIndex.Manifest(root).versionCopies
    assert(kept == Seq(4),
      s"fold must expire manifest versions below its own publish: $kept")
    assert(new AnnIndex.Manifest(root).currentVersion == 4)
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    checkServe(s, path, Array(0L, 1L, 1000L, 0L), state)
  }

  test("crash-rerun: orphaned layer dirs from a crashed attempt never " +
      "wedge sync or build") {
    val (s, path) = freshCat("anncr")
    ins(s, "anncr", base)
    // a crashed BUILD leaves debris under the index root with no
    // published manifest — the rerun clears and succeeds
    val root = AnnIndex.dirFor(path, "v")
    Files.createDirectories(root.resolve("base").resolve("vectors"))
    Files.writeString(root.resolve("base").resolve("vectors")
      .resolve("junk"), "crashed attempt")
    val b = s.sql("CALL anncr.system.ann_build(" +
      "'default.t', 'doc_id', 'v', 'cell')").head
    assert(b.getLong(3) == 18, s"rerun build must succeed: $b")
    // a crashed SYNC leaves frag-<w> written but uncommitted — the
    // rerun (same version, same path) must overwrite, not die on
    // ErrorIfExists
    ins(s, "anncr", Seq((50L, 9L, Array(1000L, 0L, 0L, 7L))))
    val w = graft.sources.DocStoreCommitOps.nextVersion(path) - 1
    Files.createDirectories(root.resolve(s"frag-$w").resolve("vectors"))
    Files.writeString(root.resolve(s"frag-$w").resolve("vectors")
      .resolve("part-junk.parquet"), "half-written")
    val sy = s.sql("CALL anncr.system.ann_sync('default.t', 'v')").head
    assert(sy.getLong(2) == 1 && sy.getLong(4) == 1,
      s"rerun sync must fragment the arrival: $sy")
    val state: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap +
        (50L -> (Array(1000L, 0L, 0L, 7L): Vec, 0L, true))
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    // ann_detail reads the whole story from metadata only
    val d = s.sql("CALL anncr.system.ann_detail('default.t', 'v')")
      .collect()
    assert(d.length == 1 && d(0).getString(0) == "" &&
      d(0).getLong(2) == 3 && d(0).getLong(3) == 1 &&
      d(0).getLong(4) == 0, s"detail: ${d.toSeq}")
  }

  test("ann_rebuild: fresh quantizer from the current snapshot, one " +
      "atomic swap, old layers retired, sync continues against it") {
    val (s, path) = freshCat("annrb")
    ins(s, "annrb", base)
    s.sql("CALL annrb.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    // arrivals carry label 9 — the PINNED quantizer has no cell 9, so
    // sync assigns them into cells 0/1; after the rebuild their label
    // column re-seeds the quantizer and cell 9 exists
    ins(s, "annrb", Seq((101L, 9L, Array(1000L, 0L, 0L, 7L)),
      (111L, 9L, Array(0L, 1000L, 0L, 7L))))
    s.sql("DELETE FROM annrb.default.t WHERE doc_id = 2")
    s.sql("CALL annrb.system.ann_sync('default.t', 'v')")
    val rb = s.sql("CALL annrb.system.ann_rebuild('default.t', 'v')").head
    assert(rb.getLong(2) == 4 && rb.getLong(3) == 19,
      s"rebuild must re-seed 4 cells (0,1,2,9) over 19 live rows: $rb")
    val root = AnnIndex.dirFor(path, "v")
    val L = AnnIndex.load(root)
    assert(L.frags.isEmpty && L.tombs.isEmpty && L.folds.isEmpty &&
      L.base.startsWith("base-"),
      s"post-rebuild manifest must hold ONLY the new era base: $L")
    assert(!Files.exists(root.resolve("base")),
      "the old era's base dir must be retired after the swap")
    assert(new AnnIndex.Manifest(root).versionCopies.size == 1,
      "rebuild expires manifest copies below its publish")
    // oracle state: every live row under its LABEL column cell,
    // nothing is_new — exactly a fresh build over the current rows
    var state: Map[Long, (Vec, Long, Boolean)] =
      (base.filter(_._1 != 2L) ++ Seq(
        (101L, 9L, Array(1000L, 0L, 0L, 7L): Vec),
        (111L, 9L, Array(0L, 1000L, 0L, 7L): Vec)))
        .map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    checkServe(s, path, Array(0L, 1000L, 1L, 0L), state)
    // maintenance continues against the REFRESHED quantizer
    val pinned2 = centroids(state)
    ins(s, "annrb", Seq((102L, 9L, Array(990L, 0L, 0L, 9L))))
    val sy2 = s.sql("CALL annrb.system.ann_sync('default.t', 'v')").head
    assert(sy2.getLong(4) == 1, s"post-rebuild sync must index: $sy2")
    state += 102L -> (Array(990L, 0L, 0L, 9L): Vec,
      assignCell(Array(990L, 0L, 0L, 9L), pinned2), true)
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
  }

  test("family ann_rebuild re-derives the sub set: new filter values " +
      "gain subs (the refusal's one-call answer), vanished values drop") {
    val (s, path) = freshCat("annrf")
    import s.implicits._
    val fam = base.map { case (id, cell, v) => (id, cell, 0L, v) } ++
      base.map { case (id, cell, v) => (id + 100L, cell, 1L, v) } ++
      base.take(6).map { case (id, cell, v) => (id + 200L, cell, 2L, v) }
    s.sql("ALTER TABLE annrf.default.t ADD COLUMNS (src INT)")
    s.sql("INSERT INTO annrf.default.t VALUES " + fam.map {
      case (id, cell, src, v) =>
        s"($id, 0, 'x', 's', '', $cell, array(${v.mkString(",")}L), $src)"
    }.mkString(", "))
    s.sql("CALL annrf.system.ann_build(" +
      "'default.t', 'doc_id', 'v', 'cell', 'src')")
    val root = AnnIndex.dirFor(path, "v")
    assert(AnnIndex.loadFamily(root).subs == Seq(0L, 1L, 2L))
    // a NEW filter value arrives and src 2 vanishes entirely — sync
    // refuses the unknown value (it has no sub-index to live in)...
    s.sql("INSERT INTO annrf.default.t VALUES " +
      "(300, 0, 'x', 's', '', 0, array(1000,0,0,3), 3), " +
      "(301, 0, 'x', 's', '', 1, array(0,1000,0,3), 3)")
    s.sql("DELETE FROM annrf.default.t WHERE src = 2")
    val ex = intercept[Exception](
      s.sql("CALL annrf.system.ann_sync('default.t', 'v')"))
    assert(ex.getMessage.contains("no sub-index"), ex.getMessage)
    // ...and ann_rebuild is the one-call answer: sub 3 exists, sub 2
    // is gone, every sub rebuilt from the current snapshot
    val rb = s.sql("CALL annrf.system.ann_rebuild('default.t', 'v')").head
    assert(rb.getLong(3) == 38, s"38 live rows across 3 subs: $rb")
    val fam2 = AnnIndex.loadFamily(root)
    assert(fam2.subs == Seq(0L, 1L, 3L), s"re-derived subs: ${fam2.subs}")
    assert(!Files.exists(root.resolve("src=2")),
      "the vanished value's sub dir must be deleted")
    def checkF(src: Long, q: Vec,
        st: Map[Long, (Vec, Long, Boolean)]): Unit = {
      val qs = Seq((900L, q.toSeq, dot(q, q))).toDF("qid", "qv", "qn")
      val got = AnnIndex.serve(s, path, "v", qs, filter = Some(src))
        .collect().map(r => (r.getLong(2), r.getAs[Number](3).longValue(),
          r.getBoolean(4), r.getDouble(5)))
      val want = expectedServe(q, st, centroids(st), 2, 3).map {
        case (id, cell, isNew, c) => (id, cell, isNew,
          BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }
      assert(got.toSeq == want, s"src=$src serve mismatch vs hand oracle")
    }
    val st0: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    val st3: Map[Long, (Vec, Long, Boolean)] = Map(
      300L -> (Array(1000L, 0L, 0L, 3L): Vec, 0L, false),
      301L -> (Array(0L, 1000L, 0L, 3L): Vec, 1L, false))
    checkF(0L, Array(1000L, 1L, 0L, 0L), st0)
    checkF(3L, Array(1000L, 1L, 0L, 0L), st3)
    assert(intercept[IllegalArgumentException](AnnIndex.serve(
      s, path, "v", Seq((900L, Seq(1000L, 0L, 0L, 0L), 1000000L))
        .toDF("qid", "qv", "qn"), filter = Some(2L))).getMessage
      .contains("no sub-index"))
  }

  test("system.vacuum against a table WITH a live index is " +
      "non-collateral: segments reclaimed, index intact, serve identical") {
    val (s, path) = freshCat("annvc")
    ins(s, "annvc", base)
    s.sql("CALL annvc.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    // leave the index with PENDING layers (frag + tomb) so the walk
    // crosses a populated _ann tree, not just the base
    ins(s, "annvc", Seq((101L, 9L, Array(1000L, 0L, 0L, 7L))))
    s.sql("DELETE FROM annvc.default.t WHERE doc_id = 2")
    s.sql("CALL annvc.system.ann_sync('default.t', 'v')")
    var state: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    state += 101L -> (Array(1000L, 0L, 0L, 7L): Vec, 0L, true)
    state --= Seq(2L)
    import s.implicits._
    val q: Vec = Array(1000L, 1L, 0L, 0L)
    val qs = Seq((900L, q.toSeq, dot(q, q))).toDF("qid", "qv", "qn")
    val before = AnnIndex.serve(s, path, "v", qs).collect().toSeq
    val detBefore = AnnIndex.detail(path, "v")
    // compaction rewrites table segments -> dead .gds for vacuum to
    // actually reclaim (a 0-file vacuum would prove nothing)
    s.sql("CALL annvc.system.optimize('default.t', 1)")
    val vac = s.sql("CALL annvc.system.vacuum('default.t')").head
    assert(vac.getLong(0) > 0,
      s"fixture must reclaim real segment files, got $vac")
    // the layout contract (AnnIndex.scala header): vacuum touches only
    // .gds segments — every index file survives, the manifest resolves,
    // and the serve is row-identical
    assert(AnnIndex.serve(s, path, "v", qs).collect().toSeq == before,
      "serve must be unchanged across vacuum")
    // vacuum RENUMBERED history (next commit is version 2); the index
    // cursor re-anchored to the new numbering (r19 review: a stale
    // cursor made post-vacuum syncs silently no-op forever) and the
    // pending layers compacted into a fold level first — frag-<v>/
    // tomb-<v> names belong to the OLD numbering and a new-era sync
    // landing on a still-held name would clobber committed data
    assert(detBefore.map(d => (d.fragments, d.tombstones, d.folds)) ==
      Seq((1L, 1L, 0L)), "fixture: layers must pend before vacuum")
    assert(AnnIndex.detail(path, "v") ==
      detBefore.map(_.copy(synced = 1L, fragments = 0L,
        tombstones = 0L, folds = 1L)),
      "vacuum must fold pending layers and rebase the cursor")
    checkServe(s, path, q, state)
    // ...and post-vacuum arrivals index + serve normally
    ins(s, "annvc", Seq((102L, 9L, Array(1000L, 0L, 0L, 9L))))
    val sy2 = s.sql("CALL annvc.system.ann_sync('default.t', 'v')").head
    assert(sy2.getLong(2) == 1 && sy2.getLong(4) == 1,
      s"post-vacuum sync must index the arrival, got $sy2")
    state += 102L -> (Array(1000L, 0L, 0L, 9L): Vec, 0L, true)
    checkServe(s, path, q, state)
  }

  test("history resets refuse while an index would silently desync: " +
      "vacuum with a behind cursor, TRUNCATE with any index") {
    val (s, path) = freshCat("annrs")
    ins(s, "annrs", base)
    s.sql("CALL annrs.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    // an unsynced commit pends: vacuum would delete the retained
    // manifests its change feed replays from — must refuse, and the
    // pending change must still sync afterwards
    ins(s, "annrs", Seq((101L, 9L, Array(1000L, 0L, 0L, 7L))))
    val ex = intercept[Exception](
      s.sql("CALL annrs.system.vacuum('default.t')"))
    assert(ex.getMessage.contains("ann_sync first"), ex.getMessage)
    val sy = s.sql("CALL annrs.system.ann_sync('default.t', 'v')").head
    assert(sy.getLong(4) == 1, s"the pending change must survive: $sy")
    // content-destroying resets refuse outright — the index would keep
    // serving destroyed rows
    val ex2 = intercept[Exception](
      s.sql("TRUNCATE TABLE annrs.default.t"))
    assert(ex2.getMessage.contains("ann_drop"), ex2.getMessage)
    // after ann_drop the same TRUNCATE proceeds
    s.sql("CALL annrs.system.ann_drop('default.t', 'v')")
    s.sql("TRUNCATE TABLE annrs.default.t")
    assert(s.sql("SELECT * FROM annrs.default.t").count() == 0)
  }

  test("DDL guard: dropping or renaming a column a live index depends " +
      "on refuses; after ann_drop the same DDL proceeds") {
    val (s, path) = freshCat("anndd")
    ins(s, "anndd", base)
    s.sql("CALL anndd.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    // all three recorded dependency columns refuse drop AND rename —
    // the index manifest records them by name, so the DDL would
    // strand every later sync/serve
    Seq("v", "cell").foreach { c =>
      val e1 = intercept[Exception](
        s.sql(s"ALTER TABLE anndd.default.t DROP COLUMN $c"))
      assert(e1.getMessage.contains("ann index"), s"$c: ${e1.getMessage}")
      val e2 = intercept[Exception](
        s.sql(s"ALTER TABLE anndd.default.t RENAME COLUMN $c TO ${c}2"))
      assert(e2.getMessage.contains("ann index"), s"$c: ${e2.getMessage}")
    }
    // unrelated (extra) columns still alter freely under a live index
    s.sql("ALTER TABLE anndd.default.t ADD COLUMNS (note STRING)")
    s.sql("ALTER TABLE anndd.default.t RENAME COLUMN note TO note2")
    s.sql("ALTER TABLE anndd.default.t DROP COLUMN note2")
    // and the guard lifts with the index
    s.sql("CALL anndd.system.ann_drop('default.t', 'v')")
    s.sql("ALTER TABLE anndd.default.t RENAME COLUMN cell TO cell2")
    s.sql("ALTER TABLE anndd.default.t DROP COLUMN v")
  }

  test("expire_snapshots refuses to drop versions a behind index still " +
      "needs for change-feed replay; proceeds once synced") {
    val (s, path) = freshCat("annex")
    ins(s, "annex", base)
    s.sql("CALL annex.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    // several commits pend unsynced; an expiry that dropped their
    // manifests would strand the index (the CDF diff bases vanish)
    ins(s, "annex", Seq((101L, 9L, Array(1000L, 0L, 0L, 7L))))
    ins(s, "annex", Seq((111L, 9L, Array(0L, 1000L, 0L, 7L))))
    ins(s, "annex", Seq((121L, 9L, Array(0L, 0L, 1000L, 7L))))
    val ex = intercept[Exception](s.sql(
      "CALL annex.system.expire_snapshots('default.t', 1)"))
    assert(ex.getMessage.contains("change-feed replay"), ex.getMessage)
    // sync first, then the same expiry proceeds — and the index keeps
    // working against commits made after the expiry
    s.sql("CALL annex.system.ann_sync('default.t', 'v')")
    val exp = s.sql(
      "CALL annex.system.expire_snapshots('default.t', 1)").head
    assert(exp.getLong(0) > 0, s"expiry must drop versions now: $exp")
    ins(s, "annex", Seq((102L, 9L, Array(1000L, 0L, 0L, 9L))))
    val sy = s.sql("CALL annex.system.ann_sync('default.t', 'v')").head
    assert(sy.getLong(4) == 1, s"post-expiry sync must index: $sy")
    var state: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    val pinned = centroids(state)
    state ++= Seq(
      (101L, Array(1000L, 0L, 0L, 7L): Vec),
      (111L, Array(0L, 1000L, 0L, 7L): Vec),
      (121L, Array(0L, 0L, 1000L, 7L): Vec),
      (102L, Array(1000L, 0L, 0L, 9L): Vec))
      .map { case (id, v) => id -> (v, assignCell(v, pinned), true) }
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
  }

  test("RESTORE routes through ann_sync like any commit: reinstated " +
      "rows re-index as inserts, the restored serve matches the oracle") {
    val (s, path) = freshCat("annrt")
    ins(s, "annrt", base)
    s.sql("CALL annrt.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    val goodV = graft.sources.DocStoreCommitOps.nextVersion(path) - 1
    // a bad DELETE lands and the index follows it (tombstones)
    s.sql("DELETE FROM annrt.default.t WHERE doc_id IN (2, 3)")
    s.sql("CALL annrt.system.ann_sync('default.t', 'v')")
    var state: Map[Long, (Vec, Long, Boolean)] =
      base.filterNot(r => Set(2L, 3L)(r._1))
        .map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    val pinned = centroids(
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap)
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    // RESTORE to the pre-delete version — a NEW commit whose change
    // feed reinstates the deleted rows; ONE ann_sync re-indexes them
    // (assigned against the pinned quantizer, is_new like any arrival)
    s.sql(s"CALL annrt.system.restore('default.t', $goodV)")
    val sy = s.sql("CALL annrt.system.ann_sync('default.t', 'v')").head
    assert(sy.getLong(4) == 2, s"restore must re-index rows 2 and 3: $sy")
    state ++= Seq(2L, 3L).map { id =>
      val v = base.find(_._1 == id).get._3
      id -> (v, assignCell(v, pinned), true)
    }
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    // and the fold compacts the round-trip with serve unchanged
    s.sql("CALL annrt.system.ann_fold('default.t', 'v')")
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
  }

  test("lifecycle guards: double build refuses, no-op sync/fold, " +
      "drop + rebuild, manifest refuses comma entries") {
    val (s, path) = freshCat("anngd")
    ins(s, "anngd", base)
    // no index yet: the .ann metadata table answers with ZERO rows —
    // discovery must never error on an unindexed table
    assert(s.sql("SELECT * FROM anngd.default.t.ann").count() == 0)
    s.sql("CALL anngd.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    val metaRows = s.sql("SELECT vec_column, scope, cells FROM " +
        "anngd.default.t.ann").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(metaRows == Seq(("v", "", 3L)), s"ann meta rows: $metaRows")
    val ex = intercept[Exception](s.sql(
      "CALL anngd.system.ann_build('default.t', 'doc_id', 'v', 'cell')"))
    assert(ex.getMessage.contains("already exists"), ex.getMessage)
    // nothing pending: sync and fold are explicit no-ops
    val sy = s.sql("CALL anngd.system.ann_sync('default.t', 'v')").head
    assert((2 to 5).forall(i => sy.getLong(i) == 0), s"no-op sync: $sy")
    val f = s.sql("CALL anngd.system.ann_fold('default.t', 'v')").head
    assert((0 to 3).forall(i => f.getLong(i) == 0), s"no-op fold: $f")
    // drop + rebuild from the current (post-arrival) snapshot
    ins(s, "anngd", Seq((101L, 0L, Array(1000L, 0L, 0L, 7L))))
    assert(s.sql("CALL anngd.system.ann_drop('default.t', 'v')")
      .head.getBoolean(0))
    assert(!Files.exists(AnnIndex.dirFor(path, "v")))
    val b2 = s.sql("CALL anngd.system.ann_build(" +
      "'default.t', 'doc_id', 'v', 'cell')").head
    assert(b2.getLong(3) == 19, s"rebuild must index the arrival too: $b2")
    val state: Map[Long, (Vec, Long, Boolean)] =
      (base :+ ((101L, 0L, Array(1000L, 0L, 0L, 7L): Vec)))
        .map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    checkServe(s, path, Array(1000L, 1L, 0L, 0L), state)
    // the shared manifest writer refuses comma-bearing entries loudly
    val m = new AnnIndex.Manifest(
      Files.createTempDirectory("ann-manifest"))
    val ex2 = intercept[IllegalArgumentException](
      m.publish(Seq(("base", "/a,b")), 0))
    assert(ex2.getMessage.contains("','"), ex2.getMessage)
  }

  test("mixed-filter family serve: one call with a filter column on qs " +
      "equals the per-value serves; NULL/unknown/plain-index refuse") {
    val (s, path) = freshCat("annmf")
    import s.implicits._
    val fam = base.map { case (id, cell, v) => (id, cell, 0L, v) } ++
      base.map { case (id, cell, v) => (id + 100L, cell, 1L, v) }
    s.sql("ALTER TABLE annmf.default.t ADD COLUMNS (src INT)")
    s.sql("INSERT INTO annmf.default.t VALUES " + fam.map {
      case (id, cell, src, v) =>
        s"($id, 0, 'x', 's', '', $cell, array(${v.mkString(",")}L), $src)"
    }.mkString(", "))
    s.sql("CALL annmf.system.ann_build(" +
      "'default.t', 'doc_id', 'v', 'cell', 'src')")
    // a batch spanning BOTH filter values, two queries each
    val batch = Seq(
      (900L, Seq(1000L, 1L, 0L, 0L), 0L),
      (901L, Seq(0L, 1000L, 1L, 0L), 0L),
      (902L, Seq(1000L, 1L, 0L, 0L), 1L),
      (903L, Seq(0L, 0L, 1000L, 1L), 1L))
      .map { case (qid, qv, f) =>
        (qid, qv, dot(qv.toArray, qv.toArray), f) }
      .toDF("qid", "qv", "qn", "f")
    val mixed = AnnIndex.serveMixed(s, path, "v", batch, "f")
      .collect().map(r => (r.getLong(6), r.getLong(0), r.getInt(1),
        r.getLong(2), r.getAs[Number](3).longValue(), r.getBoolean(4),
        r.getDouble(5))).toSet
    val perValue = Seq(0L, 1L).flatMap { v =>
      AnnIndex.serve(s, path, "v",
          batch.filter(col("f") === v).drop("f"), filter = Some(v))
        .collect().map(r => (v, r.getLong(0), r.getInt(1), r.getLong(2),
          r.getAs[Number](3).longValue(), r.getBoolean(4), r.getDouble(5)))
    }.toSet
    assert(mixed == perValue,
      s"mixed serve must equal per-value serves:\n  mixed " +
        s"${mixed.toSeq.sorted}\n  per-value ${perValue.toSeq.sorted}")
    // an empty batch answers empty (not a crash)
    assert(AnnIndex.serveMixed(s, path, "v", batch.limit(0), "f").isEmpty)
    // refusals: NULL filter value, unknown value, plain (non-family)
    val withNull = batch.withColumn("f",
      when(col("qid") === 900L, lit(null)).otherwise(col("f")))
    assert(intercept[IllegalArgumentException](AnnIndex.serveMixed(
      s, path, "v", withNull, "f")).getMessage.contains("NULL"))
    val unknown = batch.withColumn("f", col("f") + 7L)
    assert(intercept[IllegalArgumentException](AnnIndex.serveMixed(
      s, path, "v", unknown, "f")).getMessage.contains("no sub-index"))
    val (s2, path2) = freshCat("annmfp")
    ins(s2, "annmfp", base)
    s2.sql("CALL annmfp.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    assert(intercept[IllegalArgumentException](AnnIndex.serveMixed(
      s2, path2, "v", batch, "f")).getMessage.contains("family"))
  }

  test("ann_search routes a FAMILY query table by its filter column " +
      "and refuses zero-norm query vectors") {
    val (s, path) = freshCat("annsf")
    import s.implicits._
    val fam = base.map { case (id, cell, v) => (id, cell, 0L, v) } ++
      base.map { case (id, cell, v) => (id + 100L, cell, 1L, v) }
    s.sql("ALTER TABLE annsf.default.t ADD COLUMNS (src INT)")
    s.sql("INSERT INTO annsf.default.t VALUES " + fam.map {
      case (id, cell, src, v) =>
        s"($id, 0, 'x', 's', '', $cell, array(${v.mkString(",")}L), $src)"
    }.mkString(", "))
    s.sql("CALL annsf.system.ann_build(" +
      "'default.t', 'doc_id', 'v', 'cell', 'src')")
    // query TABLE with the indexed table's id/vector/filter col names
    s.sql("CREATE TABLE annsf.default.qs (doc_id BIGINT NOT NULL, " +
      "n_chars BIGINT, lang STRING, source STRING, text STRING)")
    s.sql("ALTER TABLE annsf.default.qs ADD COLUMNS (src INT, " +
      "v ARRAY<BIGINT>)")
    s.sql("INSERT INTO annsf.default.qs VALUES " +
      "(900, 0, 'x', 's', '', 0, array(1000L, 1L, 0L, 0L)), " +
      "(901, 0, 'x', 's', '', 1, array(0L, 1000L, 1L, 0L))")
    val hits = s.sql("CALL annsf.system.ann_search(" +
        "'default.t', 'v', 'default.qs', 3, 2)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getAs[Number](4).longValue(), r.getBoolean(5), r.getDouble(6)))
      .toSet
    val want = Seq((900L, Array(1000L, 1L, 0L, 0L): Vec, 0L),
      (901L, Array(0L, 1000L, 1L, 0L): Vec, 1L)).flatMap {
      case (qid, qv, f) =>
        val qs = Seq((qid, qv.toSeq, dot(qv, qv))).toDF("qid", "qv", "qn")
        AnnIndex.serve(s, path, "v", qs, filter = Some(f)).collect()
          .map(r => (f, r.getLong(0), r.getInt(1), r.getLong(2),
            r.getAs[Number](3).longValue(), r.getBoolean(4),
            r.getDouble(5)))
    }.toSet
    assert(hits == want, s"ann_search family routing:\n  got  " +
      s"${hits.toSeq.sorted}\n  want ${want.toSeq.sorted}")
    // zero-norm AND NULL query vectors refuse loudly (cosine
    // undefined for both; `qn <= 0` alone would pass a NULL through)
    s.sql("INSERT INTO annsf.default.qs VALUES " +
      "(902, 0, 'x', 's', '', 0, array(0L, 0L, 0L, 0L))")
    assert(intercept[IllegalArgumentException](s.sql(
      "CALL annsf.system.ann_search('default.t', 'v', 'default.qs')"))
      .getMessage.contains("zero-norm"))
    s.sql("DELETE FROM annsf.default.qs WHERE doc_id = 902")
    s.sql("INSERT INTO annsf.default.qs VALUES " +
      "(903, 0, 'x', 's', '', 0, NULL)")
    assert(intercept[IllegalArgumentException](s.sql(
      "CALL annsf.system.ann_search('default.t', 'v', 'default.qs')"))
      .getMessage.contains("NULL or zero-norm"))
  }

  test("count-normalized probe ranking recovers the recall the old " +
      "c^2-form lost on skewed cell sizes") {
    // r19 verdict item 7: the r18 ranking fix closed a RECALL-quality
    // defect hash gates cannot see (they pin whatever ranking is
    // defined). Skewed corpus: a DENSE cell (c=30) whose mean sits
    // 500 off the query on one axis, and a SPARSE cell (c=1) whose
    // one point sits 1400 off — the true nearest neighbor lives in
    // the dense cell. Count-normalized distances: dense 500^2 <<
    // sparse 1400^2 -> probe the dense cell, recall@1 = 1. The old
    // cross-multiplied form c^2*||q - sv/c||^2 scores dense
    // 30^2*500^2 = 2.25e8 > sparse 1.96e6 -> probes the sparse cell
    // and MISSES the true neighbor at nprobe=1, recall@1 = 0.
    val (s, path) = freshCat("annsk")
    import s.implicits._
    val dense = (0L until 30L).map(i =>
      (i + 1, 0L, Array(1000L, 500L + (i % 3) - 1L, 0L, 0L): Vec))
    val sparse = Seq((100L, 1L, Array(1000L, -900L, 0L, 0L): Vec))
    ins(s, "annsk", dense ++ sparse)
    s.sql("CALL annsk.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    val q: Vec = Array(1000L, 0L, 0L, 0L)
    val trueNn = (dense ++ sparse)
      .maxBy { case (id, _, v) => (cos(q, v), -id) }._1
    assert(dense.exists(_._1 == trueNn),
      "fixture: the true NN must live in the dense cell")
    val qs = Seq((900L, q.toSeq, dot(q, q))).toDF("qid", "qv", "qn")
    val got = AnnIndex.serve(s, path, "v", qs, nprobe = 1, k = 1)
      .collect().map(_.getLong(2))
    assert(got.headOption.contains(trueNn),
      s"count-normalized probe must find the dense-cell NN: $got")
    // the OLD form, recomputed locally, probes the sparse cell — the
    // documented bias this fixture is built to exhibit
    val cents = centroids((dense ++ sparse).map {
      case (id, cell, v) => id -> (v, cell, false) }.toMap)
    def oldForm(sv: Vec, c: Long): Double =
      q.indices.map(i => { val d = c * q(i) - sv(i); d.toDouble * d }).sum
    val oldPick = cents.toSeq.map { case (cell, (sv, c)) =>
      (oldForm(sv, c), cell) }.minBy(identity)._2
    assert(oldPick == 1L,
      s"fixture must exhibit the c^2 bias (old form picks sparse): $oldPick")
    val newPick = cents.toSeq.map { case (cell, (sv, c)) =>
      (cellDist(q, sv, c), cell) }.minBy(identity)._2
    assert(newPick == 0L, s"count-normalized form picks dense: $newPick")
  }

  test("family rebuild crash matrix: published-but-unlisted sub dirs, " +
      "orphaned era dirs, and stage debris all clear on the rerun") {
    val (s, path) = freshCat("annfc")
    import s.implicits._
    val fam = base.map { case (id, cell, v) => (id, cell, 0L, v) } ++
      base.map { case (id, cell, v) => (id + 100L, cell, 1L, v) }
    s.sql("ALTER TABLE annfc.default.t ADD COLUMNS (src INT)")
    s.sql("INSERT INTO annfc.default.t VALUES " + fam.map {
      case (id, cell, src, v) =>
        s"($id, 0, 'x', 's', '', $cell, array(${v.mkString(",")}L), $src)"
    }.mkString(", "))
    s.sql("CALL annfc.system.ann_build(" +
      "'default.t', 'doc_id', 'v', 'cell', 'src')")
    val root = AnnIndex.dirFor(path, "v")
    // table drift: src 1 vanishes entirely, src 2 appears. NO sync —
    // an unknown filter value REFUSES sync by design, and ann_rebuild
    // is its one-call answer (it heals a behind index from the
    // snapshot, no replay)
    s.sql("DELETE FROM annfc.default.t WHERE src = 1")
    s.sql("INSERT INTO annfc.default.t VALUES " + base.map {
      case (id, cell, v) =>
        s"(${id + 200L}, 0, 'x', 's', '', $cell, " +
          s"array(${v.mkString(",")}L), 2)"
    }.mkString(", "))
    // fabricate the crash debris an interrupted earlier rebuild leaves
    // (the r19 advice + verdict item 5 shapes):
    //  - a sub that swapped + published but the family manifest never
    //    listed (crash between sub swaps and the family publish) —
    //    modeled by a fully-formed unlisted sub dir
    val orphanSub = root.resolve("src=99")
    Files.createDirectories(orphanSub.resolve("base-3").resolve("vectors"))
    new AnnIndex.Manifest(orphanSub).publish(
      Seq(("cols", "doc_id|v|cell"), ("synced", "9"),
        ("base", "base-3")), 3)
    //  - an era dir written but never swapped in an existing sub (the
    //    refused-swap orphan the r19 advice found leaking forever)
    val orphanEra = root.resolve("src=0").resolve("base-9")
    Files.createDirectories(orphanEra.resolve("vectors"))
    Files.writeString(orphanEra.resolve("vectors").resolve("junk"), "x")
    //  - stage debris
    Files.createDirectories(root.resolve(".stage-rebuild"))
    // the rerun (one call) converges: subs re-derived to {0, 2},
    // vanished/unlisted/orphan state all deleted
    val rb = s.sql("CALL annfc.system.ann_rebuild('default.t', 'v')").head
    assert(rb.getLong(2) == 6 && rb.getLong(3) == 36,
      s"rebuild over {src 0, src 2} x 3 cells x 6 vectors: $rb")
    val famM = AnnIndex.loadFamily(root)
    assert(famM.subs == Seq(0L, 2L), s"re-derived subs: ${famM.subs}")
    assert(!Files.exists(root.resolve("src=1")),
      "vanished filter value's sub must be deleted after the publish")
    assert(!Files.exists(orphanSub),
      "published-but-unlisted crash sub must be deleted")
    assert(!Files.exists(orphanEra),
      "orphaned era dir must be swept by the rerun")
    assert(!Files.exists(root.resolve(".stage-rebuild")),
      "stage debris must be cleared")
    // every surviving sub serves the post-rebuild snapshot exactly
    val st0: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => id -> (v, cell, false) }.toMap
    val st2: Map[Long, (Vec, Long, Boolean)] =
      base.map { case (id, cell, v) => (id + 200L) -> (v, cell, false) }
        .toMap
    def checkF(src: Long, q: Vec,
        st: Map[Long, (Vec, Long, Boolean)]): Unit = {
      val qs = Seq((900L, q.toSeq, dot(q, q))).toDF("qid", "qv", "qn")
      val got = AnnIndex.serve(s, path, "v", qs, filter = Some(src))
        .collect().map(r => (r.getLong(2), r.getAs[Number](3).longValue(),
          r.getBoolean(4), r.getDouble(5)))
      val want = expectedServe(q, st, centroids(st), 2, 3).map {
        case (id, cell, isNew, c) => (id, cell, isNew,
          BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }
      assert(got.toSeq == want, s"src=$src post-crash-rerun serve")
    }
    checkF(0L, Array(1000L, 1L, 0L, 0L), st0)
    checkF(2L, Array(0L, 1000L, 1L, 0L), st2)
    // single-index twin of the era sweep: a refused/crashed rebuild's
    // base-<n> orphan is cleared by the NEXT rebuild even though that
    // one computes a higher era number (the r19 advice leak)
    val (s3, path3) = freshCat("annoe")
    ins(s3, "annoe", base)
    s3.sql("CALL annoe.system.ann_build('default.t', 'doc_id', 'v', 'cell')")
    val root3 = AnnIndex.dirFor(path3, "v")
    // a HIGHER era number than the next rebuild will use (it computes
    // base-1) — the r19 advice leak was exactly that the per-attempt
    // clearing only ever targeted the attempt's OWN era name
    val orphan3 = root3.resolve("base-7")
    Files.createDirectories(orphan3.resolve("vectors"))
    s3.sql("CALL annoe.system.ann_rebuild('default.t', 'v')")
    assert(!Files.exists(orphan3),
      "single-index rebuild must sweep unreferenced base-* orphans")
    assert(AnnIndex.load(root3).base.startsWith("base-"),
      "the live era itself must survive the sweep")
  }

  test("probePairs never probes an emptied cell (c = 0 zero centroid)") {
    // a maintenance batch that deletes EVERY vector of a cell leaves
    // (sv = 0-vector, c = 0) in the subtracted state; its probe
    // distance is exactly 0, so without the c > 0 guard the dead cell
    // would win a probe slot for every query while contributing zero
    // candidates (r17 review scenario — the shipped fixtures delete
    // 1-in-7 per cell and never empty one, hence this synthetic pin)
    val s = spark
    import s.implicits._
    val dim = 4
    // cell 0: EMPTIED (zero centroid, c = 0); cells 1, 2: live
    val cents = Seq(
      (0, Seq.fill(dim)(0L), 0L),
      (1, Seq(1000L, 0L, 0L, 0L), 1L),
      (2, Seq(0L, 1000L, 0L, 0L), 1L)).toDF("label", "sv", "c")
    val pool = Seq(
      (11L, Seq(1000L, 0L, 0L, 0L), 1000000L, 1),
      (22L, Seq(0L, 1000L, 0L, 0L), 1000000L, 2)
    ).toDF("vec_id", "q", "nn", "label")
    val qs = Seq((99L, Seq(700L, 700L, 0L, 0L), 980000L))
      .toDF("qid", "qv", "qn")
    val (cells, probe) = AnnIndex.probePairs(s, qs, cents, 2)
    val out = AnnIndex.topKWithBestNew(
        pool.filter(col("label").isin(cells: _*))
          .withColumn("is_new", lit(false)), probe, 3)
      .collect()
    // both live cells probed (nprobe = 2), both candidates returned —
    // the dead cell stole neither slot
    assert(cells.toSet == Set(1L, 2L), cells.mkString(";"))
    assert(out.map(_.getLong(2)).toSet == Set(11L, 22L),
      out.mkString(";"))
  }
}
