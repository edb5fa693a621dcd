package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style metadata tables: `SELECT * FROM cat.ns.t.files` /
  * `.history` / `.partitions` serve the table's own metadata as
  * read-only relations — the SQL face of what `CALL system.history` /
  * `system.detail` expose procedurally, composable with joins, WHERE,
  * and aggregation like any other table. Everything is manifest-
  * derived (one read, plus the version listing for history): zero
  * segment IO at any table size.
  *
  *  - `files`: one row per LIVE segment — name, rows (DV-adjusted),
  *    doc_id span, bytes, deletion-vector count, partition values.
  *  - `history`: the retained version log with commit instants (the
  *    same rows as CALL system.history).
  *  - `partitions`: per-partition-directory rollup — identifier,
  *    segment/row/byte totals (DV-adjusted).
  *  - `ann`: one row per (vector column, sub-index scope) of every
  *    ANN index living under the table's `_ann/` dir — the SQL
  *    discovery face of `CALL system.ann_detail` (r18 verdict item
  *    6: a SQL-only consumer had no way to learn an index exists
  *    without calling a procedure). Zero rows when no index exists;
  *    metadata-only (manifest + partition-dir listings).
  */
object DocStoreMetaTables {
  val KINDS: Set[String] = Set("files", "history", "partitions", "ann")

  /** ONE implementation of the version-log rows — shared by `CALL
    * system.history` and the `.history` metadata table, so the two
    * faces can never drift. Row shape: (version, n_segments, n_rows
    * DV-adjusted, bytes, is_current, committed_at micros). */
  def historyRows(path: String): Array[InternalRow] = {
    val times = DocStoreCommitOps.versionTimes(path).toMap
    val versions = times.keys.toVector.sorted
    val latest = versions.lastOption.getOrElse(0L)
    // checkpoint-covered versions serve from their summary line — ONE
    // file read for the whole log instead of O(versions) manifest
    // reads (the r12 verdict's 10^5-commit streaming-table case);
    // uncovered versions reconcile against their own manifest
    val ck = DocStoreCommitOps.readCheckpoint(path)
    versions.map { v =>
      val (nSegs, liveRows, bytes) = ck.get(v) match {
        case Some(l) => (l.nSegs, l.liveRows, l.bytes)
        case None =>
          val (vs, vd) =
            DocStore.readManifestAndDeletes(path, s"MANIFEST.v$v")
          val del = vs.map(s =>
            vd.get(s.name).map(_.length.toLong).getOrElse(0L)).sum
          (vs.size.toLong, vs.map(_.rows).sum - del, vs.map(_.bytes).sum)
      }
      new GenericInternalRow(Array[Any](
        v, nSegs, liveRows, bytes, v == latest,
        times(v) * 1000L)): InternalRow
    }.toArray
  }
}

class DocStoreMetaTable(path: String, kind: String)
    extends Table with SupportsRead {

  override def name(): String = s"graft-docstore(`$path`).$kind"

  override def schema(): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("min_doc_id", LongType, nullable = false),
      StructField("max_doc_id", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("n_deleted", LongType, nullable = false),
      StructField("partition", StringType, nullable = true)))
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("n_segments", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("is_current", BooleanType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false)))
    case "ann" => StructType(Seq(
      StructField("vec_column", StringType, nullable = false),
      StructField("scope", StringType, nullable = false),
      StructField("synced_version", LongType, nullable = false),
      StructField("cells", LongType, nullable = false),
      StructField("fragments", LongType, nullable = false),
      StructField("tombstones", LongType, nullable = false),
      StructField("folds", LongType, nullable = false)))
    case _ => StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("n_segments", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def partitioning(): Array[Transform] = Array.empty

  private def rows(): Array[InternalRow] = {
    if (kind == "ann") return annRows()
    val (segs, dvs) = DocStore.readManifestAndDeletes(path)
    def dvCount(name: String): Long =
      dvs.get(name).map(_.length.toLong).getOrElse(0L)
    kind match {
      case "files" =>
        val spec = DocStorePartitioning.read(path)
        segs.map { s =>
          val part = s.name.lastIndexOf('/') match {
            case -1 => null
            case cut => UTF8String.fromString(s.name.substring(0, cut))
          }
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(s.name), s.rows - dvCount(s.name),
            s.minId, s.maxId, s.bytes, dvCount(s.name),
            part)): InternalRow
        }.toArray
      case "history" => DocStoreMetaTables.historyRows(path)
      case _ => // partitions
        require(DocStorePartitioning.read(path).nonEmpty,
          s"table at $path is not partitioned — " +
            "the partitions metadata table has nothing to list")
        segs.groupBy { s =>
          s.name.lastIndexOf('/') match {
            case -1 => ""
            case cut => s.name.substring(0, cut)
          }
        }.toSeq.sortBy(_._1).map { case (part, ps) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(part), ps.size.toLong,
            ps.map(s => s.rows - dvCount(s.name)).sum,
            ps.map(_.bytes).sum)): InternalRow
        }.toArray
    }
  }

  /** One row per (vector column, sub-index scope): the discovery face
    * of `CALL system.ann_detail`, empty (never an error) when the
    * table has no index — "does this table have ANN indexes?" is the
    * query this relation exists to answer. Crashed-build debris (a
    * vec-col dir with no published manifest) is unreachable state and
    * is skipped, matching every other reader. */
  private def annRows(): Array[InternalRow] = {
    AnnIndex.publishedColumns(path).flatMap { c =>
      AnnIndex.detail(path, c).map { d =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(c), UTF8String.fromString(d.scope),
          d.synced, d.cells, d.fragments, d.tombstones,
          d.folds)): InternalRow
      }
    }.toArray
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] = DocStoreMetaTable.this.rows()
        override def readSchema(): StructType = DocStoreMetaTable.this.schema()
        override def description(): String = name()
      }
    }
}
