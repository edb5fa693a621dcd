package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Stored procedures for the docstore catalog — the `CALL
  * cat.system.<proc>(...)` lifecycle surface (Spark 4's
  * ProcedureCatalog, the API Iceberg's `rewrite_data_files` /
  * `expire_snapshots` plug into):
  *
  *  - `vacuum(table)` — physically reclaim segment files no version
  *    needs. DELETE / UPDATE / MERGE retain replaced files so
  *    `VERSION AS OF` keeps working (the Delta remove-then-VACUUM
  *    split); vacuum is the explicit, destructive second half: drop
  *    unreferenced files, reset history to the current state. Without
  *    it a heavily-updated table's directory grows without bound.
  *  - `history(table)` — the version log as a queryable result set
  *    (version, segments, rows, bytes, current), the metadata view
  *    `DESCRIBE HISTORY` serves on Delta.
  *
  * Both run driver-side over metadata (manifest lines, file listing) —
  * at 100 TB the work is proportional to file COUNT, never data bytes,
  * and vacuum's delete set is computed under the commit lock so a
  * concurrent append can't lose a just-published segment. */
abstract class DocStoreProcedure extends UnboundProcedure with BoundProcedure {
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  protected def result(schema: StructType,
      resultRows: Seq[InternalRow]): java.util.Iterator[Scan] = {
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = resultRows.toArray
      override def readSchema(): StructType = schema
    }
    java.util.List.of(scan).iterator()
  }

  /** `ns.table` (or `ns1.ns2.table`) under the catalog root. */
  protected def tableDir(catalog: DocStoreCatalog, arg: String): Path = {
    val parts = arg.split("\\.").toSeq
    require(parts.size >= 2,
      s"expected '<namespace>.<table>', got '$arg'")
    val dir = catalog.rootDir.resolve(parts.mkString("/"))
    require(Files.exists(dir.resolve("MANIFEST")),
      s"no docstore table at '$arg'")
    dir
  }
}

class VacuumProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "vacuum"
  override def description(): String =
    "physically delete segment files unreferenced by the current " +
      "manifest and reset version history to the current state"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      // Delta's VACUUM DRY RUN: report what WOULD be reclaimed —
      // same walk, no delete, no history reset
      ProcedureParameter.in("dry_run", BooleanType)
        .defaultValue("false").build())

  private val SCHEMA = StructType(Seq(
    StructField("deleted_files", LongType, nullable = false),
    StructField("reclaimed_bytes", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val dryRun = input.getBoolean(1)
    var files = 0L
    var bytes = 0L
    DocStoreCommitOps.withCommitLock(dir.toString) {
      // ANN indexes survive vacuum physically (.gds-only reclaim), but
      // the history reset below RENUMBERS versions — an index synced
      // behind the pre-reset head could never replay its pending
      // changes (their retained manifests are about to go), so refuse
      // BEFORE anything is deleted; fully-synced cursors re-anchor to
      // the new numbering after the reset (r19 review finding)
      if (!dryRun) AnnIndex.requireSyncedForHistoryReset(dir.toString,
        DocStoreCommitOps.nextVersion(dir.toString) - 1)
      // unpublished branch segments are NOT dead: their manifests are
      // additional liveness roots until published or dropped
      val live = DocStore.readManifest(dir.toString).map(_.name).toSet ++
        DocStoreBranches.branchReferencedNames(dir.toString)
      // recursive walk, keyed by manifest-relative name: partitioned
      // tables keep segments in per-partition subdirectories, and the
      // manifest records `p=<val>/part-N.gds` — a basename-keyed check
      // would treat every partitioned segment as dead
      val deadWalk = graft.core.Fs.walk(dir)
        .filter(p => p.getFileName.toString.endsWith(".gds") &&
          !live(dir.relativize(p).toString.replace('\\', '/')))
      // The walk is the one vacuum step whose duration scales with
      // table size — a holder stalled in it past the steal TTL could
      // wake to a STOLEN lock and a stealer's already-published
      // manifest, and deleting against the pre-stall liveness set
      // would reclaim files that manifest references (silent data
      // loss). So immediately before the destructive loop: prove the
      // lock is still ours (fencing token unchanged), then re-read
      // the liveness roots so any manifest published during the walk
      // re-protects its files even where fencing degraded (exotic FS
      // with no token — there the re-read is the only guard).
      if (!dryRun) DocStoreCommitOps.assertLockFence(dir.toString)
      val live2 = DocStore.readManifest(dir.toString).map(_.name).toSet ++
        DocStoreBranches.branchReferencedNames(dir.toString)
      val dead = deadWalk.filterNot(p =>
        live2(dir.relativize(p).toString.replace('\\', '/')))
      dead.foreach { p =>
        bytes += Files.size(p)
        if (!dryRun) Files.delete(p)
        files += 1
      }
      if (!dryRun) {
        // old versions reference the deleted files → reset history to a
        // single snapshot of the current state (same rule as truncate)
        DocStoreCommitOps.assertLockFence(dir.toString)
        DocStoreCommitOps.clearVersions(dir.toString)
        Files.copy(dir.resolve("MANIFEST"), dir.resolve("MANIFEST.v1"))
        // the new numbering's current version is 1 — re-anchor every
        // index cursor so the next commit (version 2) syncs normally
        AnnIndex.rebaseAfterHistoryReset(dir.toString, 1L)
      }
    }
    result(SCHEMA, Seq(new GenericInternalRow(Array[Any](files, bytes))))
  }
}

/** `CALL cat.system.restore('ns.t', v)` — Delta's RESTORE TABLE:
  * republish a retained version's manifest (segment list + its
  * deletion vectors) as a NEW version. Metadata-only by construction —
  * segments are immutable and replaced files are retained by
  * append/DML history, so rolling back a bad UPDATE on a 100 TB table
  * costs one manifest write. History stays append-only (the bad
  * version remains readable via VERSION AS OF — the restore is itself
  * a commit, Delta semantics exactly). Refuses loudly when the target
  * snapshot is gone (vacuum/truncate reset history) or any referenced
  * segment file was reclaimed. */
class RestoreProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "restore"
  override def description(): String =
    "restore the table to a retained version by republishing its " +
      "manifest as a new version (metadata-only)"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", LongType).build())

  private val SCHEMA = StructType(Seq(
    StructField("restored_version", LongType, nullable = false),
    StructField("new_version", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val v = input.getLong(1)
    var newV = 0L
    DocStoreCommitOps.withCommitLock(dir.toString) {
      require(Files.exists(dir.resolve(s"MANIFEST.v$v")),
        s"no retained snapshot MANIFEST.v$v — vacuum or truncate " +
          "reset the history past it")
      // Delta RESTORE also rolls back table METADATA: when the target
      // version predates a schema change, republish the schema that
      // served it (from the `SCHEMA.upto-v<k>` archives every ALTER
      // writes) alongside the segments+DVs. The current schema is
      // archived first, which makes restore REVERSIBLE: a later
      // restore forward to a rolled-over version finds that archive
      // and republishes the evolved schema. (Reads always go through
      // the live schema — VERSION AS OF a rolled-over version after
      // the rollback sees the older columns only, the same
      // read-through-live-schema contract evolution already has.) A
      // table ALTERed before archiving existed has no archive for the
      // target — refuse loudly rather than pair old segments with a
      // newer schema (the r10 silent-mismatch hazard).
      val since = DocStore.readSchemaSince(dir.toString)
      val head = DocStoreCommitOps.nextVersion(dir.toString) - 1
      if (since > 0L && v <= since) {
        val target = DocStore.schemaArchiveAt(dir.toString, v).getOrElse(
          throw new IllegalArgumentException(
            s"cannot RESTORE to version $v: the table schema was " +
              s"ALTERed while at version $since and no schema archive " +
              "covers the target (table predates schema archiving) — " +
              "restore would pair old segments with a newer schema"))
        DocStore.archiveSchema(dir.toString, head)
        if (target == DocStore.SCHEMA)
          Files.deleteIfExists(dir.resolve("SCHEMA"))
        else DocStore.writeSchemaFile(dir.toString, target)
        // the restore IS a schema change at the new head
        DocStore.writeSchemaSince(dir.toString, head)
      }
      val (segs, dvs) =
        DocStore.readManifestAndDeletes(dir.toString, s"MANIFEST.v$v")
      val missing = segs.filterNot(s => Files.exists(dir.resolve(s.name)))
      require(missing.isEmpty,
        s"version $v references vacuumed segment files: " +
          missing.map(_.name).mkString(", "))
      newV = DocStoreCommitOps.writeManifest(dir.toString, segs,
        s"restore-v$v-${java.util.UUID.randomUUID()}", dvs)
    }
    result(SCHEMA, Seq(new GenericInternalRow(Array[Any](v, newV))))
  }
}

/** `CALL cat.system.optimize('ns.t', target)` — Delta's OPTIMIZE /
  * Iceberg's `rewrite_data_files` as a HISTORY-PRESERVING,
  * `dataChange=false` commit: compact the current snapshot's segments
  * into `target` range-laid-out segments (doc_id locality restored,
  * deletion vectors folded in) and publish the new layout as a flagged
  * commit that (a) keeps every prior version readable — old segments
  * are retained on disk, `VERSION AS OF` and `system.restore` still
  * work across it — and (b) contributes NOTHING to the change feed:
  * batch CDF and the streaming CDC face both skip `F,rewrite` commits,
  * exactly as Delta's `table_changes` emits nothing across an
  * OPTIMIZE. (Contrast q130's truncating overwrite, which resets
  * history — the right tool only when history is disposable.)
  *
  * The distributed rewrite runs OUTSIDE the commit lock against the
  * pinned immutable `MANIFEST.v<head>` snapshot; the lock is taken
  * only to (1) verify no concurrent commit moved the head — refusing
  * loudly instead of silently dropping that commit's rows — and (2)
  * move staged segments in + publish the manifest. At 100 TB the
  * critical section is metadata-sized. */
class OptimizeProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "optimize"
  override def description(): String =
    "compact the table into <target> range-laid-out segments as a " +
      "history-preserving dataChange=false commit (skipped by CDC)"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target_segments", LongType).build(),
      // Delta's OPTIMIZE ZORDER BY / Iceberg's sort-strategy
      // rewrite_data_files: '' (default) keeps the doc_id range
      // layout; 'c' re-lays out by column c; 'a,b' z-orders on the
      // Morton interleave of width-bucket surrogates of BIGINT or
      // STRING columns (strings via an order-preserving 7-byte-
      // prefix surrogate). Clustering is what makes the per-segment
      // stats envelopes (data skipping) selective on non-id columns.
      ProcedureParameter.in("cluster_by", StringType)
        .defaultValue("''").build(),
      // Iceberg's bin-pack strategy: > 0 switches to INCREMENTAL
      // compaction — only segments under this byte size (plus any
      // carrying deletion vectors, which compaction absorbs) are
      // rewritten, packed together; compact segments are untouched.
      // At 100 TB the full-table rewrite is the wrong default shape:
      // steady-state maintenance is "pack the small tail", and its
      // cost must scale with the tail, not the table.
      ProcedureParameter.in("small_bytes", LongType)
        .defaultValue("0").build())

  private val SCHEMA = StructType(Seq(
    StructField("compacted_segments", LongType, nullable = false),
    StructField("new_segments", LongType, nullable = false),
    StructField("new_version", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val target = input.getLong(1).toInt
    require(target >= 1, s"target_segments must be >= 1, got $target")
    val clusterBy = Option(input.getUTF8String(2)).map(_.toString.trim)
      .getOrElse("").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(clusterBy.size <= 4,
      s"cluster_by supports at most 4 columns, got $clusterBy")
    val smallBytes = input.getLong(3)
    require(smallBytes >= 0, s"small_bytes must be >= 0, got $smallBytes")
    val binpack = smallBytes > 0
    require(!binpack || clusterBy.isEmpty,
      "cluster_by implies a full rewrite — it cannot combine with " +
        "small_bytes bin-packing (cluster first, then bin-pack later " +
        "commits)")
    val path = dir.toString
    val s = org.apache.spark.sql.SparkSession.active
    val v0 = DocStoreCommitOps.nextVersion(path) - 1
    require(v0 >= 1, "nothing to optimize: table has no committed version")
    val (segs, dvs) =
      DocStore.readManifestAndDeletes(path, s"MANIFEST.v$v0")
    // bin-pack candidates: the small tail plus every DV'd segment
    // (compaction absorbs merge-on-read deletes); everything else is
    // untouched — the whole point of the incremental form
    val candidates =
      if (!binpack) segs
      else segs.filter(seg =>
        seg.bytes < smallBytes || dvs.contains(seg.name))
    // by NAME: deep Segment equality (stats maps included) per pair
    // would be O(n*m) driver CPU on a 100k-segment table
    val candidateNames = candidates.map(_.name).toSet
    val untouched = segs.filterNot(s => candidateNames(s.name))
    // already compact: no commit, no churn — unless a re-clustering
    // was explicitly requested, which rewrites regardless of count
    val noop =
      if (binpack)
        candidates.size < 2 && candidates.forall(c => !dvs.contains(c.name))
      else segs.size <= target && clusterBy.isEmpty
    if (noop)
      return result(SCHEMA, Seq(new GenericInternalRow(
        Array[Any](candidates.size.toLong, candidates.size.toLong, v0))))
    val staging = Files.createTempDirectory(dir.getParent,
      s".stg-opt-${dir.getFileName}-")
    try {
      // the staging dir impersonates the table for the write path:
      // SCHEMA (evolved columns), PARTITIONING (per-partition segment
      // routing + clustered distribution), PROPS carry over
      Seq("SCHEMA", "PROPS", DocStorePartitioning.FILE).foreach { f =>
        if (Files.exists(dir.resolve(f)))
          Files.copy(dir.resolve(f), staging.resolve(f))
      }
      Files.write(staging.resolve("MANIFEST"), Array.empty[Byte])
      import org.apache.spark.sql.functions.{col, expr}
      val reader = s.read.format("graft-docstore").option("path", path)
        .option("manifest", s"MANIFEST.v$v0")
      val df =
        if (!binpack) reader.load()
        // scan ONLY the candidate files (plan-time name pruning); DVs
        // apply during the read, so packed output materializes the
        // deletes and the new segments carry no DV entries
        else reader.option("segments",
          candidates.map(_.name).mkString(",")).load()
      // packed layout sized to the tail: ~small_bytes per output,
      // capped by target — never one-file-per-input
      val nOut =
        if (!binpack) target
        else math.min(target.toLong, math.max(1L,
          candidates.map(_.bytes).sum / smallBytes)).toInt
      val clustered = clusterBy match {
        case Seq() => df.repartitionByRange(nOut, col("doc_id"))
        case cols =>
          val missing = cols.filterNot(df.columns.contains)
          require(missing.isEmpty,
            s"cluster_by names absent columns: ${missing.mkString(",")}")
          cols match {
            case Seq(c) =>
              // single column: a plain range layout IS the tightest
              // clustering (every segment owns one value interval)
              df.repartitionByRange(target, col(c))
                .sortWithinPartitions(col(c), col("doc_id"))
            case cs =>
              cs.foreach(c => require(
                df.schema(c).dataType ==
                  org.apache.spark.sql.types.LongType ||
                  df.schema(c).dataType ==
                  org.apache.spark.sql.types.StringType,
                s"multi-column cluster_by needs BIGINT or STRING " +
                  s"columns, $c is " + df.schema(c).dataType.simpleString))
              // Morton interleave of order-preserving width-bucket
              // surrogates (Delta's range_partition_id idea with
              // equal-width buckets): one tiny min/max agg job, then
              // a fully parallel range layout on the z key. k columns
              // share 63 key bits — 16 each for 2, 21 for 3, 15 for 4.
              // 2 columns ride the native InterleaveBits expression,
              // whose contract is the low 16 bits of each side; wider
              // keys divide the 63 bits (21 for 3 columns, 15 for 4).
              // STRING columns enter through an order-preserving
              // BIGINT surrogate: the first 7 UTF-8 bytes, right-
              // padded with 0x00 and read big-endian — byte order on
              // the prefix IS Spark's binary string order, values
              // sharing a 7-byte prefix tie (a width_bucket needs
              // nothing finer), and nulls take surrogate 0, the low
              // end of the layout. All built-in codegen'd functions;
              // 7 bytes = 56 bits < the long's positive range.
              def zin(c: String): org.apache.spark.sql.Column =
                if (df.schema(c).dataType ==
                  org.apache.spark.sql.types.StringType)
                  expr(s"coalesce(CAST(conv(hex(rpad(CAST(`$c` AS " +
                    "BINARY), 7, x'00')), 16, 10) AS BIGINT), 0L)")
                else col(c)
              val bits = if (cs.size == 2) 16 else 63 / cs.size
              val zdf = cs.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
                d.withColumn(s"__zc$i", zin(c)) }
              val zcs = cs.indices.map(i => s"__zc$i")
              val mmAggs = zcs.flatMap(c => Seq(
                org.apache.spark.sql.functions.min(c),
                org.apache.spark.sql.functions.max(c)))
              val r = zdf.agg(mmAggs.head, mmAggs.tail: _*).head
              val bounds = cs.indices.map { i =>
                require(!r.isNullAt(2 * i) && !r.isNullAt(2 * i + 1),
                  s"cluster_by column ${cs(i)} is all-null; " +
                    "nothing to cluster")
                (r.getLong(2 * i), r.getLong(2 * i + 1))
              }
              val buckets = zcs.zip(bounds).map { case (c, (lo, hi)) =>
                expr(s"CAST(width_bucket(`$c`, ${lo}L, ${hi}L + 1, " +
                  s"${1L << bits}) AS BIGINT) - 1")
              }
              // the 2-column key keeps the native codegen expression;
              // wider keys compose order-preserving bit arithmetic
              // (still whole-stage-codegen'd Column ops)
              val z =
                if (cs.size == 2)
                  org.apache.spark.sql.graftshim.column(
                    graft.expr.InterleaveBits(
                      org.apache.spark.sql.graftshim.expression(buckets(0)),
                      org.apache.spark.sql.graftshim.expression(buckets(1))))
                else {
                  import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
                  val k = cs.size
                  (0 until bits).foldLeft(lit(0L): org.apache.spark.sql.Column) {
                    (acc, i) =>
                      buckets.zipWithIndex.foldLeft(acc) { case (a2, (b, j)) =>
                        a2.bitwiseOR(shiftleft(
                          shiftright(b, i).bitwiseAND(lit(1L)), i * k + j))
                      }
                  }
                }
              zdf.withColumn("__z", z)
                .repartitionByRange(target, col("__z"))
                .sortWithinPartitions(col("__z"))
                .drop("__z" +: zcs: _*)
          }
      }
      clustered
        .write.format("graft-docstore").mode("append")
        // a compaction rewrites EXISTING rows — their ids must survive
        // verbatim even on an identity table (assignment is for new
        // rows; Delta's OPTIMIZE keeps identity values too)
        .option("identityPreserve", "true")
        .option("path", staging.toString).save()
      var newV = 0L
      var nNew = 0L
      DocStoreCommitOps.withCommitLock(path) {
        require(DocStoreCommitOps.nextVersion(path) - 1 == v0,
          s"concurrent commit during OPTIMIZE of $dir (head moved past " +
            s"v$v0); re-run optimize")
        val stagedSegs = DocStore.readManifest(staging.toString)
        val next = DocStoreCommitOps.claimPartNumbers(path, stagedSegs.size)
        val renamed = stagedSegs
          .zipWithIndex.map { case (seg, i) =>
            val dirPrefix = seg.name.lastIndexOf('/') match {
              case -1 => ""
              case cut => seg.name.substring(0, cut + 1)
            }
            val name = dirPrefix + f"part-${next + i}%05d.gds"
            Files.createDirectories(dir.resolve(name).getParent)
            Files.move(staging.resolve(seg.name), dir.resolve(name),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            seg.copy(name = name)
          }
        nNew = renamed.size.toLong
        // dataChange=false: identical row set, new layout. NO
        // clearVersions — history is the point; vacuum is the explicit
        // reclaimer of the replaced files. Bin-pack keeps the
        // untouched segments in their original manifest order (the
        // streaming source's replay contract) with the packed tail
        // appended; their DVs carry over, while the rewritten
        // segments' DVs die with them (materialized by the read).
        newV = DocStoreCommitOps.writeManifest(path,
          untouched ++ renamed, "optimize",
          deletes = dvs, rewrite = true)
      }
      result(SCHEMA, Seq(new GenericInternalRow(
        Array[Any](candidates.size.toLong, nNew, newV))))
    } finally graft.core.Fs.deleteRecursively(staging)
  }
}

/** `CALL cat.system.expire_snapshots('ns.t', keep_last)` — Iceberg's
  * `expire_snapshots` / Delta's retention-bounded VACUUM: drop all but
  * the newest `keep_last` retained versions and physically reclaim the
  * segment files ONLY those dropped versions referenced. The
  * retention-aware middle ground the lifecycle lacked: `vacuum` resets
  * history entirely, this keeps a working time-travel window — after a
  * compaction-heavy week, expire everything older than the window and
  * the table directory stops growing while RESTORE / VERSION AS OF /
  * CDC keep working across the kept versions (a CDC consumer
  * checkpointed BEFORE the window fails loudly on the missing
  * manifest, never silently skips). Metadata-proportional work: reads
  * manifests, deletes files; never opens a segment. The part-number
  * floor persists first so a deleted file's name can never be reborn
  * with different contents under a checkpointed reader. */
class ExpireSnapshotsProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "expire_snapshots"
  override def description(): String =
    "drop all but the newest <keep_last> retained versions and delete " +
      "the segment files only they referenced"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_last", LongType).build(),
      // Iceberg's primary retention form: expire versions committed
      // BEFORE this instant (epoch millis or ISO-8601), with
      // keep_last as the floor — the newest keep_last versions
      // survive regardless of age. '' = count-only retention.
      ProcedureParameter.in("older_than", StringType)
        .defaultValue("''").build())

  private val SCHEMA = StructType(Seq(
    StructField("expired_versions", LongType, nullable = false),
    StructField("deleted_files", LongType, nullable = false),
    StructField("reclaimed_bytes", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    // clamp before .toInt: a keep_last beyond Int range must mean
    // "keep everything", never wrap negative and empty the floor
    val keep = math.min(input.getLong(1), Int.MaxValue.toLong)
    require(keep >= 1, s"keep_last must be >= 1, got ${input.getLong(1)}")
    val olderThan = Option(input.getUTF8String(2)).map(_.toString.trim)
      .filter(_.nonEmpty).map(DocStoreCommitOps.parseCdcInstant)
    var expired = 0L
    var files = 0L
    var bytes = 0L
    DocStoreCommitOps.withCommitLock(dir.toString) {
      val times = DocStoreCommitOps.versionTimes(dir.toString)
      val versions = times.map(_._1).toVector
      val timeOf = times.toMap
      val drop = olderThan match {
        case Some(cut) =>
          val floor = versions.takeRight(keep.toInt).toSet
          versions.filter(v => timeOf(v) < cut && !floor(v))
        case None =>
          if (versions.size > keep) versions.dropRight(keep.toInt)
          else Vector.empty
      }
      if (drop.nonEmpty) {
        // an ANN index synced behind the expiry horizon could never
        // replay its pending change feed (the dropped manifests are
        // the diff bases) — refuse before the first mutation (r19)
        AnnIndex.requireCdfReplayable(dir.toString, drop)
        val kept = versions.filterNot(drop.toSet)
        // a file survives if ANY kept version or the live manifest
        // references it. Kept manifests are read WITH their deletion
        // vectors: the same pass feeds the exact checkpoint rebuild
        // below, so the roll-up costs no extra IO.
        val keptFull = kept.map(v => v ->
          DocStore.readManifestAndDeletes(dir.toString, s"MANIFEST.v$v"))
        val keptRefs = (keptFull.map(_._2._1) :+
          DocStore.readManifest(dir.toString)).flatten.map(_.name).toSet ++
          DocStoreBranches.branchReferencedNames(dir.toString)
        val dead = drop.flatMap(v =>
          DocStore.readManifest(dir.toString, s"MANIFEST.v$v"))
          .map(_.name).distinct.filterNot(keptRefs)
        // deleted names must never be reborn with different contents
        // (same rule TRUNCATE follows): floor the part counter FIRST.
        // Reading every kept manifest above is the step that scales
        // with history depth — same stolen-lock hazard as vacuum's
        // walk, so fence before the first mutation.
        DocStoreCommitOps.assertLockFence(dir.toString)
        DocStoreCommitOps.persistPartNumberFloor(dir.toString)
        // the checkpoint must summarize exactly the RETAINED versions
        // ("birth" = earliest retained version containing a segment —
        // expiry shifts it forward); rebuild BEFORE the deletes: a
        // crash in between leaves still-listed dropped versions that
        // reconcile via their own manifests, whereas delete-first left
        // a permanently stale roll-up with no fallback (r13 review
        // finding). Built from the manifests the liveness pass already
        // read, preserving each version's recorded commit time.
        DocStoreCommitOps.rebuildCheckpoint(dir.toString,
          keptFull.map { case (v, (segs, dvs)) =>
            (v, timeOf(v), segs, dvs) })
        drop.foreach { v =>
          Files.delete(dir.resolve(s"MANIFEST.v$v")); expired += 1
        }
        // belt-and-braces where fencing degraded: a manifest published
        // mid-stall re-protects its files via this re-read even
        // without a token to trip on
        val liveNow =
          DocStore.readManifest(dir.toString).map(_.name).toSet
        dead.filterNot(liveNow).foreach { n =>
          val p = dir.resolve(n)
          if (Files.exists(p)) {
            bytes += Files.size(p)
            Files.delete(p)
            files += 1
          }
        }
      }
    }
    result(SCHEMA, Seq(new GenericInternalRow(
      Array[Any](expired, files, bytes))))
  }
}

/** `CALL cat.system.create_branch('ns.t', 'b')` — cut a branch at the
  * current main state for write-audit-publish (see
  * [[DocStoreBranches]]): writes staged on the branch (via
  * `spark.graft.wap.branch`) are invisible to main readers, time
  * travel, and CDC until `publish_branch` fast-forwards main in ONE
  * commit; `drop_branch` abandons them and reclaims their files. */
class CreateBranchProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "create_branch"
  override def description(): String =
    "cut a branch at the current main state (write-audit-publish staging)"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("branch", StringType, nullable = false),
    StructField("base_version", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val b = input.getUTF8String(1).toString
    val base = DocStoreBranches.create(dir.toString, b)
    result(SCHEMA, Seq(new GenericInternalRow(
      Array[Any](UTF8String.fromString(b), base))))
  }
}

/** Fast-forward-only publish: refuses loudly if main's manifest bytes
  * changed since the branch was cut (concurrent commit, overwrite,
  * restore) — see [[DocStoreBranches.publish]]. */
class PublishBranchProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "publish_branch"
  override def description(): String =
    "fast-forward main to the branch as one commit and drop the ref"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("branch", StringType, nullable = false),
    StructField("published_version", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val b = input.getUTF8String(1).toString
    val v = DocStoreBranches.publish(dir.toString, b)
    result(SCHEMA, Seq(new GenericInternalRow(
      Array[Any](UTF8String.fromString(b), v))))
  }
}

class DropBranchProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "drop_branch"
  override def description(): String =
    "abandon a branch: delete the segment files only it referenced, " +
      "then the refs"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("deleted_files", LongType, nullable = false),
    StructField("reclaimed_bytes", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val b = input.getUTF8String(1).toString
    val (files, bytes) = DocStoreBranches.drop(dir.toString, b)
    result(SCHEMA, Seq(new GenericInternalRow(Array[Any](files, bytes))))
  }
}

/** `CALL cat.system.detail('ns.t')` — Delta's DESCRIBE DETAIL: one row
  * of table-level facts straight from metadata (manifest + PROPS +
  * PARTITIONING + version listing; zero segment IO). Live numbers are
  * DV-adjusted the same way reads are: n_rows excludes deleted
  * positions, so detail never disagrees with SELECT COUNT(*). */
class DetailProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "detail"
  override def description(): String =
    "one row of table metadata: format, segment/row/byte totals, " +
      "version head, partition columns, properties"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("n_segments", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("head_version", LongType, nullable = false),
    StructField("n_retained_versions", LongType, nullable = false),
    StructField("partition_columns", StringType, nullable = false),
    StructField("properties", StringType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val (segs, dvs) = DocStore.readManifestAndDeletes(dir.toString)
    val dvCount = segs.map(s =>
      dvs.get(s.name).map(_.length.toLong).getOrElse(0L)).sum
    val times = DocStoreCommitOps.versionTimes(dir.toString)
    val parts = DocStorePartitioning.read(dir.toString).map {
      case DocStorePartitioning.PIdentity(c) => c
      case DocStorePartitioning.PBucket(c, n) => s"bucket($n, $c)"
    }.mkString(",")
    val props = DocStoreCatalog.readProps(dir.toString).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(";")
    result(SCHEMA, Seq(new GenericInternalRow(Array[Any](
      UTF8String.fromString("graft-docstore"),
      segs.size.toLong,
      segs.map(_.rows).sum - dvCount,
      segs.map(_.bytes).sum,
      times.lastOption.map(_._1).getOrElse(0L),
      times.size.toLong,
      UTF8String.fromString(parts),
      UTF8String.fromString(props)))))
  }
}

/** `CALL cat.system.analyze('ns.t')` — Delta's ANALYZE ... COMPUTE
  * DELTA STATISTICS: backfill the per-segment stats envelopes on
  * segments written before stats existed (or whose stats were lost),
  * so data skipping and the metadata-aggregate path work on old
  * tables. One distributed scan groups by the `_segment` metadata
  * column (per-segment min/max/null counts computed where the data
  * lives; only segments × columns numbers reach the driver), then one
  * metadata-only `dataChange=false` commit republishes the manifest
  * with the stat lines — CDC consumers skip it, history is preserved.
  * The same envelope rules as the write path: longs exact; strings
  * as truncated bounds (DocStore.truncLowerBytes/truncUpperBytes —
  * sound for any length or encoding; the per-segment MIN/MAX compute
  * distributed under Spark's binary string order, a 17-CODE-POINT
  * prefix of each travels to the driver — always >= the full 16-byte
  * bound prefix plus the does-it-extend byte — and the shared
  * truncation helpers produce the stored bound). Stats are computed
  * through the READ (deletion vectors applied), which only narrows
  * envelopes toward the surviving rows — always sound.
  *
  * Also backfills per-segment BLOOM filters for the columns the
  * table's `graft.bloom.columns` property names (see
  * [[BloomBackfillAgg]]): setting the property on an EXISTING table
  * then calling analyze enables point-predicate skipping on every
  * old segment without rewriting one — beyond Delta, whose bloom
  * indexes cover newly written files only. DV-narrowing is equally
  * sound for blooms: fewer folded values can only skip MORE. */
/** Distributed per-segment Bloom fold for the ANALYZE backfill: the
  * buffer carries (bit words at a bounded ceiling, value count); merge
  * is bitwise OR + count add; finish OR-folds down to the smallest
  * power of two holding ~[[DocStore.BLOOM_BITS_PER_KEY]] bits per
  * value (the write path's sizing) and serializes big-endian — the
  * exact bytes [[DocStore.bloomLines]] publishes. The ceiling is
  * sized from the manifest's largest segment, so agg state per group
  * is rows-proportional, never the 128 KiB write-path maximum. Hash
  * functions are the writer's ([[DocStore.bloomHashLong]] /
  * [[DocStore.bloomHashBytes]]) — probe-side symmetry is the whole
  * soundness argument. */
private[sources] final case class BloomBuf(bits: Array[Long], n: Long)

private[sources] abstract class BloomBackfillAgg[I](ceilBits: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      I, BloomBuf, Array[Byte]] {
  protected def hashOf(v: I): Long
  override def zero: BloomBuf = BloomBuf(new Array[Long](ceilBits >> 6), 0L)
  override def reduce(b: BloomBuf, v: I): BloomBuf = {
    if (v == null) return b
    DocStore.bloomFoldHash(b.bits, ceilBits, hashOf(v))
    BloomBuf(b.bits, b.n + 1)
  }
  override def merge(a: BloomBuf, b: BloomBuf): BloomBuf = {
    var i = 0
    while (i < a.bits.length) { a.bits(i) |= b.bits(i); i += 1 }
    BloomBuf(a.bits, a.n + b.n)
  }
  override def finish(r: BloomBuf): Array[Byte] =
    if (r.n == 0L) Array.empty
    else DocStore.bloomWordsToBytes(
      DocStore.bloomSeal(r.bits, ceilBits, r.n))
  override def bufferEncoder: org.apache.spark.sql.Encoder[BloomBuf] =
    org.apache.spark.sql.Encoders.product[BloomBuf]
  override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
}

private[sources] final class BloomLongAgg(ceilBits: Int)
    extends BloomBackfillAgg[java.lang.Long](ceilBits) {
  override protected def hashOf(v: java.lang.Long): Long =
    DocStore.bloomHashLong(v.longValue())
}

private[sources] final class BloomStrAgg(ceilBits: Int)
    extends BloomBackfillAgg[String](ceilBits) {
  override protected def hashOf(v: String): Long =
    DocStore.bloomHashBytes(
      v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

class AnalyzeProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "analyze"
  override def description(): String =
    "backfill per-segment column statistics (data skipping) via one " +
      "distributed scan and a metadata-only commit"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("n_segments", LongType, nullable = false),
    StructField("n_columns", LongType, nullable = false),
    StructField("new_version", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    import org.apache.spark.sql.functions._
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val path = dir.toString
    val s = org.apache.spark.sql.SparkSession.active
    val tbl = DocStore.tableSchema(path)
    // every non-id column, with its physical section id; NESTED columns
    // are skipped — no total order exists for an envelope, and their
    // write-path stats (exact null counts) already serve IsNull pruning
    val statCols = tbl.fields.zipWithIndex.drop(1)
      .filterNot { case (f, _) => DocStore.isNestedType(f.dataType) }
      .map { case (f, i) => (f, DocStore.sectionOf(f, i)) }
    val df = s.read.format("graft-docstore").option("path", path).load()
      .select(col("_segment") +: tbl.fieldNames.map(col).toSeq: _*)
    val aggs = statCols.flatMap { case (f, sec) =>
      val c = col(f.name)
      // every non-string type stores an order-preserving 8-byte
      // payload: min/max fold in the NATIVE type (same order) and the
      // driver encodes the collected bounds via DocStore.encodedStatOf
      val is8 = f.dataType != org.apache.spark.sql.types.StringType
      Seq(count(when(c.isNull, 1)).as(s"nulls_$sec")) ++
        (if (is8) Seq(
          min(c).as(s"lo_$sec"),
          max(c).as(s"hi_$sec"))
        else Seq(
          // 17 code points >= 17 bytes: always covers the full 16-byte
          // aligned bound prefix AND at least one byte past it, which
          // is all truncUpperBytes needs to know the value extends
          // (a value that fits 16 bytes arrives whole). Keeps the
          // driver transfer bound-sized even for document-long strings.
          substring(min(c), 1, DocStore.STR_BOUND_MAX + 1).as(s"lo_$sec"),
          substring(max(c), 1, DocStore.STR_BOUND_MAX + 1).as(s"hi_$sec"),
          // invalid UTF-8 poisons (detection must run on the
          // executors, where the raw bytes still exist — the collected
          // Row has already decoded them). NULL is NOT invalid:
          // is_valid_utf8(NULL) is NULL, and counting it as a poison
          // would drop the envelope of every segment holding one null
          // (r12 review finding)
          max(when(c.isNull.or(expr(s"is_valid_utf8(`${f.name}`)")), 0)
            .otherwise(1)).as(s"nv_$sec")))
    }
    val computed = df.groupBy(col("_segment"))
      .agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val stats = statCols.map { case (f, sec) =>
        val nulls = r.getLong(r.fieldIndex(s"nulls_$sec"))
        val is8 = f.dataType != org.apache.spark.sql.types.StringType
        val bound: Option[DocStore.StatBound] =
          if (DocStore.isWideDecimal(f.dataType)) {
            // p > 18: DecBound over exact unscaled values at the
            // column scale (the 128-bit twin of the encoded-long fold)
            if (r.isNullAt(r.fieldIndex(s"lo_$sec"))) None
            else {
              val sc = f.dataType
                .asInstanceOf[org.apache.spark.sql.types.DecimalType].scale
              def unscaled(i: String): BigInt = BigInt(
                r.getAs[java.math.BigDecimal](r.fieldIndex(i))
                  .setScale(sc).unscaledValue())
              Some(DocStore.DecBound(
                unscaled(s"lo_$sec"), unscaled(s"hi_$sec")))
            }
          } else if (is8) {
            if (r.isNullAt(r.fieldIndex(s"lo_$sec"))) None
            else Some(DocStore.LongBound(
              DocStore.encodedStatOf(f.dataType,
                r.get(r.fieldIndex(s"lo_$sec"))),
              DocStore.encodedStatOf(f.dataType,
                r.get(r.fieldIndex(s"hi_$sec")))))
          } else {
            if (r.isNullAt(r.fieldIndex(s"lo_$sec")) ||
              r.getInt(r.fieldIndex(s"nv_$sec")) == 1) None
            else {
              // prefix-of-min truncates to a sound lower bound; the
              // hi prefix is >16 bytes exactly when the max extends,
              // so truncUpperBytes increments in exactly those cases
              val utf8 = java.nio.charset.StandardCharsets.UTF_8
              val lo = DocStore.truncLowerBytes(
                r.getString(r.fieldIndex(s"lo_$sec")).getBytes(utf8))
              DocStore.truncUpperBytes(
                r.getString(r.fieldIndex(s"hi_$sec")).getBytes(utf8))
                .map(hi => DocStore.StrBound(
                  new String(lo, utf8), new String(hi, utf8)))
            }
          }
        sec -> DocStore.ColStat(nulls, bound)
      }.toMap
      r.getString(0) -> stats
    }.toMap
    // Bloom backfill: segments written before the table's
    // graft.bloom.columns property was set (or before blooms existed)
    // gain point-predicate skipping WITHOUT a rewrite — beyond
    // Delta, whose bloom indexes apply to new files only. One more
    // distributed pass folds each segment's value hashes where the
    // data lives; only the folded filters (manifest-line-sized, the
    // exact bytes the commit publishes) reach the driver.
    // TIMESTAMP_NTZ declines HERE only (no SQL conversion yields the
    // writer's raw micros); its write-path filters are unaffected.
    val bloomSpecAll = DocStore.bloomSpecOf(path, tbl)
    // one backfill target per configured column OR struct leaf: the
    // SQL surface reads a leaf as the dotted nested reference, so the
    // same distributed fold covers both (key = agg alias suffix)
    final case class BloomTarget(key: String,
        quoted: String, dt: org.apache.spark.sql.types.DataType,
        sec: Int, leafPath: Option[String])
    val bloomTargets: Seq[BloomTarget] =
      (tbl.fields.zipWithIndex
        .filter { case (f, i) =>
          bloomSpecAll.sections(DocStore.sectionOf(f, i)) }
        .map { case (f, i) => BloomTarget(s"${DocStore.sectionOf(f, i)}",
          s"`${f.name}`", f.dataType, DocStore.sectionOf(f, i), None) }
        .toSeq ++
      tbl.fields.zipWithIndex.flatMap { case (f, i) =>
        val sec = DocStore.sectionOf(f, i)
        bloomSpecAll.leaves.getOrElse(sec, Set.empty).toSeq.sorted
          .zipWithIndex.flatMap { case (p, k) =>
            DocStore.structLeafSpecs(f.dataType).find(_.path == p)
              .map(ls => BloomTarget(s"${sec}_$k",
                (f.name +: p.split('.').toSeq)
                  .map(n => s"`$n`").mkString("."),
                ls.dt, sec, Some(p)))
          }
      // the NTZ decline covers BOTH surfaces (r17 review: parenthesize
      // or the filterNot binds to the leaf flatMap only, and a
      // top-level NTZ bloom column would crash the whole ANALYZE on
      // Spark's refused TIMESTAMP_NTZ -> BIGINT cast)
      }).filterNot(_.dt == org.apache.spark.sql.types.TimestampNTZType)
    type SegBlooms =
      (Map[Int, DocStore.Bloom], Map[Int, Map[String, DocStore.Bloom]])
    val bloomBySeg: Map[String, SegBlooms] =
      if (bloomTargets.isEmpty) Map.empty
      else {
        // agg-buffer ceiling sized from the largest segment: state per
        // group stays rows-proportional, never the write-path maximum
        val maxRows =
          (DocStore.readManifestAndDeletes(path)._1.map(_.rows) :+ 1L).max
        var ceil = DocStore.BLOOM_MIN_BITS
        while (ceil < DocStore.BLOOM_MAX_BITS &&
          ceil.toLong < maxRows * DocStore.BLOOM_BITS_PER_KEY) ceil <<= 1
        val aggsB = bloomTargets.map { t =>
          // the writer's encodings, reproduced at the SQL surface:
          // raw integer value, epoch days, micros, UTF-8 bytes
          val in = t.dt match {
            case org.apache.spark.sql.types.StringType => expr(t.quoted)
            case org.apache.spark.sql.types.DateType =>
              expr(s"unix_date(${t.quoted})")
            case TimestampType => expr(s"unix_micros(${t.quoted})")
            case _ => expr(t.quoted).cast("long") // INT widens value-exactly
          }
          val u =
            if (t.dt == org.apache.spark.sql.types.StringType)
              udaf(new BloomStrAgg(ceil),
                org.apache.spark.sql.Encoders.STRING)
            else udaf(new BloomLongAgg(ceil),
              org.apache.spark.sql.Encoders.LONG)
          u(in).as(s"bloom_${t.key}")
        }
        df.groupBy(col("_segment")).agg(aggsB.head, aggsB.tail: _*)
          .collect().map { r =>
            val folded = bloomTargets.flatMap { t =>
              val bytes = r.getAs[Array[Byte]](
                r.fieldIndex(s"bloom_${t.key}"))
              if (bytes == null || bytes.isEmpty) None
              else Some(t -> DocStore.Bloom(DocStore.BLOOM_K,
                DocStore.bloomBytesToWords(bytes)))
            }
            val top = folded.collect {
              case (t, b) if t.leafPath.isEmpty => t.sec -> b }.toMap
            val leaf = folded.collect {
              case (t, b) if t.leafPath.isDefined => (t.sec, t.leafPath.get, b) }
              .groupBy(_._1)
              .map { case (sec, xs) =>
                sec -> xs.map(x => x._2 -> x._3).toMap }
            r.getString(0) -> ((top, leaf))
          }.toMap
      }
    val bloomSecSet = bloomTargets.filter(_.leafPath.isEmpty).map(_.sec).toSet
    val bloomLeafSet: Set[(Int, String)] =
      bloomTargets.collect { case t if t.leafPath.isDefined =>
        (t.sec, t.leafPath.get) }.toSet
    var newV = 0L
    var nSegs = 0L
    DocStoreCommitOps.withCommitLock(path) {
      // attach to the CURRENT manifest's segments by name: anything
      // rewritten since the scan keeps its own (fresher) stats.
      // NESTED sections are absent from `computed` (no sound bound
      // exists) but their WRITE-PATH stats — exact null counts that
      // serve IsNull/IsNotNull pruning — must carry forward, not be
      // erased by the whole-map replace (r15 review finding: an
      // ANALYZE used to silently kill nested null-count pruning).
      val statSecs = statCols.map(_._2).toSet
      val (segs, dvs) = DocStore.readManifestAndDeletes(path)
      val updated = segs.map { seg =>
        val withStats = computed.get(seg.name) match {
          case Some(st) =>
            nSegs += 1
            seg.copy(stats = seg.stats.filterNot {
              case (sec, _) => statSecs(sec) } ++ st)
          case None => seg
        }
        // same attach-by-name contract: a segment rewritten since the
        // scan keeps its own (fresher) write-path blooms
        bloomBySeg.get(seg.name) match {
          case Some((top, leaf)) if top.nonEmpty || leaf.nonEmpty =>
            val keptLeaf = withStats.leafBlooms
              .map { case (sec, byPath) => sec -> byPath.filterNot {
                case (p, _) => bloomLeafSet((sec, p)) } }
              .filter(_._2.nonEmpty)
            val mergedLeaf = (keptLeaf.keySet ++ leaf.keySet).map { sec =>
              sec -> (keptLeaf.getOrElse(sec, Map.empty) ++
                leaf.getOrElse(sec, Map.empty))
            }.toMap
            withStats.copy(
              blooms = withStats.blooms.filterNot {
                case (sec, _) => bloomSecSet(sec) } ++ top,
              leafBlooms = mergedLeaf)
          case _ => withStats
        }
      }
      newV = DocStoreCommitOps.writeManifest(path, updated, "analyze",
        deletes = dvs, rewrite = true)
    }
    result(SCHEMA, Seq(new GenericInternalRow(
      Array[Any](nSegs, statCols.length.toLong, newV))))
  }
}

/** `CALL cat.system.set_partitioning('ns.t', 'lang')` — Iceberg's
  * partition evolution: change the table's partition spec METADATA-
  * ONLY. Existing segments keep their old directory layout (the scan
  * keeps any segment whose name doesn't parse against the current
  * spec — sound by construction — and key-grouped/SPJ reporting
  * disables itself on mixed layouts); new writes route by the new
  * spec; a later full-rewrite OPTIMIZE migrates the whole table to
  * the current layout, re-enabling directory pruning and SPJ
  * everywhere. Spec forms: '' (unpartition), 'col[,col2]' (identity
  * levels), 'bucket(n, doc_id)'. */
class SetPartitioningProcedure(catalog: DocStoreCatalog)
    extends DocStoreProcedure {
  override def name(): String = "set_partitioning"
  override def description(): String =
    "change the partition spec metadata-only (Iceberg partition " +
      "evolution); existing segments keep their layout"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("spec", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("old_spec", StringType, nullable = false),
    StructField("new_spec", StringType, nullable = false)))

  /** Parse the spec string into connector Transforms and route through
    * the SAME validator CREATE TABLE uses (fromTransforms: n > 0,
    * bucket-on-doc_id-only, column-in-schema, loud on time
    * transforms) — one rule set, no drift between the two faces. */
  private def parseSpec(raw: String, schema: StructType)
      : Seq[DocStorePartitioning.PTransform] = {
    val transforms = raw.split(",(?![^(]*\\))").map(_.trim)
      .filter(_.nonEmpty).map {
        case s if s.startsWith("bucket(") =>
          val m = "bucket\\(\\s*(-?\\d+)\\s*,\\s*([A-Za-z0-9_]+)\\s*\\)".r
            .findFirstMatchIn(s).getOrElse(
              throw new IllegalArgumentException(
                s"bad bucket transform '$s' — expected bucket(n, doc_id)"))
          org.apache.spark.sql.connector.expressions.Expressions
            .bucket(m.group(1).toInt, m.group(2))
            : org.apache.spark.sql.connector.expressions.Transform
        case c =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Transform
      }
    DocStorePartitioning.fromTransforms(transforms, schema)
  }

  private def render(spec: Seq[DocStorePartitioning.PTransform]): String =
    spec.map {
      case DocStorePartitioning.PIdentity(c) => c
      case DocStorePartitioning.PBucket(c, n) => s"bucket($n, $c)"
    }.mkString(",")

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val raw = input.getUTF8String(1).toString.trim
    val path = dir.toString
    var oldS = ""
    var newS = ""
    DocStoreCommitOps.withCommitLock(path) {
      val schema = DocStore.tableSchema(path)
      val next = parseSpec(raw, schema)
      // merge-on-read stays unpartitioned-only (its reinsert path has
      // no partition routing) — same rule CREATE TABLE enforces
      require(next.isEmpty ||
        DocStoreCatalog.readProps(path).get(DocStoreCatalog.MODE_KEY)
          .forall(_ != DocStoreCatalog.MODE_MOR),
        "partitioned docstore tables support copy-on-write row-level " +
          "operations only (merge-on-read is unpartitioned-only)")
      val cur = DocStorePartitioning.read(path)
      // a bucket level is only safe when no existing segment's name
      // would PARSE against it with keys computed under a different
      // modulus: `doc_id_bucket=<b>` dirs do not encode n, so a count
      // change would silently mis-prune and poison SPJ key grouping
      // (identity levels are safe — unparseable names are kept).
      next.zipWithIndex.foreach {
        case (b @ DocStorePartitioning.PBucket(c, _), lvl)
            if !cur.lift(lvl).contains(b) =>
          val poisoned = DocStore.readManifest(path).exists { s =>
            val comps = s.name.split("/").dropRight(1)
            comps.length > lvl && comps(lvl).startsWith(s"${c}_bucket=")
          }
          require(!poisoned,
            s"cannot change the bucket transform at level $lvl: " +
              s"existing segments live under ${c}_bucket= directories " +
              "whose keys were computed with a different bucket count " +
              "— OPTIMIZE (full rewrite) under the old spec first, " +
              "unpartition, or evolve after a truncating overwrite")
        case _ => ()
      }
      oldS = render(cur)
      newS = render(next)
      if (next.isEmpty) Files.deleteIfExists(
        dir.resolve(DocStorePartitioning.FILE))
      else DocStorePartitioning.write(path, next)
    }
    result(SCHEMA, Seq(new GenericInternalRow(Array[Any](
      UTF8String.fromString(oldS), UTF8String.fromString(newS)))))
  }
}

/** `CALL cat.system.clone('ns.src', 'ns.dst')` — Delta's CLONE: a new
  * table over the source's CURRENT snapshot without copying data.
  * Segments hard-link where the filesystem allows (immutable once
  * published, so shared bytes are safe; each table's vacuum only
  * unlinks its own directory entry) and fall back to copies;
  * SCHEMA / PROPS / PARTITIONING / SECTIONS metadata copies; the
  * clone starts its OWN version history and transaction record at v1
  * (Delta clones likewise do not inherit the source log). Deletion
  * vectors and stats ride the manifest lines unchanged. */
class CloneProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "clone"
  override def description(): String =
    "shallow-clone the source's current snapshot into a new table " +
      "(hard-linked segments, own history)"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("source", StringType).build(),
      ProcedureParameter.in("target", StringType).build(),
      // 0 = the current snapshot; > 0 clones a retained version
      // (Delta's CLONE ... VERSION AS OF)
      ProcedureParameter.in("version", LongType)
        .defaultValue("0").build())

  private val SCHEMA = StructType(Seq(
    StructField("n_segments", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("linked", BooleanType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val src = tableDir(catalog, input.getUTF8String(0).toString)
    val tgtName = input.getUTF8String(1).toString
    val tgtParts = tgtName.split("\\.").toSeq
    require(tgtParts.size >= 2,
      s"expected '<namespace>.<table>' clone target, got '$tgtName'")
    val tgt = catalog.rootDir.resolve(tgtParts.mkString("/"))
    require(Files.isDirectory(tgt.getParent),
      s"namespace ${tgtParts.init.mkString(".")} does not exist")
    require(!Files.exists(tgt),
      s"clone target $tgtName already exists")
    val atVersion = input.getLong(2)
    // Resolve against an IMMUTABLE retained snapshot — never the live
    // MANIFEST — and hold NO lock during the (possibly slow, cross-
    // device copy fallback) build: the optimize pattern. A concurrent
    // vacuum/expire deleting a referenced file mid-build fails the
    // clone loudly and the staging cleanup below leaves nothing behind.
    val head = DocStoreCommitOps.nextVersion(src.toString) - 1
    val v = if (atVersion == 0L) head else atVersion
    val manifest =
      if (v == 0L) "MANIFEST" // brand-new empty table: nothing to pin
      else {
        require(Files.exists(src.resolve(s"MANIFEST.v$v")),
          s"no retained snapshot MANIFEST.v$v to clone " +
            "(vacuumed/expired or never existed)")
        s"MANIFEST.v$v"
      }
    // Delta CLONE ... VERSION AS OF pairs the snapshot with the schema
    // that served it: behind a schema change, republish the archive
    // (same machinery as RESTORE) — or refuse rather than silently
    // pair old segments with a newer schema.
    val since = DocStore.readSchemaSince(src.toString)
    val cloneSchema: Option[StructType] =
      if (atVersion > 0L && since > 0L && v <= since)
        Some(DocStore.schemaArchiveAt(src.toString, v).getOrElse(
          throw new IllegalArgumentException(
            s"cannot clone version $v: the table schema was ALTERed " +
              s"while at version $since and no schema archive covers " +
              "the target (table predates schema archiving)")))
      else None
    val (segs, dvs) =
      DocStore.readManifestAndDeletes(src.toString, manifest)
    val missing = segs.filterNot(s => Files.exists(src.resolve(s.name)))
    require(missing.isEmpty,
      s"version $v references vacuumed segment files: " +
        missing.map(_.name).mkString(", "))
    var n = 0L
    var bytes = 0L
    var linked = true
    // build in a hidden staging dir, publish by ONE atomic directory
    // move: a crash leaves only removable staging, never a partial
    // target; two racing clones — both builds succeed, the move
    // decides, the loser cleans up (no target lock needed)
    val staging = Files.createTempDirectory(tgt.getParent,
      s".stg-clone-${tgt.getFileName}-")
    try {
      segs.foreach { seg =>
        val from = src.resolve(seg.name)
        val to = staging.resolve(seg.name)
        Files.createDirectories(to.getParent)
        try Files.createLink(to, from)
        catch { // cross-device or unsupported: fall back to a copy
          case _: UnsupportedOperationException | _: java.io.IOException =>
            linked = false
            Files.copy(from, to)
        }
        n += 1; bytes += seg.bytes
      }
      Seq("PROPS", DocStorePartitioning.FILE,
        DocStore.SECTION_FLOOR_FILE).foreach { f =>
        if (Files.exists(src.resolve(f)))
          Files.copy(src.resolve(f), staging.resolve(f))
      }
      // nested-codec generation archives: cloned old-generation
      // segments keep decoding by their write-time schemas
      graft.core.Fs.numbered(src, "SCHEMA.gen-").map(g => s"SCHEMA.gen-$g")
        .foreach(f => Files.copy(src.resolve(f), staging.resolve(f)))
      cloneSchema match {
        case Some(s) if s != DocStore.SCHEMA =>
          DocStore.writeSchemaFile(staging.toString, s)
        case Some(_) => () // archived schema was base-5: no SCHEMA file
        case None =>
          if (Files.exists(src.resolve("SCHEMA")))
            Files.copy(src.resolve("SCHEMA"), staging.resolve("SCHEMA"))
      }
      DocStoreCommitOps.writeManifest(staging.toString, segs, "clone", dvs)
      try Files.move(staging, tgt,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"clone target $tgtName already exists (a concurrent " +
              "clone won the publish)", e)
        case e: java.nio.file.DirectoryNotEmptyException =>
          throw new IllegalStateException(
            s"clone target $tgtName already exists (a concurrent " +
              "clone won the publish)", e)
      }
    } catch {
      case e: Throwable =>
        graft.core.Fs.deleteRecursively(staging)
        throw e
    }
    result(SCHEMA, Seq(new GenericInternalRow(
      Array[Any](n, bytes, linked))))
  }
}

class HistoryProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "history"
  override def description(): String =
    "the table's version log: one row per retained manifest snapshot"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("n_segments", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("is_current", BooleanType, nullable = false),
    // the commit instant `TIMESTAMP AS OF` resolves against (the
    // retained snapshot's mtime, strictly monotone per table)
    StructField("committed_at", TimestampType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    // one shared implementation with the `.history` metadata table —
    // the two faces can never drift (DV'd rows are deleted IN their
    // version, so the log counts them out, exactly like reads)
    result(SCHEMA,
      DocStoreMetaTables.historyRows(dir.toString).toSeq)
  }
}

/** `CALL cat.system.ann_build('ns.t', id_col, vec_col, label_col)` —
  * build the first-class IVF ANN index beside the table's manifest
  * (see [[AnnIndex]] for the layout and the 100 TB posture). The
  * label column seeds the coarse quantizer; arrivals synced later are
  * assigned against the PINNED centroids. One corpus pass. */
class AnnBuildProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "ann_build"
  override def description(): String =
    "build an IVF ANN index over a vector column (base layer + " +
      "pinned coarse quantizer), stored beside the table's manifest"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("id_col", StringType).build(),
      ProcedureParameter.in("vec_col", StringType).build(),
      ProcedureParameter.in("label_col", StringType).build(),
      // optional: partition the index by a metadata column — one
      // self-contained sub-index per value (the filtered-ANN answer);
      // sync/fold/serve dispatch per sub, so one src's maintenance
      // never touches another src's manifest or files
      ProcedureParameter.in("filter_col", StringType)
        .defaultValue("''").build())

  private val SCHEMA = StructType(Seq(
    StructField("index_dir", StringType, nullable = false),
    StructField("built_at_version", LongType, nullable = false),
    StructField("cells", LongType, nullable = false),
    StructField("vectors", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val st = AnnIndex.build(dir.toString,
      input.getUTF8String(1).toString,
      input.getUTF8String(2).toString,
      input.getUTF8String(3).toString,
      Option(input.getUTF8String(4)).map(_.toString).getOrElse(""))
    result(SCHEMA, Seq(new GenericInternalRow(Array[Any](
      UTF8String.fromString(st.indexDir), st.builtAtVersion,
      st.cells, st.vectors))))
  }
}

/** `CALL cat.system.ann_sync('ns.t', vec_col)` — CDF-driven index
  * maintenance, BOTH change types in one pass: per unsynced table
  * version, inserts (+ update post-images) append a cell-partitioned
  * delta fragment assigned against the pinned quantizer, deletes
  * (+ update pre-images) append a tombstone fragment resolved via a
  * candidate-cell-pruned lookup; the integer centroid state ADDs and
  * SUBTRACTs per-cell aggregates exactly. Batch + metadata per
  * version — never a corpus rescan. */
class AnnSyncProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "ann_sync"
  override def description(): String =
    "sync the ANN index from the table's change data feed — inserts " +
      "become delta fragments, deletes become tombstones"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("vec_col", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("from_version", LongType, nullable = false),
    StructField("to_version", LongType, nullable = false),
    StructField("fragments", LongType, nullable = false),
    StructField("tombstones", LongType, nullable = false),
    StructField("inserted", LongType, nullable = false),
    StructField("deleted", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val st = AnnIndex.sync(dir.toString, input.getUTF8String(1).toString)
    result(SCHEMA, Seq(new GenericInternalRow(Array[Any](
      st.fromVersion, st.toVersion, st.fragments, st.tombstones,
      st.inserted, st.deleted))))
  }
}

/** `CALL cat.system.ann_fold('ns.t', vec_col)` — compaction: fold
  * every pending fragment/tombstone into a new fold level covering
  * only the affected cells, seal the serve centroids, swap the index
  * manifest atomically under the commit lock (conflict-checked), then
  * delete the retired layers. serve-after == serve-before. */
class AnnFoldProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "ann_fold"
  override def description(): String =
    "fold pending ANN fragments/tombstones into a compacted level " +
      "and retire them atomically"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("vec_col", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("folded_fragments", LongType, nullable = false),
    StructField("applied_tombstones", LongType, nullable = false),
    StructField("affected_cells", LongType, nullable = false),
    StructField("retired_layers", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val st = AnnIndex.fold(dir.toString, input.getUTF8String(1).toString)
    result(SCHEMA, Seq(new GenericInternalRow(Array[Any](
      st.foldedFragments, st.appliedTombstones, st.affectedCells,
      st.retiredLayers))))
  }
}

/** `CALL cat.system.ann_drop('ns.t', vec_col)` — drop the index. */
class AnnDropProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "ann_drop"
  override def description(): String =
    "drop the ANN index over a vector column (the table is untouched)"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("vec_col", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("dropped", BooleanType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    result(SCHEMA, Seq(new GenericInternalRow(Array[Any](
      AnnIndex.drop(dir.toString, input.getUTF8String(1).toString)))))
  }
}

/** `CALL cat.system.ann_rebuild('ns.t', vec_col)` — zero-downtime
  * reindex from the table's current snapshot: a fresh base + coarse
  * quantizer build under an era-named dir, flipped live by ONE
  * atomic manifest publish; old layers retire after the swap. The
  * quantizer-refresh step for corpus drift, and the one-call answer
  * to the family's unknown-filter-value refusal (the sub set is
  * re-derived — new values gain subs, vanished values drop). See
  * [[AnnIndex.rebuild]]. */
class AnnRebuildProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "ann_rebuild"
  override def description(): String =
    "rebuild an ANN index from the current snapshot with a fresh " +
      "coarse quantizer — one atomic manifest swap, serve stays live"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("vec_col", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("index_dir", StringType, nullable = false),
    StructField("built_at_version", LongType, nullable = false),
    StructField("cells", LongType, nullable = false),
    StructField("vectors", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val st = AnnIndex.rebuild(dir.toString,
      input.getUTF8String(1).toString)
    result(SCHEMA, Seq(new GenericInternalRow(Array[Any](
      UTF8String.fromString(st.indexDir), st.builtAtVersion,
      st.cells, st.vectors))))
  }
}

/** `CALL cat.system.ann_detail('ns.t', vec_col)` — the index's
  * DESCRIBE DETAIL: one row per (sub-)index with the synced cursor
  * and layer counts, resolved entirely from manifests and partition
  * directory listings (zero data bytes). */
class AnnDetailProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "ann_detail"
  override def description(): String =
    "inspect an ANN index: synced version and layer counts per " +
      "(sub-)index, metadata-only"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("vec_col", StringType).build())

  private val SCHEMA = StructType(Seq(
    StructField("scope", StringType, nullable = false),
    StructField("synced_version", LongType, nullable = false),
    StructField("cells", LongType, nullable = false),
    StructField("fragments", LongType, nullable = false),
    StructField("tombstones", LongType, nullable = false),
    StructField("folds", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    result(SCHEMA, AnnIndex.detail(dir.toString,
        input.getUTF8String(1).toString)
      .map(r => new GenericInternalRow(Array[Any](
        UTF8String.fromString(r.scope), r.synced, r.cells,
        r.fragments, r.tombstones, r.folds))))
  }
}

/** `CALL cat.system.ann_search('ns.t', vec_col, 'ns.queries', k,
  * nprobe)` — the index's SQL QUERY face (r19 verdict item 2:
  * discovery, lifecycle, and detail were SQL; serving was
  * Scala-only). Query vectors are data, not SQL literals, so the
  * procedure takes a query TABLE: its rows carry the indexed table's
  * id and vector column names (and, for a filtered family, the
  * filter column — each query row routes to its sub-index in this
  * one call). Returns q113's serve shape, (query_id, rnk,
  * neighbor_id, cell, is_new, cosine), plus the routing value `flt`
  * (NULL for a plain index). Top-k results are batch-sized by
  * contract, so the procedure's driver-materialized result set stays
  * queries x k rows. See [[AnnIndex.searchTable]]. */
class AnnSearchProcedure(catalog: DocStoreCatalog) extends DocStoreProcedure {
  override def name(): String = "ann_search"
  override def description(): String =
    "serve top-k ANN neighbors for every row of a query table — " +
      "the SQL face of AnnIndex.serve"
  override def parameters(): Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("vec_col", StringType).build(),
      ProcedureParameter.in("query_table", StringType).build(),
      ProcedureParameter.in("k", IntegerType).defaultValue("3").build(),
      ProcedureParameter.in("nprobe", IntegerType)
        .defaultValue("2").build())

  private val SCHEMA = StructType(Seq(
    StructField("flt", LongType, nullable = true),
    StructField("query_id", LongType, nullable = false),
    StructField("rnk", IntegerType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cell", LongType, nullable = false),
    StructField("is_new", BooleanType, nullable = false),
    StructField("cosine", DoubleType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = tableDir(catalog, input.getUTF8String(0).toString)
    val vecCol = input.getUTF8String(1).toString
    val qdir = tableDir(catalog, input.getUTF8String(2).toString)
    val k = input.getInt(3)
    val nprobe = input.getInt(4)
    require(k > 0 && nprobe > 0,
      s"ann_search: k and nprobe must be positive (got k=$k, nprobe=$nprobe)")
    val s = org.apache.spark.sql.SparkSession.active
    // cache the query-table scan for the CALL's lifetime: the search
    // reads it several times (zero-norm guard, per-sub routing, the
    // probe, the top-k join) and the procedure face materializes
    // eagerly, so the cache has a clean unpersist point (review r20)
    val queryDf = s.read.format("graft-docstore")
      .option("path", qdir.toString).load().persist()
    try {
      val out = AnnIndex.searchTable(s, dir.toString, vecCol, queryDf,
        k = k, nprobe = nprobe)
      // top-k over a query batch — the result is queries x k rows; the
      // copy() is required (executeCollect may reuse row buffers)
      result(SCHEMA, out.queryExecution.executedPlan.executeCollect()
        .map(_.copy()).toSeq)
    } finally { queryDf.unpersist(); () }
  }
}
