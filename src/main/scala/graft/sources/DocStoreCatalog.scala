package graft.sources

import java.nio.file.{Files, Paths, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.core.Fs

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSourceV2 `TableCatalog` over docstore tables — the surface
  * that makes the connector SQL-addressable: register it as
  * `spark.sql.catalog.<name> = graft.sources.DocStoreCatalog` (+
  * `…<name>.root = <dir>`) and `CREATE TABLE` / `INSERT INTO` /
  * `SELECT` / `DELETE FROM` / `DROP TABLE` on
  * `<name>.<ns>.<table>` all resolve here, with every read/write
  * optimization of [[DocStoreTable]] intact. A table IS a directory
  * (`root/ns/table`) holding segments + MANIFEST — the catalog is pure
  * name→path resolution plus lifecycle, exactly the thin layer a
  * path-based lakehouse catalog is.
  *
  * Tables gain `SupportsDelete` through [[DocStoreSqlTable]]:
  * DELETE WHERE is served as a METADATA operation whenever every
  * segment is PROVABLY all-match (doc_id zone maps, exact LongBound
  * envelopes with zero nulls, identity partition values) or provably
  * matchless — covered segments drop from the manifest (then from
  * disk), no row is rewritten. An ambiguous predicate refuses
  * (`canDeleteWhere` = false) and routes through the exact rewrite —
  * deletes must be exact. */
class DocStoreCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  import org.apache.spark.sql.connector.catalog.{StagedTable, TableInfo}

  /** V2 functions ([[DocStoreFunctions]]): `bucket` / `normalize_key`,
    * addressable as `<cat>.system.fn(...)` from SQL and resolved with
    * an EMPTY namespace by Catalyst's storage-partitioned-join
    * transform resolution — both namespaces serve the same registry. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (!DocStoreFunctions.knownNamespace(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace)
    DocStoreFunctions.names.map(Identifier.of(namespace, _)).toArray
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val fn =
      if (DocStoreFunctions.knownNamespace(ident.namespace()))
        DocStoreFunctions.load(ident.name())
      else None
    fn.getOrElse(throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident))
  }

  /** Atomic CTAS / RTAS: without a staging catalog Spark's REPLACE
    * TABLE AS SELECT drops the old table BEFORE running the query — a
    * mid-write failure loses it. Staged tables write into a hidden
    * sibling directory; commit publishes by directory rename (create)
    * or by moving segments in and atomically swapping the manifest
    * under the commit lock (replace) — readers see the OLD table until
    * the swap, the NEW one after, never a mix and never an absence. */
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = false, orCreate = false)
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = true, orCreate = false)
  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable =
    stage(ident, info, replace = true, orCreate = true)

  private def stage(ident: Identifier, info: TableInfo,
      replace: Boolean, orCreate: Boolean): StagedTable = {
    if (!replace && tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !tableExists(ident))
      throw new NoSuchTableException(ident)
    // base-5 prefix; computed extras coerced nullable (CTAS columns
    // like `doc_id * 2 AS q` infer non-nullable but store nullable)
    val schema = DocStore.coerceEvolved(info.schema())
    val spec = DocStorePartitioning.fromTransforms(info.partitions(), schema)
    require(spec.isEmpty ||
      Option(info.properties().get(DocStoreCatalog.MODE_KEY))
        .forall(_ != DocStoreCatalog.MODE_MOR),
      "partitioned docstore tables support copy-on-write row-level " +
        "operations only (merge-on-read is unpartitioned-only)")
    val finalDir = dirOf(ident)
    Files.createDirectories(finalDir.getParent)
    sweepStaleStaging(finalDir.getParent)
    val staging = Files.createTempDirectory(finalDir.getParent,
      s".stg-ctas-${ident.name()}-")
    Files.write(staging.resolve("MANIFEST"), Array.empty[Byte])
    if (schema.fields.length > DocStore.FIELDS.size)
      DocStore.writeSchemaFile(staging.toString, schema)
    if (spec.nonEmpty) DocStorePartitioning.write(staging.toString, spec)
    DocStoreChecks.validate(schema, info.properties().asScala.toMap)
    DocStoreCatalog.writeModeProp(staging, info.properties())
    new DocStoreStagedTable(staging, finalDir, replace)
  }

  /** Reclaim staging dirs a crashed CTAS left behind (only ones older
    * than an hour — a LIVE concurrent CTAS's staging must survive;
    * same policy as core.Scratch). */
  private def sweepStaleStaging(ns: Path): Unit = {
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    Fs.list(ns)
      .filter(p => p.getFileName.toString.startsWith(".stg-ctas-") &&
        (try Files.getLastModifiedTime(p).toMillis < cutoff
        catch { case _: Exception => false }))
      .foreach(p => try Fs.deleteRecursively(p)
      catch { case _: Exception => () })
  }

  private var catalogName: String = _
  private var root: Path = _

  /** Procedure implementations resolve table dirs through this. */
  private[sources] def rootDir: Path = root

  /** `CALL <cat>.system.vacuum('ns.t')` / `...history('ns.t')` — the
    * ProcedureCatalog face (see [[DocStoreProcedure]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    (ident.namespace().toSeq, ident.name().toLowerCase) match {
      case (Seq("system"), "vacuum") => new VacuumProcedure(this)
      case (Seq("system"), "analyze") => new AnalyzeProcedure(this)
      case (Seq("system"), "set_partitioning") =>
        new SetPartitioningProcedure(this)
      case (Seq("system"), "clone") => new CloneProcedure(this)
      case (Seq("system"), "detail") => new DetailProcedure(this)
      case (Seq("system"), "history") => new HistoryProcedure(this)
      case (Seq("system"), "restore") => new RestoreProcedure(this)
      case (Seq("system"), "optimize") => new OptimizeProcedure(this)
      case (Seq("system"), "expire_snapshots") =>
        new ExpireSnapshotsProcedure(this)
      case (Seq("system"), "create_branch") => new CreateBranchProcedure(this)
      case (Seq("system"), "publish_branch") =>
        new PublishBranchProcedure(this)
      case (Seq("system"), "drop_branch") => new DropBranchProcedure(this)
      case (Seq("system"), "ann_build") => new AnnBuildProcedure(this)
      case (Seq("system"), "ann_sync") => new AnnSyncProcedure(this)
      case (Seq("system"), "ann_fold") => new AnnFoldProcedure(this)
      case (Seq("system"), "ann_drop") => new AnnDropProcedure(this)
      case (Seq("system"), "ann_rebuild") => new AnnRebuildProcedure(this)
      case (Seq("system"), "ann_detail") => new AnnDetailProcedure(this)
      case (Seq("system"), "ann_search") => new AnnSearchProcedure(this)
      case _ => throw new RuntimeException(
        s"no such docstore procedure: $ident (try system.vacuum / " +
          "system.history / system.restore / system.optimize / " +
          "system.expire_snapshots / system.create_branch / " +
          "system.publish_branch / system.drop_branch / " +
          "system.ann_build / system.ann_sync / system.ann_fold / " +
          "system.ann_drop / system.ann_rebuild / system.ann_detail / " +
          "system.ann_search)")
    }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Array(Identifier.of(namespace, "vacuum"),
        Identifier.of(namespace, "history"),
        Identifier.of(namespace, "restore"),
        Identifier.of(namespace, "optimize"),
        Identifier.of(namespace, "expire_snapshots"),
        Identifier.of(namespace, "create_branch"),
        Identifier.of(namespace, "publish_branch"),
        Identifier.of(namespace, "drop_branch"),
        Identifier.of(namespace, "ann_build"),
        Identifier.of(namespace, "ann_sync"),
        Identifier.of(namespace, "ann_fold"),
        Identifier.of(namespace, "ann_drop"),
        Identifier.of(namespace, "ann_rebuild"),
        Identifier.of(namespace, "ann_detail"),
        Identifier.of(namespace, "ann_search"))
    else Array.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Paths.get(Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.root")))
  }
  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  private def dirOf(ident: Identifier): Path =
    (ident.namespace() :+ ident.name()).foldLeft(root)(_.resolve(_))
  /** Dot-prefixed dirs are internal (in-flight CTAS staging, lock
    * tombstones) — they carry a MANIFEST but must never surface as
    * tables: SHOW TABLES listing a half-written `.stg-ctas-*` would
    * let it be SELECTed mid-write or DROPped under the running CTAS. */
  private def isTable(p: Path): Boolean =
    !p.getFileName.toString.startsWith(".") &&
      Files.exists(p.resolve("MANIFEST"))

  override def tableExists(ident: Identifier): Boolean = isTable(dirOf(ident))

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) {
      // Iceberg-style metadata tables: `SELECT * FROM cat.ns.t.files`
      // parses as identifier [ns, t].files — serve the parent table's
      // metadata as a read-only relation when the suffix names one
      if (ident.namespace().nonEmpty &&
          DocStoreMetaTables.KINDS(ident.name())) {
        val parent = Identifier.of(ident.namespace().init,
          ident.namespace().last)
        if (tableExists(parent))
          return new DocStoreMetaTable(dirOf(parent).toString, ident.name())
      }
      throw new NoSuchTableException(ident)
    }
    val dir = dirOf(ident).toString
    // write-audit-publish: with spark.graft.wap.branch set, every load
    // of a docstore table resolves to that branch's face — writes stage
    // on the branch, audit reads see the branch — until the session
    // unsets it (Iceberg's spark.wap.branch contract). A set conf with
    // no such branch refuses loudly: silently writing to main is the
    // one outcome WAP exists to prevent.
    wapBranch() match {
      case Some(b) =>
        require(DocStoreBranches.exists(dir, b),
          s"spark.graft.wap.branch='$b' is set but table " +
            s"${ident.name()} has no such branch — CALL " +
            s"$catalogName.system.create_branch('<ns.table>', '$b') first")
        new DocStoreSqlTable(dir, DocStoreBranches.manifestName(b))
      case None => new DocStoreSqlTable(dir)
    }
  }

  private def wapBranch(): Option[String] =
    try Option(org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.wap.branch", null)).map(_.trim).filter(_.nonEmpty)
    catch { case _: Exception => None } // no active session (tests, tools)

  /** `VERSION AS OF v` time travel: every publish retains its manifest
    * as `MANIFEST.v<n>`, so a versioned load is the same table pinned
    * to that snapshot — read-only (the write builder refuses), zero
    * data copied. Append/DELETE history keeps all referenced segments
    * on disk; a truncate OVERWRITE rewrites data and resets history. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident)
    // `VERSION AS OF '<branch>'` reads a branch face by name — the
    // Iceberg branch-read surface (audit queries use this without
    // setting the session-wide WAP conf)
    if (version.toLongOption.isEmpty &&
        DocStoreBranches.exists(dir.toString, version))
      return new DocStoreSqlTable(dir.toString,
        DocStoreBranches.manifestName(version))
    val v = version.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"docstore versions are integers or branch names, got '$version' " +
        s"(no branch of that name on ${ident.name()})"))
    if (!Files.exists(dir.resolve(s"MANIFEST.v$v")))
      throw new IllegalArgumentException(
        s"version $v of ${ident.name()} does not exist " +
          "(or was dropped by a truncating overwrite)")
    new DocStoreSqlTable(dir.toString, s"MANIFEST.v$v")
  }

  /** `TIMESTAMP AS OF t` time travel: resolve to the LATEST retained
    * version whose commit time is <= t (Delta's rule; commit time =
    * the `MANIFEST.v<n>` snapshot's mtime, kept strictly monotone by
    * the publish path). Spark hands `t` in MICROseconds since epoch —
    * timezone conversion already applied by the analyzer, so the
    * comparison here is instant-vs-instant. A timestamp before the
    * first retained commit refuses loudly (nothing existed to read;
    * Delta raises the same error), as does one on a table whose
    * history a truncating OVERWRITE reset. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident)
    val tsMillis = Math.floorDiv(timestamp, 1000L)
    val times = DocStoreCommitOps.versionTimes(dir.toString)
    val at = times.filter(_._2 <= tsMillis)
    if (at.isEmpty) throw new IllegalArgumentException(
      s"TIMESTAMP AS OF ${java.time.Instant.ofEpochMilli(tsMillis)}: " +
        s"before the first retained commit of ${ident.name()} " +
        times.headOption.map(t =>
          s"(earliest: v${t._1} at ${java.time.Instant.ofEpochMilli(t._2)})")
          .getOrElse("(no retained versions — history was reset)"))
    val v = at.map(_._1).max
    new DocStoreSqlTable(dir.toString, s"MANIFEST.v$v")
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(ns)) throw new NoSuchNamespaceException(namespace)
    Fs.list(ns).filter(p => Files.isDirectory(p) && isTable(p))
      .map(p => Identifier.of(namespace, p.getFileName.toString)).toArray
  }

  /** Column DEFAULT values are first-class DDL (CREATE ... DEFAULT,
    * ALTER COLUMN SET/DROP DEFAULT, ADD COLUMN ... DEFAULT): Spark
    * encodes them into field metadata (CURRENT_DEFAULT / the analyzer
    * fill for INSERTs that omit the column; EXISTS_DEFAULT / the read
    * backfill for pre-ADD segments) and the SCHEMA file round-trips
    * that metadata verbatim. */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  /** A `NOT NULL` claim on any column but doc_id (whose non-nullness
    * is the format contract) becomes the enforced write-time flag:
    * the PHYSICAL schema stays nullable (old segments null-pad), and
    * the writer factories reject null writes loudly — Delta's column
    * contract semantics. */
  private def withNotNullFlags(schema: StructType): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      if (!f.nullable && i != 0)
        f.copy(nullable = true,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putBoolean(DocStore.NOTNULL_KEY, true).build())
      else f
    })

  /** The Column[] face: Spark's default StructType conversion DROPS
    * the generation expression (the API expects catalogs to read it
    * off the Column objects), so re-attach it as field metadata
    * before delegating — the SCHEMA file then persists it and the
    * writer factories compile the validation predicate from it. */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val base = org.apache.spark.sql.graftshim.v2ColumnsToStructType(columns)
    val withGen = StructType(base.fields.zip(columns).map {
      case (f, c) =>
        val gen = Option(c.generationExpression())
        val id = Option(c.identityColumnSpec())
        if (gen.isEmpty && id.isEmpty) f
        else {
          id.foreach { spec =>
            require(f.name == "doc_id",
              s"identity columns are supported on doc_id (the table's " +
                s"row-identity column), not ${f.name}")
            require(spec.getStep != 0, "identity STEP must be non-zero")
          }
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          gen.foreach(g => mb.putString(DocStoreChecks.GEN_KEY, g))
          id.foreach { spec =>
            mb.putLong(DocStore.IDENTITY_START_KEY, spec.getStart)
            mb.putLong(DocStore.IDENTITY_STEP_KEY, spec.getStep)
            mb.putBoolean(DocStore.IDENTITY_EXPLICIT_KEY,
              spec.isAllowExplicitInsert)
            // the analyzer fills an OMITTED identity column with this
            // NULL placeholder; the writer replaces it with the
            // assigned value (the placeholder never reaches storage)
            mb.putString(org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
              "CAST(NULL AS BIGINT)")
          }
          f.copy(metadata = mb.build())
        }
    })
    createTable(ident, withGen, partitions, properties)
  }

  override def createTable(ident: Identifier, schema0: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val schema = withNotNullFlags(schema0)
    // base 5 columns required as a prefix; appended nullable columns of
    // the full evolved-type surface (see DocStore.evolvedTypeOk) are
    // allowed from birth (same rule ADD COLUMN enforces)
    val extra = DocStore.validateEvolved(schema)
    // `PARTITIONED BY` validates at DDL time (identity / bucket only);
    // merge-on-read is refused on partitioned tables — its reinsert
    // writer stages one segment per task, not per partition value
    val spec = DocStorePartitioning.fromTransforms(partitions, schema)
    require(spec.isEmpty ||
      Option(properties.get(DocStoreCatalog.MODE_KEY))
        .forall(_ != DocStoreCatalog.MODE_MOR),
      "partitioned docstore tables support copy-on-write row-level " +
        "operations only (merge-on-read is unpartitioned-only)")
    // EVERY validation runs before the first filesystem write (r12
    // review finding): a refused CREATE must be side-effect-free —
    // the old ordering left a half-created table directory that
    // blocked the fixed-up re-CREATE with TableAlreadyExists
    DocStoreChecks.validate(schema, properties.asScala.toMap)
    DocStoreChecks.validateGenerated(schema)
    DocStoreCatalog.validateProps(properties)
    val dir = dirOf(ident)
    Files.createDirectories(dir)
    Files.write(dir.resolve("MANIFEST"), Array.empty[Byte])
    if (extra.nonEmpty || schema.fields.exists(
        _.metadata != org.apache.spark.sql.types.Metadata.empty))
      DocStore.writeSchemaFile(dir.toString, schema)
    if (spec.nonEmpty) DocStorePartitioning.write(dir.toString, spec)
    DocStoreCatalog.writeModeProp(dir, properties)
    new DocStoreSqlTable(dir.toString)
  }

  /** Schema evolution, all metadata-only (the SCHEMA file updates
    * atomically; no segment is ever rewritten):
    *
    *  - `ADD COLUMN c <type>` — append-only, nullable; the full
    *    primitive surface: INT, BIGINT, STRING, DOUBLE, FLOAT, DATE,
    *    TIMESTAMP[_NTZ], BOOLEAN, DECIMAL(p<=18, s) (see
    *    [[DocStore.evolvedTypeOk]]); pre-evolution segments read
    *    null-padded (the Delta/Iceberg add-nullable-column contract).
    *  - `RENAME COLUMN` of an ADDED column — column identity is
    *    POSITION, so a rename never reinterprets bytes. Base-5 names
    *    are the format contract (pushdown and the write path key on
    *    them) and refuse.
    *  - `ALTER COLUMN c TYPE <wider>` on an added column — INT→BIGINT,
    *    FLOAT→DOUBLE and same-scale DECIMAL precision widening: the
    *    8-byte payloads are identical under the wider type (see
    *    [[DocStore.validateEvolved]]), so widening re-declares the
    *    reader's emit type over unchanged bytes. Anything narrowing
    *    or cross-kind refuses.
    *
    *  - `DROP COLUMN c` (added columns) — column mapping (Delta
    *    column-mapping style): each extra field's metadata pins the
    *    physical SECTION its bytes occupy, so a drop removes the field
    *    and RETIRES its section (recorded in the `SECTIONS` floor
    *    file, forever). No segment is rewritten; a later re-ADD of the
    *    same name is a brand-new identity over a fresh section — the
    *    dropped column's bytes are unreachable through it.
    *
    * Every ALTER also stamps `SCHEMA_SINCE` with the current table
    * head, the guard `system.restore` uses to refuse restoring across
    * a schema change. */
  /** A column named by `graft.bloom.columns` cannot be dropped or
    * renamed out from under its property — the stale name would make
    * every later write refuse (the task writer re-validates the
    * spec). Loud guidance at DDL beats that delayed failure: unset or
    * re-point the property first. */
  private def requireNotBloomIndexed(dir: String, colName: String,
      what: String): Unit = {
    val spec =
      DocStoreCatalog.readProps(dir).getOrElse(DocStore.BLOOM_KEY, "")
    // a leaf entry (`meta.fp`) pins its ROOT column too: dropping or
    // renaming `meta` would orphan the leaf path just the same
    require(!spec.split(",").map(_.trim).exists(n =>
      n == colName || n.startsWith(s"$colName.")),
      s"cannot $what column $colName — it is Bloom-indexed " +
        s"('${DocStore.BLOOM_KEY}' = '$spec'); ALTER TABLE ... SET " +
        "TBLPROPERTIES without it first")
    // the ANN twin (r19): an index's manifest records its id/vector/
    // label/filter columns BY NAME — dropping or renaming one strands
    // every later sync and serve against a name that no longer
    // resolves, long after the DDL succeeded
    val annDeps = AnnIndex.indexesDependingOn(dir, colName)
    require(annDeps.isEmpty,
      s"cannot $what column $colName — the ann index(es) on " +
        s"${annDeps.mkString(", ")} depend on it as an id/vector/" +
        "label/filter column; CALL system.ann_drop first")
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident).toString
    // read-modify-write of the SCHEMA file under the commit lock:
    // two concurrent ADD COLUMNs would otherwise both read the same
    // base and the loser's column would silently vanish — worse than
    // lost DDL, because positional identity would then decode its
    // already-written sections under the survivor's name
    DocStoreCommitOps.withCommitLock(dir) {
      val cur = DocStore.tableSchema(dir)
      // property verbs first (SET/UNSET TBLPROPERTIES): persisted to
      // PROPS under the same lock; check constraints analysis-validate
      // against the CURRENT schema so a typo refuses at DDL time. A
      // property change must NOT stamp SCHEMA_SINCE (it would trip the
      // RESTORE schema guard for a change RESTORE doesn't care about).
      val setProps = changes.collect {
        case p: TableChange.SetProperty => p.property() -> p.value() }.toMap
      val unsetProps = changes.collect {
        case p: TableChange.RemoveProperty => p.property() }.toSet
      if (setProps.nonEmpty || unsetProps.nonEmpty) {
        DocStoreChecks.validate(cur, setProps)
        DocStoreChecks.verifyExisting(dir, setProps)
        DocStoreCatalog.updateProps(dirOf(ident), setProps, unsetProps)
      }
      val schemaChanges = changes.filter {
        case _: TableChange.SetProperty | _: TableChange.RemoveProperty =>
          false
        case _ => true
      }
      def extraIndex(s: StructType, fieldNames: Array[String],
          what: String): Int = {
        require(fieldNames.length == 1, "docstore DDL addresses top-level columns only (adding or altering a field INSIDE a nested column is not supported; nested-TYPED top-level columns are)")
        val name = fieldNames(0)
        val i = s.fieldNames.indexOf(name)
        require(i >= 0, s"no such column: $name")
        require(i >= DocStore.FIELDS.size,
          s"cannot $what base column $name — the base-5 names/types are " +
            "the format contract (pushdown and the write path key on them)")
        i
      }
      val evolved = schemaChanges.foldLeft(cur) {
        case (s, add: TableChange.AddColumn) =>
          require(add.fieldNames.length == 1,
            "docstore DDL addresses top-level columns only (adding or altering a field INSIDE a nested column is not supported; nested-TYPED top-level columns are)")
          require(add.position() == null,
            "docstore ADD COLUMN appends at the end (no FIRST/AFTER)")
          require(!s.fieldNames.contains(add.fieldNames()(0)),
            s"column ${add.fieldNames()(0)} already exists")
          // pin the physical section explicitly: past every live field
          // AND past every retired (dropped) one, so the new column can
          // never read a dropped predecessor's bytes
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(DocStore.SECTION_KEY,
              DocStore.nextSectionId(dir, s).toLong)
          // ADD COLUMN ... DEFAULT v: CURRENT_DEFAULT fills later
          // INSERTs that omit the column; EXISTS_DEFAULT (the
          // constant-folded literal) is what pre-ADD segments read
          // instead of null — the metadata-only backfill, no segment
          // rewritten. A NOT NULL claim on the added column is only
          // satisfiable WITH a default (old rows must read something).
          Option(add.defaultValue()).foreach { dv =>
            val folded = org.apache.spark.sql.catalyst.expressions
              .Literal(dv.getValue.value, dv.getValue.dataType)
            mb.putString(org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
              dv.getSql)
            mb.putString(org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY,
              folded.sql)
          }
          if (!add.isNullable) {
            require(add.defaultValue() != null,
              s"cannot ADD COLUMN ${add.fieldNames()(0)} NOT NULL " +
                "without a DEFAULT — existing rows would have nothing " +
                "to read (Delta refuses here too)")
            mb.putBoolean(DocStore.NOTNULL_KEY, true)
          }
          s.add(StructField(add.fieldNames()(0), add.dataType(),
            nullable = true, metadata = mb.build()))
        case (s, del: TableChange.DeleteColumn) =>
          val i = extraIndex(s, del.fieldNames(), "drop")
          require(!DocStorePartitioning.read(dir).exists(
            _.col == del.fieldNames()(0)),
            s"cannot drop partition column ${del.fieldNames()(0)} — " +
              "partition directories embed the name")
          requireNotBloomIndexed(dir, del.fieldNames()(0), "drop")
          // retire the section forever — even if this drop leaves no
          // extras (and the SCHEMA file reverts to base-only), the
          // floor file keeps a re-ADD from reusing the old bytes
          DocStore.writeSectionFloor(dir, math.max(
            DocStore.readSectionFloor(dir),
            DocStore.sectionOf(s.fields(i), i) + 1))
          // the nested-codec GENERATION must never regress: if the
          // dropped column carries the table's max generation, fold it
          // into doc_id's metadata (base fields are undroppable, and
          // the counter keeps riding the SCHEMA file atomically).
          // Otherwise a later nested widening would re-archive an
          // already-used SCHEMA.gen-<g> name — first-writer-wins would
          // pin the STALE archive and old-generation segments of the
          // NEW column would silently misdecode (r16 review finding).
          val remaining = StructType(s.fields.patch(i, Nil, 1))
          if (DocStore.nestedGenOf(remaining) < DocStore.nestedGenOf(s)) {
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(remaining.fields(0).metadata)
              .putLong(DocStore.NESTED_GEN_KEY, DocStore.nestedGenOf(s))
            StructType(remaining.fields.updated(0,
              remaining.fields(0).copy(metadata = mb.build())))
          } else remaining
        case (s, ren: TableChange.RenameColumn) =>
          val i = extraIndex(s, ren.fieldNames(), "rename")
          require(!s.fieldNames.contains(ren.newName()),
            s"column ${ren.newName()} already exists")
          require(!DocStorePartitioning.read(dir).exists(
            _.col == ren.fieldNames()(0)),
            s"cannot rename partition column ${ren.fieldNames()(0)} — " +
              "partition directories embed the name")
          requireNotBloomIndexed(dir, ren.fieldNames()(0), "rename")
          StructType(s.fields.updated(i, s.fields(i).copy(name = ren.newName())))
        case (s, upd: TableChange.UpdateColumnType) =>
          // Spark addresses nested leaves directly (CANNOT_UPDATE_FIELD
          // guides users to `ALTER COLUMN meta.w TYPE BIGINT`,
          // `arr.element`, `kv.key` / `kv.value`), so fieldNames may be
          // a PATH into a nested extra column: rebuild the column's
          // full type with the addressed leaf retyped, then validate
          // the whole pair like any nested widening.
          val i = extraIndex(s, Array(upd.fieldNames()(0)), "retype")
          def rebuilt(dt: org.apache.spark.sql.types.DataType,
              path: Seq[String]): org.apache.spark.sql.types.DataType = {
            import org.apache.spark.sql.types.{ArrayType, MapType}
            if (path.isEmpty) upd.newDataType()
            else dt match {
              case a: ArrayType if path.head == "element" =>
                a.copy(elementType = rebuilt(a.elementType, path.tail))
              case m: MapType if path.head == "key" =>
                m.copy(keyType = rebuilt(m.keyType, path.tail))
              case m: MapType if path.head == "value" =>
                m.copy(valueType = rebuilt(m.valueType, path.tail))
              case st: StructType =>
                val fi = st.fieldNames.indexOf(path.head)
                require(fi >= 0, s"no such nested field: ${path.head} " +
                  s"in ${st.simpleString}")
                StructType(st.fields.updated(fi, st.fields(fi).copy(
                  dataType = rebuilt(st.fields(fi).dataType, path.tail))))
              case other => throw new IllegalArgumentException(
                s"cannot address ${path.mkString(".")} inside " +
                  s"${other.simpleString}")
            }
          }
          val from = s.fields(i).dataType
          val to = rebuilt(from, upd.fieldNames().toSeq.tail)
          // metadata-safe widenings: the stored 8-byte payload decodes
          // identically under the wider type (INT extras store long
          // payloads; FLOAT extras store double bits; a decimal's
          // unscaled long is precision-independent at fixed scale —
          // see DocStore.validateEvolved)
          import org.apache.spark.sql.types.{DecimalType => Dec, _}
          val ok = (from, to) match {
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            // same-scale precision widening is metadata-only at ANY
            // precision, INCLUDING across the 18 boundary: the reader
            // dispatches per VALUE by payload length (8 = unscaled
            // long written pre-widening, 16 = dec128), so old
            // segments keep decoding bit-exactly under the wider type
            case (f: Dec, t: Dec) =>
              f.scale == t.scale && t.precision >= f.precision &&
                t.precision <= 38
            case _ => false
          }
          // NESTED leaf widening (the Iceberg int→long-under-field-ids
          // surface) is NOT metadata-only — widened leaves change the
          // payload byte layout of FUTURE writes — so it rides the
          // nested-codec GENERATION machinery instead: archive the
          // outgoing schema under its generation (old segments keep
          // decoding by it), bump the field's generation in the new
          // schema, and the scan dispatches decode per segment stamp.
          // See DocStore.NESTED_GEN_KEY.
          val nestedWiden = !ok && from != to &&
            DocStore.isNestedType(from) &&
            DocStore.nestedWideningOk(from, to)
          require(ok || nestedWiden,
            s"only INT -> BIGINT, FLOAT -> DOUBLE, same-scale " +
              s"DECIMAL precision widening (<= 38), and the same leaf " +
              s"widenings INSIDE a nested column are supported " +
              s"here, got ${from.simpleString} -> ${to.simpleString}")
          if (nestedWiden) {
            DocStore.archiveSchemaGen(dir, s)
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(s.fields(i).metadata)
              .putLong(DocStore.NESTED_GEN_KEY,
                DocStore.nestedGenOf(s) + 1L)
            StructType(s.fields.updated(i,
              s.fields(i).copy(dataType = to, metadata = mb.build())))
          } else
            StructType(s.fields.updated(i, s.fields(i).copy(dataType = to)))
        case (s, d: TableChange.UpdateColumnDefaultValue) =>
          // ALTER COLUMN SET/DROP DEFAULT — pure metadata, any column:
          // CURRENT_DEFAULT governs FUTURE inserts only (SQL/Delta
          // semantics; the exists-default of pre-ADD rows is pinned at
          // ADD COLUMN time and deliberately untouched here)
          require(d.fieldNames().length == 1,
            "docstore DDL addresses top-level columns only (adding or altering a field INSIDE a nested column is not supported; nested-TYPED top-level columns are)")
          val i = s.fieldNames.indexOf(d.fieldNames()(0))
          require(i >= 0, s"no such column: ${d.fieldNames()(0)}")
          val sql = Option(d.newCurrentDefault()).map(_.getSql)
            .orElse(Option(d.newDefaultValue())).filter(_.nonEmpty)
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(s.fields(i).metadata)
          sql match {
            case Some(x) =>
              // refuse un-analyzable / non-constant defaults at DDL
              org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
                .analyze(d.fieldNames()(0), s.fields(i).dataType, x,
                  "ALTER TABLE ALTER COLUMN")
              mb.putString(org.apache.spark.sql.catalyst.util
                .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, x)
            case None =>
              mb.remove(org.apache.spark.sql.catalyst.util
                .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
          }
          StructType(s.fields.updated(i,
            s.fields(i).copy(metadata = mb.build())))
        case (s, un: TableChange.UpdateColumnNullability) =>
          // ALTER COLUMN SET/DROP NOT NULL — the write-time contract
          // flag (physical nullability never changes; see NOTNULL_KEY)
          require(un.fieldNames().length == 1,
            "docstore DDL addresses top-level columns only (adding or altering a field INSIDE a nested column is not supported; nested-TYPED top-level columns are)")
          val i = s.fieldNames.indexOf(un.fieldNames()(0))
          require(i >= 0, s"no such column: ${un.fieldNames()(0)}")
          require(i != 0, "doc_id is non-null by format contract")
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(s.fields(i).metadata)
          if (!un.nullable()) {
            // existing rows must already satisfy — one distributed
            // scan through the normal read path, which applies
            // exists-defaults, so a defaulted backfill column passes
            // (Delta scans and refuses at this point too)
            val bad = org.apache.spark.sql.SparkSession.active.read
              .format("graft-docstore").option("path", dir).load()
              .where(org.apache.spark.sql.functions
                .col(un.fieldNames()(0)).isNull)
              .limit(1).count()
            require(bad == 0,
              s"cannot SET NOT NULL on ${un.fieldNames()(0)}: existing " +
                "rows hold nulls — fix or delete them first")
            mb.putBoolean(DocStore.NOTNULL_KEY, true)
          } else mb.remove(DocStore.NOTNULL_KEY)
          StructType(s.fields.updated(i,
            s.fields(i).copy(metadata = mb.build())))
        case (_, ch) => throw new UnsupportedOperationException(
          "docstore tables support ADD COLUMN, DROP COLUMN (added " +
            "columns), RENAME COLUMN (added columns), INT -> BIGINT " +
            "widening, ALTER COLUMN SET/DROP DEFAULT, and ALTER " +
            s"COLUMN SET/DROP NOT NULL; got $ch")
      }
      if (schemaChanges.nonEmpty) {
        // archive the outgoing schema first: RESTORE's metadata
        // rollback finds the schema that served any earlier version
        // through these snapshots
        DocStore.archiveSchema(dir,
          DocStoreCommitOps.nextVersion(dir) - 1)
        DocStore.writeSchemaFile(dir, evolved) // validates type+nullable
        // restore/stream stamp: the head version at this schema change
        DocStore.writeSchemaSince(dir,
          DocStoreCommitOps.nextVersion(dir) - 1)
      }
    }
    new DocStoreSqlTable(dir)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    Fs.deleteRecursively(dirOf(ident).toString)
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    Files.createDirectories(dirOf(to).getParent)
    Files.move(dirOf(from), dirOf(to), StandardCopyOption.ATOMIC_MOVE)
  }

  // ----- SupportsNamespaces: a namespace is a directory under root -----
  override def listNamespaces(): Array[Array[String]] =
    Fs.list(root)
      .filter(p => Files.isDirectory(p) && !isTable(p) &&
        !p.getFileName.toString.startsWith("."))
      .map(p => Array(p.getFileName.toString)).toArray
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)
  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(namespace.foldLeft(root)(_.resolve(_)))
  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)
  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    Files.createDirectories(namespace.foldLeft(root)(_.resolve(_)))
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("docstore namespaces carry no metadata")
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(p)) return false
    if (!cascade && Fs.list(p).nonEmpty) throw new IllegalStateException(
      s"namespace ${namespace.mkString(".")} not empty")
    Fs.deleteRecursively(p.toString)
    true
  }
}

object DocStoreCatalog {
  /** Per-table row-level strategy (TBLPROPERTIES
    * `'graft.rowlevel.mode' = 'copy-on-write' | 'merge-on-read'`) —
    * the write-amplification vs read-amplification trade Delta/Iceberg
    * expose per table. ALL user table properties persist to the
    * `PROPS` file (key=value per line; silently dropping unrecognized
    * keys would make SHOW TBLPROPERTIES lie), with Spark's reserved
    * keys (provider, location, owner, comment, external) excluded —
    * they describe catalog plumbing, not table state. */
  val MODE_KEY = "graft.rowlevel.mode"
  val MODE_COW = "copy-on-write"
  val MODE_MOR = "merge-on-read"

  private val RESERVED =
    Set("provider", "location", "owner", "comment", "external")

  /** Validation half of [[writeModeProp]], callable BEFORE any
    * filesystem write so a refused CREATE stays side-effect-free
    * (r12 review: the mode/key checks used to run after the MANIFEST
    * write and could strand a half-created table). */
  private[sources] def validateProps(
      properties: java.util.Map[String, String]): Unit = {
    Option(properties.get(MODE_KEY)).foreach { m =>
      require(m == MODE_COW || m == MODE_MOR,
        s"$MODE_KEY must be '$MODE_COW' or '$MODE_MOR', got '$m'")
    }
    Option(properties.get(DocStoreWriterFactory.COMPRESSION_KEY))
      .foreach { v =>
        require(v == "none" || v == "deflate",
          s"${DocStoreWriterFactory.COMPRESSION_KEY} must be 'none' " +
            s"or 'deflate', got '$v'")
      }
    val persisted = properties.asScala.toSeq
      .filterNot { case (k, _) => RESERVED(k) }
    require(persisted.forall { case (k, v) =>
      !k.contains("=") && !k.contains("\n") && !v.contains("\n") },
      "docstore table property keys must not contain '=' or newlines")
  }

  private[sources] def writeModeProp(dir: Path,
      properties: java.util.Map[String, String]): Unit = {
    validateProps(properties)
    val persisted = properties.asScala.toSeq
      .filterNot { case (k, _) => RESERVED(k) }
      .sortBy(_._1)
    if (persisted.nonEmpty)
      Fs.publish(dir, "PROPS",
        persisted.map { case (k, v) => s"$k=$v" }.mkString("\n"))
  }

  /** Read-modify-write of PROPS for ALTER ... SET/UNSET TBLPROPERTIES
    * (callers hold the table's commit lock). An empty result deletes
    * the file — absence and emptiness must stay indistinguishable. The
    * rewrite is an atomic publish: write planners read PROPS without
    * the lock, and a truncate-then-write would show them a table with
    * no check constraints and the default row-level mode. */
  private[sources] def updateProps(dir: Path, set: Map[String, String],
      unset: Set[String]): Unit = {
    Option(set.get(MODE_KEY).orNull).foreach { m =>
      require(m == MODE_COW || m == MODE_MOR,
        s"$MODE_KEY must be '$MODE_COW' or '$MODE_MOR', got '$m'")
    }
    set.get(DocStoreWriterFactory.COMPRESSION_KEY).foreach { v =>
      require(v == "none" || v == "deflate",
        s"${DocStoreWriterFactory.COMPRESSION_KEY} must be 'none' " +
          s"or 'deflate', got '$v'")
    }
    val next = (readProps(dir.toString) -- unset) ++
      set.filterNot { case (k, _) => RESERVED(k) }
    require(next.forall { case (k, v) =>
      !k.contains("=") && !k.contains("\n") && !v.contains("\n") },
      "docstore table property keys must not contain '=' or newlines")
    if (next.isEmpty) Files.deleteIfExists(dir.resolve("PROPS"))
    else Fs.publish(dir, "PROPS", next.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("\n"))
  }

  private[sources] def readProps(path: String): Map[String, String] = {
    val p = Paths.get(path, "PROPS")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
  }

  private[sources] def rowLevelMode(path: String): String =
    readProps(path).getOrElse(MODE_KEY, MODE_COW)
}

/** A CTAS/RTAS table mid-stage: a fully functional docstore table over
  * a hidden staging directory (the AS-SELECT write lands there through
  * the normal commit protocol), promoted on [[commitStagedChanges]]:
  *
  *  - CREATE: one atomic directory rename puts the finished table at
  *    its final path — it either exists completely or not at all;
  *  - REPLACE: under the target's commit lock, staged segments move in
  *    under fresh collision-free names, then the manifest rename swaps
  *    the content. The old table stays readable during the entire
  *    query, and replaced segment FILES are retained for vacuum (as
  *    row-level operations retain theirs) — a reader that planned
  *    before the swap finishes its scan instead of crashing on deleted
  *    files. The SCHEMA/PROPS move happens in the same logical step
  *    immediately before the manifest rename; a reader that plans in
  *    that hair's-breadth window can see the new schema over the old
  *    manifest (old columns read through the evolved schema's base
  *    prefix, added columns null-pad) — manifest content itself is
  *    still strictly old-or-new.
  *
  * [[abortStagedChanges]] deletes the staging directory; the target is
  * untouched on any failure. */
class DocStoreStagedTable(staging: Path, finalDir: Path,
    replaceIntent: Boolean)
    extends DocStoreSqlTable(staging.toString)
    with org.apache.spark.sql.connector.catalog.StagedTable {

  override def commitStagedChanges(): Unit =
    if (!Files.exists(finalDir.resolve("MANIFEST"))) {
      Files.createDirectories(finalDir.getParent)
      Files.move(staging, finalDir, StandardCopyOption.ATOMIC_MOVE)
    } else if (!replaceIntent) {
      // CREATE intent but the target appeared while the query ran: a
      // concurrent CREATE committed first. Taking the replace branch
      // here would silently destroy their table — fail instead.
      Fs.deleteRecursively(staging)
      throw new IllegalStateException(
        s"table at $finalDir was created concurrently while this " +
          "CREATE TABLE AS SELECT ran; the staged result was discarded")
    } else DocStoreCommitOps.withCommitLock(finalDir.toString) {
      val stagedSegs = DocStore.readManifest(staging.toString)
      val next = DocStoreCommitOps.claimPartNumbers(finalDir.toString,
        stagedSegs.size)
      val renamed = stagedSegs
        .zipWithIndex.map { case (s, i) =>
          // a partitioned staged segment keeps its partition
          // subdirectory; only the numbered basename is re-assigned
          val dirPrefix = s.name.lastIndexOf('/') match {
            case -1 => ""
            case cut => s.name.substring(0, cut + 1)
          }
          val name = dirPrefix + f"part-${next + i}%05d.gds"
          Files.createDirectories(finalDir.resolve(name).getParent)
          Files.move(staging.resolve(s.name), finalDir.resolve(name),
            StandardCopyOption.ATOMIC_MOVE)
          s.copy(name = name)
        }
      // old versions reference the replaced content → history reset
      // FIRST, so the metadata moves below sit directly against the
      // publication point
      AnnIndex.refuseContentReset(finalDir.toString, "CREATE OR REPLACE")
      DocStoreCommitOps.clearVersions(finalDir.toString)
      // replace may change the evolved schema, props, or partition
      // spec; absence in the staged table means ABSENT in the result,
      // not carried over. Moved immediately before the manifest rename
      // to minimize the new-schema-over-old-manifest window (r8
      // advice) — and old segments read correctly through an evolved
      // schema regardless (base prefix fixed, added columns null-pad).
      Seq("SCHEMA", "PROPS", DocStorePartitioning.FILE).foreach { f =>
        val staged = staging.resolve(f)
        if (Files.exists(staged))
          Files.move(staged, finalDir.resolve(f),
            StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        else Files.deleteIfExists(finalDir.resolve(f))
      }
      // the single publication point: the manifest rename. Replaced
      // segment files are RETAINED (r8 advice): a reader that planned
      // against the old manifest can still finish its scan; vacuum is
      // the explicit reclaimer of now-unreferenced files.
      DocStoreCommitOps.writeManifest(finalDir.toString, renamed, "rtas")
      Fs.deleteRecursively(staging)
    }

  override def abortStagedChanges(): Unit =
    Fs.deleteRecursively(staging)
}

/** Catalog-loaded docstore table: everything [[DocStoreTable]] does,
  * plus metadata-only DELETE for segment-provable predicates (doc_id
  * windows, exact stats envelopes, identity partition values — see
  * [[DocStore.statsAllMatch]]) and copy-on-write UPDATE / MERGE /
  * ambiguous DELETE through [[DocStoreRowLevelOperation]]. The two
  * DELETE paths compose the way Delta's do: Spark plans the row-level
  * rewrite, then OptimizeMetadataOnlyDeleteFromTable collapses it to
  * the `SupportsDelete` fast path when `canDeleteWhere` accepts —
  * provable predicates stay zero-rewrite, ambiguous ones rewrite
  * exactly instead of refusing. `manifest` pins a historical snapshot
  * for VERSION AS OF reads (read-only: row-level ops refuse on a
  * snapshot). */
class DocStoreSqlTable(path: String, manifest: String = "MANIFEST")
    extends DocStoreTable(path, manifest)
    with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  // ----- SupportsPartitionManagement: the SHOW PARTITIONS surface -----
  // Docstore partitions are DERIVED from data (the write path routes
  // rows into transform directories), so listing reads the MANIFEST —
  // the source of truth; an empty directory is not a partition — and
  // the Hive-style management verbs refuse with the operation that
  // actually does the job.

  override def partitionSchema(): StructType =
    StructType(partSpec.map {
      case DocStorePartitioning.PIdentity(c) => schema()(c)
      case DocStorePartitioning.PBucket(c, _) =>
        StructField(s"${c}_bucket",
          org.apache.spark.sql.types.IntegerType, nullable = false)
    })

  override def listPartitionIdentifiers(names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.unsafe.types.UTF8String
    if (partSpec.isEmpty) throw new UnsupportedOperationException(
      s"table at $path is not partitioned") // Hive/Delta raise, never []
    val ps = partitionSchema()
    require(names.length == ident.numFields,
      s"partial spec names (${names.length}) != values (${ident.numFields})")
    val nameIdx = names.map(ps.fieldIndex)
    val rows = DocStore.readManifest(path, manifest)
      .map(_.name.split("/").dropRight(1).toSeq)
      .distinct.filter(_.nonEmpty)
      .map { levels =>
        require(levels.size == partSpec.size,
          s"segment path depth ${levels.size} != partition spec ${partSpec.size}")
        val values = levels.zip(partSpec).map { case (lvl, t) =>
          val raw = lvl.substring(lvl.indexOf('=') + 1)
          t match {
            case DocStorePartitioning.PIdentity(c) =>
              if (raw == DocStorePartitioning.NULL_MARKER) null
              else schema()(c).dataType match {
                // cover every identity-partitionable column type: the 5
                // base columns are LONG/STRING, evolved extras add INT —
                // a value typed differently from partitionSchema() would
                // ClassCastException in SHOW PARTITIONS and compare
                // never-equal in partial specs
                case org.apache.spark.sql.types.LongType =>
                  DocStorePartitioning.decode(raw).toLong: Any
                case org.apache.spark.sql.types.IntegerType =>
                  DocStorePartitioning.decode(raw).toInt: Any
                case _ =>
                  UTF8String.fromString(DocStorePartitioning.decode(raw)): Any
              }
            case DocStorePartitioning.PBucket(_, _) => raw.toInt: Any
          }
        }.toArray[Any]
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
          : org.apache.spark.sql.catalyst.InternalRow
      }
    rows.filter { row =>
      nameIdx.zipWithIndex.forall { case (pi, ii) =>
        val dt = ps(pi).dataType
        val have = if (row.isNullAt(pi)) null else row.get(pi, dt)
        val want = if (ident.isNullAt(ii)) null else ident.get(ii, dt)
        have == want
      }
    }.toArray
  }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "docstore partitions are derived from data — INSERT rows and the " +
        "write path creates the directory")
  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "use DELETE WHERE <partition predicate> — metadata-only when the " +
        "predicate is partition-aligned")
  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "docstore partitions carry no mutable metadata")
  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] =
    java.util.Collections.emptyMap()

  /** SQL `TRUNCATE TABLE`: empty manifest published atomically under
    * the commit lock, then every segment file deleted and history
    * reset — the same destroy-content semantics as a truncating
    * overwrite, minus the new data. Schema and properties survive
    * (TRUNCATE empties a table, it doesn't redefine it). The file
    * sweep covers EVERY `.gds` in the directory, not just the current
    * manifest's: DELETE/UPDATE-retained files were referenced only by
    * the version history this truncate destroys, so leaving them
    * would orphan them forever (there is no other reclaimer).
    *
    * Before the sweep, the next free part number is persisted as a
    * COUNTER floor (r8 advice): deleting every `.gds` would otherwise
    * restart part numbering at 0, and the next INSERT would recreate
    * `part-00000.gds` under a name a streaming reader may have
    * checkpointed — the reader would then silently resume past
    * brand-new data instead of failing loudly on a missing name. */
  override def truncateTable(): Boolean = {
    require(manifest == "MANIFEST",
      "cannot TRUNCATE a time-travel (VERSION AS OF) snapshot or a branch")
    // the sweep below deletes EVERY .gds including unpublished branch
    // segments — losing staged WAP work silently is unacceptable
    require(DocStoreBranches.list(path).isEmpty,
      s"cannot TRUNCATE: table has unpublished branches " +
        s"(${DocStoreBranches.list(path).mkString(", ")}) — publish or " +
        "drop them first")
    AnnIndex.refuseContentReset(path, "TRUNCATE")
    DocStoreCommitOps.withCommitLock(path) {
      DocStoreCommitOps.persistPartNumberFloor(path)
      DocStoreCommitOps.clearVersions(path)
      DocStoreCommitOps.writeManifest(path, Seq.empty, "truncate-sql")
      Fs.walk(Paths.get(path)).filter(_.getFileName.toString.endsWith(".gds"))
        .foreach(Files.deleteIfExists(_))
    }
    true
  }

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(manifest == "MANIFEST",
      s"cannot ${info.command()} a time-travel (VERSION AS OF) snapshot " +
        "or a branch face (branches stage appends only)")
    if (tblProps.getOrElse(DocStoreCatalog.MODE_KEY,
        DocStoreCatalog.MODE_COW) == DocStoreCatalog.MODE_MOR)
      () => new DocStoreDeltaOperation(path, info.command())
    else
      () => new DocStoreRowLevelOperation(path, info.command())
  }

  /** Cached per table load — Spark calls properties() repeatedly
    * during analysis, and the PROPS file is immutable after create. */
  private lazy val tblProps: Map[String, String] =
    DocStoreCatalog.readProps(path)

  override def properties(): java.util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    tblProps.asJava
  }

  /** Split the snapshot for a metadata-only DELETE: Some((drop, keep))
    * when EVERY segment is either PROVABLY all-match (drop — the
    * [[DocStore.statsAllMatch]] prover: doc_id zone maps, exact
    * LongBound envelopes with zero nulls, identity partition values)
    * or provably matchless (keep — the emptiness pruner + partition
    * pruner + the doc_id window, the same proofs the read path
    * skips on). None when ANY segment is ambiguous: the DELETE then
    * routes through the exact copy-on-write/merge-on-read rewrite.
    * This is Delta's file-level remove cost model generalized past
    * id windows: a retention `DELETE WHERE event_day < X` on a
    * date-clustered table or a `WHERE lang = 'x'` on a partitioned
    * one is pure metadata, touching zero data bytes. */
  private def metadataSplit(filters: Array[Filter],
      segments: Seq[DocStore.Segment])
      : Option[(Seq[DocStore.Segment], Seq[DocStore.Segment])] = {
    val schema = DocStore.tableSchema(path)
    val spec = DocStorePartitioning.read(path)
    val allMatch = DocStore.statsAllMatch(spec, schema, filters)
    var lo = Long.MinValue
    var hi = Long.MaxValue
    filters.foreach(f => DocStore.tightenDocIdBound(f, lo, hi)
      .foreach { case (l, h) => lo = l; hi = h })
    val partKeep = DocStorePartitioning.pruner(spec, schema, filters)
    val statKeep = DocStore.statsPruner(schema, filters)
    def mightMatch(s: DocStore.Segment): Boolean =
      s.maxId >= lo && s.minId <= hi && partKeep(s) && statKeep(s)
    val (drop, keep) = segments.partition(allMatch)
    if (keep.forall(s => !mightMatch(s))) Some((drop, keep)) else None
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    metadataSplit(filters, DocStore.readManifest(path)).isDefined

  /** Drops fully-covered segments from the manifest. The segment FILES
    * are retained — prior versions still reference them (the Delta
    * remove-then-VACUUM split); only a truncating overwrite physically
    * reclaims space and resets history. Streaming readers checkpoint
    * the NAME of their last-read segment, so a DELETE of already-read
    * segments leaves their resume position intact; deleting the
    * checkpointed segment itself voids the checkpoint LOUDLY on
    * restart (see [[DocStoreMicroBatchStream]]). The read-filter-write
    * runs under the commit lock so a concurrent INSERT's append can't
    * be lost between our manifest read and publish — and the split is
    * RECOMPUTED under the lock: if a concurrent append landed an
    * ambiguous segment since canDeleteWhere, publishing the stale
    * split would silently delete (or resurrect) its rows, so the
    * operation refuses loudly and the user retries. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(manifest == "MANIFEST",
      "cannot DELETE from a time-travel (VERSION AS OF) snapshot")
    DocStoreCommitOps.withCommitLock(path) {
      val (segments, dvs) = DocStore.readManifestAndDeletes(path)
      val keep = metadataSplit(filters, segments) match {
        case Some((_, k)) => k
        case None => throw new IllegalStateException(
          "a concurrent commit made this DELETE's metadata split " +
            "unprovable (a new segment is neither provably all-match " +
            "nor provably matchless); retry the DELETE")
      }
      DocStoreCommitOps.writeManifest(path, keep, "delete", dvs)
    }
  }
}
