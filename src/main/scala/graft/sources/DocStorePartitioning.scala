package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, Transform}
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, In, IsNotNull, IsNull}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** Transform partitioning for docstore tables — the `PARTITIONED BY`
  * half of the Delta/Iceberg CREATE TABLE contract, and the 100 TB
  * pruning primitive the per-segment zone maps approximate: a
  * partition predicate eliminates whole DIRECTORIES of segments before
  * any per-segment (min, max) consult.
  *
  * Supported transforms (validated at CREATE):
  *
  *  - `identity(col)` over any table column — segments land under
  *    `<col>=<encoded value>/`, the Hive/Delta directory convention.
  *    Values are percent-encoded (everything outside `[A-Za-z0-9.-]`),
  *    which also makes the `<col>=__null__` null marker unambiguous: a
  *    REAL string "__null__" encodes its underscores.
  *  - `bucket(n, doc_id)` — `doc_id_bucket=<b>/` with
  *    `b = floorMod(Long.hashCode(id), n)` (the Hive integral bucket
  *    hash). Point predicates on doc_id prune to one bucket even when
  *    every segment's (min, max) span overlaps the probe.
  *
  * The spec persists as a `PARTITIONING` file (one line per level,
  * `identity,<col>` / `bucket,<col>,<n>`), immutable for the table's
  * lifetime. Multi-level specs nest directories in declaration order.
  * Segment NAMES in the manifest carry the partition subpath
  * (`lang=pt/part-00007.gds`), so the single-manifest commit protocol
  * — atomic rename, version snapshots, name-keyed streaming offsets,
  * deletion vectors, row-level conflict detection — is untouched:
  * partitioning only changes where files sit and which of them a scan
  * must consider. Time transforms (days/hours/...) are refused loudly:
  * the format has no timestamp column to apply them to. */
object DocStorePartitioning {

  sealed trait PTransform { def col: String }
  final case class PIdentity(col: String) extends PTransform
  final case class PBucket(col: String, n: Int) extends PTransform

  val FILE = "PARTITIONING"
  val NULL_MARKER = "__null__"

  def bucketOf(id: Long, n: Int): Int =
    Math.floorMod(java.lang.Long.hashCode(id), n)

  /** Percent-encode for directory safety; ASCII `[A-Za-z0-9.-]` pass
    * through (NOT underscore — see the null-marker note above). */
  def encode(v: String): String = {
    val sb = new StringBuilder
    v.foreach { c =>
      if ((c.isLetterOrDigit && c < 128) || c == '.' || c == '-') sb.append(c)
      else c.toString.getBytes("UTF-8")
        .foreach(b => sb.append(f"%%${b & 0xff}%02X"))
    }
    sb.toString
  }

  def decode(v: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < v.length) {
      if (v(i) == '%' && i + 2 < v.length) {
        out.write(Integer.parseInt(v.substring(i + 1, i + 3), 16)); i += 3
      } else { out.write(v.substring(i, i + 1).getBytes("UTF-8")); i += 1 }
    }
    out.toString("UTF-8")
  }

  /** Directory component for one level and one raw value (null-aware). */
  def dirOf(t: PTransform, raw: Any): String = t match {
    case PIdentity(c) =>
      if (raw == null) s"$c=$NULL_MARKER" else s"$c=${encode(raw.toString)}"
    case PBucket(c, n) =>
      s"${c}_bucket=${bucketOf(raw.asInstanceOf[Long], n)}"
  }

  /** Parse `CREATE TABLE ... PARTITIONED BY` transforms against the
    * table schema. Refuses unknown transforms, unknown columns, bucket
    * on anything but doc_id, and nested references — loudly, at DDL
    * time, the way Iceberg validates a partition spec. */
  def fromTransforms(transforms: Array[Transform],
      schema: StructType): Seq[PTransform] = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): String =
      e match {
        case r: NamedReference =>
          require(r.fieldNames.length == 1,
            s"docstore partition columns cannot be nested: $r")
          val c = r.fieldNames()(0)
          require(schema.fieldNames.contains(c),
            s"partition column '$c' is not in the table schema " +
              s"(${schema.fieldNames.mkString(", ")})")
          c
        case other => throw new IllegalArgumentException(
          s"expected a column reference in partition transform, got $other")
      }
    transforms.toSeq.map { t =>
      t.name() match {
        case "identity" =>
          val c = colOf(t.arguments()(0))
          // directory-encodable types only: the partition value IS the
          // dir name and must round-trip text-exact (the r13 evolved
          // types — DOUBLE, DATE, TIMESTAMP, DECIMAL — would need a
          // canonical text form the reader re-parses; refuse at DDL
          // rather than mis-decode later)
          val dt = schema(schema.fieldIndex(c)).dataType
          require(dt == org.apache.spark.sql.types.LongType ||
            dt == org.apache.spark.sql.types.IntegerType ||
            dt == org.apache.spark.sql.types.StringType,
            s"identity partition column '$c' must be INT, BIGINT or " +
              s"STRING, got ${dt.simpleString}")
          PIdentity(c)
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: Literal[_] => l.value() match {
              case i: java.lang.Number => i.intValue()
            }
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform needs a bucket count: $t"))
          require(n > 0, s"bucket count must be positive, got $n")
          val c = t.arguments().collectFirst {
            case r: NamedReference => colOf(r)
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform needs a column: $t"))
          require(c == "doc_id",
            "docstore bucket partitioning is supported on doc_id only " +
              "(the format's non-null fixed-width key)")
          PBucket(c, n)
        case other => throw new UnsupportedOperationException(
          s"docstore tables support PARTITIONED BY identity(col) and " +
            s"bucket(n, doc_id); got $other(...) — time transforms have " +
            "no timestamp column to apply to in this format")
      }
    }
  }

  def toTransforms(spec: Seq[PTransform]): Array[Transform] = spec.map {
    case PIdentity(c) => Expressions.identity(c)
    case PBucket(c, n) => Expressions.bucket(n, c)
  }.toArray

  def write(path: String, spec: Seq[PTransform]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val lines = spec.map {
      case PIdentity(c) => s"identity,$c"
      case PBucket(c, n) => s"bucket,$c,$n"
    }
    graft.core.Fs.publish(dir, FILE, lines.mkString("\n"))
  }

  /** Empty for unpartitioned tables (no `PARTITIONING` file). */
  def read(path: String): Seq[PTransform] = {
    val f = Paths.get(path, FILE)
    if (!Files.exists(f)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(f).asScala.filter(_.nonEmpty).map { l =>
        l.split(",") match {
          case Array("identity", c) => PIdentity(c)
          case Array("bucket", c, n) => PBucket(c, n.toInt)
          case _ => throw new IllegalStateException(
            s"corrupt PARTITIONING line in $path: '$l'")
        }
      }.toSeq
    }
  }

  /** The decoded partition values of a segment name, one per level
    * (None = the null marker). A name with fewer directory components
    * than the spec has levels yields None — the caller must keep such
    * a segment (pruning may only drop PROVABLY non-matching files). */
  def valuesOf(name: String, spec: Seq[PTransform]): Option[Seq[Option[String]]] = {
    val comps = name.split("/").dropRight(1)
    if (comps.length != spec.length) return None
    val vs = comps.zip(spec).map { case (comp, t) =>
      val key = t match {
        case PIdentity(c) => s"$c="
        case PBucket(c, _) => s"${c}_bucket="
      }
      if (!comp.startsWith(key)) return None
      val raw = comp.substring(key.length)
      if (raw == NULL_MARKER && t.isInstanceOf[PIdentity]) None
      else Some(decode(raw))
    }
    Some(vs.toSeq)
  }

  /** Segment predicate from the scan's pushed-filter set: keeps a
    * segment unless some filter PROVES its partition can't match.
    * Filters are still evaluated row-level by Spark (partition
    * predicates stay residual), so pruning here only has to be sound,
    * never complete — the same best-effort contract as runtime
    * filtering. Handles the conjuncts that matter for partition
    * elimination: EqualTo / EqualNullSafe / In / IsNull / IsNotNull on
    * an identity column, EqualTo / In on a bucketed doc_id. */
  /** A filter literal's directory-value rendering for an identity
    * partition column — ONE implementation shared by the keep-side
    * pruner and [[DocStore.statsAllMatch]]'s all-match prover, because
    * the prover's match-implies-row-equality argument rests on this
    * rendering agreeing with the writer's (injective per supported
    * type; any skew can only fail a proof, never fake one). */
  private[sources] def renderLiteral(schema: StructType, col: String,
      v: Any): Option[String] = v match {
    case null => None
    case n: java.lang.Number
        if schema.fields(schema.fieldIndex(col)).dataType == LongType =>
      Some(n.longValue().toString)
    case other => Some(other.toString)
  }

  def pruner(spec: Seq[PTransform], schema: StructType,
      filters: Array[Filter]): DocStore.Segment => Boolean = {
    if (spec.isEmpty || filters.isEmpty) return _ => true

    def render(col: String, v: Any): Option[String] =
      renderLiteral(schema, col, v)

    // per level: does this (possibly null) partition value survive
    // every filter on the level's column?
    def levelKeep(t: PTransform, value: Option[String]): Boolean =
      filters.forall {
        case EqualTo(c, v) if c == t.col => t match {
          case _: PIdentity => value.isDefined && render(c, v) == value
          case PBucket(_, n) => v match {
            case num: java.lang.Number =>
              value.contains(bucketOf(num.longValue(), n).toString)
            case _ => true
          }
        }
        case EqualNullSafe(c, v) if c == t.col && t.isInstanceOf[PIdentity] =>
          if (v == null) value.isEmpty else value.isDefined && render(c, v) == value
        case In(c, vs) if c == t.col => t match {
          case _: PIdentity =>
            value.isDefined && vs.exists(v => v != null && render(c, v) == value)
          case PBucket(_, n) =>
            val nums = vs.collect { case num: java.lang.Number => num.longValue() }
            // a non-numeric or null element means the IN is not fully
            // understood here — decline pruning on this filter
            if (nums.length != vs.length) true
            else nums.exists(id => value.contains(bucketOf(id, n).toString))
        }
        case IsNull(c) if c == t.col && t.isInstanceOf[PIdentity] =>
          value.isEmpty
        case IsNotNull(c) if c == t.col && t.isInstanceOf[PIdentity] =>
          value.isDefined
        case _ => true // unrelated / unhandled filter: never prunes
      }

    s => valuesOf(s.name, spec) match {
      case None => true // unparseable layout: must keep
      case Some(values) => spec.zip(values).forall {
        case (t, v) => levelKeep(t, v)
      }
    }
  }

  /** Input-row partition-dir computation for the write path: maps the
    * spec onto the writer's input positions once, then renders one
    * relative directory per row. */
  def rowDirFn(spec: Seq[PTransform], schema: StructType,
      order: Array[Int]): org.apache.spark.sql.catalyst.InternalRow => String = {
    val levels = spec.map { t =>
      val fi = schema.fieldIndex(t.col)
      (t, order(fi), schema.fields(fi).dataType)
    }
    row => levels.map { case (t, pos, dt) =>
      val raw: Any =
        if (row.isNullAt(pos)) null
        else dt match {
          case LongType => row.getLong(pos)
          case StringType => row.getUTF8String(pos).toString
          case other: DataType => throw new IllegalStateException(
            s"unsupported partition column type $other")
        }
      dirOf(t, raw)
    }.mkString("/")
  }
}
