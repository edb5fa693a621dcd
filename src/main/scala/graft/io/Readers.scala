package graft.io

import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.file.{Files, Path, Paths}
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** CSV ingestion matching the reference's defensive loaders:
  *  - S1 multi-encoding retry (utf-8 → cp1252 → latin1),
  *    /root/reference/src/etl_pipeline.py:85-111
  *  - S2 separator sniffing + positional-fallback header naming +
  *    numeric-sample validation, etl_pipeline.py:113-158
  *  - S4 optional side-table, etl_pipeline.py:637-653
  *
  * The charset probe is a driver-side strict decode of a bounded sample
  * (pandas fails on the full file; we bound the probe so a 100 TB ingest
  * doesn't read a 100 TB file twice — a charset error present in the data
  * at all is overwhelmingly present in the first megabyte). The
  * distributed read then uses the chosen charset via Spark's `encoding`
  * option, so executors never re-probe.
  */
object Readers {

  val DefaultCharsets: Seq[String] = Seq("UTF-8", "windows-1252", "ISO-8859-1")
  val DefaultNaTokens: Seq[String] = Seq("", " ", "NA", "N/A")

  private val ProbeBytes = 1 << 20

  /** First data file under `path` (a file, or a Spark CSV output dir). */
  private def firstDataFile(path: String): Option[Path] = {
    val p = Paths.get(path)
    if (Files.isRegularFile(p)) Some(p)
    else if (Files.isDirectory(p))
      graft.core.Fs.list(p)
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_"))
        .sortBy(_.getFileName.toString).headOption
    else None
  }

  /** Strict-decode probe: does `charset` decode the first MB of `path`?
    * A sample cut short of the end of the file may end inside a multibyte
    * character, so it is decoded as incomplete input: a trailing partial
    * sequence is underflow, and only a malformed or unmappable byte fails. */
  private[io] def decodes(path: String, charset: String): Boolean =
    firstDataFile(path).exists { f =>
      val in = Files.newInputStream(f)
      try {
        val buf = in.readNBytes(ProbeBytes)
        val endOfInput = buf.length < ProbeBytes || in.read() == -1
        val dec = Charset.forName(charset).newDecoder()
          .onMalformedInput(CodingErrorAction.REPORT)
          .onUnmappableCharacter(CodingErrorAction.REPORT)
        val out = CharBuffer.allocate(
          math.ceil(buf.length * dec.maxCharsPerByte.toDouble).toInt)
        dec.decode(ByteBuffer.wrap(buf), out, endOfInput).isUnderflow
      } finally in.close()
    }

  // Spark 4 whitelists CSV charsets (utf-8/16/32, iso-8859-1, us-ascii);
  // anything else (e.g. the reference's cp1252) needs the legacy flag.
  private val BuiltinCharsets = Set("utf-8", "utf-16", "utf-16be", "utf-16le",
    "utf-32", "iso-8859-1", "us-ascii")

  /** For an ASCII-compatible single-byte charset, the chars that its bytes
    * 0x80-0xFF read as in ISO-8859-1 and the chars they are in `charset`,
    * where the two differ (windows-1252: 0x80-0x9F). None for any other
    * charset. Undefined bytes map to U+FFFD, as a Spark read does. */
  private def singleByteMap(charset: String): Option[(String, String)] = {
    val cs = Charset.forName(charset)
    val chars = (0 to 0xFF).map(b => new String(Array(b.toByte), cs))
    val asciiSame = (0 until 0x80).forall(b => chars(b) == b.toChar.toString)
    if (!asciiSame || chars.exists(_.length != 1)) None
    else {
      val diff = (0x80 to 0xFF).filter(b => chars(b) != b.toChar.toString)
      Some((diff.map(_.toChar).mkString, diff.map(chars(_)).mkString))
    }
  }

  /** A CSV read of `path` in `charset`. The legacy-charset flag is read
    * from whichever session RUNS a query, so a frame read through a flagged
    * clone fails once it is joined into a frame of the caller's session
    * (the price table into the base). A single-byte charset therefore needs
    * no flag: it is read as ISO-8859-1, one char per byte, and the high half
    * is mapped to `charset` with `translate` in every string column and in
    * the header. Any other non-builtin charset is read through a clone with
    * the flag set; the caller's session is never mutated (same pattern as
    * Tables.events; see TablesConfScopeSpec). */
  private def readCsv(spark: SparkSession, path: String, charset: String,
                      options: Map[String, String]): DataFrame = {
    def read(s: SparkSession, cs: String) =
      s.read.options(options).option("encoding", cs).csv(path)
    if (BuiltinCharsets.contains(charset.toLowerCase)) read(spark, charset)
    else singleByteMap(charset) match {
      case Some((from, to)) =>
        val raw = read(spark, "ISO-8859-1")
        val high = from.zip(to).toMap
        raw.select(raw.schema.fields.toSeq.map { f =>
          val c = if (f.dataType == StringType) translate(col(f.name), from, to)
                  else col(f.name)
          c.as(f.name.map(ch => high.getOrElse(ch, ch)))
        }: _*)
      case None =>
        read(graft.core.Sessions.scoped(spark,
          "spark.sql.legacy.javaCharsets" -> "true"), charset)
    }
  }

  /** S1: CSV read with encoding retry and the reference's NA tokens. */
  def csvWithEncodingRetry(
      spark: SparkSession, path: String, sep: String = ";",
      charsets: Seq[String] = DefaultCharsets,
      naTokens: Seq[String] = DefaultNaTokens,
      header: Boolean = true): DataFrame = {
    val charset = charsets.find(decodes(path, _)).getOrElse(
      throw new IllegalArgumentException(
        s"no charset in ${charsets.mkString(",")} decodes $path"))
    val df = readCsv(spark, path, charset, Map("sep" -> sep,
      "header" -> header.toString, "nullValue" -> "", "inferSchema" -> "true"))
    // extra NA tokens (Spark supports a single nullValue): one collapsed
    // projection — a single when(isin) per column, not |cols|x|tokens|
    // stacked withColumn layers
    val toks = naTokens.filter(_.nonEmpty).map(_.trim).distinct
    if (toks.isEmpty) df
    else df.withColumns(df.columns.map(c =>
      c -> when(trim(col(c).cast("string")).isin(toks: _*), lit(null))
        .otherwise(col(c))).toMap)
  }

  /** Expected price-table column names (S2). */
  private val PriceCols = Seq("Procedimento", "Convenio", "Valor_Convenio")

  /** S2: price-table loader — separator sniffing across `;`/tab/`,`,
    * encoding retry, positional fallback to the canonical 3 names when the
    * header doesn't match, and a numeric-sample validation gate (≥ half of
    * a bounded sample of Valor parses as BR-locale money). */
  def csvPriceTable(spark: SparkSession, path: String): DataFrame = {
    // the strict decode probe depends on the charset only: run it once
    // per charset, not once per (separator, charset) pair
    val charsets = DefaultCharsets.filter(decodes(path, _))
    val combos = for (sep <- Seq(";", "\t", ","); cs <- charsets)
      yield (sep, cs)
    combos.view.flatMap { case (sep, cs) =>
      Try {
        val raw = readCsv(spark, path, cs,
          Map("sep" -> sep, "header" -> "true", "mode" -> "DROPMALFORMED"))
        if (raw.columns.length < 3)
          throw new IllegalArgumentException(s"needs ≥3 cols, got ${raw.columns.length}")
        val named =
          if (PriceCols.forall(raw.columns.contains)) raw.select(PriceCols.map(col): _*)
          else raw.select(raw.columns.take(3).map(col): _*).toDF(PriceCols: _*)
        val parsed = named.withColumn("Valor_Convenio",
          graft.functions.money_br(col("Valor_Convenio")))
        // validation gate on a bounded sample (etl_pipeline.py:146-151),
        // counted on the driver: 100 values need no shuffle to one task
        val sample = parsed.select("Valor_Convenio").limit(100).collect()
        if (sample.isEmpty || sample.count(!_.isNullAt(0)) * 2 < sample.length)
          throw new IllegalArgumentException("numeric validation failed")
        parsed
      }.toOption
    }.headOption.getOrElse(
      throw new IllegalArgumentException(s"no sep/encoding combination parses $path"))
  }

  /** S4: optional side table — None when the file doesn't exist or lacks
    * the required columns. */
  def optionalCsv(spark: SparkSession, path: String, sep: String,
                  required: Seq[String]): Option[DataFrame] =
    if (!Files.exists(Paths.get(path))) None
    else Try(csvWithEncodingRetry(spark, path, sep)).toOption
      .filter(df => required.forall(df.columns.contains))
}
