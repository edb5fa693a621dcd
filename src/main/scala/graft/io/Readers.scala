package graft.io

import java.nio.ByteBuffer
import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** First data file under `path` (a file, or a Spark CSV output dir).
    * The directory listing is closed here: an unclosed `Files.list`
    * holds a directory handle, and every charset probe lists again. */
  private def firstDataFile(path: String): Option[Path] = {
    val p = Paths.get(path)
    if (Files.isRegularFile(p)) Some(p)
    else if (Files.isDirectory(p)) {
      val listing = Files.list(p)
      try listing.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_"))
        .toVector.sortBy(_.getFileName.toString).headOption
      finally listing.close()
    }
    else None
  }

  /** Strict-decode probe: does `charset` decode the first MB of `path`? */
  private[io] def decodes(path: String, charset: String): Boolean =
    firstDataFile(path).exists { f =>
      val in = Files.newInputStream(f)
      try {
        val buf = in.readNBytes(ProbeBytes)
        val dec = Charset.forName(charset).newDecoder()
          .onMalformedInput(CodingErrorAction.REPORT)
          .onUnmappableCharacter(CodingErrorAction.REPORT)
        // tail bytes may split a multibyte char — tolerate only at the end
        Try {
          dec.decode(ByteBuffer.wrap(
            if (buf.length == ProbeBytes) buf.dropRight(4) else buf))
        }.isSuccess
      } finally in.close()
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
    // Spark 4 whitelists CSV charsets (utf-8/16/32, iso-8859-1, us-ascii);
    // anything else (e.g. the reference's cp1252) needs the legacy flag.
    // The flag is consulted when the scan executes, so it is scoped to a
    // cloned session (shared SparkContext, private SQLConf) that stays
    // attached to this relation — the caller's session is never mutated
    // (same pattern as Tables.events; see TablesConfScopeSpec).
    val builtin = Set("utf-8", "utf-16", "utf-16be", "utf-16le", "utf-32",
      "iso-8859-1", "us-ascii")
    val reader =
      if (builtin.contains(charset.toLowerCase)) spark
      else graft.core.Sessions.scoped(spark,
        "spark.sql.legacy.javaCharsets" -> "true")
    val df = reader.read
      .option("sep", sep)
      .option("header", header)
      .option("encoding", charset)
      .option("nullValue", "")
      .option("inferSchema", "true")
      .csv(path)
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
        val raw = spark.read
          .option("sep", sep).option("header", "true")
          .option("encoding", cs).option("mode", "DROPMALFORMED")
          .csv(path)
        if (raw.columns.length < 3)
          throw new IllegalArgumentException(s"needs ≥3 cols, got ${raw.columns.length}")
        val named =
          if (PriceCols.forall(raw.columns.contains)) raw.select(PriceCols.map(col): _*)
          else raw.select(raw.columns.take(3).map(col): _*).toDF(PriceCols: _*)
        val parsed = named.withColumn("Valor_Convenio",
          graft.functions.money_br(col("Valor_Convenio")))
        // validation gate on a bounded sample (etl_pipeline.py:146-151)
        val sample = parsed.select("Valor_Convenio").limit(100)
          .agg(count(lit(1)).as("n"), count(col("Valor_Convenio")).as("ok"))
          .head()
        if (sample.getLong(0) == 0 || sample.getLong(1) * 2 < sample.getLong(0))
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
