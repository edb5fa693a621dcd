package graft.io

import org.apache.spark.sql.{DataFrame, graftshim}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** CSV sinks matching the reference's output contract (S5/S6):
  * `sep=';'`, header, decimal COMMA for floating-point columns
  * (/root/reference/src/etl_pipeline.py:470 et al. — pandas
  * `to_csv(sep=';', decimal=',')`).
  *
  * Spark's CSV writer has no decimal-locale option, so the locale is a
  * formatting *projection* ahead of the write: every double column is
  * rendered with `%.2f` and the point swapped for a comma. That keeps the
  * write fully distributed — the reference's `toPandas().to_csv()`
  * (Criptografia.py:175-183) collects the world to the driver; the Spark
  * replacement for "one output file" is `coalesce(1)`, which still writes
  * on an executor.
  *
  * A one-file sink of a globally sorted frame sorts inside its one
  * partition: `orderBy` then `coalesce(1)` would plan a range exchange
  * (a sampling job whose sampled keys return to the driver, plus a
  * shuffle) only to merge every range back into one task. See
  * [[singlePartition]]. */
object Writers {

  /** Render floating-point columns as 2-decimal, comma-decimal strings. */
  def brDecimalProjection(df: DataFrame): DataFrame = {
    // one projection for every floating-point column, not one withColumn
    // layer per column; replaced columns keep their positions
    val doubles = df.schema.fields.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType => f.name
    }
    if (doubles.isEmpty) df
    else df.withColumns(doubles.map(c => c ->
      when(col(c).isNotNull,
        translate(format_string("%.2f", col(c)), ".", ","))).toMap)
  }

  /** Date/key-partitioned parquet lake layout: the 100 TB posture for
    * every fact table (SURVEY §4) — a filter on the partition column
    * prunes whole directories at planning time (`PartitionFilters` in the
    * scan) instead of reading and discarding rows. */
  def partitionedParquet(df: DataFrame, path: String,
                         partitionCols: Seq[String]): Unit =
    df.write.partitionBy(partitionCols: _*).mode("overwrite").parquet(path)

  /** Bucketed external table: the co-located-join layout. Both sides of
    * a recurring fact-to-fact join written with the SAME bucket count on
    * the join key let every subsequent join run with ZERO exchange —
    * each scan already satisfies the join's distribution requirement
    * (and `sortBy` pre-sorts each bucket file, removing the sort too).
    * At 100 TB this turns the nightly re-join of two persisted corpora
    * from the dominant shuffle into a local merge per bucket.
    * The table is EXTERNAL (data at `path`); metadata lands in the
    * session catalog, which is what carries the bucket spec to readers
    * (a bare parquet read of the same files sees no bucketing). */
  def bucketedTable(df: DataFrame, table: String, path: String,
                    bucketCols: Seq[String], buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** The frame as one partition, in the same row order.
    *
    * When the analyzed plan ends in a global `Sort`, the sort moves above
    * the coalesce and becomes local: `Sort(order, global = false,
    * Repartition(1, shuffle = false, child))`. A global sort followed by
    * `coalesce(1)` yields the same rows in the same order as `coalesce(1)`
    * followed by a sort of that one partition, but the latter plans no
    * `RangePartitioning` exchange. Any other frame is plain `coalesce(1)`
    * and keeps its input order. */
  private[graft] def singlePartition(df: DataFrame): DataFrame =
    graftshim.analyzed(df) match {
      case Sort(order, true, child, hint) =>
        graftshim.ofRows(df.sparkSession,
          Sort(order, global = false, Repartition(1, shuffle = false, child), hint))
      case _ => df.coalesce(1)
    }

  /** S5: BR-locale CSV sink. `singleFile=true` mirrors the reference's
    * one-file outputs without any driver collect: the frame is written
    * from one partition ([[singlePartition]]), so a sorted report lands
    * in one file in its sort order. */
  def csvBr(df: DataFrame, path: String, encoding: String = "UTF-8",
            singleFile: Boolean = false): Unit =
    brDecimalProjection(if (singleFile) singlePartition(df) else df)
      .write
      .option("sep", ";")
      .option("header", "true")
      .option("encoding", encoding)
      .mode("overwrite")
      .csv(path)
}
