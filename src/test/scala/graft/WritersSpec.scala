package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Writers

/** The one-file BR-CSV sink (S5): a globally sorted frame is sorted inside
  * its one partition (no range exchange) and lands in sort order; any
  * other frame keeps its `coalesce(1)` row order. */
class WritersSpec extends SparkSpec {

  /** Lines of the one CSV part file a single-file sink wrote. */
  private def writeOne(df: DataFrame): Seq[String] = {
    val out = Files.createTempDirectory("writers").resolve("out").toString
    Writers.csvBr(df, out, singleFile = true)
    val parts = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv")).toSeq
    assert(parts.size === 1, s"expected one part file, got $parts")
    new String(Files.readAllBytes(parts.head), "UTF-8").linesIterator.toSeq
  }

  /** 2,000 keys, permuted, over 8 partitions. */
  private def scattered: DataFrame =
    spark.range(0, 2000, 1, 8).select(((col("id") * 7919) % 2000).as("k"))
      .withColumn("v", col("k") / 4.0)

  test("S5: a sorted multi-partition frame writes one file in sort order, no range exchange") {
    val sorted = scattered.orderBy(desc("k"))
    val plan = Writers.singlePartition(sorted).queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), plan)
    val lines = writeOne(sorted)
    assert(lines.head === "k;v")
    assert(lines.tail === (1999L to 0L by -1).map(k =>
      s"$k;${"%.2f".formatLocal(java.util.Locale.ROOT, k / 4.0).replace('.', ',')}"))
  }

  test("S5: an unsorted frame keeps its coalesce(1) row order") {
    val lines = writeOne(scattered.select("k"))
    val want = scattered.select("k").coalesce(1).collect().map(_.getLong(0).toString).toSeq
    assert(lines === "k" +: want)
    // a sort below the top projection is not rewritten; its order holds
    val projected = writeOne(scattered.orderBy("k").select((col("k") + 1).as("k1")))
    assert(projected.tail === (1L to 2000L).map(_.toString))
  }

  test("S5: an empty sorted report still writes one part file with its header") {
    val lines = writeOne(scattered.filter(lit(false)).orderBy("k"))
    assert(lines === Seq("k;v"))
  }
}
