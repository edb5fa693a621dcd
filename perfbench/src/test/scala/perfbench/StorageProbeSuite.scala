package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Bus
import org.scalatest.funsuite.AnyFunSuite

class StorageProbeSuite extends AnyFunSuite {
  test("units that cache and unpersist the same frame report the same peak") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      sc.setLogLevel("WARN")
      val probe = new StorageProbe
      sc.addSparkListener(probe)
      val peaks = (1 to 3).map { _ =>
        Bus.drain(sc)
        probe.resetPeak()
        val df = spark.range(0, 200000)
          .selectExpr("id", "cast(id * 7 as string) AS s").persist()
        df.count()
        df.unpersist()
        Bus.drain(sc)
        probe.peakBytes
      }
      // task-binary broadcasts linger until the context cleaner drops
      // them, so peaks may differ by a few KB; a dead cache would double
      // the second peak
      assert(peaks.min > 1000000L, peaks)
      assert(peaks.max - peaks.min < peaks.min / 20, peaks)
      assert(probe.currentBytes < peaks.min / 20, probe.currentBytes)
    } finally spark.stop()
  }
}
