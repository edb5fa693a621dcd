package graft

import graft.core.Scratch
import graft.queries.Registry

/** Contract tests for the build-once scratch cache (round-6 verdict
  * items 2/3): first call builds, later calls are pure lookups, distinct
  * keys never share state, and the q101 gate really consumes the stored
  * cluster-map artifact rather than re-deriving the clustering. */
class ScratchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("materialize builds exactly once per key and caches across calls") {
    val key = s"spec|${System.nanoTime()}" // fresh key per test run
    var builds = 0
    def get(): String = Scratch.materialize("scratch_spec", key) { p =>
      builds += 1
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "artifact.txt"), "payload")
    }
    val first = get()
    val second = get()
    assert(builds == 1, s"expected one build, got $builds")
    assert(first == second)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(first, "artifact.txt")) == "payload")
    // a different key is a different artifact — no cross-key sharing
    val other = Scratch.materialize("scratch_spec", key + "|v2") { p =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "artifact.txt"), "other")
    }
    assert(other != first)
    // invalidate drops the artifact; the next call rebuilds
    Scratch.invalidate("scratch_spec", key)
    get()
    assert(builds == 2, "invalidate must force a rebuild")
    Scratch.invalidate("scratch_spec", key)
    Scratch.invalidate("scratch_spec", key + "|v2")
  }

  test("stored cluster map == live clustering, and q101 consumes the stored artifact") {
    val path = graft.queries.LlmOps.clusterMapPath(spark, dir)
    val stored = spark.read.parquet(path).select("doc_id", "canonical_id")
    val live = Registry.byName("q26b_dedup_clusters").fn(spark, dir)
      .select("doc_id", "canonical_id")
    // same assignment for every doc, both directions
    assert(stored.exceptAll(live).isEmpty && live.exceptAll(stored).isEmpty,
      "stored cluster map diverged from the live label propagation")
    // the split gate's scan set is exactly the stored artifact — the
    // proof that q101 reads the published map, not a fresh re-derivation
    val q101 = Registry.byName("q101_leakage_split").fn(spark, dir)
    val inputs = q101.inputFiles
    assert(inputs.nonEmpty)
    def localPath(f: String): String =
      if (f.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(f)).toString
      else f
    assert(inputs.forall(f => localPath(f).startsWith(path)),
      s"q101 must read only the stored cluster map, read: ${inputs.take(3).mkString(", ")}")
  }
}
