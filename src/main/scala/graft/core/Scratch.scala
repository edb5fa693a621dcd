package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Build-once scratch materialization for gates whose INPUT state must
  * live on disk before the measured operator can run (q104's
  * range-partitioned lake, q106's snapshot versions, q100's stored MV
  * partials, q101's cluster map, the persisted IVF index).
  *
  * Why it exists (round-6 verdict items 2/3 + advice): those gates used a
  * fixed scratch dir deleted and rewritten AT ENTRY, so (a) the bench
  * timed parquet-write throughput instead of the operator — the "top-3
  * slowest queries" were really setup IO — and (b) two concurrent
  * invocations (bench sweep overlapping a spec) could interleave
  * delete/overwrite and read a mixed snapshot.
  *
  * Contract: `materialize(name, key)(build)` returns a directory that
  * holds the finished artifact for that (name, key). The first caller
  * builds into a private staging dir and ATOMICALLY renames it into
  * place; every later caller — including the bench's timed pass after
  * its warm-up pass built the state — sees the completion marker and
  * returns immediately. Losing the rename race is benign: the loser
  * discards its staging copy and reads the winner's (both built the same
  * deterministic artifact). There is no partial-visibility window
  * because the marker is written INSIDE staging before the rename.
  *
  * The key must encode every input the artifact depends on: the source
  * data dir (sf0.01 and sf0.1 must never share state) and a builder
  * VERSION token the call site bumps whenever the build logic changes —
  * the cache outlives the JVM, so a logic change without a version bump
  * would silently serve stale state.
  *
  * This mirrors the lakehouse contract the gates model: build the table
  * once, serve many reads; immutable-once-published, never overwritten.
  */
object Scratch {

  private def root: Path =
    Paths.get(System.getProperty("java.io.tmpdir"), "graft_scratch")

  private val MARKER = "_GRAFT_COMPLETE"

  private def keyHash(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** A cheap change-signature of a source directory: sorted
    * (name, size, mtime) of every regular file under it. Call sites
    * fold this into the key so a REGENERATED source at the same path
    * (new seed, fresh driver round) auto-invalidates the artifact —
    * without it, the cache would serve the previous corpus's state to
    * gates reading the new one (r7 review finding). */
  def sourceSignature(dir: String): String = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return "absent"
    val entries = Fs.walk(p).filter(Files.isRegularFile(_))
      .map(f => s"${p.relativize(f)}:${Files.size(f)}:" +
        Files.getLastModifiedTime(f).toMillis)
      .sorted
    keyHash(entries.mkString("\n"))
  }

  /** Returns the artifact dir for (name, key), building it first if this
    * is the first invocation for that key. `build` receives the staging
    * dir to populate; it must write only under that path. */
  def materialize(name: String, key: String)(build: String => Unit): String = {
    val dest = root.resolve(s"${name}_${keyHash(key)}")
    if (Files.exists(dest.resolve(MARKER))) {
      // the marker carries the full key: a hash collision or a
      // hand-altered dir must rebuild, never silently serve
      if (Files.readString(dest.resolve(MARKER)) == key) return dest.toString
      Fs.deleteRecursively(dest)
    }
    Files.createDirectories(root)
    sweepStaleStaging(name)
    val staging = Files.createTempDirectory(root, s".${name}_stg_")
    try {
      build(staging.toString)
      Files.writeString(staging.resolve(MARKER), key)
      try Files.move(staging, dest, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          // rename refused because dest appeared: fine IFF a concurrent
          // builder won the race and its artifact is complete
          if (!Files.exists(dest.resolve(MARKER))) throw e
      }
      dest.toString
    } finally Fs.deleteRecursively(staging) // no-op when the move won
  }

  /** Drop staging dirs a crashed build left behind (r7 review finding:
    * otherwise /tmp grows without bound across rounds). Only dirs older
    * than an hour — a LIVE concurrent build's staging must survive. */
  private def sweepStaleStaging(name: String): Unit = {
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    Fs.list(root)
      .filter(d => d.getFileName.toString.startsWith(s".${name}_stg_") &&
        Files.getLastModifiedTime(d).toMillis < cutoff)
      .foreach(d => try Fs.deleteRecursively(d) catch { case _: Exception => () })
  }

  /** Test hook: drop one artifact so a spec can observe a rebuild. */
  def invalidate(name: String, key: String): Unit =
    Fs.deleteRecursively(root.resolve(s"${name}_${keyHash(key)}"))
}
