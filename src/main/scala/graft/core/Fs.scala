package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Local-filesystem helpers: the ONE owner of the file idioms the
  * lakehouse (DocStore tables, ANN indexes) and the scratch caches use.
  *
  *  - [[list]] / [[walk]]: directory listings, materialized and closed
  *    before they return. An unclosed `Files.list`/`Files.walk` stream
  *    holds a directory handle until GC; no other source file calls
  *    them (a spec pins this).
  *  - [[numbered]]: the `<prefix><n>` name scan behind `MANIFEST.v<n>`,
  *    `SCHEMA.upto-v<n>` and `SCHEMA.gen-<n>`.
  *  - [[publish]]: the atomic replace of a small metadata file (MANIFEST,
  *    SCHEMA, PART_SEQ, CHECKPOINT, PROPS, branch refs, index MANIFEST):
  *    readers see the old bytes or the new, never a partial file.
  *  - Recursive delete and copy of scratch and table directories.
  *
  * Directory and segment renames stay at their call sites: the staged
  * CTAS/clone/OPTIMIZE dirs, segment publish renames, the commit lock
  * steal and the Scratch artifact move each carry their own collision
  * rule, which a replace-always publish would break. */
object Fs {

  /** Entries of `dir` (not recursive), materialized and closed. */
  def list(dir: Path): Vector[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  /** `dir` and everything under it, parents before children,
    * materialized and closed (walk is lazy — mutating under a live
    * traversal is undefined). */
  def walk(dir: Path): Vector[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  /** Ascending `n` of the entries of `dir` named exactly `<prefix><n>`,
    * `n` in canonical decimal (no sign, no leading zero), so
    * `s"$prefix$n"` names the entry back. Temp files, suffixed copies
    * and non-numeric tails are ignored. */
  def numbered(dir: Path, prefix: String): Vector[Long] =
    list(dir).map(_.getFileName.toString).filter(_.startsWith(prefix))
      .map(_.substring(prefix.length))
      .filter(d => d.nonEmpty && d.forall(c => c >= '0' && c <= '9') &&
        (d == "0" || d.head != '0'))
      .flatMap(_.toLongOption).sorted

  /** Atomically replace (or create) `dir/name` with `bytes`: write a
    * dot-temp sibling, then rename it over `name`. A crash leaves the old
    * file intact. `tmp` overrides the temp sibling's default name,
    * `.<name>-tmp`. */
  def publish(dir: Path, name: String, bytes: Array[Byte],
      tmp: String = ""): Unit = {
    val t = dir.resolve(if (tmp.isEmpty) s".$name-tmp" else tmp)
    Files.write(t, bytes)
    Files.move(t, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** [[publish]] of UTF-8 text. */
  def publish(dir: Path, name: String, text: String): Unit =
    publish(dir, name, text.getBytes("UTF-8"))

  /** Recursively delete `dir` if it exists. */
  def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir)) walk(dir).reverse.foreach(Files.deleteIfExists(_))

  def deleteRecursively(dir: String): Unit =
    deleteRecursively(java.nio.file.Paths.get(dir))

  /** Recursively copy the CONTENTS of `src` under `dst` (created if
    * absent). Docstore manifests hold relative segment names, so a
    * directory copy is a faithful table clone — what lets gates that
    * CONSUME their input state (compaction, DELETE) re-hydrate a
    * Scratch-built pristine fixture in milliseconds per invocation
    * instead of rebuilding it inside the timed region. */
  def copyRecursively(src: Path, dst: Path): Unit =
    walk(src).foreach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Delete `dir` when the JVM exits — for scratch a gate's RESULT
    * DataFrame still lazily reads (deleting eagerly would break a later
    * action on the returned plan; File.deleteOnExit can't do recursive
    * directories). ONE static shutdown hook drains a concurrent set of
    * registered paths — per-call hooks would grow the JVM's hook table
    * without bound in a long-lived session invoking gates repeatedly. */
  private val exitPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitPaths.forEach(p =>
        try deleteRecursively(p) catch { case _: Exception => () })))

  def deleteOnExit(dir: Path): Unit = {
    exitHook
    exitPaths.add(dir)
  }

  private val rotating =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()

  /** Per-invocation scratch root that ROTATES under `key`: returns a
    * fresh temp dir, best-effort reclaims the key's previous one (its
    * lazy consumers are invalidated by the new invocation — the
    * contract every per-invocation gate fixture shares), and registers
    * the new dir for JVM-exit cleanup. Rotation matters for bench
    * sweeps: each gate runs ~3× (warm-up + timed), and deferring every
    * copy to JVM exit would hold ~3× gates of full fixtures in /tmp at
    * once — rotation bounds it at one previous + one current per key,
    * while per-invocation unique paths keep the concurrent-JVM hazard
    * closed. One implementation instead of a copy per gate (r16
    * review finding). */
  def rotatingTempRoot(key: String): Path = {
    val fresh = java.nio.file.Files.createTempDirectory(key)
    deleteOnExit(fresh)
    Option(rotating.put(key, fresh)).foreach(prev =>
      try deleteRecursively(prev) catch { case _: Exception => () })
    fresh
  }
}
