package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.core.Fs

/** Branch refs for docstore tables — the Iceberg branch / Delta
  * shallow-clone shape that makes WRITE-AUDIT-PUBLISH possible: stage
  * commits on an isolated branch, audit them with real reads, then
  * publish the branch to main as ONE commit (or drop it and nothing
  * ever happened).
  *
  * A branch is two files in the table directory:
  *
  *  - `MANIFEST.branch.<name>` — the branch's own mutable manifest
  *    face. Branch appends publish here (atomic rename, same commit
  *    lock as main) and create NO `MANIFEST.v<n>` snapshots: branch
  *    work is invisible to time travel and to BOTH change-feed faces
  *    until published — which is exactly the WAP contract (audit reads
  *    see the branch; downstream CDC consumers never see unaudited
  *    rows).
  *  - `BRANCH.<name>` — the ref: the main version at creation plus the
  *    SHA-256 of main's manifest bytes at creation. Publish is
  *    fast-forward-only and verifies the CONTENT hash, not just the
  *    version number: any main movement since the branch was cut — a
  *    concurrent commit, a truncating overwrite that reset history, a
  *    restore — changes the bytes and the publish refuses loudly
  *    instead of silently dropping that movement.
  *
  * Branch segments share the table's global part-number sequence
  * (the staged-name walk covers every file on disk), so branch and
  * main writes can never collide on a name. Unpublished branch
  * segments are protected from `vacuum`/`expire_snapshots` (their
  * live-set unions every branch manifest) and `TRUNCATE TABLE`
  * refuses while branches exist; `drop_branch` deletes the segments
  * only the branch referenced.
  *
  * All operations are metadata-sized: manifest reads, one hash, file
  * renames — publishing a 100 TB branch costs one manifest write. */
object DocStoreBranches {

  private val NAME = "^[A-Za-z0-9_][A-Za-z0-9_.-]*$".r

  def refFile(name: String): String = s"BRANCH.$name"
  def manifestName(name: String): String = s"MANIFEST.branch.$name"
  /** Tombstone a publish leaves behind (content: the published main
    * version): how a `branch=<name>` STREAM distinguishes "published
    * — resume on main, the branch's content IS main's prefix now"
    * from "never existed / dropped — fail loudly". create() clears a
    * stale marker so a re-created branch starts a fresh lifecycle. */
  def publishedMarker(name: String): String = s"PUBLISHED.$name"

  def validName(name: String): Boolean = NAME.matches(name)

  def exists(path: String, name: String): Boolean =
    Files.exists(Paths.get(path, refFile(name))) &&
      Files.exists(Paths.get(path, manifestName(name)))

  def list(path: String): Seq[String] = {
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) return Seq.empty
    Fs.list(dir).flatMap(p => "^BRANCH\\.(.+)$".r
      .findFirstMatchIn(p.getFileName.toString).map(_.group(1))).sorted
  }

  private def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(p)).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Cut a branch at the current main state. Returns the base version. */
  def create(path: String, name: String): Long = {
    require(validName(name),
      s"invalid branch name '$name' (allowed: [A-Za-z0-9_][A-Za-z0-9_.-]*)")
    DocStoreCommitOps.withCommitLock(path) {
      require(!exists(path, name),
        s"branch '$name' already exists on $path")
      val dir = Paths.get(path)
      Files.deleteIfExists(dir.resolve(publishedMarker(name)))
      val base = DocStoreCommitOps.nextVersion(path) - 1
      Files.copy(dir.resolve("MANIFEST"), dir.resolve(manifestName(name)),
        StandardCopyOption.REPLACE_EXISTING)
      Fs.publish(dir, refFile(name),
        s"base=$base\nsha=${sha256(dir.resolve("MANIFEST"))}")
      base
    }
  }

  def baseOf(path: String, name: String): (Long, String) = {
    val lines = Files.readAllLines(Paths.get(path, refFile(name))).asScala
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    (lines("base").toLong, lines("sha"))
  }

  /** Fast-forward main to the branch: publish the branch's manifest
    * (segments + deletion vectors) as ONE new main version. Refuses
    * loudly unless main's manifest bytes are EXACTLY what they were at
    * branch creation — the content-level fast-forward check. Returns
    * the new main version. */
  def publish(path: String, name: String): Long =
    DocStoreCommitOps.withCommitLock(path) {
      require(exists(path, name), s"no branch '$name' on $path")
      val dir = Paths.get(path)
      // crash residue: marker AND refs together can only mean a
      // previous publish died between the marker move and the ref
      // deletes (create() clears stale markers) — main already holds
      // the branch content, so just finish the cleanup and return the
      // recorded version (re-running the hash check would refuse:
      // main legitimately moved AT the earlier publish; r12 review)
      val marker = dir.resolve(publishedMarker(name))
      if (Files.exists(marker)) {
        val v = Files.readString(marker).trim.toLong
        Files.deleteIfExists(dir.resolve(refFile(name)))
        Files.deleteIfExists(dir.resolve(manifestName(name)))
        return v
      }
      // r13 (ADVICE r12): a crash BETWEEN writeManifest (main already
      // fast-forwarded) and the marker move leaves refs with NO marker;
      // the fast-forward check below would then refuse forever ("main
      // moved" — it moved TO the branch content) and the only way out
      // was drop_branch, voiding every branch-face checkpoint. Content
      // recovery: if main's manifest bytes ARE the branch's manifest
      // bytes, the earlier publish landed — finish it (snapshot if the
      // crash hit inside writeManifest, then marker + ref cleanup)
      // instead of refusing.
      val mainSha = sha256(dir.resolve("MANIFEST"))
      val (base0, baseSha) = baseOf(path, name)
      // recovery ONLY when main is the branch content AND moved off its
      // cut point — a no-commit branch publish (main sha == cut sha ==
      // branch sha) must fall through and create its normal, auditable
      // fast-forward commit (r13 review finding: the first condition
      // alone made it a silent no-op returning a pre-existing version)
      if (mainSha == sha256(dir.resolve(manifestName(name))) &&
          mainSha != baseSha) {
        val v: Long = DocStoreCommitOps.versionTimes(path).lastOption match {
          case Some((last, _))
              if sha256(dir.resolve(s"MANIFEST.v$last")) == mainSha => last
          case _ =>
            // died before the retained snapshot copy: complete it with
            // writeManifest's commit-time monotonicity contract
            val nv = DocStoreCommitOps.nextVersion(path)
            val snap = dir.resolve(s"MANIFEST.v$nv")
            Files.copy(dir.resolve("MANIFEST"), snap)
            val prev = dir.resolve(s"MANIFEST.v${nv - 1}")
            if (Files.exists(prev)) {
              val pt = Files.getLastModifiedTime(prev).toMillis
              if (Files.getLastModifiedTime(snap).toMillis <= pt)
                Files.setLastModifiedTime(snap,
                  java.nio.file.attribute.FileTime.fromMillis(pt + 1))
            }
            nv
        }
        Fs.publish(dir, publishedMarker(name), v.toString)
        Files.deleteIfExists(dir.resolve(refFile(name)))
        Files.deleteIfExists(dir.resolve(manifestName(name)))
        return v
      }
      require(mainSha == baseSha,
        s"cannot publish branch '$name': main moved since the branch " +
          s"was cut at version $base0 (concurrent commit, overwrite, or " +
          "restore) — docstore branches publish fast-forward only. " +
          "Re-create the branch from the current state and replay.")
      val (segs, dvs) =
        DocStore.readManifestAndDeletes(path, manifestName(name))
      // transaction versions recorded by idempotent writes STAGED ON
      // THE BRANCH must survive the fast-forward — dropping them would
      // let a post-publish retry of the same (appId, version) land its
      // rows a second time, the exact duplicate txns exist to prevent
      val branchTxns = DocStore.readTxns(path, manifestName(name))
      val v = DocStoreCommitOps.writeManifest(path, segs,
        s"publish-$name-${java.util.UUID.randomUUID()}", dvs,
        newTxns = branchTxns)
      // fast-forward tombstone: branch streams resume on main (their
      // name-keyed offsets stay valid — main's manifest IS the branch
      // manifest they were reading, plus whatever lands after).
      // Written BEFORE the ref deletes (r12 review finding): a crash
      // between them would otherwise void every branch-face
      // checkpoint forever; with marker-first, a crash leaves branch
      // AND marker, and the branch face simply still resolves to the
      // branch manifest (== main's content after the fast-forward) —
      // re-running publish completes the cleanup
      Fs.publish(dir, publishedMarker(name), v.toString)
      Files.delete(dir.resolve(refFile(name)))
      Files.delete(dir.resolve(manifestName(name)))
      v
    }

  /** Abandon the branch: delete the segment files ONLY the branch
    * references (never reachable from main or its history — branch
    * appends are fresh globally-numbered files), then the refs.
    * Returns (files deleted, bytes reclaimed). */
  def drop(path: String, name: String): (Long, Long) =
    DocStoreCommitOps.withCommitLock(path) {
      require(exists(path, name), s"no branch '$name' on $path")
      val dir = Paths.get(path)
      val branchSegs = DocStore.readManifest(path, manifestName(name))
        .map(_.name).toSet
      val mainRefs = mainReferencedNames(path)
      val otherBranches = list(path).filterNot(_ == name)
        .flatMap(b => DocStore.readManifest(path, manifestName(b))
          .map(_.name)).toSet
      var files = 0L
      var bytes = 0L
      branchSegs.diff(mainRefs ++ otherBranches).toSeq.sorted.foreach { n =>
        val p = dir.resolve(n)
        if (Files.exists(p)) {
          bytes += Files.size(p)
          Files.delete(p)
          files += 1
        }
      }
      Files.delete(dir.resolve(refFile(name)))
      Files.delete(dir.resolve(manifestName(name)))
      Files.deleteIfExists(dir.resolve(publishedMarker(name)))
      (files, bytes)
    }

  /** Every segment name reachable from main: the live manifest plus
    * every retained version snapshot. */
  def mainReferencedNames(path: String): Set[String] = {
    val snapshots =
      Fs.numbered(Paths.get(path), "MANIFEST.v").map(v => s"MANIFEST.v$v")
    ("MANIFEST" +: snapshots)
      .flatMap(m => DocStore.readManifest(path, m).map(_.name)).toSet
  }

  /** Segment names referenced by ANY branch manifest — the extra live
    * set `vacuum` / `expire_snapshots` must not reclaim. */
  def branchReferencedNames(path: String): Set[String] =
    list(path).flatMap(b =>
      DocStore.readManifest(path, manifestName(b)).map(_.name)).toSet
}
