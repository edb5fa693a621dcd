package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fs

/** Contracts of the file idioms `core.Fs` owns: closed listings, the
  * `<prefix><n>` name scan and the atomic metadata publish — plus the
  * pin that keeps them owned there. */
class FsSpec extends AnyFunSuite {

  private def openFds(): Int = Fs.list(Paths.get("/proc/self/fd")).size

  private def tree(): Path = {
    val dir = Files.createTempDirectory("fs_spec")
    Files.createDirectories(dir.resolve("a/b"))
    Seq("x", "a/y", "a/b/z").foreach(f => Files.writeString(dir.resolve(f), f))
    dir
  }

  test("list and walk close their directory handles") {
    val dir = tree()
    val before = openFds()
    (1 to 500).foreach { _ =>
      assert(Fs.list(dir).size == 2)
      assert(Fs.walk(dir).size == 6)
    }
    val grown = openFds() - before
    assert(grown < 50, s"1000 listings leaked $grown fds")
    Fs.deleteRecursively(dir)
    assert(!Files.exists(dir))
  }

  test("walk lists parents before children, so copyRecursively rebuilds the tree") {
    val dir = tree()
    val walked = Fs.walk(dir).map(dir.relativize(_).toString)
    assert(walked.indexOf("a") < walked.indexOf("a/b"))
    assert(walked.indexOf("a/b") < walked.indexOf("a/b/z"))
    val copy = Files.createTempDirectory("fs_spec_copy")
    Fs.copyRecursively(dir, copy)
    assert(Files.readString(copy.resolve("a/b/z")) == "a/b/z")
    Seq(dir, copy).foreach(Fs.deleteRecursively(_))
  }

  test("numbered reads exactly <prefix><n> names, in numeric order") {
    val dir = Files.createTempDirectory("fs_numbered")
    Seq("MANIFEST.v10", "MANIFEST.v3", "MANIFEST.v0", ".MANIFEST-tok",
      "MANIFEST.v3.bak", "MANIFEST.vx", "MANIFEST.v", "MANIFEST",
      "MANIFEST.v007", "MANIFEST.v+4", "MANIFEST.v-4", "xMANIFEST.v5",
      "MANIFEST.v99999999999999999999", "SCHEMA.upto-v2")
      .foreach(f => Files.writeString(dir.resolve(f), ""))
    assert(Fs.numbered(dir, "MANIFEST.v") == Vector(0L, 3L, 10L))
    assert(Fs.numbered(dir, "SCHEMA.upto-v") == Vector(2L))
    assert(Fs.numbered(dir, "SCHEMA.gen-").isEmpty)
    Fs.deleteRecursively(dir)
  }

  test("publish creates, then replaces, and leaves no temp sibling") {
    val dir = Files.createTempDirectory("fs_publish")
    Fs.publish(dir, "PROPS", "a=1")
    assert(Files.readString(dir.resolve("PROPS")) == "a=1")
    Fs.publish(dir, "PROPS", "a=2\nb=3")
    assert(Files.readString(dir.resolve("PROPS")) == "a=2\nb=3")
    Fs.publish(dir, "MANIFEST", Array[Byte](1, 2), tmp = ".MANIFEST-tok")
    assert(Files.readAllBytes(dir.resolve("MANIFEST")).toSeq == Seq[Byte](1, 2))
    assert(Fs.list(dir).map(_.getFileName.toString).sorted ==
      Vector("MANIFEST", "PROPS"))
    Fs.deleteRecursively(dir)
  }

  test("no source file but core/Fs.scala opens a Files.list or Files.walk stream") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val offenders = Fs.walk(root)
      .filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith(Paths.get("graft/core/Fs.scala")))
      .flatMap { p =>
        Files.readString(p).linesIterator.zipWithIndex.collect {
          case (l, i) if l.contains("Files.list(") || l.contains("Files.walk(") =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"list directories through core.Fs.list/walk: ${offenders.mkString(", ")}")
  }
}
