package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fs

/** PROPS is read without the commit lock (check-constraint compile, the
  * writer's compression and segment-size knobs, the row-level mode), so
  * its rewrite must never expose a file missing a key it keeps. */
class PropsSpec extends AnyFunSuite {

  test("a reader racing 500 PROPS rewrites never misses a kept key") {
    val dir = Files.createTempDirectory("props_race")
    val check = DocStoreChecks.PREFIX + "positive"
    DocStoreCatalog.writeModeProp(dir, java.util.Map.of(
      check, "doc_id > 0",
      DocStoreCatalog.MODE_KEY, DocStoreCatalog.MODE_MOR))
    @volatile var done = false
    val writer = new Thread(() => {
      try (1 to 500).foreach { i =>
        if (i % 2 == 0) DocStoreCatalog.updateProps(dir, Map.empty, Set("note"))
        else DocStoreCatalog.updateProps(dir, Map("note" -> ("x" * 64 * i)), Set.empty)
      } finally done = true
    })
    writer.start()
    var reads = 0
    var misses = 0
    while (!done) {
      val props = DocStoreCatalog.readProps(dir.toString)
      reads += 1
      if (!props.contains(check) ||
          DocStoreCatalog.rowLevelMode(dir.toString) != DocStoreCatalog.MODE_MOR)
        misses += 1
    }
    writer.join()
    assert(reads > 0)
    assert(misses == 0, s"$misses of $reads reads lost a kept PROPS key")
    assert(Fs.list(dir).map(_.getFileName.toString) == Vector("PROPS"))
    Fs.deleteRecursively(dir)
  }
}
