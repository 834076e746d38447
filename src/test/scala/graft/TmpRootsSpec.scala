package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The per-process scratch roots' sweep: dead roots of a prefix are
  * removed past the 24 h horizon, live ones never. */
class TmpRootsSpec extends AnyFunSuite {

  private val Day = 24L * 3600 * 1000

  private def dir(parent: File, name: String, ageMs: Long): File = {
    val d = new File(parent, name)
    d.mkdirs()
    new File(d, "payload").createNewFile()
    d.setLastModified(System.currentTimeMillis() - ageMs)
    d
  }

  test("an aged bare <prefix> root is swept, a fresh one is kept") {
    val tmp = Files.createTempDirectory("graft_tmproots").toFile
    val agedBare = dir(tmp, "legacy", Day + 3600 * 1000)
    val agedSibling = dir(tmp, "legacy_1", Day + 3600 * 1000)
    val unrelated = dir(tmp, "legacyx", Day + 3600 * 1000)
    val freshBare = dir(tmp, "recent", 3600 * 1000)
    val self = TmpRoots.root("legacy", tmp)
    assert(!agedBare.exists(), "the aged legacy shared root must be reclaimed")
    assert(!agedSibling.exists())
    assert(unrelated.exists(), "only <prefix> and <prefix>_* are swept")
    assert(new File(self).isDirectory && new File(self).getParentFile == tmp)
    TmpRoots.root("recent", tmp)
    assert(freshBare.exists(), "a bare root inside the horizon is kept")
  }
}
