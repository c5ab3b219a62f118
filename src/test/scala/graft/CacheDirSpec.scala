package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.Files

import graft.index.IndexBuild

/** [[DocIndex.cacheDir]] removes the side-index copies that older
  * format versions left behind. */
class CacheDirSpec extends AnyFunSuite {
  test("cacheDir deletes the name's superseded -v<M> siblings and keeps the current version") {
    val name = "cachedir-spec"
    def root(v: Int) = new File(s"/tmp/graft-$name-v$v")
    val old = root(1)
    val current = root(IndexBuild.FormatVersion)
    val other = new File("/tmp/graft-cachedir-spec2-v1")
    try {
      Seq(old, current, other).foreach { d =>
        Files.createDirectories(new File(d, "sf/part").toPath)
        Files.write(new File(d, "sf/part/data").toPath, Array[Byte](1, 2, 3))
      }
      val dir = DocIndex.cacheDir(name, "/data/sf")
      assert(dir == s"${current.getPath}/_data_sf")
      assert(!old.exists(), "the v1 copy is deleted")
      assert(new File(current, "sf/part/data").exists(), "the current version's dir stays")
      assert(other.exists(), "another name's copies stay")
    } finally Seq(old, current, other).foreach(org.apache.hadoop.fs.FileUtil.fullyDelete)
  }
}
