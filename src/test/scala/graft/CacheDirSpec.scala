package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.Files

import graft.functions.Tokenizer
import graft.index.IndexBuild

/** [[DocIndex.cacheDir]] removes the side-index copies that other format
  * stamps (layout or normalizer version) left behind. */
class CacheDirSpec extends AnyFunSuite {
  private val tag = s"v${IndexBuild.FormatVersion}n${Tokenizer.NormalizerVersion}"

  private def withDirs(dirs: File*)(body: => Unit): Unit =
    try {
      dirs.foreach { d =>
        Files.createDirectories(new File(d, "sf/part").toPath)
        Files.write(new File(d, "sf/part/data").toPath, Array[Byte](1, 2, 3))
      }
      body
    } finally dirs.foreach(org.apache.hadoop.fs.FileUtil.fullyDelete)

  test("cacheDir deletes the name's superseded -v<M> siblings and keeps the current version") {
    val name = "cachedir-spec"
    val old = new File(s"/tmp/graft-$name-v1")
    val current = new File(s"/tmp/graft-$name-$tag")
    val other = new File("/tmp/graft-cachedir-spec2-v1")
    withDirs(old, current, other) {
      val dir = DocIndex.cacheDir(name, "/data/sf")
      assert(dir == s"${current.getPath}/_data_sf")
      assert(!old.exists(), "the v1 copy is deleted")
      assert(new File(current, "sf/part/data").exists(), "the current version's dir stays")
      assert(other.exists(), "another name's copies stay")
    }
  }

  test("cacheDir deletes a sibling whose normalizer version alone differs") {
    val name = "cachedir-norm-spec"
    val layout = s"v${IndexBuild.FormatVersion}"
    // same layout, older normalizer: tagged, and the layout-only form
    val staleTagged = new File(s"/tmp/graft-$name-${layout}n${Tokenizer.NormalizerVersion - 1}")
    val layoutOnly = new File(s"/tmp/graft-$name-$layout")
    val current = new File(s"/tmp/graft-$name-$tag")
    withDirs(staleTagged, layoutOnly, current) {
      assert(DocIndex.cacheDir(name, "/data/sf") == s"${current.getPath}/_data_sf")
      assert(!staleTagged.exists(), "the older normalizer's copy is deleted")
      assert(!layoutOnly.exists(), "the copy tagged by layout alone is deleted")
      assert(new File(current, "sf/part/data").exists(), "the current stamp's dir stays")
    }
  }
}
