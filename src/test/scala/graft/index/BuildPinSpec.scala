package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.SourceFile

/** Output pins for every index builder: a sha256 over the sorted rows
  * of postings/, positions/, doclen/ and docs/, taken from the
  * pipeline as it stood before the row-shuffle and bucket-wave build
  * arms were deleted, and of prefixes/ and prefix_positions/, taken
  * before prefix_positions/ moved onto the shared positions write.
  * Rows only — part-file names (which carry write UUIDs and batch
  * tags) never enter a digest. A build refactor that
  * changes a single posting block, position array, doc length or doc
  * row fails here. */
class BuildPinSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // docsPerShard small so terms span shards; numPartitions > 1 so
  // chunks from different map tasks meet on the reduce side
  private val cfg = IndexConfig(docsPerShard = 32, termBuckets = 3,
    blockSize = 8, numPartitions = 4, stopWords = Set("return"))

  private val words = Seq("spark", "merge", "batch", "stream", "window",
    "table", "index", "shard", "cursor", "buffer", "return", "import")

  // doc lengths 5-35, skewed term frequencies (quadratic residues) and
  // one unique word per doc, so tf, len and df all vary
  private val corpus: Seq[SourceFile] = (0 until 250).map { i =>
    SourceFile(s"r${i % 5}", s"p$i.scala", f"c$i%04d", "scala",
      ((0 until 5 + (i * 7) % 31).map(j => words((i * 13 + j * j + j / 3) % words.length)) :+
        s"w$i").mkString(" "))
  }

  private def tables = Seq("postings", "positions", "doclen", "docs")

  /** Columns left out of a table's digest: prefix_positions/ gained
    * `tf` when it moved onto the positions write, and the posting and
    * position tables gained the doc-length stream (`lenBytes`) and
    * column (`len`; doclen/ of a positions build is the positions
    * table's sentinel partition, so it holds `len` too); every column a
    * table held before stays pinned. The lens are checked against
    * doclen/ instead ("decoded lens equal doclen/"). */
  private val Unpinned = Map(
    "postings" -> Set("lenBytes"), "prefixes" -> Set("lenBytes"),
    "positions" -> Set("len"), "prefix_positions" -> Set("tf", "len"),
    "doclen" -> Set("len"))

  /** table -> sha256 over its sorted rendered rows (columns in name
    * order; binaries as hex, arrays as lists), for the tables present. */
  private def digests(dir: String, names: Seq[String]): Map[String, String] = {
    def render(v: Any): String = v match {
      case null                     => "null"
      case b: Array[Byte]           => b.map(x => f"$x%02x").mkString
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case o                        => o.toString
    }
    names.filter(t => new java.io.File(s"$dir/$t").exists).map { t =>
      val df = spark.read.parquet(s"$dir/$t")
      val cols = df.columns.filterNot(Unpinned.getOrElse(t, Set.empty[String])).sorted
      val rows = df.select(cols.map(df.col).toIndexedSeq: _*)
        .collect().map(_.toSeq.map(render).mkString("|")).sorted
      t -> Sha.hex(rows.mkString("\n"))
    }.toMap
  }

  private def assertPinned(name: String, dir: String, want: Map[String, String],
                           names: Seq[String] = tables): Unit = {
    val got = digests(dir, names)
    assert(got == want, s"$name: output drifted from the pinned build; got $got")
  }


  private def table = corpus.zipWithIndex
    .map { case (f, i) => (i.toLong, f.content) }
    .toDF("doc_id", "text")
    .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    .withColumn("source", org.apache.spark.sql.functions.lit("s"))

  for (pos <- Seq(false, true)) {
    test(s"build positions=$pos matches its pinned output") {
      val dir = tempDir(s"pin-build-$pos")
      IndexBuild.build(spark, corpus.toDS(), dir, cfg.copy(positions = pos))
      assertPinned(s"build positions=$pos", dir, Pins(s"build-$pos"))
    }
    test(s"append positions=$pos matches its pinned output") {
      val dir = tempDir(s"pin-append-$pos")
      val c = cfg.copy(positions = pos)
      IndexBuild.build(spark, corpus.take(200).toDS(), dir, c)
      IndexBuild.append(spark, corpus.drop(200).toDS(), dir, c, "b1")
      assertPinned(s"append positions=$pos", dir, Pins(s"append-$pos"))
    }
  }

  test("buildFromTable matches its pinned output") {
    val dir = tempDir("pin-table")
    IndexBuild.buildFromTable(spark, table, "doc_id", "text", "lang",
      "source", dir, cfg)
    assertPinned("buildFromTable", dir, Pins("table"))
  }

  test("buildMultiField matches its pinned output") {
    // the MultiFieldSpec fixture and config
    val dir = tempDir("pin-mf")
    val df = Seq(
        (0L, "cooking pasta", "a long story about gardens and tools"),
        (1L, "garden tools", "cooking pasta recipes for the family"),
        (2L, "pasta", "pasta"),
        (3L, "unrelated title", "more cooking here with pasta later on"))
      .toDF("doc_id", "title", "body")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildMultiField(spark, df, "doc_id",
      fields = Seq(("title", 0), ("body", 1)),
      langCol = "lang", sourceCol = "source", indexDir = dir,
      cfg = IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2))
    assertPinned("buildMultiField", dir, Pins("multifield"))
  }

  test("buildPrefixIndex matches its pinned output") {
    val dir = tempDir("pin-prefix")
    val c = cfg.copy(positions = true)
    IndexBuild.build(spark, corpus.toDS(), dir, c)
    IndexBuild.buildPrefixIndex(spark, dir, c, minDf = 20)
    assertPinned("buildPrefixIndex", dir, Pins("prefix"),
      Seq("prefixes", "prefix_positions"))
  }

  /** Every (term, docId) of postings/, prefixes/ and positions/ carries
    * its doc's doclen/ length (on a positions build the prefix tables
    * too); returns the number of rows checked. */
  private def assertLens(name: String, dir: String): Long = {
    val want = spark.read.schema("docId INT, tf INT").parquet(s"$dir/doclen")
      .as[(Int, Int)].collect().toMap
    def check(table: String, rows: Seq[(String, Int, Int)]): Long = {
      assert(rows.nonEmpty, s"$name: $table has rows")
      val bad = rows.filter { case (_, d, len) => !want.get(d).contains(len) }
      assert(bad.isEmpty, s"$name: $table lens differ from doclen/: ${bad.take(5)}")
      rows.size.toLong
    }
    def blocks(table: String) = spark.read.parquet(s"$dir/$table")
      .select($"term", $"docBytes", $"lenBytes").as[(String, Array[Byte], Array[Byte])]
      .collect().toSeq.flatMap { case (t, db, lb) =>
        val ids = graft.functions.VByte.decodeDeltas(db)
        val lens = graft.functions.VByte.decode(lb)
        assert(ids.length == lens.length, s"$name: $table block of $t")
        ids.indices.map(i => (t, ids(i), lens(i)))
      }
    def rows(table: String) = spark.read.parquet(s"$dir/$table")
      .select($"term", $"docId", $"len").as[(String, Int, Int)].collect().toSeq
    Seq("postings" -> blocks _, "prefixes" -> blocks _,
        "positions" -> rows _, "prefix_positions" -> rows _)
      .filter { case (t, _) => new java.io.File(s"$dir/$t").exists }
      .map { case (t, read) => check(t, read(t)) }.sum
  }

  test("decoded lens equal doclen/ for every (term, docId) of postings, prefixes and positions") {
    for (pos <- Seq(false, true)) {
      val c = cfg.copy(positions = pos)
      val built = tempDir(s"pin-lens-build-$pos")
      IndexBuild.build(spark, corpus.toDS(), built, c)
      IndexBuild.buildPrefixIndex(spark, built, c, minDf = 20)
      val appended = tempDir(s"pin-lens-append-$pos")
      IndexBuild.build(spark, corpus.take(200).toDS(), appended, c)
      IndexBuild.append(spark, corpus.drop(200).toDS(), appended, c, "b1")
      Seq("built" -> built, "appended" -> appended).foreach { case (what, d) =>
        info(s"positions=$pos $what: ${assertLens(s"positions=$pos $what", d)} rows")
      }
    }
  }

  private val Pins: Map[String, Map[String, String]] = Map(
    "build-false" -> Map(
      "postings" -> "f2e084a7e0aca4e86d1450a771fb98125c82683bb944a54cfddf8cef7d080887",
      "doclen" -> "5d000059661f09760a03d523584381846cf5ef327132c381bfaede2f3a9abec5",
      "docs" -> "db5967906324805f5fbe825651720b6abfa415ce0beda5d7f73dd15535254366"),
    "append-false" -> Map(
      "postings" -> "5bb98f5237980921cfb86e30b0c74ea17de50cef11ba8f980bea6098299eefcb",
      "doclen" -> "9e184f7cabc427e3d8eebfc69d976c520e1acb99c3c8a5ca8655f8097e897090",
      "docs" -> "5f297babeb7cbdc8e40d7451ded4cc0d5b8da0ce4d96fd221c44a653441044c8"),
    "build-true" -> Map(
      "postings" -> "f2e084a7e0aca4e86d1450a771fb98125c82683bb944a54cfddf8cef7d080887",
      "positions" -> "ffd184a74faa76c79c0555de87da816489e54a354f7b557ef366a1f506ab4494",
      "doclen" -> "2d8aa1d4e4f69f83fea0e0fd8d3bed94e85b4e6a9145c9c0e0d055134d3183de",
      "docs" -> "db5967906324805f5fbe825651720b6abfa415ce0beda5d7f73dd15535254366"),
    "append-true" -> Map(
      "postings" -> "5bb98f5237980921cfb86e30b0c74ea17de50cef11ba8f980bea6098299eefcb",
      "positions" -> "62e2ee1f635472f4ba0ef3a54ef596e24b472b2ea202389ae37d25223842e117",
      "doclen" -> "8869b73493142e2a8f44c2360d95533ace9eb170b6f108419b97f7ac00743f29",
      "docs" -> "5f297babeb7cbdc8e40d7451ded4cc0d5b8da0ce4d96fd221c44a653441044c8"),
    "table" -> Map(
      "postings" -> "5eb29d99f5ba980bcc6d1e48bd8ae0faf7063fe5b1a70d72f4216542f0a15564",
      "doclen" -> "4e8db6ee62e5c9241ced8c998e67944dfd048afc01de5a35ac6d0ae832fb75ec",
      "docs" -> "6f19f42400e776e94fe0185f00c66d8728bc9d676424ec38b7fe17288000a394"),
    "prefix" -> Map(
      "prefixes" -> "4bbd66fda6bc024da23a010f2b300fa987419349889acdee6d12a00927810d72",
      "prefix_positions" -> "dfae43930549f4b367e2762292843ca39005e342264db9253b221f403636d125"),
    "multifield" -> Map(
      "postings" -> "7c0e454112d2c13694f7f8c059e94eefb5843bedb3c0e07382d39d6cf928a7c9",
      "positions" -> "edb223de589234d647a2f1f0befbab25ecdee407d9684bf9dee583aef1dc8c36",
      "doclen" -> "6532a367daa3795314afd4b668452de1361fc636c337d0132185aa7e2b999ac5",
      "docs" -> "d4eebe6c750f24d764dd683661b1d65660397fc561dd985eb7afc598300b2445"))
}
