package graft.index

import org.apache.hadoop.fs.Path
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.SourceFile
import graft.functions.Tokenizer
import graft.rank.MeiliRank
import graft.search.SearchEngine

/** The index manifest: one JSON file holds every build setting, it
  * round-trips exactly through the codec, and the writers that extend an
  * index (append, prefix tables) refuse settings that disagree with it
  * instead of encoding blocks no query can read. */
class ManifestSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Text atoms that broke hand-rolled codecs: the `key=value` and CSV
    * delimiters, JSON metacharacters, a newline, combining marks and
    * characters outside the BMP (surrogate pairs). */
  private val atoms = Seq("=", "\n", "\"", "\\", ",", ":", "a", "Z", " ", "́",
    "ë", "😀", "𝄞", "ก", "中", "\u0000")
  private val text: Gen[String] = Gen.listOf(Gen.oneOf(atoms)).map(_.mkString)
  private val nonEmptyText: Gen[String] = Gen.nonEmptyListOf(Gen.oneOf(atoms)).map(_.mkString)
  private val char: Gen[Char] =
    Gen.oneOf('=', '\n', '"', '\\', ',', ':', '́', '_', '-', '#', '　')

  private val tokSettings: Gen[Tokenizer.TokSettings] = for {
    seps <- Gen.containerOf[Set, Char](char)
    nonSeps <- Gen.containerOf[Set, Char](char)
    dict <- Gen.containerOf[Set, String](text)
    sepStrings <- Gen.containerOf[Set, String](nonEmptyText)
    locales <- Gen.mapOf(Gen.zip(Gen.choose(0, 40000), text))
    cjk <- Gen.option(Gen.oneOf(true, false))
  } yield Tokenizer.TokSettings(seps, nonSeps, dict, sepStrings, locales, cjk)

  private val manifests: Gen[Manifest] = for {
    n <- Gen.choose(0L, Long.MaxValue)
    tokens <- Gen.choose(0L, Long.MaxValue)
    k1 <- Gen.choose(-1e300, 1e300)
    b <- Gen.choose(0.0, 1.0)
    dps <- Gen.choose(1, Int.MaxValue)
    tb <- Gen.choose(1, 1 << 16)
    bs <- Gen.choose(1, 1 << 16)
    positions <- Gen.oneOf(true, false)
    stop <- Gen.containerOf[Set, String](text)
    fields <- Gen.listOf(Gen.zip(text, Gen.choose(Int.MinValue, Int.MaxValue)))
    tok <- tokSettings
  } yield Manifest(n, tokens, k1, b, dps, tb, bs, positions, stop,
    fields.zipWithIndex.map { case ((name, w), fid) => (fid, name, w) }, tok)

  test("manifest codec: write then read gives back an equal manifest and TokSettings") {
    val dir = tempDir("manifest-codec")
    Lineage.writeFormat(spark, dir)
    val prop = Prop.forAll(manifests) { m =>
      Manifest.write(spark, dir, m)
      val back = Manifest.read(spark, dir)
      back == m && back.tokenizer == m.tokenizer
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(Seed(20261019L)), prop)
    info(s"${result.succeeded} cases")
    assert(result.passed, result.status.toString)
  }

  test("a malformed manifest entry is refused with its name") {
    val good = Lineage.Json.writeValueAsString(Manifest(1L, 2L, 1.2, 0.75, 4, 2, 4,
      positions = false, Set.empty, Nil, Tokenizer.TokSettings(separatorTokens = Set('_'),
        localesByFid = Map(3 -> "zh"))).toJson)
    def parse(json: String) = Manifest.fromJson(Lineage.Json.readTree(json))
    assert(parse(good).tokenizer.localesByFid == Map(3 -> "zh"))
    for ((from, to, name) <- Seq(("\"3\":\"zh\"", "\"x3\":\"zh\"", "localesByFid"),
        ("[\"_\"]", "[\"__\"]", "separatorTokens"), ("\"blockSize\":4,", "", "blockSize"))) {
      assert(good.contains(from), good)
      val e = intercept[IllegalArgumentException](parse(good.replace(from, to)))
      assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("lineage rows round-trip through the JSON codec; rows.json as written before still reads") {
    val dir = tempDir("manifest-lineage")
    val row = LineageRow("docs", 3, -1, Int.MaxValue, Long.MaxValue, 0L,
      "q\"uo\\te\\\"d", "2026-10-19T00:00:00Z \\")
    Lineage.commit(spark, dir, "docs", Seq(row, row.copy(partitionId = 4)))
    assert(Lineage.rows(spark, dir) == Seq(row, row.copy(partitionId = 4)))
    // a line as the hand-escaping writer wrote it (`\\` and `\"` only)
    val old = s"""{"stage":"old","partitionId":0,"docidMin":1,"docidMax":2,""" +
      s""""postingCount":3,"bytes":4,"sha256":"a\\"b\\\\c","committedAt":"t"}""" + "\n"
    Lineage.writeMarker(spark, s"$dir/lineage/old/rows/rows.json", old)
    fs(dir).create(Lineage.markerPath(dir, "old"), true).close()
    assert(Lineage.rows(spark, dir).filter(_.stage == "old") ==
      Seq(LineageRow("old", 0, 1, 2, 3L, 4L, "a\"b\\c", "t")))
  }

  test("a build writes every setting to manifest.json and no settings table or stats/base") {
    val dir = tempDir("manifest-tables")
    val tok = Tokenizer.TokSettings(nonSeparatorTokens = Set('#'), localesByFid = Map(1 -> "jpn"))
    val df = (0 until 6).map(i => (i.toLong, s"t$i c#", "the body"))
      .toDF("doc_id", "title", "body")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    val cfg = IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
      numPartitions = 2, stopWords = Set("the"), tokenizer = tok)
    IndexBuild.buildMultiField(spark, df, "doc_id", Seq(("title", 0), ("body", 3)),
      "lang", "source", dir, cfg)
    val m = Manifest.read(spark, dir)
    assert(m == Manifest(6, m.tokens, 1.2, 0.75, 4, 2, 4, positions = true, Set("the"),
      Seq((0, "title", 0), (1, "body", 3)), tok))
    assert(m.tokens == spark.read.schema("docId INT, tf INT").parquet(s"$dir/doclen")
      .as[(Int, Int)].collect().map(_._2.toLong).sum)
    val plain = tempDir("manifest-tables-plain")
    IndexBuild.build(spark, Seq(SourceFile("r", "p", "c", "scala", "alpha beta")).toDS(),
      plain, cfg.copy(positions = false))
    IndexBuild.append(spark, Seq(SourceFile("r", "q", "c", "scala", "gamma")).toDS(),
      plain, cfg.copy(positions = false), "b1")
    for (d <- Seq(dir, plain); t <- Seq("tokenizer", "stopwords", "fields", "stats/base"))
      assert(!fs(d).exists(new Path(s"$d/$t")), s"$d/$t")
    assert(fs(plain).exists(new Path(s"$plain/stats/delta-b1")))
    val e = new SearchEngine(spark, plain)
    assert(e.nDocs == 2 && e.avgdl == 1.5)
  }

  private val buildCfg = IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
    numPartitions = 2, positions = true)

  /** path -> (length, mtime) of every file under `dir`. */
  private def listing(dir: String): Map[String, (Long, Long)] = {
    val it = fs(dir).listFiles(new Path(dir), true)
    val b = Map.newBuilder[String, (Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += f.getPath.toString -> ((f.getLen, f.getModificationTime))
    }
    b.result()
  }

  private def assertRefusedUntouched(dir: String, fields: String*)(op: => Any): Unit = {
    val before = listing(dir)
    val e = intercept[IllegalArgumentException](op)
    fields.foreach(f => assert(e.getMessage.contains(s"$f = "), e.getMessage))
    assert(listing(dir) == before, "a refused writer must commit nothing")
  }

  test("append with settings other than the manifest's is refused; with the build's, the doc is found") {
    val dir = tempDir("manifest-append")
    val cfg = buildCfg.copy(stopWords = Set("the"))
    IndexBuild.build(spark, (0 until 8).map(i =>
      SourceFile(s"r$i", s"p$i", "c", "scala", s"alpha w$i lazy dog")).toDS(), dir, cfg)
    val delta = Seq(SourceFile("r9", "p9", "c", "scala", "quick brown fox the end")).toDS()
    assertRefusedUntouched(dir, "docsPerShard", "termBuckets", "blockSize", "positions",
      "stopWords")(IndexBuild.append(spark, delta, dir, IndexConfig(numPartitions = 2), "b1"))
    assertRefusedUntouched(dir, "tokenizer")(IndexBuild.append(spark, delta, dir,
      cfg.copy(tokenizer = Tokenizer.TokSettings(separatorTokens = Set('_'))), "b1"))

    IndexBuild.append(spark, delta, dir, cfg.copy(numPartitions = 3), "b1")
    val e = new SearchEngine(spark, dir)
    def ids(df: org.apache.spark.sql.DataFrame) = df.select($"docId").as[Int].collect().toSet
    assert(ids(e.searchDF("quick", 10)) == Set(8))
    assert(ids(e.searchDF("fox brown", 10)) == Set(8))
    assert(ids(e.searchDF("\"quick brown\"", 10)) == Set(8))
    assert(ids(e.phrase(Seq("quick", "brown"))) == Set(8))
    assert(ids(new MeiliRank(e).search("quick brown", 10)) == Set(8))
    assert(!e.dict.contains("the"), "a stop word must stay out of dict/")
  }

  test("buildPrefixIndex with settings other than the manifest's is refused; with the build's, every doc is found") {
    val dir = tempDir("manifest-prefix")
    IndexBuild.build(spark, (0 until 12).map(i =>
      SourceFile(s"r$i", s"p$i", "c", "scala", s"merge w$i")).toDS(), dir, buildCfg)
    assertRefusedUntouched(dir, "docsPerShard", "termBuckets", "blockSize", "positions")(
      IndexBuild.buildPrefixIndex(spark, dir, IndexConfig(numPartitions = 2), minDf = 1))
    IndexBuild.buildPrefixIndex(spark, dir, buildCfg.copy(numPartitions = 3), minDf = 1)
    val e = new SearchEngine(spark, dir)
    assert(e.prefixIndexed("mer"))
    assert(e.prefixDocs("mer").select($"docId").as[Int].collect().toSet == (0 until 12).toSet)
  }
}
