package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.index.{Dump, IndexBuild, IndexConfig}
import graft.search.SearchEngine

/** Tokenizer settings surface (reference separatorTokens /
  * nonSeparatorTokens / dictionary index settings,
  * tokenize_document.rs:163-180): index-time segmentation overrides,
  * persisted with the index so the query side agrees by construction,
  * and carried through dumps. */
class TokSettingsSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val settings = Tokenizer.TokSettings(
    separatorTokens = Set('x'),
    nonSeparatorTokens = Set('-'),
    dictionary = Set("ActionScript"))

  test("pure-function semantics: promote, demote, dictionary words") {
    // '-' promoted to a word char: one token, hyphen preserved
    assert(Tokenizer.terms("foo-bar baz", settings) == Seq("foo-bar", "baz"))
    assert(Tokenizer.terms("foo-bar baz") == Seq("foo", "bar", "baz"))
    // 'x' demoted to a separator: the run splits
    assert(Tokenizer.terms("fooxbar", settings) == Seq("foo", "bar"))
    assert(Tokenizer.terms("fooxbar") == Seq("fooxbar"))
    // dictionary word exempt from subtoken splitting (case-insensitive)
    assert(Tokenizer.terms("ActionScript rules", settings) ==
      Seq("actionscript", "rules"))
    assert(Tokenizer.terms("actionscript rules", settings) ==
      Seq("actionscript", "rules"))
    assert(Tokenizer.terms("ActionScript rules") == Seq("action", "script", "rules"))
    // countTokens agrees with the settings-aware tokenize
    Seq("foo-bar baz", "fooxbar", "ActionScript rules", "a_b-c xd").foreach { t =>
      assert(Tokenizer.countTokens(t, settings) == Tokenizer.tokenize(t, settings).length, t)
    }
  }

  test("end-to-end: index-time settings drive both sides; dump carries them") {
    val dir = tempDir("toksettings")
    val docs = Seq(
      (0L, "foo-bar baz"), (1L, "foo bar"), (2L, "fooxbar here"),
      (3L, "ActionScript rules"), (4L, "action script split"))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    val cfg = IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
      numPartitions = 2, positions = true, tokenizer = settings)
    IndexBuild.buildFromTable(spark, docs, "doc_id", "text", "lang", "source",
      dir, cfg)
    val e = new SearchEngine(spark, dir)
    assert(e.tokSettings == settings, "settings persisted and loaded")
    // index side: 'foo-bar' is ONE term; 'fooxbar' split to foo|bar
    assert(e.dict.contains("foo-bar") && !e.dict.contains("fooxbar"))
    // query side segments the same way: "foo-bar" matches only doc 0
    val hyph = e.searchDF("foo-bar", 10).collect().map(_.getInt(0)).toSet
    assert(hyph == Set(0), s"$hyph")
    // 'fooxbar' as a query splits into foo+bar: docs 1 (foo bar) and 2
    val fx = e.searchDF("fooxbar", 10, conjunctive = true)
      .collect().map(_.getInt(0)).toSet
    assert(fx == Set(1, 2), s"$fx")
    // dictionary word stays whole on both sides
    val as = e.searchDF("ActionScript", 10).collect().map(_.getInt(0)).toSet
    assert(as == Set(3), s"$as")
    // dump roundtrip: settings survive, rebuilt index answers identically
    val dumpDir = tempDir("tokdump")
    val dir2 = tempDir("tokdump2")
    Dump.exportDump(spark, dir, dumpDir)
    Dump.importDump(spark, dumpDir, dir2, IndexConfig(numPartitions = 2))
    val e2 = new SearchEngine(spark, dir2)
    assert(e2.tokSettings == settings)
    assert(e2.searchDF("foo-bar", 10).collect().map(_.getInt(0)).toSet == Set(0))
  }

  test("multi-char separator tokens: whole sequence is one separator") {
    val s = Tokenizer.TokSettings(separatorStrings = Set("||", "-->"))
    // splits a default word-char run it appears inside... it can't (| and
    // - separate by default) — the discriminating case is a sequence OF
    // word chars
    val sx = Tokenizer.TokSettings(separatorStrings = Set("xx"))
    assert(Tokenizer.terms("fooxxbar", sx) == Seq("foo", "bar"))
    assert(Tokenizer.terms("fooxxbar") == Seq("fooxxbar"))
    // single 'x' is NOT a separator under "xx": run survives, and the
    // camel splitter sees the whole word
    assert(Tokenizer.terms("fooxbar", sx) == Seq("fooxbar"))
    // greedy left-to-right: "xxx" = separator "xx" + leftover 'x'
    // joining the following run
    assert(Tokenizer.terms("fooxxxbar", sx) == Seq("foo", "xbar"))
    // soft: positions advance +1 across it — even for a word-char
    // sequence, which without the setting would be part of the word
    assert(Tokenizer.tokenize("a||b", s).map(t => (t.term, t.pos)) ==
      Seq(("a", 0), ("b", 1)))
    assert(Tokenizer.tokenize("axxb", sx).map(t => (t.term, t.pos)) ==
      Seq(("a", 0), ("b", 1)))
    // hard iff the sequence contains a hard-separator char
    val hard = Tokenizer.TokSettings(separatorStrings = Set("!!"))
    assert(Tokenizer.tokenize("a!!b", hard).map(_.pos) == Seq(0, 8))
    // countTokens agrees with tokenize under separator strings
    Seq("fooxxbar", "fooxxxbar", "a||b c-->d", "xx edge xx").foreach { t =>
      assert(Tokenizer.countTokens(t, sx) == Tokenizer.tokenize(t, sx).length, t)
      assert(Tokenizer.countTokens(t, s) == Tokenizer.tokenize(t, s).length, t)
    }
    // query side segments identically (QueryParser re-tokenizes runs)
    val pq = graft.query.QueryParser.parse("fooxxbar", sx)
    assert(pq.positiveTerms == Seq("foo", "bar"), s"$pq")
  }

  test("locales hint switches CJK unigram mode per-field") {
    // autodetect (default): Han runs split to unigrams
    assert(Tokenizer.terms("abc北京def") == Seq("abc", "北", "京", "def"))
    // a non-CJK locale forces unigrams OFF: the run stays one word
    val lat = Tokenizer.TokSettings(localesByFid = Map(0 -> "en", 1 -> "cmn"))
    assert(Tokenizer.terms("abc北京def", lat.forFid(0)) == Seq("abc北京def"))
    // a CJK locale (or no hint) keeps unigram splitting
    assert(Tokenizer.terms("abc北京def", lat.forFid(1)) ==
      Seq("abc", "北", "京", "def"))
    assert(Tokenizer.terms("abc北京def", lat.forFid(7)) ==
      Seq("abc", "北", "京", "def"))
    // index side: positionRowsOf applies the hint per fid
    val rows = IndexBuild.positionRowsOf(0, Seq("北京", "北京"), Set.empty,
      lat, positions = true).toSeq
    val terms = rows.map(_._1).toSet
    assert(terms.contains("北京") && terms.contains("北") && terms.contains("京"),
      s"fid 0 whole (locale en), fid 1 unigrams (locale cmn): $terms")
  }

  test("multi-char separators and locales survive persistence and dumps") {
    val st = Tokenizer.TokSettings(separatorStrings = Set("xx"),
      localesByFid = Map(0 -> "en"))
    val dir = tempDir("toksep")
    val docs = Seq((0L, "fooxxbar 北京"), (1L, "foo bar"), (2L, "fooxbar"))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildFromTable(spark, docs, "doc_id", "text", "lang", "source",
      dir, IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = true, tokenizer = st))
    val e = new SearchEngine(spark, dir)
    assert(e.tokSettings == st, s"${e.tokSettings}")
    // fid 0 is locale-en: the Han run indexed whole, not unigrams
    assert(e.dict.contains("北京") && !e.dict.contains("北"), s"${e.dict.keySet}")
    assert(e.dict.contains("foo") && !e.dict.contains("fooxxbar"))
    val hits = e.searchDF("foo", 10).collect().map(_.getInt(0)).toSet
    assert(hits == Set(0, 1), s"$hits")
    // dump roundtrip carries both new settings
    val dumpDir = tempDir("tokdumpsep")
    val dir2 = tempDir("tokdumpsep2")
    Dump.exportDump(spark, dir, dumpDir)
    Dump.importDump(spark, dumpDir, dir2, IndexConfig(numPartitions = 2))
    val e2 = new SearchEngine(spark, dir2)
    assert(e2.tokSettings == st, s"${e2.tokSettings}")
    assert(e2.dict.contains("北京") && !e2.dict.contains("北"))
  }

  test("index-level cjkUnigrams override persists; locale hint applies " +
      "on the positionless build path too") {
    val off = Tokenizer.TokSettings(cjkUnigrams = Some(false))
    val dir = tempDir("tokcjk")
    val docs = Seq((0L, "foo 北京"), (1L, "bar")).toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    // positions = FALSE: the locale hint must flow through the direct
    // posting-shuffle tokenize exactly as through positionRowsOf
    IndexBuild.buildFromTable(spark, docs, "doc_id", "text", "lang", "source",
      dir, IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = false,
        tokenizer = Tokenizer.TokSettings(localesByFid = Map(0 -> "en"))))
    val e = new SearchEngine(spark, dir)
    assert(e.dict.contains("北京") && !e.dict.contains("北"),
      s"non-positions build must honor forFid(0): ${e.dict.keySet}")
    // the single-field query side resolves the same hint: the whole-run
    // query term matches, the unigram segmentation would not
    assert(e.searchDF("北京", 10).collect().map(_.getInt(0)).toSet == Set(0))

    // explicit index-level override roundtrips through persistence
    val dir2 = tempDir("tokcjk2")
    IndexBuild.buildFromTable(spark, docs, "doc_id", "text", "lang", "source",
      dir2, IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = false, tokenizer = off))
    val e2 = new SearchEngine(spark, dir2)
    assert(e2.tokSettings == off, s"${e2.tokSettings}")
    assert(e2.dict.contains("北京") && !e2.dict.contains("北"))
    // and through a dump
    val dumpDir = tempDir("tokcjkdump")
    val dir3 = tempDir("tokcjk3")
    Dump.exportDump(spark, dir2, dumpDir)
    Dump.importDump(spark, dumpDir, dir3, IndexConfig(numPartitions = 2))
    assert(new SearchEngine(spark, dir3).tokSettings == off)
  }

  test("query-side locales param controls query segmentation on a " +
      "multi-field index (reference SearchQuery.locales)") {
    import graft.api.{Index, SearchRequest}
    val dir = tempDir("tokqloc")
    val df = Seq((0L, "北京 news", "alpha beta"), (1L, "plain title", "gamma"))
      .toDF("doc_id", "title", "body")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    // title (fid 0) carries locale "en": the Han run is indexed WHOLE
    IndexBuild.buildMultiField(spark, df, "doc_id",
      Seq(("title", 0), ("body", 1)), "lang", "source", dir,
      IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = true,
        tokenizer = Tokenizer.TokSettings(localesByFid = Map(0 -> "en"))))
    val e = new SearchEngine(spark, dir)
    assert(e.dict.contains("北京") && !e.dict.contains("北"))
    val idx = new Index(e)
    // multi-field default (auto): the query unigram-splits to 北|京 and
    // only the NGRAM-MERGE derivation (cost n-1 = 1, reference query
    // graph) recovers the whole indexed term
    val auto = idx.search(SearchRequest(q = "北京"))
      .select($"docId", $"typoCost").as[(Int, Int)].collect()
    assert(auto.toSeq == Seq((0, 1)), s"${auto.toSeq}")
    // the query-side locales hint segments the query like the field: one
    // exact term, typo cost 0
    val hinted = idx.search(SearchRequest(q = "北京", locales = Seq("en")))
      .select($"docId", $"typoCost").as[(Int, Int)].collect()
    assert(hinted.toSeq == Seq((0, 0)), s"${hinted.toSeq}")
  }

  test("guardrails: empty separator string rejected; position bucket " +
      "propagates null") {
    intercept[IllegalArgumentException] {
      Tokenizer.TokSettings(separatorStrings = Set(""))
    }
    // bucketPositionCol(null) must stay null so rank coalesce sees a
    // missing slot as cost 0 (Spark least() SKIPS nulls — it would
    // otherwise surface as max-cost bucket 47)
    val r = spark.range(1)
      .select(Tokenizer.bucketPositionCol(
        org.apache.spark.sql.functions.lit(null).cast("int")).as("b"),
        Tokenizer.bucketPositionCol(
          org.apache.spark.sql.functions.lit(5000)).as("big"))
      .collect()(0)
    assert(r.isNullAt(0), "null position must bucket to null")
    assert(r.getInt(1) == 40, "real positions keep their bucket")
  }

  test("arabic + hebrew normalization: hamza/alef folds, teh marbuta, tatweel, final forms, niqqud/harakat") {
    // NFKD-driven folds: hamza-carrying letters decompose to base +
    // combining hamza (stripped as a mark)
    assert(Tokenizer.normalize("أحمد") == Tokenizer.normalize("احمد"))
    assert(Tokenizer.normalize("إسلام") == Tokenizer.normalize("اسلام"))
    assert(Tokenizer.normalize("آخر") == Tokenizer.normalize("اخر"))
    assert(Tokenizer.normalize("مسؤول") == Tokenizer.normalize("مسوول"))
    // explicit folds: alef wasla, teh marbuta, alef maksura, tatweel
    assert(Tokenizer.normalize("ٱلله") == Tokenizer.normalize("الله"))
    assert(Tokenizer.normalize("مكتبة") == Tokenizer.normalize("مكتبه"))
    assert(Tokenizer.normalize("مستشفى") == Tokenizer.normalize("مستشفي"))
    assert(Tokenizer.normalize("كتــــاب") == Tokenizer.normalize("كتاب"))
    // harakat (fatha/damma/kasra/shadda/sukun) strip as combining marks
    assert(Tokenizer.normalize("مُحَمَّد") == Tokenizer.normalize("محمد"))
    // hebrew final forms fold to base; niqqud strip
    assert(Tokenizer.normalize("שלום") == Tokenizer.normalize("שלומ"))
    assert(Tokenizer.normalize("ארץ") == Tokenizer.normalize("ארצ"))
    assert(Tokenizer.normalize("דרך") == Tokenizer.normalize("דרכ"))
    assert(Tokenizer.normalize("שָׁלוֹם") == Tokenizer.normalize("שלומ"))
    // identity for latin/code tokens (the hot path)
    assert(Tokenizer.normalize("CamelCase42") == "camelcase42")
  }

  test("arabic/hebrew variants retrieve each other end-to-end (index one form, query the other)") {
    import spark.implicits._
    val dir = tempDir("arhe")
    val df = Seq(
      (0L, "ٱلمكتبة الكبيرة"), // alef wasla + teh marbuta forms
      (1L, "שלום וברכה"),       // final mem
      (2L, "unrelated latin text")).toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("xx"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    graft.index.IndexBuild.buildFromTable(spark, df, "doc_id", "text",
      "lang", "source", dir,
      graft.index.IndexConfig(docsPerShard = 4, termBuckets = 2,
        blockSize = 4, numPartitions = 2))
    val e = new graft.search.SearchEngine(spark, dir)
    // query with the OTHER orthographic variant
    assert(e.searchDF("المكتبه", 5).collect().map(_.getInt(0)).toSeq == Seq(0))
    assert(e.searchDF("שלומ", 5).collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("dictionary segments unspaced scripts (thai/lao/khmer/cjk) by longest match") {
    // Thai: no spaces between words; the reference segments via the
    // user dictionary fed to charabia's words_dict
    // (tokenize_document.rs:166-173). แมวกินปลา = cat|eats|fish.
    val th = Tokenizer.TokSettings(
      dictionary = Set("แมว", "กิน", "ปลา", "ปลาทอง", "สวัสดี", "ครับ"))
    assert(Tokenizer.terms("แมวกินปลา", th) ==
      Seq("แมว", "กิน", "ปลา").map(Tokenizer.normalize))
    // longest match wins at a shared prefix: ปลาทอง (goldfish) over ปลา
    assert(Tokenizer.terms("แมวกินปลาทอง", th) ==
      Seq("แมว", "กิน", "ปลาทอง").map(Tokenizer.normalize))
    // combining vowel marks (U+0E31, U+0E35 in สวัสดี) stay inside the
    // word run AND survive normalization (they are phonemic)
    assert(Tokenizer.terms("สวัสดีครับ", th) ==
      Seq("สวัสดี", "ครับ").map(Tokenizer.normalize))
    assert(Tokenizer.normalize("สวัสดี") != Tokenizer.normalize("สวสด"),
      "Thai vowel marks are not stripped")
    // an unmatched stretch between matches falls back to ONE token
    assert(Tokenizer.terms("แมวบบกิน", th) ==
      Seq("แมว", "บบ", "กิน").map(Tokenizer.normalize))
    // mixed Latin + Thai: the Latin side still camel-splits
    assert(Tokenizer.terms("parseHTTPแมวกิน", th) ==
      Seq("parse", "http") ++ Seq("แมว", "กิน").map(Tokenizer.normalize))
    // positions are sequential word slots (phrase/proximity machinery
    // works at word granularity, not codepoints)
    assert(Tokenizer.tokenize("แมวกินปลา", th).map(_.pos) == Seq(0, 1, 2))
    // offsets point into the original text (highlighting)
    val offs = Tokenizer.tokenize("แมวกินปลา", th)
    assert(offs.map(t => (t.start, t.end)) == Seq((0, 3), (3, 6), (6, 9)))
    // CJK runs: dictionary entries match word-level, the rest falls
    // back to unigrams (the retrieval-equivalent default)
    val zh = Tokenizer.TokSettings(dictionary = Set("北京", "大学"))
    assert(Tokenizer.terms("北京大学图书", zh) == Seq("北京", "大学", "图", "书"))
    // a Latin-only dictionary has NO segmentation entries: tokenization
    // is identical to the dictionary-less default on every script
    val latin = Tokenizer.TokSettings(dictionary = Set("ActionScript"))
    Seq("แมวกินปลา", "abc北京def", "foo_barBaz 42").foreach { t =>
      assert(Tokenizer.tokenize(t, latin) == Tokenizer.tokenize(t), t)
    }
    // countTokens agrees with tokenize under segmentation
    Seq("แมวกินปลาทอง", "สวัสดีครับ", "parseHTTPแมวกิน", "北京大学图书")
      .foreach { t =>
        assert(Tokenizer.countTokens(t, th) == Tokenizer.tokenize(t, th).length, t)
        assert(Tokenizer.countTokens(t, zh) == Tokenizer.tokenize(t, zh).length, t)
      }
  }

  test("thai dictionary segmentation end-to-end: index and query agree; dump carries the dictionary") {
    import spark.implicits._
    val dir = tempDir("thaidict")
    val cfg = graft.index.IndexConfig(docsPerShard = 4, termBuckets = 2,
      blockSize = 4, numPartitions = 2,
      tokenizer = Tokenizer.TokSettings(
        dictionary = Set("แมว", "กิน", "ปลา", "นอน")))
    val df = Seq(
      (0L, "แมวกินปลา"),        // cat eats fish
      (1L, "แมวนอน"),           // cat sleeps
      (2L, "unrelated latin")).toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("th"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    graft.index.IndexBuild.buildFromTable(spark, df, "doc_id", "text",
      "lang", "source", dir, cfg)
    val e = new graft.search.SearchEngine(spark, dir)
    // the index holds WORD tokens, not the whole phrase run
    assert(e.dict.contains(Tokenizer.normalize("แมว")))
    assert(!e.dict.contains(Tokenizer.normalize("แมวกินปลา")))
    // query side segments the same unspaced run with the same dictionary
    assert(e.searchDF("แมว", 5).collect().map(_.getInt(0)).toSet == Set(0, 1))
    assert(e.searchDF("แมวกินปลา", 5).collect().map(_.getInt(0)).head == 0)
    // dump round-trip keeps the segmentation dictionary
    val dumpDir = tempDir("thdump")
    val restored = tempDir("threst")
    graft.index.Dump.exportDump(spark, dir, dumpDir)
    graft.index.Dump.importDump(spark, dumpDir, restored,
      graft.index.IndexConfig(docsPerShard = 4, termBuckets = 2,
        blockSize = 4, numPartitions = 2))
    val e2 = new graft.search.SearchEngine(spark, restored)
    assert(e2.tokSettings.dictionary == cfg.tokenizer.dictionary)
    assert(e2.searchDF("แมวกินปลา", 5).collect().map(_.getInt(0)).head == 0)
  }
}
