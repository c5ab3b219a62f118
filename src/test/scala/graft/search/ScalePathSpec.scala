package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.corpus.CorpusGen
import graft.index.{IndexBuild, IndexConfig, TermDict}

/** Specs for the scale-path mechanics: the Levenshtein-automaton walk
  * (sub-linear typo expansion), the bucketed dictionary loader, and the
  * cost-gated BM25 join (no posting broadcast above the Σdf cap). */
class ScalePathSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // ---- LevWalk ---------------------------------------------------------

  test("LevWalk matches the naive banded scan exactly") {
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 3000).map(_ =>
      (1 to (3 + rnd.nextInt(9))).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
      .distinct.sorted.toArray
    val words = Seq("abc", "abcdef", "fedcba", "aaaa", "zzz", "abcabcabc")
    for (w <- words; d <- 0 to 2) {
      val got = LevWalk(vocab, w, d).toMap
      val want = vocab.iterator
        .map(t => t -> Levenshtein(w, t)).filter(_._2 <= d).toMap
      assert(got == want, s"w=$w d=$d")
    }
  }

  test("LevWalk visits sub-linearly many nodes on a large dictionary") {
    // 10^6-term synthetic vocabulary over a wide alphabet
    val rnd = new scala.util.Random(11)
    val vocab = Array.fill(1000000)(
      (1 to (4 + rnd.nextInt(10))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
      .distinct.sorted.asInstanceOf[Array[String]]
    val res = LevWalk(vocab, "serendipity", 2)
    val visited = LevWalk.visitedNodes
    assert(visited > 0)
    // the old implementation looked at every term; the walk must prune
    // to a small fraction of the trie (empirically ~1-3% here)
    assert(visited < vocab.length / 10,
      s"visited $visited of ${vocab.length} — walk is not pruning")
    // sanity: it still finds whatever is there to find
    val naive = vocab.count(t => math.abs(t.length - 11) <= 2 && Levenshtein("serendipity", t) <= 2)
    assert(res.size == naive)
  }

  // ---- TermDict bucketed mode -------------------------------------------

  lazy val dictIdx: String = {
    val dir = tempDir("tdspec")
    IndexBuild.build(spark, CorpusGen.generate(spark, 300).as[graft.corpus.SourceFile],
      dir, IndexConfig(docsPerShard = 64, termBuckets = 4, blockSize = 16,
        numPartitions = 4, positions = true))
    dir
  }

  test("TermDict bucketed mode (no full collect) equals small mode") {
    val small = new TermDict(spark, s"$dictIdx/dict")
    val big = new TermDict(spark, s"$dictIdx/dict", collectThreshold = 0)
    assert(big.fullMap.isEmpty, "above threshold the dict must not be collected")
    val m = small.fullMap.get
    val probe = m.keys.take(5).toSeq :+ "notaterm"
    assert(big.lookup(probe) == small.lookup(probe))
    val (bt, bd) = big.lengthBand(4, 7)
    val (st, sd) = small.lengthBand(4, 7)
    assert(bt.toSeq == st.toSeq && bd.toSeq == sd.toSeq)
    assert(bt.forall(t => t.length >= 4 && t.length <= 7))
    assert(big.withPrefix("re").toSeq == small.withPrefix("re").toSeq)
  }

  test("typo and prefix engine paths work against the bucketed dict") {
    val e = new SearchEngine(spark, dictIdx)
    val viaWalk = e.typoCandidates("retur", 1).map(_._1).toSet
    val naive = e.dict.keys.filter(t => Levenshtein("retur", t) <= 1).toSet
    assert(viaWalk == naive)
  }

  // ---- posting-only BM25 ---------------------------------------------------

  test("BM25 plan joins nothing and reads no doclen at any df cap") {
    val eDefault = new SearchEngine(spark, dictIdx)
    val eZeroCap = new SearchEngine(spark, dictIdx, broadcastDfCap = 0L)
    // skewed stop-term query: 'return' appears in ~most docs; with the
    // size-based broadcast fallback off (as at scale), a doclen lookup
    // would have to shuffle — the posting blocks carry every len instead
    val q = "return import"
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq(eDefault, eZeroCap).foreach { e =>
        val plan = e.searchDF(q, 10).queryExecution.executedPlan.toString
        assert(!plan.contains("Join") && !plan.contains("doclen"),
          s"searchDF must score from the posting blocks alone:\n$plan")
      }
      val a = eDefault.searchDF(q, 10).as[(Int, Double)].collect().toSeq
      val b = eZeroCap.searchDF(q, 10).as[(Int, Double)].collect().toSeq
      assert(a.nonEmpty && a == b)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("posting scan prunes bucket partitions and pushes the term predicate") {
    val e = new SearchEngine(spark, dictIdx)
    val terms = e.termsOf(Seq("return"))
    assert(terms.nonEmpty)
    val plan = e.blocksFor(terms).queryExecution.executedPlan.toString
    // directory-partition pruning on bucket=... (reads only the query's
    // term buckets) AND the term equality pushed into the parquet reader
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket partitions must prune:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("term"),
      s"term predicate must push down:\n$plan")
    // column pruning: the scan must not read posting payload columns it
    // doesn't need for this projection
    val pruned = e.blocksFor(terms).select("term", "shard")
      .queryExecution.executedPlan.toString
    assert(!pruned.contains("docBytes"),
      s"payload columns must prune out of a metadata projection:\n$pruned")
  }

  test("facet index answers range counts without scanning the doc store") {
    IndexBuild.buildFacetIndex(spark, dictIdx, Seq("len", "lang"))
    val e = new SearchEngine(spark, dictIdx)
    val direct = e.docs.filter($"len".between(20, 60)).count()
    assert(direct > 0)
    assert(e.facetRangeCount("len", col("value").between(20, 60)) == direct)
    assert(e.facetRangeCount("lang", col("value") === "scala") ==
      e.docs.filter($"lang" === "scala").count())
    // the value predicate reaches the value-sorted facet parquet
    val plan = e.facetIndex("len", col("value").between(20, 60))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("value"),
      s"facet value predicate must push down:\n$plan")
    intercept[IllegalArgumentException](e.facetIndex("nope"))
    // rebuild after a delete: counts follow the LIVE docs (the facet
    // index is a live statistics table, unlike Lucene-semantics N/avgdl)
    val dir2 = tempDir("facetdel")
    IndexBuild.build(spark,
      CorpusGen.generate(spark, 60).as[graft.corpus.SourceFile], dir2,
      IndexConfig(docsPerShard = 16, termBuckets = 2, blockSize = 8,
        numPartitions = 2))
    IndexBuild.delete(spark, dir2, (0 until 60 by 5), "d1")
    IndexBuild.buildFacetIndex(spark, dir2, Seq("lang"))
    val e2 = new SearchEngine(spark, dir2)
    assert(e2.facetRangeCount("lang", col("value").isNotNull) == e2.docs.count())
    // and a SECOND rebuild is not a silent no-op after further deletes
    // (fresh engine: tombstones are load-once metadata per instance)
    IndexBuild.delete(spark, dir2, Seq(1, 2, 3), "d2")
    IndexBuild.buildFacetIndex(spark, dir2, Seq("lang"))
    val e3 = new SearchEngine(spark, dir2)
    assert(e3.facetRangeCount("lang", col("value").isNotNull) == e3.docs.count())
  }

  test("degraded search bounds work to a docid-shard prefix and flags the result") {
    val e = new SearchEngine(spark, dictIdx)
    val exact = e.searchDF("return", 1000).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // budget covers every shard -> not degraded, result is exact
    val (full, d0) = e.searchDegraded("return", 1000, maxShards = 1000)
    assert(!d0)
    assert(full.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap == exact)
    // capped budget: exactly the matches of the first two shards
    // (docsPerShard=64), scored with unchanged index-global statistics
    val (part, d1) = e.searchDegraded("return", 1000, maxShards = 2)
    assert(d1)
    val got = part.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got.nonEmpty && got.keySet.forall(_ < 128), s"${got.keySet}")
    assert(got == exact.filter { case (id, _) => id < 128 })
    // the shard bound reaches the parquet block scan as a pushed filter
    val plan = e.decoded(e.termsOf(Seq("return")), Some(2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("shard"),
      s"shard cap must push down:\n$plan")
  }

  test("positions scan prunes bucket partitions and pushes the term predicate") {
    val e = new SearchEngine(spark, dictIdx)
    val plan = e.positionRows(Seq("return")).queryExecution.executedPlan.toString
    // the positions table is bucket-partitioned like postings: phrase /
    // proximity / cascade queries must read only the query terms'
    // buckets with the term IN-list pushed to parquet
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"positions bucket partitions must prune:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("term"),
      s"positions term predicate must push down:\n$plan")
  }

  test("precomputed prefix tables (U3): pseudo-term read == expansion; pruned plan; capped fallback") {
    val cfg = IndexConfig(docsPerShard = 64, termBuckets = 4, blockSize = 16,
      numPartitions = 4, positions = true)
    IndexBuild.buildPrefixIndex(spark, dictIdx, cfg, minDf = 5)
    val e = new SearchEngine(spark, dictIdx)
    assert(e.prefixIndexed("re"), "a hot 2-char prefix must be materialized")
    // merged prefix docids == union over member terms' posting lists
    val members = e.td.fullMap.get.keys.filter(_.startsWith("re")).toSeq
    assert(members.size >= 2)
    val expect = members.flatMap(t =>
      e.decoded(e.termsOf(Seq(t))).collect().map(_.docId)).toSet
    assert(e.prefixDocs("re").select($"docId").as[Int].collect().toSet == expect)
    // the prefix read is ONE pruned scan of the prefixes table — bounded
    // regardless of how many dictionary terms share the prefix
    val plan = e.prefixDocs("re").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"prefix blocks must bucket-prune:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("term"),
      s"prefix pseudo-term predicate must push down:\n$plan")
    // the prefix slot carries the prefix_dict df (Σ member df), not 0 —
    // so prefix-bearing queries cost-route like ordinary terms
    val qt = e.prefixTerm("re")
    val dictDf = spark.read.parquet(s"$dictIdx/prefix_dict")
      .filter($"term" === "re").select($"df").as[Long].head()
    assert(qt.df == dictDf && qt.df >= 5, s"prefixTerm df=${qt.df} dict=$dictDf")
    assert(qt.idf > 0.0 || qt.df * 2 >= e.nDocs,
      s"idf must derive from the real df: $qt")
    // slot analysis: one pseudo-term, NOT a per-term derivation fan-out
    val mr = new graft.rank.MeiliRank(e)
    val slots = mr.analyze("return re", lastIsPrefix = true)
    assert(slots.last.prefixDerivs == Seq("re"))
    assert(!slots.last.derivations.exists(d => d._1 != "re" && d._1.startsWith("re")),
      "table route must not also inject per-term prefix derivations")
    // ranked output identical to the on-the-fly expansion route (same
    // corpus, fresh index without prefix tables)
    val dir2 = tempDir("noprefix")
    IndexBuild.build(spark, CorpusGen.generate(spark, 300).as[graft.corpus.SourceFile],
      dir2, cfg)
    val mr2 = new graft.rank.MeiliRank(new SearchEngine(spark, dir2))
    def rows(m: graft.rank.MeiliRank) =
      m.search("return re", 10, lastIsPrefix = true).collect()
        .map(r => (r.getAs[Int]("docId"), r.getAs[Int]("wordsRank"),
          r.getAs[Int]("typoCost"), r.getAs[Int]("proxCost"),
          r.getAs[Int]("posCost"), r.getAs[Double]("rankingScore"))).toSeq
    assert(rows(mr) == rows(mr2))
    // on-the-fly fallback is capped (MAX_PREFIX_COUNT analogue), and the
    // cap is honored by the dictionary loader in both modes
    val e2 = new SearchEngine(spark, dir2)
    assert(e2.prefixTerms("r", cap = 3).size == 3)
    val big = new TermDict(spark, s"$dir2/dict", collectThreshold = 0)
    assert(big.withPrefix("r", 3).toSeq ==
      new TermDict(spark, s"$dir2/dict").withPrefix("r", 3).toSeq)
  }

  test("prefix tables refresh after append (fingerprint-gated, not lineage-frozen)") {
    val cfg = IndexConfig(docsPerShard = 64, termBuckets = 4, blockSize = 16,
      numPartitions = 4, positions = true)
    val dir = tempDir("prefixappend")
    IndexBuild.build(spark, CorpusGen.generate(spark, 200).as[graft.corpus.SourceFile],
      dir, cfg)
    IndexBuild.buildPrefixIndex(spark, dir, cfg, minDf = 5)
    val before = new SearchEngine(spark, dir)
    assert(before.prefixIndexed("re"))
    val beforeDocs = before.prefixDocs("re").count()
    // append 100 more docs, rerun the builder as documented
    IndexBuild.append(spark,
      CorpusGen.generate(spark, 100, seed = 99L).as[graft.corpus.SourceFile],
      dir, cfg, "b1")
    IndexBuild.buildPrefixIndex(spark, dir, cfg, minDf = 5)
    val after = new SearchEngine(spark, dir)
    val got = after.prefixDocs("re").select($"docId").as[Int].collect().toSet
    // merged list covers the appended docs too (== fresh union)
    val want = after.td.fullMap.get.keys.filter(_.startsWith("re")).toSeq
      .flatMap(t => after.decoded(after.termsOf(Seq(t))).collect().map(_.docId)).toSet
    assert(got == want, s"stale prefix table: ${want -- got} missing")
    assert(got.size > beforeDocs, "appended docs must join the merged list")
    // unchanged postings -> rebuild is a no-op (fingerprint match):
    // neither the marker nor the prefix tables are rewritten
    def mtimes(sub: String): Seq[(String, Long)] = {
      val pth = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val fs = pth.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(pth, true)
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) { val f = it.next(); b += ((f.getPath.getName, f.getModificationTime)) }
      b.result().sortBy(_._1)
    }
    val metaBefore = (mtimes("prefix_meta"), mtimes("prefixes"))
    IndexBuild.buildPrefixIndex(spark, dir, cfg, minDf = 5)
    assert((mtimes("prefix_meta"), mtimes("prefixes")) == metaBefore,
      "same-fingerprint rerun must not rewrite")
  }

  test("TermDict caches are LRU-bounded with unchanged lookup results") {
    val td = new TermDict(spark, s"$dictIdx/dict", cacheEntries = 2)
    val fresh = new TermDict(spark, s"$dictIdx/dict")
    val prefixes = Seq("re", "im", "pa", "so", "re") // 4 distinct > cap, then re-hit
    prefixes.foreach { p =>
      assert(td.withPrefix(p).toSeq == fresh.withPrefix(p).toSeq,
        s"evicted-and-reloaded prefix '$p' must return identical results")
    }
    td.lengthBand(3, 5); td.lengthBand(4, 6); td.lengthBand(5, 7)
    assert(td.cacheSizes._1 <= 2 && td.cacheSizes._2 <= 2,
      s"caches must stay under the cap: ${td.cacheSizes}")
    assert(td.lengthBand(3, 5)._1.toSeq == fresh.lengthBand(3, 5)._1.toSeq)
  }
}
