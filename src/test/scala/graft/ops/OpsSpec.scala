package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Ops cross-checked against independent plain-Scala recomputation on
  * the driver testdata (the DuckDB oracle equivalents run driver-side;
  * these specs keep the invariants testable offline). */
class OpsSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
  lazy val texts: Map[Long, String] = docs.select("doc_id", "text")
    .as[(Long, String)].collect().toMap

  def simpleToks(t: String): Seq[String] =
    t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
  def shingleSet(t: String, n: Int): Set[String] =
    simpleToks(t).sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet

  test("jaccardPairs matches naive pairwise jaccard") {
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.2)
      .select("a", "b", "jacc").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val sh = texts.map { case (id, t) => id -> shingleSet(t, 3) }
    val ids = texts.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices; j <- i + 1 until ids.size
      a = ids(i); b = ids(j)
      inter = (sh(a) & sh(b)).size if inter > 0
      uni = (sh(a) | sh(b)).size
      jac = BigDecimal(inter.toDouble / uni).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= 0.2
    } yield (a, b) -> jac).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-9, s"$k") }
  }

  test("minhash signatures match scala recompute") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // Kirsch-Mitzenmacher family: h_j = h1 + j*h2, 40-bit md5 halves
    def hj(s: String, j: Int): Long = {
      val d = md5hex(s)
      java.lang.Long.parseLong(d.substring(0, 10), 16) +
        j.toLong * java.lang.Long.parseLong(d.substring(10, 20), 16)
    }
    val got = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 4)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    texts.foreach { case (id, t) =>
      val sh = shingleSet(t, 3)
      if (sh.nonEmpty) {
        val want = (0 until 4).map(j => sh.map(s => hj(s, j)).min)
        assert(got(id) == want, s"doc $id")
      } else assert(!got.contains(id))
    }
  }

  test("lsh pairs are a subset of all pairs and include identical docs") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 4, 2)
      .as[(Long, Long)].collect().toSet
    // identical shingle sets must collide in every band
    val sh = texts.map { case (id, t) => id -> shingleSet(t, 3) }
    val dupPairs = for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq
      if a < b && sa.nonEmpty && sa == sb
    } yield (a, b)
    dupPairs.foreach(p => assert(lsh.contains(p), s"identical pair $p missing"))
    lsh.foreach { case (a, b) => assert(a < b) }
  }

  test("simhash16 matches scala recompute") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = Dedup.simhash16(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    texts.foreach { case (id, t) =>
      val tf = simpleToks(t).groupBy(identity).map { case (k, v) => k -> v.size }
      val sim = (0 until 16).map { j =>
        val s = tf.map { case (term, f) =>
          if ("89abcdef".contains(md5hex(term).charAt(j))) f else -f
        }.sum
        if (s >= 0) 1L << j else 0L
      }.sum
      assert(got(id) == sim, s"doc $id")
    }
  }

  test("cosineTopK matches scala recompute and ranks self first") {
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toMap
    val q = vecs(0L)
    def fx(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    def dotFx(a: Array[Float], b: Array[Float]): Long =
      a.zip(b).map { case (x, y) => fx(x.toDouble * y.toDouble) }.sum
    val want = vecs.toSeq.map { case (id, v) =>
      val s = dotFx(v, q) / math.sqrt((dotFx(v, v) * dotFx(q, q)).toDouble)
      (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.head._1 == 0L && math.abs(got.head._2 - 1.0) < 1e-6)
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
  }

  test("persisted LSH index: multi-probe recall@10 >= 0.8 vs exact") {
    val dir = tempDir("lshidx")
    Similarity.buildLshIndex(spark, emb, "vec_id", "embedding", dir, nPlanes = 4)
    // the parameters are a JSON marker, read without a Spark job
    assert(graft.index.Lineage.readJson(spark, Similarity.paramsPath(dir)).map(_.toString) ==
      Some("""{"dim":64,"nPlanes":4,"seed":42}"""))
    val q0 = Similarity.queryVector(emb, "vec_id", "embedding", 0L, Some(dir))
    val got = Similarity.lshIndexTopK(spark, dir, q0, 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.head._1 == 0L)
    assert(got.map(_._2).sliding(2).forall(w => w.size < 2 || w(0) >= w(1)))
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", q0, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val recall = got.map(_._1).count(exact.contains).toDouble / exact.size
    assert(recall >= 0.8, s"multi-probe recall@10 = $recall")
    // probe set never reads the whole table: plan prunes bucket partitions
    val plan = Similarity.lshIndexTopK(spark, dir, q0, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
  }

  test("external query vector: bucket from plane literals, same results as id lookup, no rows scan for the query row") {
    val dir = tempDir("lshvec")
    Similarity.buildLshIndex(spark, emb, "vec_id", "embedding", dir, nPlanes = 4)
    // every persisted bucket matches the driver-side recompute from the
    // plane literals — the contract the external-vector path rests on
    val rows = spark.read.parquet(s"$dir/rows")
      .select(col("id"), col("vec").cast("array<float>"), col("bucket").cast("long"))
      .collect()
    rows.foreach { r =>
      val got = Similarity.bucketOfVector(
        r.getSeq[Float](1).toArray, nPlanes = 4, seed = 42L)
      assert(got == r.getLong(2), s"id ${r.getLong(0)}")
    }
    // the id lookup: row 0's vector resolved through the index's byid/
    // table equals it resolved through the embedding table and read
    // directly, and an unknown id is refused by name from either source
    val q0 = emb.where(col("vec_id") === 0L)
      .select(col("embedding").cast("array<float>")).head().getSeq[Float](0).toArray
    assert(Similarity.queryVector(emb, "vec_id", "embedding", 0L, Some(dir)).sameElements(q0))
    assert(Similarity.queryVector(emb, "vec_id", "embedding", 0L).sameElements(q0))
    Seq(Some(dir), None).foreach { src =>
      val e = intercept[IllegalArgumentException](
        Similarity.queryVector(emb, "vec_id", "embedding", 987654L, src))
      assert(e.getMessage.contains("unknown document id 987654"), e.getMessage)
    }
    // plan: bucket partitions pruned AND exactly ONE scan of rows/ (the
    // query row is never looked up in the index)
    val plan = Similarity.lshIndexTopK(spark, dir, q0, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
    val rowScans = plan.split("\n").count(l => l.contains("/rows") && l.contains("FileScan"))
    assert(rowScans <= 1, s"external-vector query must scan rows/ once:\n$plan")
    // byid side table: the id lookup resolves id -> vector through it
    // (range-sorted, row-group pruned) instead of scanning rows/
    val byidP = new org.apache.hadoop.fs.Path(s"$dir/byid")
    val fs = byidP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(byidP), "buildLshIndex must write byid/")
    val perPart = spark.read.parquet(s"$dir/byid").select("id")
      .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toSeq))
      .collect()
    perPart.foreach(p => assert(p == p.sorted, "byid must be id-sorted"))
    // an LSH directory without the format stamp is refused, not read
    fs.delete(graft.index.Lineage.formatPath(dir), false)
    Seq[() => Any](() => Similarity.queryVector(emb, "vec_id", "embedding", 0L, Some(dir)),
        () => Similarity.lshIndexTopK(spark, dir, q0, 10)).foreach { q =>
      val e = intercept[IllegalArgumentException](q())
      assert(e.getMessage.contains("rebuild"), e.getMessage)
    }
  }

  test("simhash64: exact per-bit recompute; planted near-dups at small Hamming, unrelated far") {
    val base = (1 to 120).map(i => s"alpha$i beta$i").mkString(" ")
    val near = base.replace("alpha5 ", "alpha5x ").replace("beta17 ", "beta17x ")
    val far = (200 to 320).map(i => s"gamma$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val got = graft.ops.Dedup.simhash64(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    // exact recompute: bit j votes by bit j%32 of the md5 32-bit half
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def recompute(text: String): Long = {
      val tf = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .groupBy(identity).map { case (k, v) => k -> v.length }
      (0 until 64).map { j =>
        val s = tf.map { case (term, f) =>
          val d = md5hex(term)
          val half = java.lang.Long.parseLong(
            if (j < 32) d.substring(0, 8) else d.substring(8, 16), 16)
          if (((half >>> (j % 32)) & 1L) == 1L) f else -f
        }.sum
        if (s >= 0) 1L << j else 0L
      }.reduce(_ | _)
    }
    Seq((1L, base), (2L, near), (3L, far)).foreach { case (id, t) =>
      assert(got(id) == recompute(t), s"doc $id fingerprint")
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(got(1L), got(2L)) <= 10, s"near-dup hamming ${ham(got(1L), got(2L))}")
    assert(ham(got(1L), got(3L)) >= 16, s"unrelated hamming ${ham(got(1L), got(3L))}")
    // the Column-level hamming agrees
    val hcol = graft.ops.Dedup.simhash64(df, "doc_id", "text")
      .crossJoin(graft.ops.Dedup.simhash64(df, "doc_id", "text")
        .select(col("id").as("id2"), col("simhash64").as("s2")))
      .where(col("id") === 1L && col("id2") === 2L)
      .select(graft.ops.Dedup.hamming64(col("simhash64"), col("s2")))
      .collect()(0).getInt(0)
    assert(hcol == ham(got(1L), got(2L)))
  }

  test("hybrid semantic arm cost-routes to the LSH index (pruned scan, recall >= 0.8, exact scores)") {
    val dir = tempDir("hyblsh")
    graft.ops.Similarity.buildLshIndex(spark, emb, "vec_id", "embedding", dir, nPlanes = 4)
    val q0 = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
    val exact = graft.search.Hybrid
      .semanticTopK(emb, "vec_id", "embedding", q0, 10)
      .as[(Int, Double)].collect().toSeq
    // exactMaxRows = 0 forces the index route (simulating a table above
    // the cap); the arm must then read ONLY probed bucket partitions
    val viaIdx = graft.search.Hybrid.semanticTopK(emb, "vec_id", "embedding",
      q0, 10, indexDir = Some(dir), exactMaxRows = 0L)
    val plan = viaIdx.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"semantic arm must prune bucket partitions:\n$plan")
    val approx = viaIdx.as[(Int, Double)].collect().toSeq
    val recall = approx.map(_._1).count(exact.map(_._1).toSet).toDouble / exact.size
    assert(recall >= 0.8, s"hybrid semantic recall@10 = $recall")
    // returned scores are EXACT (re-rank inside probed partitions)
    val exactScores = exact.toMap
    approx.filter(p => exactScores.contains(p._1))
      .foreach { case (id, s) => assert(math.abs(s - exactScores(id)) < 1e-9, s"id $id") }
    // below the cap with an index present, the exact path still runs
    // (oracle scale): identical to the no-index exact arm
    val routedExact = graft.search.Hybrid.semanticTopK(emb, "vec_id", "embedding",
      q0, 10, indexDir = Some(dir)).as[(Int, Double)].collect().toSeq
    assert(routedExact == exact)
  }

  test("cosine near-dup pairs: LSH banding recalls planted duplicates, never all-pairs") {
    // planted near-dups: 20 base vectors, each with a slightly-perturbed
    // twin (cosine ~0.99), plus 160 unrelated vectors
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 20).map(_ => vec())
    val rows =
      bases.zipWithIndex.flatMap { case (v, i) =>
        val twin = v.zipWithIndex.map { case (x, d) =>
          x + 0.05f * bases(i)((d + 1) % 64).abs * (if (d % 2 == 0) 1 else -1) }
        Seq((2L * i, v.toSeq), (2L * i + 1, twin.toSeq))
      } ++ (0 until 160).map(j => (1000L + j, vec().toSeq))
    val df = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val exact = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(exact.size >= 20, s"planted twins must be near-dups: ${exact.size}")
    val lsh = Similarity.cosineNearDupPairsLsh(df, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    // precision 1 by construction (exact re-rank on candidates)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    val recall = lsh.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.8, s"banded recall = $recall")
    // the banded candidate set must stay far below the all-pairs product
    val nCands = Similarity.cosineNearDupPairsLsh(df, "vec_id", "embedding", -1.0)
      .count()
    val allPairs = rows.size.toLong * (rows.size - 1) / 2
    assert(nCands < allPairs / 2, s"candidates $nCands vs all-pairs $allPairs")
  }

  test("zero-norm rows have no cosine: every declarative arm drops them; a zero query vector is refused") {
    // rows 1 and 4 are zero vectors: under ANSI mode their cosine
    // divide would fail the whole query
    val df = Seq((0L, Seq(1f, 0f, 0f)), (1L, Seq(0f, 0f, 0f)),
        (2L, Seq(0.6f, 0.8f, 0f)), (3L, Seq(1f, 1f, 0f)), (4L, Seq(0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val q = Array(1f, 0f, 0f)
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect().toSeq
    assert(exact.map(_._1) == Seq(0L, 3L, 2L), s"$exact")
    val dir = tempDir("lshzero")
    Similarity.buildLshIndex(spark, df, "vec_id", "embedding", dir, nPlanes = 3)
    // probing every bucket (h = nPlanes) makes the LSH arm exact
    val lsh = Similarity.lshIndexTopK(spark, dir, q, 10, probeHamming = 3)
      .as[(Long, Double)].collect().toSeq
    assert(lsh == exact)
    // the two zero rows share every bucket, so they are a candidate pair
    val pairs = Similarity.cosineNearDupPairsLsh(df, "vec_id", "embedding", -1.0,
      bands = 2, nPlanes = 1).as[(Long, Long, Double)].collect().toSet
    val allPairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", -1.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.nonEmpty && pairs.subsetOf(allPairs), s"$pairs vs $allPairs")
    assert(!pairs.exists(p => Set(1L, 4L)(p._1) || Set(1L, 4L)(p._2)), s"$pairs")
    Seq[() => Any](
        () => Similarity.cosineTopK(df, "vec_id", "embedding", Array(0f, 0f, 0f), 10),
        () => Similarity.lshIndexTopK(spark, dir, Array(0f, 0f, 0f), 10)).foreach { f =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("zero query vector"), e.getMessage)
    }
  }

  test("a query vector of the wrong length fails the query, naming both lengths") {
    val df = Seq((0L, Seq(1f, 2f, 3f)), (1L, Seq(3f, 2f, 1f))).toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Similarity.cosineTopK(df, "vec_id", "embedding", Array(1f, 2f), 10).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("query vector dim 2 != embedding dim 3"), msgs)
    val dir = tempDir("lshdim")
    Similarity.buildLshIndex(spark, df, "vec_id", "embedding", dir, nPlanes = 2)
    val e2 = intercept[IllegalArgumentException](
      Similarity.lshIndexTopK(spark, dir, Array(1f, 2f), 10))
    assert(e2.getMessage.contains("query vector dim 2 != index dim 3"), e2.getMessage)
  }

  test("multi-probe: the enumerated bit flips equal the Hamming filter over every bucket") {
    for (n <- 1 to 20; h <- 0 to 3; q <- Seq(0L, (1L << n) - 1, 0x5a5a5L & ((1L << n) - 1))) {
      val want = (0L until (1L << n)).filter(b => java.lang.Long.bitCount(b ^ q) <= h)
      assert(Similarity.probeBuckets(q, n, h) == want, s"nPlanes $n, h $h, bucket $q")
    }
    assert(Similarity.probeBuckets(-1L, 64, 2).size == 1 + 64 + 64 * 63 / 2)
  }

  test("LSH plane counts: 63 and 64 planes find each row in its own bucket; 0 and 65 are refused") {
    val df = (0 until 6).map(i =>
      (i.toLong, Seq.tabulate(8)(d => ((i * 5 + d * 3) % 7 - 3).toFloat)))
      .toDF("vec_id", "embedding")
    Seq(63, 64).foreach { n =>
      val dir = tempDir(s"lsh$n")
      Similarity.buildLshIndex(spark, df, "vec_id", "embedding", dir, nPlanes = n)
      (0L until 6L).foreach { id =>
        val q = Similarity.queryVector(df, "vec_id", "embedding", id, Some(dir))
        val got = Similarity.lshIndexTopK(spark, dir, q, 6, probeHamming = 0)
          .as[(Long, Double)].collect()
        assert(got.exists(r => r._1 == id && math.abs(r._2 - 1.0) < 1e-9),
          s"nPlanes $n, id $id: ${got.toSeq}")
      }
    }
    Seq(0, 65).foreach { n =>
      Seq[() => Any](
          () => Similarity.buildLshIndex(spark, df, "vec_id", "embedding",
            tempDir("lshbad"), nPlanes = n),
          () => Similarity.cosineNearDupPairsLsh(df, "vec_id", "embedding", 0.5,
            nPlanes = n)).foreach { f =>
        val e = intercept[IllegalArgumentException](f())
        assert(e.getMessage.contains(s"nPlanes $n outside 1..64"), e.getMessage)
      }
    }
  }

  test("tokenEstimate: BPE-piece and chars/4 estimates match a scala recompute") {
    val got = TextMetrics.tokenEstimate(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val re = java.util.regex.Pattern.compile(TextMetrics.BpePiecePattern)
    texts.foreach { case (id, t) =>
      val m = re.matcher(t.toLowerCase)
      var n = 0L
      while (m.find()) n += 1
      val chars = math.ceil(t.length / 4.0).toLong
      assert(got(id) == ((n, chars)), s"doc $id: ${got(id)} vs ($n, $chars)")
    }
  }

  test("jaccard hot-shingle cap bounds the self-join blowup") {
    // adversarial duplicate-heavy corpus: 120 docs share one ubiquitous
    // trigram and are otherwise disjoint — uncapped, that one shingle
    // alone produces all C(120,2) candidate pairs
    val adv = (0 until 120).map(i =>
      (i.toLong, s"common shingle here u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(adv, "doc_id", "text", 3, 0.0,
      maxShingleDf = Long.MaxValue).count()
    val capped = Dedup.jaccardPairs(adv, "doc_id", "text", 3, 0.0,
      maxShingleDf = 50).count()
    assert(uncapped == 120L * 119 / 2)
    assert(capped == 0, "the non-discriminative shingle must be dropped")
    // parity when the cap is not binding (df max << cap)
    val a = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.2,
      maxShingleDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("exact dedup groups: every doc accounted once") {
    val got = Dedup.exactGroups(docs, "doc_id", "text")
    assert(got.agg(sum("n")).as[Long].head() == docs.count())
  }

  test("quality metrics match scala recompute on a sample") {
    val got = TextMetrics.quality(docs, "doc_id", "text")
      .where(col("id") < 5).collect().map(r => r.getLong(0) -> r).toMap
    (0L until 5L).foreach { id =>
      val toks = simpleToks(texts(id))
      val r = got(id)
      assert(r.getAs[Int]("n_tokens") == toks.size)
      assert(r.getAs[Int]("n_distinct") == toks.distinct.size)
      val stop = toks.count(TextMetrics.StopWords.contains)
      assert(math.abs(r.getAs[Double]("stopword_ratio") - stop.toDouble / toks.size) < 1e-6)
    }
  }

  test("multimodal feature extraction is deterministic and schema-typed") {
    val assets = Multimodal.assetsFromText(docs, "doc_id", "text")
    val f1 = Multimodal.extractFeatures(spark, assets).collect().sortBy(_.assetId)
    val f2 = Multimodal.extractFeatures(spark, assets.repartition(7))
      .collect().sortBy(_.assetId)
    assert(f1.toSeq == f2.toSeq, "features must not depend on partitioning")
    assert(f1.forall(_.byteLen > 0))
    assert(f1.count(_.kind == "video") > 0)
    val frames = Multimodal.sampleFrames(spark,
      Multimodal.extractFeatures(spark, assets), 4)
    assert(frames.count() > 0)
  }
}
