package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * One kernel: every dot product, norm (`v·v`) and hyperplane dot is
  * Σ floor(x·y·1e9 + 0.5) summed as BIGINT — [[dotFx]] in a plan, [[fx]]
  * on the driver — so the result is independent of summation order
  * (integer addition is associative) and identical across Spark, DuckDB,
  * partitionings and parallelism levels. The cosine is one
  * correctly-rounded divide + sqrt of exact integers, rounded to 6
  * digits ([[withCosine]]).
  *
  * Zero-norm rule: a zero vector has no cosine. Corpus rows with norm 0
  * are dropped before the divide (which ANSI mode would fail), and a
  * zero query vector is refused.
  *
  * One query shape: every top-k takes a query vector; a corpus id
  * becomes one through [[queryVector]].
  */
object Similarity {

  /** x·y in 1e-9 fixed-point units: the one driver element product. */
  private def fx(x: Double, y: Double): Long = math.floor(x * y * 1e9 + 0.5).toLong

  /** Driver-side v·v, bit-identical to `dotFx(v, v)` in a plan. */
  private def norm(v: Array[Float]): Long = {
    var s = 0L; var i = 0
    while (i < v.length) { s += fx(v(i), v(i)); i += 1 }
    s
  }

  /** a·b in 1e-9 fixed point: the one plan-side kernel. */
  private def dotFx(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        floor(x.cast("double") * y.cast("double") * 1e9 + 0.5).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** `df` plus `name` = round(dot / sqrt(na · nb), 6); rows where either
    * norm is 0 are dropped first (the zero-norm rule). */
  private def withCosine(df: DataFrame, name: String, dot: Column,
                         na: Column, nb: Column): DataFrame =
    df.where(na > 0L && nb > 0L)
      .withColumn(name, round(dot / sqrt(na.cast("double") * nb.cast("double")), 6))

  /** `df` restricted to the ids of `universe`'s first column (a filter's
    * matches) by a broadcast semi-join, applied before the top-k so a
    * filtered request still fills k. */
  private def within(df: DataFrame, idCol: String,
                     universe: Option[DataFrame]): DataFrame =
    universe.fold(df)(u =>
      df.join(broadcast(u), df(idCol) === u(u.columns.head), "left_semi"))

  /** Top-k rows of `df` by cosine against `qvec` (ties by id): (id,
    * score). A row whose vector length differs from the query's fails
    * the query in the plan (raise_error, no extra job) instead of
    * scoring null. */
  private def topK(df: DataFrame, id: String, vec: Column, nn: Column,
                   qvec: Array[Float], k: Int): DataFrame = {
    val qn = norm(qvec)
    require(qn > 0L, "a zero query vector has no cosine")
    val dot = when(size(vec) =!= qvec.length, raise_error(concat(
        lit(s"query vector dim ${qvec.length} != embedding dim "),
        size(vec).cast("string"))))
      .otherwise(dotFx(vec, array(qvec.map(v => lit(v)): _*)))
    withCosine(df.withColumn("dot", dot), "score", col("dot"), nn, lit(qn))
      .select(col(id), col("score"))
      .orderBy(col("score").desc, col(id).asc)
      .limit(k)
  }

  /** The embedding of corpus row `id`: the one way a corpus id becomes a
    * query vector. With an LSH index it is read from the index's
    * id-sorted byid/ table (only `id` and `vec`, row groups pruned by
    * id min/max), otherwise from `emb`. One collect job. */
  def queryVector(emb: DataFrame, idCol: String, vecCol: String, id: Long,
                  lshDir: Option[String] = None): Array[Float] = {
    val rows = lshDir.fold(
      emb.where(col(idCol) === id).select(col(vecCol).cast("array<float>"))) { d =>
      graft.index.Lineage.requireFormat(emb.sparkSession, d)
      emb.sparkSession.read.schema("id BIGINT, vec ARRAY<FLOAT>")
        .parquet(s"$d/byid").where(col("id") === id).select(col("vec"))
    }.collect()
    require(rows.nonEmpty, s"unknown document id $id")
    rows(0).getSeq[Float](0).toArray
  }

  /** Brute-force cosine top-k of `queryVec` over `emb` (optionally
    * within `universe`): one narrow pass + TakeOrderedAndProject, the
    * correctness baseline. The query vector is a literal array column
    * (reference SearchQuery.vector, meilisearch/src/search/mod.rs:64-67). */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryVec: Array[Float], k: Int,
                 universe: Option[DataFrame] = None): DataFrame =
    topK(within(emb, idCol, universe).withColumn("nn", dotFx(col(vecCol), col(vecCol))),
      idCol, col(vecCol), col("nn"), queryVec, k)

  /** LSH bucket of a concrete vector under the index's plane family —
    * pure driver-side arithmetic over the plane literals; no data scan
    * (the planes are algorithm parameters, not data). The driver form of
    * [[bucketCol]]. */
  def bucketOfVector(v: Array[Float], nPlanes: Int, seed: Long): Long =
    (0 until nPlanes).foldLeft(0L) { (b, p) =>
      val dot = v.indices.foldLeft(0L)((s, d) => s + fx(v(d), planeWeight(seed, p, d)))
      if (dot >= 0L) b | (1L << p) else b
    }

  /** Plane weight (p, d) of the deterministic pseudo-random hyperplane
    * family (splitmix64-seeded, in [-1, 1]) — exposed so the DuckDB
    * oracle can inline the SAME constants as SQL literals (the planes
    * are algorithm parameters like the seed, not data). */
  def planeWeight(seed: Long, p: Int, d: Int): Double =
    graft.corpus.CorpusGen.mix(seed ^ (p.toLong << 32) ^ d.toLong)
      .toDouble / Long.MaxValue

  /** The one hyperplane-LSH bucket Column (random-hyperplane LSH,
    * Charikar '02): bit p = sign of the [[dotFx]] with plane p, so a
    * bucket is bit-identical across partitionings AND across engines —
    * the DuckDB oracle recomputes it from the same plane literals.
    * Self-contained (planes inlined as literals, no helper columns), so
    * independent bands can coexist in one projection. */
  private def bucketCol(vec: Column, nPlanes: Int, dim: Int, seed: Long): Column =
    (0 until nPlanes).map { p =>
      val plane = array((0 until dim).map(d => lit(planeWeight(seed, p, d))): _*)
      when(dotFx(vec, plane) >= 0L, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def requirePlanes(nPlanes: Int): Unit =
    require(nPlanes >= 1 && nPlanes <= 64,
      s"nPlanes $nPlanes outside 1..64 (a bucket is one BIGINT)")

  /** `dim` if set, else the first row's vector length (one 1-row job).
    * It MUST match the embedding length: zip_with against a shorter/
    * longer plane yields null dots, which put every vector in bucket 0. */
  private def dimOf(emb: DataFrame, vecCol: String, dim: Int): Int =
    if (dim > 0) dim else emb.select(size(col(vecCol))).head().getInt(0)

  /** Build-time PERSISTED LSH index (the 100-TB ANN path): one pass over
    * the embedding table writes (id, vec, nn, bucket) partitioned by
    * bucket, so a query reads only its probed bucket partitions
    * (partition pruning) instead of projecting the whole table per
    * query. The [[paramsPath]] marker (nPlanes, dim, seed), written
    * last, marks a complete index. */
  def buildLshIndex(spark: SparkSession, emb: DataFrame, idCol: String,
                    vecCol: String, dir: String,
                    nPlanes: Int = 4, dim: Int = 0, seed: Long = 42L): Unit = {
    requirePlanes(nPlanes)
    // a killed rebuild in place must not leave the old marker behind
    val params = new org.apache.hadoop.fs.Path(paramsPath(dir))
    params.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(params, false)
    val d = dimOf(emb, vecCol, dim)
    val v = col(vecCol)
    emb.select(col(idCol).cast("long").as("id"), v.as("vec"), dotFx(v, v).as("nn"),
        bucketCol(v, nPlanes, d, seed).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/rows")
    // byid/: (id, bucket, vec, nn) range-sorted by id — [[queryVector]]
    // resolves a corpus id through parquet row-group min/max pruning in
    // ONE pruned scan; no lookup ever scans the index
    spark.read.parquet(s"$dir/rows")
      .select(col("id"), col("bucket"), col("vec").cast("array<float>"), col("nn"))
      .repartitionByRange(math.max(1, spark.sparkContext.defaultParallelism / 4),
        col("id"))
      .sortWithinPartitions(col("id"))
      .write.mode("overwrite").parquet(s"$dir/byid")
    graft.index.Lineage.writeFormat(spark, dir)
    graft.index.Lineage.writeJson(spark, paramsPath(dir),
      Map("nPlanes" -> nPlanes, "dim" -> d, "seed" -> seed))
  }

  /** The (nPlanes, dim, seed) marker of a persisted LSH index. */
  def paramsPath(dir: String): String = s"$dir/lsh_params"

  /** (nPlanes, dim, seed) from [[paramsPath]] after the format check:
    * file reads on every call, no Spark job, nothing cached. */
  private def lshMeta(spark: SparkSession, dir: String): (Int, Int, Long) = {
    graft.index.Lineage.requireFormat(spark, dir)
    val m = graft.index.Lineage.readJson(spark, paramsPath(dir)).getOrElse(
      throw new IllegalArgumentException(
        s"LSH index at $dir has no lsh_params: rebuild it with buildLshIndex"))
    (m.get("nPlanes").asInt, m.get("dim").asInt, m.get("seed").asLong)
  }

  /** Hard cap for the exact all-pairs baseline: 200k vectors × 64 dims
    * ≈ 50 MB broadcast and 2·10¹⁰ pair-dims of work — beyond it the
    * quadratic baseline stops being a baseline and the LSH path is the
    * only sane answer. */
  final val MaxExactPairRows = 200000

  /** Embedding-cosine near-duplicate pairs: (a, b, cos) with
    * cos >= minCos, a < b — the semantic analogue of
    * [[Dedup.jaccardPairs]]. Exact all-pairs: the CORRECTNESS BASELINE
    * (O(N²) by definition — the oracle setting at small SF; at corpus
    * scale use [[cosineNearDupPairsLsh]], and the row cap enforces
    * that).
    *
    * Physical plan: broadcast the (small, capped) vector table and
    * stream every partition's rows against it in a primitive
    * fixed-point loop — a sanctioned mapPartitions hot spot: the
    * declarative `zip_with` form allocates a 64-element array per PAIR
    * (measured 22.7 s for 2M pairs at sf0.1; this loop is ~20×
    * faster, bit-identical math: [[fx]] per element, HALF_UP 6-digit
    * round — exactly the Spark/DuckDB expression). */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         minCos: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = emb.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    // bounded collect: cap+1 rows (~50 MB) at most reach the driver, so
    // the guard fires BEFORE an oversized table can OOM it
    val side = rows.limit(MaxExactPairRows + 1).collect().sortBy(_._1)
    require(side.length <= MaxExactPairRows,
      s"embedding table exceeds the exact all-pairs cap " +
        s"($MaxExactPairRows rows): use cosineNearDupPairsLsh")
    // ids must be unique (primary-key contract): with duplicates the
    // index walk below could emit a==b pairs or skip partners, where
    // the declarative a<b cross join silently excluded them
    side.indices.drop(1).foreach(i => require(side(i)._1 != side(i - 1)._1,
      s"duplicate $idCol ${side(i)._1} in the embedding table"))
    val norms = side.map(r => norm(r._2))
    val bcSide = spark.sparkContext.broadcast(side)
    val bcNorms = spark.sparkContext.broadcast(norms)
    // probe = indices into the broadcast (the data ships exactly once);
    // row i pairs with all j > i, so work falls linearly with i — the
    // i % P stratification gives every partition the same mix of heavy
    // and light rows
    val par = math.max(1, spark.sparkContext.defaultParallelism)
    val order = side.indices.sortBy(i => (i % par, i))
    val pairs = spark.sparkContext.parallelize(order, par).mapPartitions { it =>
      val right = bcSide.value
      val rn = bcNorms.value
      it.flatMap { i =>
        val (ida, va) = right(i)
        val naD = rn(i).toDouble
        (i + 1 until right.length).iterator.flatMap { j =>
          val (idb, vb) = right(j)
          var dot = 0L
          var d = 0
          while (d < va.length) { dot += fx(va(d), vb(d)); d += 1 }
          val denom = math.sqrt(naD * rn(j).toDouble)
          // the zero-norm rule on both sides — the q_neardup oracle
          // filters nn > 0 identically (DuckDB would otherwise emit
          // inf/NaN cosines that pass the threshold)
          if (denom == 0d) Iterator.empty
          else {
            val cos = BigDecimal(dot / denom)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (cos >= minCos) Iterator.single((ida, idb, cos)) else Iterator.empty
          }
        }
      }
    }
    spark.createDataFrame(pairs).toDF("a", "b", "cos")
  }

  /** Scale path for near-dup pairs: candidates = id pairs sharing a
    * hyperplane-LSH bucket in ANY of `bands` independent plane sets
    * (random-hyperplane LSH, Charikar '02; a pair at angle θ collides
    * in one band with prob (1 − θ/π)^nPlanes, and independent bands —
    * not Hamming probes, which would square the pair count — recover
    * the misses). Exact fixed-point cosine re-ranks candidates only,
    * so precision is 1; recall is the banding probability (spec-
    * measured). The candidate join is the same banded-bucket shuffle
    * as [[Dedup.minhashLshPairs]] — never an all-pairs product. */
  def cosineNearDupPairsLsh(emb: DataFrame, idCol: String, vecCol: String,
                            minCos: Double, bands: Int = 8, nPlanes: Int = 8,
                            dim: Int = 0, seed: Long = 42L): DataFrame = {
    requirePlanes(nPlanes)
    val d = dimOf(emb, vecCol, dim)
    val bandCols = (0 until bands).map(bnd =>
      struct(lit(bnd).as("band"),
        bucketCol(col(vecCol), nPlanes, d, seed + 7919L * bnd).as("bh")))
    val buckets = emb.select(col(idCol).cast("long").as("id"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
    val cands = buckets.withColumnRenamed("id", "a")
      .join(buckets.withColumnRenamed("id", "b"), Seq("band", "bh"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val vecs = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"), dotFx(col(vecCol), col(vecCol)).as("nn"))
    val joined = cands
      .join(vecs.select(col("id").as("a"), col("v").as("va"), col("nn").as("na")), Seq("a"))
      .join(vecs.select(col("id").as("b"), col("v").as("vb"), col("nn").as("nb")), Seq("b"))
      .withColumn("dot", dotFx(col("va"), col("vb")))
    withCosine(joined, "cos", col("dot"), col("na"), col("nb"))
      .where(col("cos") >= minCos)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Buckets within Hamming distance `h` of `q` over `nPlanes` bits,
    * ascending: the C(nPlanes, ≤ h) bit flips of `q`, enumerated — never
    * a scan of all 2^nPlanes buckets. */
  private[graft] def probeBuckets(q: Long, nPlanes: Int, h: Int): Seq[Long] =
    (0 to math.min(h, nPlanes)).flatMap(r => (0 until nPlanes).combinations(r)
      .map(_.foldLeft(q)((b, p) => b ^ (1L << p)))).sorted

  /** Multi-probe top-k of `queryVec` against a persisted LSH index:
    * probes = every bucket within Hamming distance `probeHamming` of the
    * query's bucket (sign flips on few hyperplanes are the likeliest
    * misses, Lv et al. 2007 multi-probe LSH), computed driver-side from
    * the plane literals, so the plan reads ONLY the probed bucket
    * partitions (partition pruning). `universe` (optional docid set,
    * e.g. a filter's matches) restricts candidates BEFORE the exact
    * fixed-point re-rank. Probe fraction = Σ C(nPlanes,h)/2^n —
    * vanishing at production plane counts (h≤2 at 16 planes probes
    * 137/65536 buckets). */
  def lshIndexTopK(spark: SparkSession, dir: String, queryVec: Array[Float],
                   k: Int, probeHamming: Int = 2,
                   universe: Option[DataFrame] = None): DataFrame = {
    val (nPlanes, dim, seed) = lshMeta(spark, dir)
    require(queryVec.length == dim,
      s"query vector dim ${queryVec.length} != index dim $dim")
    val probes = probeBuckets(bucketOfVector(queryVec, nPlanes, seed), nPlanes, probeHamming)
    val probed = spark.read.parquet(s"$dir/rows").where(col("bucket").isin(probes: _*))
    topK(within(probed, "id", universe).withColumnRenamed("id", "vec_id"),
      "vec_id", col("vec"), col("nn"), queryVec, k)
  }
}
