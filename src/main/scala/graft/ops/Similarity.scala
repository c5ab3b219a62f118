package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Determinism contract: dot products and norms are computed in
  * *fixed-point* — each elementwise product is rounded to 1e-9 units and
  * summed as BIGINT, so the result is independent of summation order
  * (integer addition is associative) and identical across Spark,
  * DuckDB, partitionings, and parallelism levels. The final cosine is a
  * single correctly-rounded double divide + sqrt of exact integers.
  */
object Similarity {

  /** v1·v2 in 1e-9 fixed point, as a codegen'd Column expression. */
  private def dotFx(a: String, b: String) = expr(
    s"""aggregate(zip_with($a, $b, (x, y) ->
       |  cast(floor(cast(x as double) * cast(y as double) * 1e9 + 0.5d) as bigint)),
       |  0L, (acc, v) -> acc + v)""".stripMargin)

  private def normFx(a: String) = expr(
    s"""aggregate(transform($a, x ->
       |  cast(floor(cast(x as double) * cast(x as double) * 1e9 + 0.5d) as bigint)),
       |  0L, (acc, v) -> acc + v)""".stripMargin)

  /** Brute-force cosine top-k against the embedding of `queryId`.
    * One narrow pass over the table + TakeOrderedAndProject: the
    * correctness baseline. The query vector is a 1-row broadcast
    * (cross join of a broadcast single row — no shuffle). */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), normFx(vecCol).as("qn"))
    emb.crossJoin(broadcast(q))
      .withColumn("dot", dotFx(vecCol, "qvec"))
      .withColumn("nn", normFx(vecCol))
      .withColumn("score",
        round(col("dot") / sqrt(col("nn").cast("double") * col("qn").cast("double")), 6))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[cosineTopK]] for an EXTERNAL query vector (reference
    * SearchQuery.vector, meilisearch/src/search/mod.rs:64-67: hybrid /
    * semantic callers supply a fresh query embedding that is not a
    * corpus row). The vector becomes a literal array column — no query-
    * row lookup scan at all. Same fixed-point contract, same scores. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryVec: Array[Float], k: Int): DataFrame = {
    val qn = normFxLocal(queryVec)
    emb.withColumn("qvec", array(queryVec.map(v => lit(v)): _*))
      .withColumn("dot", dotFx(vecCol, "qvec"))
      .withColumn("nn", normFx(vecCol))
      .withColumn("score",
        round(col("dot") / sqrt(col("nn").cast("double") * lit(qn.toDouble)), 6))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Driver-side fixed-point dot / norm — the same
    * floor(x·y·1e9 + 0.5)-per-element, BIGINT-sum contract as the
    * Column forms, so a driver-computed bucket or norm is bit-identical
    * to an executor- or DuckDB-computed one. */
  private def dotFxLocal(v: Array[Float], w: Array[Double]): Long = {
    var s = 0L; var i = 0
    while (i < v.length) {
      s += math.floor(v(i).toDouble * w(i) * 1e9 + 0.5).toLong; i += 1
    }
    s
  }

  private def normFxLocal(v: Array[Float]): Long = {
    var s = 0L; var i = 0
    while (i < v.length) {
      s += math.floor(v(i).toDouble * v(i).toDouble * 1e9 + 0.5).toLong; i += 1
    }
    s
  }

  /** LSH bucket of a concrete vector under the index's plane family —
    * pure driver-side arithmetic over the plane literals; no data scan
    * (the planes are algorithm parameters, not data). */
  def bucketOfVector(v: Array[Float], nPlanes: Int, seed: Long): Long = {
    var b = 0L
    var p = 0
    while (p < nPlanes) {
      val pl = Array.tabulate(v.length)(d => planeWeight(seed, p, d))
      if (dotFxLocal(v, pl) >= 0L) b |= (1L << p)
      p += 1
    }
    b
  }

  /** Plane weight (p, d) of the deterministic pseudo-random hyperplane
    * family (splitmix64-seeded, in [-1, 1]) — exposed so the DuckDB
    * oracle can inline the SAME constants as SQL literals (the planes
    * are algorithm parameters like the seed, not data). */
  def planeWeight(seed: Long, p: Int, d: Int): Double =
    graft.corpus.CorpusGen.mix(seed ^ (p.toLong << 32) ^ d.toLong)
      .toDouble / Long.MaxValue

  /** Deterministic pseudo-random hyperplanes (splitmix64-seeded) and
    * the bucket expression: bucket bit i = sign of the dot with plane i
    * (random-hyperplane LSH, Charikar '02). Plane dots follow the
    * file-wide fixed-point contract (1e-9 units summed as BIGINT), so a
    * bucket assignment is bit-identical across partitionings AND across
    * engines — the DuckDB oracle recomputes it from the same plane
    * literals. */
  private def bucketExpr(vecCol: String, nPlanes: Int, dim: Int, seed: Long)
      : (Column, Column) = {
    val planes: Array[Array[Double]] = Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim)(d => planeWeight(seed, p, d))
    }
    val planesCol = array(planes.map(pl => array(pl.map(v => lit(v)): _*)): _*)
    val b = expr(
      s"""aggregate(zip_with(planes_idx, planes_arr, (i, pl) ->
         |  if(aggregate(zip_with($vecCol, pl, (x, w) ->
         |       cast(floor(cast(x as double) * w * 1e9 + 0.5d) as bigint)),
         |     0L, (a, v) -> a + v) >= 0L, shiftleft(1L, i), 0L)),
         |  0L, (a, v) -> a + v)""".stripMargin)
    (planesCol, b)
  }

  /** Build-time PERSISTED LSH index (the 100-TB ANN path): one pass over
    * the embedding table writes (id, vec, nn, bucket) partitioned by
    * bucket, so a query reads only its probed bucket partitions
    * (partition pruning) instead of projecting the whole table per
    * query. The [[paramsPath]] marker (nPlanes, dim, seed), written
    * last, marks a complete index. */
  def buildLshIndex(spark: SparkSession, emb: DataFrame, idCol: String,
                    vecCol: String, dir: String,
                    nPlanes: Int = 4, dim: Int = 0, seed: Long = 42L): Unit = {
    // a killed rebuild in place must not leave the old marker behind
    val params = new org.apache.hadoop.fs.Path(paramsPath(dir))
    params.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(params, false)
    // dim=0: infer from the data (see cosineNearDupPairsLsh — a plane/
    // vector length mismatch nulls every plane dot and collapses all
    // buckets to 0)
    val d = if (dim > 0) dim
            else emb.select(size(col(vecCol))).head().getInt(0)
    val (planesCol, bucketCol) = bucketExpr(vecCol, nPlanes, d, seed)
    emb.withColumn("planes_arr", planesCol)
      .withColumn("planes_idx", expr(s"sequence(0, ${nPlanes - 1})"))
      .withColumn("bucket", bucketCol)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        normFx(vecCol).as("nn"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/rows")
    // byid/: (id, bucket, vec, nn) range-sorted by id — the corpus-id
    // query path resolves the WHOLE query row (bucket + vector + norm)
    // through parquet row-group min/max pruning in ONE pruned scan; no
    // lookup ever scans the index
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

  /** byid/ schema (partition discovery of rows/ typed `bucket` INT). */
  private final val ByidSchemaDdl = "id BIGINT, bucket INT, vec ARRAY<FLOAT>, nn BIGINT"

  /** (nPlanes, dim, seed) from [[paramsPath]] after the format check:
    * file reads on every call, no Spark job, nothing cached. */
  private def lshMeta(spark: SparkSession, dir: String): (Int, Int, Long) = {
    graft.index.Lineage.requireFormat(spark, dir)
    val m = graft.index.Lineage.readJson(spark, paramsPath(dir)).getOrElse(
      throw new IllegalArgumentException(
        s"LSH index at $dir has no lsh_params: rebuild it with buildLshIndex"))
    (m.get("nPlanes").asInt, m.get("dim").asInt, m.get("seed").asLong)
  }

  /** One hyperplane-LSH bucket as a self-contained Column (planes
    * inlined as literals — no helper columns, so independent bands can
    * coexist in one projection). */
  private def bucketColInline(vecCol: String, nPlanes: Int, dim: Int,
                              seed: Long): Column = {
    (0 until nPlanes).map { p =>
      val pl = Array.tabulate(dim)(d => planeWeight(seed, p, d))
      val arr = pl.map(v => s"${v}d").mkString(",")
      val dot = expr(
        s"""aggregate(zip_with($vecCol, array($arr), (x, w) ->
           |  cast(floor(cast(x as double) * w * 1e9 + 0.5d) as bigint)),
           |  0L, (a, v) -> a + v)""".stripMargin)
      when(dot >= 0L, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
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
    * faster, bit-identical math: floor(x·y·1e9 + 0.5) per element,
    * HALF_UP 6-digit round — exactly the Spark/DuckDB expression). */
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
    val norms = side.map { case (_, v) =>
      var s = 0L; var i = 0
      while (i < v.length) {
        s += math.floor(v(i).toDouble * v(i).toDouble * 1e9 + 0.5).toLong; i += 1
      }
      s
    }
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
          while (d < va.length) {
            dot += math.floor(va(d).toDouble * vb(d).toDouble * 1e9 + 0.5).toLong; d += 1
          }
          val denom = math.sqrt(naD * rn(j).toDouble)
          // zero-norm vectors have no defined cosine: excluded on both
          // sides — the q_neardup oracle filters nn > 0 identically
          // (DuckDB would otherwise emit inf/NaN cosines that pass the
          // threshold; Spark's declarative divide yields NULL)
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
    // dim MUST match the embedding length: zip_with against a shorter/
    // longer plane yields null dots -> every vector lands in bucket 0
    // -> the candidate join silently degenerates to all-pairs. Infer
    // from the data by default (one 1-row job).
    val d = if (dim > 0) dim
            else emb.select(size(col(vecCol))).head().getInt(0)
    val bandCols = (0 until bands).map(bnd =>
      struct(lit(bnd).as("band"),
        bucketColInline(vecCol, nPlanes, d, seed + 7919L * bnd).as("bh")))
    val buckets = emb.select(col(idCol).cast("long").as("id"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
    val cands = buckets.withColumnRenamed("id", "a")
      .join(buckets.withColumnRenamed("id", "b"), Seq("band", "bh"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val vecs = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"), normFx(vecCol).as("nn"))
    cands
      .join(vecs.select(col("id").as("a"), col("v").as("va"), col("nn").as("na")), Seq("a"))
      .join(vecs.select(col("id").as("b"), col("v").as("vb"), col("nn").as("nb")), Seq("b"))
      .withColumn("dot", dotFx("va", "vb"))
      .withColumn("cos",
        round(col("dot") / sqrt(col("na").cast("double") * col("nb").cast("double")), 6))
      .where(col("cos") >= minCos)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Multi-probe top-k against a persisted LSH index: probes = every
    * bucket within Hamming distance `probeHamming` of the query's
    * bucket (sign flips on few hyperplanes are the likeliest misses,
    * Lv et al. 2007 multi-probe LSH); exact fixed-point cosine re-rank
    * within the probed partitions. Probe fraction = Σ C(nPlanes,h)/2^n —
    * vanishing at production plane counts (h≤2 at 16 planes probes
    * 137/65536 buckets). */
  def lshIndexTopK(spark: SparkSession, dir: String, queryId: Long,
                   k: Int, probeHamming: Int = 2): DataFrame = {
    val nPlanes = lshMeta(spark, dir)._1
    // the whole query row (bucket, vec, nn) from the range-sorted byid
    // table in ONE row-group-pruned scan
    val q = spark.read.schema(ByidSchemaDdl).parquet(s"$dir/byid")
      .where(col("id") === queryId)
      .select(col("bucket").cast("long"), col("vec"), col("nn")).collect()(0)
    lshProbedTopK(spark, dir, nPlanes, q.getLong(0),
      q.getSeq[Float](1).toArray, q.getLong(2), k, probeHamming, None)
  }

  /** [[lshIndexTopK]] for an EXTERNAL query vector (reference
    * SearchQuery.vector): the query bucket is computed driver-side from
    * the plane literals and the meta row, so the plan reads ONLY the
    * probed bucket partitions — no full-index scan to locate a query
    * row. `universe` (optional docid set, e.g. a filter's matches)
    * restricts candidates BEFORE the top-k so a filtered request still
    * fills k. No default args (the corpus-id overload carries them). */
  def lshIndexTopK(spark: SparkSession, dir: String, queryVec: Array[Float],
                   k: Int, probeHamming: Int,
                   universe: Option[DataFrame]): DataFrame = {
    val (nPlanes, dim, seed) = lshMeta(spark, dir)
    require(queryVec.length == dim,
      s"query vector dim ${queryVec.length} != index dim $dim")
    lshProbedTopK(spark, dir, nPlanes, bucketOfVector(queryVec, nPlanes, seed),
      queryVec, normFxLocal(queryVec), k, probeHamming, universe)
  }

  /** Shared probe + exact re-rank: read the bucket partitions within
    * Hamming distance of `qBucket` (partition pruning — the only rows/
    * IO), optionally intersect with `universe`, exact fixed-point
    * cosine, top-k. */
  private def lshProbedTopK(spark: SparkSession, dir: String, nPlanes: Int,
                            qBucket: Long, qvec: Array[Float], qn: Long,
                            k: Int, probeHamming: Int,
                            universe: Option[DataFrame]): DataFrame = {
    val probes = (0L until (1L << nPlanes))
      .filter(b => java.lang.Long.bitCount(b ^ qBucket) <= probeHamming)
    val probed = spark.read.parquet(s"$dir/rows")
      .where(col("bucket").isin(probes: _*))
    universe.fold(probed)(u =>
        probed.join(broadcast(u), probed("id") === u(u.columns.head), "left_semi"))
      .withColumn("qvec", array(qvec.map(v => lit(v)): _*))
      .withColumn("dot", dotFx("vec", "qvec"))
      .withColumn("score",
        round(col("dot") / sqrt(col("nn").cast("double") * lit(qn.toDouble)), 6))
      .select(col("id").as("vec_id"), col("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }
}
