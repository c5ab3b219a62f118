package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.collection.mutable.ArrayBuffer

import graft.corpus.SourceFile
import graft.functions.{BM25, Tokenizer, VByte}

/** Index build configuration. The build records every field but the
  * execution settings `numPartitions` and `storageOrderIds` in the
  * index's [[Manifest]]; [[IndexBuild.append]] and
  * [[IndexBuild.buildPrefixIndex]] refuse a config that disagrees with
  * it.
  *
  * @param docsPerShard docid-range width of one index shard. Shards are
  *   the unit of query-time parallelism (block-max WAND runs per shard)
  *   AND the salt of the posting shuffle: repartitioning on
  *   `(term, shard)` spreads a skewed stop-word term (`return`,
  *   `import`) over `N/docsPerShard` reducers instead of one.
  * @param termBuckets number of posting "segments" (directory
  *   partitions): at query time `bucket = hash(term)` prunes the scan
  *   to the buckets holding the query's terms.
  * @param blockSize docids per posting block (FIXTURES.md: 128).
  * @param positions also build the word-position table (phrase /
  *   proximity / attribute rules; reference word_position_docids,
  *   index.rs:137-138).
  * @param stopWords terms excluded from postings/positions/dictionary.
  *   Positions of surrounding words are preserved (the stop word still
  *   advances the position counter) and doc `len` still counts it —
  *   reference semantics: stop words keep positions but are not indexed
  *   as terms (parse_query.rs:311-318, settings stop_words).
  * @param storageOrderIds assign docids in CORPUS STORAGE ORDER (input
  *   file path asc, then row order within the file) instead of globally
  *   sorting by (repo, path, commit). This is the reference's own
  *   semantic — Meilisearch numbers documents by arrival order, not by
  *   key (documents/mod.rs DocumentId assignment) — and at 10^12 files
  *   it is the only sane ingest plan: id assignment becomes a zero-
  *   shuffle narrow pass (ids = per-file offset + `_metadata.row_index`)
  *   instead of a full re-sort of the corpus through one exchange
  *   (3 passes of every content byte over the wire). Requires a
  *   bare parquet scan (`_metadata.row_index`); any other corpus is
  *   refused with an IllegalArgumentException before a job runs. Ids
  *   remain deterministic: same files, same ids. The sorted assignment
  *   stays beside it, and [[IndexBuild.compact]] and
  *   [[Dump.importDump]] always use it: compaction reads the doc store
  *   minus its tombstones (an anti-join once anything was deleted — not
  *   a bare file scan), and an import promises ids by (repo, path)
  *   rank, which callers map results back through (SparkEntry q_dump). */
final case class IndexConfig(
    docsPerShard: Int = 1 << 14,
    termBuckets: Int = 8,
    blockSize: Int = 128,
    numPartitions: Int = 32,
    positions: Boolean = false,
    stopWords: Set[String] = Set.empty,
    tokenizer: Tokenizer.TokSettings = Tokenizer.TokSettings.Default,
    storageOrderIds: Boolean = false)

/** Inverted-index builder: the Spark-first re-expression of the
  * reference's document-indexing pipeline (reference:
  * crates/milli/src/update/new/indexer/mod.rs:45-240 — tokenize →
  * per-thread partial caches → merge → LMDB write; here: tokenize
  * flatMap → map-side chunk combine → salted repartition by
  * (term, shard) → sortWithinPartitions → flatten + delta+VByte block
  * encoder → parquet segments; [[chunkShuffle]]).
  *
  * Job economy (matters for build throughput AND scaling efficiency:
  * serial driver overhead is what breaks Amdahl at 4x cores):
  *   1 sample+sort shuffle and 1 count for docid assignment, 1 write for
  *   docs(+sha), 1 shuffle+write for all posting buckets, 1
  *   column-pruned metadata scan each for dict and lineage, 1
  *   per-partition count/sum pass over doclen for stats. The tokenize
  *   passes re-read the committed docs parquet (column-pruned) instead
  *   of caching contents in the block manager — at 10^12 files caching
  *   would thrash; parquet re-scan is a narrow, spillless pass.
  *
  * Deployment note: the posting exchange is the build's dominant
  * bandwidth draw. On clusters where shuffle lands on RAM-backed or
  * shared-bus storage (tmpfs, NVMe behind one PCIe switch), set
  * `spark.io.compression.codec=zstd` — measured 1.5-2.3x faster
  * 16-core builds under memory-bandwidth pressure, neutral at low
  * concurrency (BENCH.md round 4).
  *
  * Layout under `indexDir`:
  *   docs/      docId, repo, path, commit, lang, content, content_sha256
  *   dict/      term, termId, df, cf, len
  *   manifest.json  every build setting and the build's N and Σlen
  *              ([[Manifest]], written by the stats stage)
  *   stats/     delta-<batchId>: one append's N and Σlen, JSON (see [[corpusTotals]])
  *   postings/bucket=B/  term, shard, blockId, firstDoc, lastDoc, count,
  *                       docBytes, tfBytes, lenBytes, blockMaxTf, tfSum,
  *                       encBytes (= |docBytes| + |tfBytes|). `lenBytes`
  *                       is the VByte stream of each posting's doc
  *                       length (the BM25 `len`) in docid order, so a
  *                       ranked search scores from the blocks alone
  *   positions/bucket=B/ term, docId, positions, tf, len (optional)
  *   doclen/    docId, tf  (tf = the doc's token count, the BM25 `len`;
  *              stats, facets on `len` and `SearchEngine.docs` read it)
  *   prefix_dict/, prefixes/bucket=B/ (postings/ layout),
  *   prefix_positions/bucket=B/ term, docId, positions, tf, len
  *              ([[buildPrefixIndex]], optional)
  *   lineage/<stage>/rows + _COMMITTED, lineage/_FORMAT
  */
object IndexBuild {

  /** The on-disk index format: bump whenever a table's layout changes.
    * Stamped into every index directory together with the normalizer
    * version (Lineage.FormatStamp); a directory written under another
    * format is refused with a rebuild error, never read through a
    * fallback. */
  final val FormatVersion = 13

  /** Deterministic term -> bucket (also computed query-side in plain
    * Scala; String.hashCode is specified by the JLS so it is stable
    * across JVMs and parallelism levels). */
  def bucketOf(term: String, buckets: Int): Int =
    math.floorMod(term.hashCode, buckets)

  /** Pseudo-term carrying the per-document token count (`len`, the BM25
    * norm) through the SAME tokenize pass / shuffle that builds the
    * postings or positions — the index build scans each document
    * exactly ONCE (a second scan just to count tokens over 10^12 files
    * would double the build's dominant CPU+bandwidth cost). The NUL
    * prefix cannot be produced by the tokenizer, so it can never
    * collide with a real term or appear in a query. */
  final val LenTerm = "\u0000len"

  /** Build-side bucket assignment: [[LenTerm]] gets its own partition
    * directory `bucket=<termBuckets>` (one past the real range), so the
    * doclen extraction is a pure partition-pruned read and the sentinel
    * rows are physically DELETED from the table afterwards — query-side
    * consumers never see them. */
  def bucketOfIndexed(term: String, buckets: Int): Int =
    if (term == LenTerm) buckets else bucketOf(term, buckets)

  /** Pack one (docId, tf) posting into a single long: the chunk buffers
    * of [[chunkRows]] hold keys, and sorting by key equals sorting by
    * (shard, docId) because shard is monotone in docId. */
  @inline def packKey(docId: Int, tf: Int): Long =
    (docId.toLong << 32) | (tf.toLong & 0xffffffffL)
  @inline def keyDoc(key: Long): Int = (key >>> 32).toInt
  @inline def keyTf(key: Long): Int = key.toInt

  /** One row of the token stream every posting and position write
    * consumes: (term, docId, tf, len, positions), `len` the doc's token
    * count (the BM25 norm). `positions` is null on a postings-only
    * stream, which then buffers, ships and decodes no position payload. */
  type TokenRow = (String, Int, Int, Int, Array[Int])

  /** One map-side chunk of [[chunkRows]]: a (term, shard) run of one map
    * task's token rows as (term, firstKey, docBytes, tfBytes, lenBytes,
    * posBytes) — docids delta+VByte, tfs and lens VByte, exactly the
    * block codec; `posBytes` one VByte stream of `[nPos, pos...]` per doc
    * in docid order, null on a postings-only stream. */
  type Chunk = (String, Long, Array[Byte], Array[Byte], Array[Byte], Array[Byte])

  /** The posting-block write of postings/ and prefixes/ (and their
    * append stagings): [[chunkShuffle]] of the (term, docId, tf, len)
    * columns of `rows` (any positions column is not read) through the
    * streaming block encoder ([[encodePartition]]). */
  def encodeBlocks(rows: DataFrame, cfg: IndexConfig, outDir: String): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    val postings = rows.select(col("term"), col("docId"), col("tf"), col("len"),
      lit(null).cast("array<int>").as("positions")).as[TokenRow]
    chunkShuffle(postings, cfg, cfg.numPartitions, outDir, EncodedCols)(
      encodePartition(_, cfg.blockSize, cfg.termBuckets, cfg.docsPerShard))
  }

  /** The write of positions/ and prefix_positions/ (and the append
    * staging): [[chunkShuffle]] of a token stream with positions, as
    * sorted (term, docId) rows. The shard salt matters here: without it
    * every [[LenTerm]] sentinel row (one per document) would hash to one
    * reducer, a single task sorting and writing a row per document. */
  def writePositions(rows: Dataset[TokenRow], outDir: String, cfg: IndexConfig,
                     numPartitions: Int): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    val tb = cfg.termBuckets
    chunkShuffle(rows, cfg, numPartitions, outDir, PositionsCols)(_.map {
      case (t, d, tf, len, ps) => (t, d, ps, tf, len, bucketOfIndexed(t, tb))
    })
  }

  /** THE chunk shuffle of every posting and position write. The map-side
    * combine ([[chunkRows]]) packs each map task's per-(term, shard)
    * token rows into [[Chunk]] rows, so the exchange ships the term
    * string once per chunk and a VByte docid delta, tf and doc length
    * per posting (plus ~2-3 bytes per position) instead of a row each. This is the Spark re-expression of
    * the reference's per-thread partial caches merged post-exchange
    * (crates/milli/src/update/new/extract/cache.rs:281 BalancedCaches):
    * shuffle bytes are the build's dominant bandwidth draw (BENCH.md r5:
    * 79% fewer than one row per posting). The exchange is salted by
    * (term, firstKey div shardWidth), so a hot term spreads over the
    * reducers of its shards; partitions sort by (term, firstKey) and
    * [[flattenChunks]] hands `consume` the exact sorted token stream,
    * whose rows are written as `cols` to `outDir`, partitioned by their
    * `bucket`. A postings-only stream (`cols` without `positions`) keeps
    * its always-null `posBytes` column out of the exchange. */
  private def chunkShuffle[U: Encoder](rows: Dataset[TokenRow], cfg: IndexConfig,
                                       numPartitions: Int, outDir: String,
                                       cols: Seq[String])
                                      (consume: Iterator[TokenRow] => Iterator[U]): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    val shardWidth = cfg.docsPerShard.toLong << 32
    val positions = cols.contains("positions")
    val chunks = rows.mapPartitions(chunkRows(_, cfg.docsPerShard))
      .toDF("term", "firstKey", "docBytes", "tfBytes", "lenBytes", "posBytes")
    (if (positions) chunks else chunks.drop("posBytes"))
      .repartition(numPartitions, col("term"),
        expr(s"firstKey div CAST($shardWidth AS BIGINT)"))
      .sortWithinPartitions(col("term"), col("firstKey"))
      .withColumn("posBytes",
        if (positions) col("posBytes") else lit(null).cast("binary"))
      .as[Chunk]
      .mapPartitions(cs => consume(flattenChunks(cs)))
      .toDF(cols: _*)
      .write.mode("overwrite").partitionBy("bucket").parquet(outDir)
  }

  /** Units buffered per map task before a full chunk flush: 2M ints (one
    * per posting key, one more per position) ≈ 16 MB plus per-term
    * buffer overhead — small against executor memory, large enough that
    * hot terms amortize their string to nothing. */
  final val ChunkFlushEntries: Int = 1 << 21

  /** The map-side combiner of [[chunkShuffle]]: groups this partition's
    * token rows into per-(term, shard) [[Chunk]]s. A chunk never spans
    * shards (the exchange salts by shard) and its docs are sorted at
    * flush, so chunks of one (term, shard) ordered by firstKey nearly
    * always concatenate into a sorted stream ([[flattenChunks]] merges
    * the rare overlap). Memory is bounded by `flushEntries`, charged one
    * unit per posting and one per position: crossing it flushes every
    * buffer, so skewed terms simply produce more chunks. */
  def chunkRows(rows: Iterator[TokenRow], docsPerShard: Int,
                flushEntries: Int = ChunkFlushEntries): Iterator[Chunk] =
    new Iterator[Chunk] {
      private final class Buf {
        val keys = new ArrayBuffer[Long](4)
        /** the docs' lengths in `keys` order */
        val lens = new ArrayBuffer[Int](4)
        /** the docs' positions in `keys` order; null on a postings-only stream */
        var pos: ArrayBuffer[Array[Int]] = null
        /** units charged: one per key plus its positions — with
          * positions, exactly the length of the chunk's position stream */
        var units = 0
      }
      private val bufs = new scala.collection.mutable.AnyRefMap[String, Buf]
      private var entries = 0
      private var out: Iterator[Chunk] = Iterator.empty

      private def chunkOf(term: String, b: Buf): Chunk = {
        // file-packed scan partitions can interleave docid ranges — the
        // order restores strict docid order (the identity when sorted)
        val order = docOrder(b.keys.length, b.keys(_))
        val n = order.length
        val docs = new Array[Int](n)
        val tfs = new Array[Int](n)
        val lens = new Array[Int](n)
        var i = 0
        while (i < n) {
          val j = order(i)
          docs(i) = keyDoc(b.keys(j)); tfs(i) = keyTf(b.keys(j)); lens(i) = b.lens(j)
          i += 1
        }
        val posBytes =
          if (b.pos == null) null
          else {
            val stream = new Array[Int](b.units)
            var o = 0
            order.foreach { j =>
              val ps = b.pos(j)
              stream(o) = ps.length
              System.arraycopy(ps, 0, stream, o + 1, ps.length)
              o += ps.length + 1
            }
            VByte.encode(stream)
          }
        (term, packKey(docs(0), tfs(0)), VByte.encodeDeltas(docs), VByte.encode(tfs),
          VByte.encode(lens), posBytes)
      }

      private def fill(): Unit =
        while (!out.hasNext && rows.hasNext) {
          val ready = ArrayBuffer.empty[Chunk]
          while (rows.hasNext && entries < flushEntries) {
            val (t, d, tf, len, ps) = rows.next()
            val b = bufs.getOrElseUpdate(t, new Buf)
            if (b.keys.nonEmpty &&
                keyDoc(b.keys(b.keys.length - 1)) / docsPerShard != d / docsPerShard) {
              // shard boundary: seal this term's chunk, start the next
              ready += chunkOf(t, b)
              entries -= b.units
              b.keys.clear(); b.lens.clear(); if (b.pos != null) b.pos.clear(); b.units = 0
            }
            b.keys += packKey(d, tf)
            b.lens += len
            val units =
              if (ps == null) 1
              else {
                if (b.pos == null) b.pos = new ArrayBuffer[Array[Int]](4)
                b.pos += ps
                ps.length + 1
              }
            b.units += units
            entries += units
          }
          if (!rows.hasNext || entries >= flushEntries) {
            bufs.foreach { case (t, b) => if (b.keys.nonEmpty) ready += chunkOf(t, b) }
            bufs.clear()
            entries = 0
          }
          out = ready.iterator
        }

      override def hasNext: Boolean = { fill(); out.hasNext }
      override def next(): Chunk = { fill(); out.next() }
    }

  /** The permutation that orders `n` packed keys by docid: a primitive
    * sort of (docId, index) pairs (docids are unique within a term's
    * rows). */
  private def docOrder(n: Int, key: Int => Long): Array[Int] = {
    val tagged = Array.tabulate(n)(i => (key(i) & 0xffffffff00000000L) | i)
    java.util.Arrays.sort(tagged)
    tagged.map(_.toInt)
  }

  /** The reduce-side inverse of [[chunkRows]]: chunk rows sorted by
    * (term, firstKey) → the sorted token stream. Consecutive same-term
    * chunks whose docid ranges overlap (possible only when a map task saw
    * docids out of order) are decoded together and merge-sorted; the
    * common disjoint case streams one chunk at a time. */
  def flattenChunks(rows: Iterator[Chunk]): Iterator[TokenRow] =
    new Iterator[TokenRow] {
      private val it = rows.buffered
      private var term: String = null
      private var keys: Array[Long] = Array.emptyLongArray
      private var lens: Array[Int] = Array.emptyIntArray
      private var poss: Array[Array[Int]] = null
      private var i = 0

      private def decode(c: Chunk): (Array[Long], Array[Int], Array[Array[Int]]) = {
        val docs = VByte.decodeDeltas(c._3)
        val tfs = VByte.decode(c._4)
        val ks = new Array[Long](docs.length)
        var j = 0
        while (j < docs.length) { ks(j) = packKey(docs(j), tfs(j)); j += 1 }
        val ps =
          if (c._6 == null) null
          else {
            val stream = VByte.decode(c._6)
            var o = 0
            Array.fill(docs.length) {
              val n = stream(o)
              o += n + 1
              java.util.Arrays.copyOfRange(stream, o - n, o)
            }
          }
        (ks, VByte.decode(c._5), ps)
      }

      private def refill(): Unit = {
        val head = it.next()
        term = head._1
        var (ks, ls, ps) = decode(head)
        while (it.hasNext && it.head._1 == term &&
               keyDoc(it.head._2) <= keyDoc(ks(ks.length - 1))) {
          val (nk, nl, np) = decode(it.next())
          val (mk, ml) = (ks ++ nk, ls ++ nl)
          // docids are globally unique → strict order
          val order = docOrder(mk.length, mk(_))
          ks = order.map(mk(_)); ls = order.map(ml(_))
          if (ps != null) { val mp = ps ++ np; ps = order.map(mp(_)) }
        }
        keys = ks; lens = ls; poss = ps; i = 0
      }

      override def hasNext: Boolean = i < keys.length || it.hasNext
      override def next(): TokenRow = {
        if (i >= keys.length) refill()
        val k = keys(i)
        val ps = if (poss == null) null else poss(i)
        val row = (term, keyDoc(k), keyTf(k), lens(i), ps)
        i += 1
        row
      }
    }

  /** Live (non-tombstoned) documents of an index — the single
    * definition of the tombstone-exclusion join (used by facet builds,
    * compaction and dumps; the query side's SearchEngine.liveOnly is
    * the per-engine cached equivalent). Both tables are read with their
    * writers' schemas (no inference job); `fieldCols` are the field
    * columns of a multi-field index wanted beside the single-field ones
    * (its [[Manifest.fields]]). */
  def liveDocs(spark: SparkSession, indexDir: String,
               fieldCols: Seq[String]): DataFrame = {
    val docs0 = spark.read.schema(docsSchema(fieldCols)).parquet(s"$indexDir/docs")
    if (exists(spark, s"$indexDir/deleted"))
      docs0.join(broadcast(spark.read.schema("docId INT").parquet(s"$indexDir/deleted")),
        Seq("docId"), "left_anti")
    else docs0
  }

  def build(spark: SparkSession, corpus: Dataset[SourceFile], indexDir: String,
            cfg: IndexConfig = IndexConfig()): Unit = {
    // ---- stage: docs = docid assignment + doc store -------------------
    Lineage.stage(spark, indexDir, "docs") {
      if (cfg.storageOrderIds) docsStorageOrder(spark, corpus, indexDir)
      else rankDocs(spark, corpus, 0L, s"$indexDir/docs", cfg.numPartitions,
        "docs")((p, off, c) => s"docs:$p:$off:$c")
    }
    buildFromDocs(spark, indexDir, cfg)
  }

  /** THE sorted docid ranker ([[build]] from 0, [[append]] from the
    * index's next free id): dense docids by global (repo, path, commit)
    * rank starting at `base` — range-shuffle + per-partition counts +
    * offset broadcast (a global Window would serialize on one
    * partition; this is the scalable 2-pass rank). Writes the doc rows
    * to `outDir` and returns one `stage` lineage row per non-empty range
    * partition, its sha from `sha(partition, firstId, count)`. */
  private def rankDocs(spark: SparkSession, corpus: Dataset[SourceFile],
                       base: Long, outDir: String, numPartitions: Int,
                       stage: String)(sha: (Int, Long, Int) => String)
      : Seq[LineageRow] = {
    import spark.implicits._
    // InternalRow RDD here on purpose: two jobs over the SAME sorted
    // RDD reuse its shuffle map outputs (the count pass materializes
    // them, the write pass skips the exchange), and counting
    // UnsafeRows never decodes the content strings — a Dataset
    // .persist would instead build a columnar in-memory cache,
    // measured as the dominant build cost (CompressibleColumnBuilder
    // burning 30+ cpu-sec on the content strings at local[32]).
    val sortedDf = corpus.toDF()
      .repartitionByRange(numPartitions, $"repo", $"path", $"commit")
      .sortWithinPartitions($"repo", $"path", $"commit")
    val schema = sortedDf.schema
    val (iRepo, iPath, iCommit, iLang, iContent) = (
      schema.fieldIndex("repo"), schema.fieldIndex("path"),
      schema.fieldIndex("commit"), schema.fieldIndex("lang"),
      schema.fieldIndex("content"))
    val sortedRdd = sortedDf.queryExecution.toRdd
    val counts = sortedRdd
      .mapPartitionsWithIndex((pid, it) => Iterator.single((pid, it.size)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(base)(_ + _)
    val bOffsets = spark.sparkContext.broadcast(offsets)
    spark.createDataFrame(
      sortedRdd.mapPartitionsWithIndex { (pid, it) =>
        var id = bOffsets.value(pid)
        it.map { r =>
          // per-index cap: docids are Int (2.1B docs / index); beyond
          // that, shard into multiple indexes and merge results via
          // search.Federation (the multi-index sharding story). Fail
          // fast instead of wrapping negative (VByte deltas require
          // strictly increasing ids).
          require(id <= Int.MaxValue,
            s"docId $id exceeds the per-index Int cap; shard into a new " +
              "index and merge via search.Federation")
          // metadata columns may be null and pass through; content
          // cannot — there is nothing to index or checksum — so fail
          // with the contract, not an NPE inside Sha
          def str(i: Int): String = if (r.isNullAt(i)) null else r.getString(i)
          require(!r.isNullAt(iContent),
            "SourceFile.content must be non-null (row " + id + ")")
          val content = r.getString(iContent)
          val row = org.apache.spark.sql.Row(id.toInt, str(iRepo),
            str(iPath), str(iCommit), str(iLang),
            content, Sha.hex(content))
          id += 1
          row
        }
      },
      StructType.fromDDL(DocsSchemaDdl))
      .write.mode("overwrite").parquet(outDir)
    // per-partition lineage from the offsets themselves — no read-back
    counts.zipWithIndex.collect { case (c, p) if c > 0 =>
      LineageRow(stage, p, offsets(p).toInt, (offsets(p) + c - 1).toInt,
        c.toLong, 0L, sha(p, offsets(p), c), java.time.Instant.now.toString)
    }.toIndexedSeq
  }

  /** True iff `df` is a BARE file scan — only column-pruning nodes
    * (Project/alias) above the source relation. A Filter, limit, join,
    * or typed map between the files and the rows would break the
    * storage-order id invariant silently: `_metadata.row_index` is the
    * PHYSICAL row index, so a corpus with rows filtered out would
    * produce per-file counts smaller than the surviving indices and
    * docids would collide across files. Such plans are refused. */
  private def isBareFileScan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def walk(p: LogicalPlan): Boolean = p match {
      case Project(_, child)        => walk(child)
      case SubqueryAlias(_, child)  => walk(child)
      case leaf: LeafNode           => leaf.nodeName.contains("Relation")
      case _                        => false
    }
    walk(df.queryExecution.analyzed)
  }

  /** Storage-order docid assignment (cfg.storageOrderIds): ids follow
    * (input file path asc, row index within file) — the reference's
    * arrival-order DocumentId semantic — via the `_metadata` hidden
    * columns of file-backed sources. ZERO corpus shuffle: one metadata-
    * only job counts rows per file (no content column is read), then
    * the doc write is a narrow codegen'd projection joined with the
    * broadcast per-file offset table. A corpus that is not a bare file
    * scan with `_metadata.row_index` is refused before any job runs:
    * the caller asked for storage-order ids, and sorted ids under the
    * same option would be a different id assignment. */
  private def docsStorageOrder(spark: SparkSession, corpus: Dataset[SourceFile],
                               indexDir: String): Seq[LineageRow] = {
    import spark.implicits._
    val src = corpus.toDF()
    def refuse(reason: String): Nothing =
      throw new IllegalArgumentException(s"storageOrderIds: the corpus $reason; " +
        "build from a bare parquet scan, or pass storageOrderIds = false for " +
        "ids by (repo, path, commit) rank")
    if (!isBareFileScan(src))
      refuse("is not a bare file scan (its plan has filter/limit/join/transform nodes)")
    try src.select(col("_metadata.file_path"), col("_metadata.row_index"))
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        refuse("source has no _metadata.row_index (not a parquet file scan)")
    }
    val counts = src.select(col("_metadata.file_path").as("_file"))
      .groupBy($"_file").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    require(offsets.last <= Int.MaxValue.toLong + 1,
      s"${offsets.last} docs exceed the per-index Int cap; shard into " +
        "multiple indexes and merge via search.Federation")
    val offDf = counts.map(_._1).zip(offsets).toSeq.toDF("_file", "_off")
    src
      .select(col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_ri"),
        $"repo", $"path", $"commit", $"lang", $"content")
      .join(broadcast(offDf), Seq("_file"))
      .select(($"_off" + $"_ri").cast("int").as("docId"),
        $"repo", $"path", $"commit", $"lang", $"content",
        sha2($"content", 256).as("content_sha256"))
      .write.mode("overwrite").parquet(s"$indexDir/docs")
    counts.zip(offsets).zipWithIndex.collect {
      case (((f, c), off), p) if c > 0 =>
        LineageRow("docs", p, off.toInt, (off + c - 1).toInt, c, 0L,
          Sha.hex(s"docs:$f:$off:$c"), java.time.Instant.now.toString)
    }.toIndexedSeq
  }

  /** The one tokenize pass of [[buildFromDocs]] and [[append]]: each
    * doc's `(docId, field values in fid order)` (a null field tokenizes
    * as empty) through [[positionRowsOf]]. */
  private def tokenRows(docs: DataFrame, fieldCols: Seq[String],
                        cfg: IndexConfig): Dataset[TokenRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (stop, tok, pos) = (cfg.stopWords, cfg.tokenizer, cfg.positions)
    docs.select($"docId", array(fieldCols.map(col): _*)).as[(Int, Seq[String])]
      .flatMap { case (id, fs) => positionRowsOf(id, fs, stop, tok, pos) }
  }

  /** Post-docs build stages (the ONE tokenize pass → postings/positions
    * + doclen → dict → stats); shared by every builder ([[build]],
    * [[buildFromTable]], [[buildMultiField]], and through them
    * [[compact]] and [[Dump.importDump]]). `fields` are a multi-field
    * index's (docs/ column, weight) in fid order; a single-field index
    * tokenizes `content`. The corpus is
    * tokenized exactly once: the token stream flows into EITHER the
    * positions table (when enabled; postings then derive from a narrow
    * (term, docId, tf, len) scan of it) OR straight into the posting
    * shuffle. Per-doc token counts ride along as [[LenTerm]] sentinel
    * rows, which land in doclen/, and as every row's `len`, which lands
    * in the posting blocks and positions rows. */
  private def buildFromDocs(spark: SparkSession, indexDir: String,
                            cfg: IndexConfig,
                            fields: Seq[(String, Int)] = Nil): Unit = {
    // fixed read schema (no inference job)
    val rows = tokenRows(spark.read.schema(docsSchema(fields.map(_._1)))
      .parquet(s"$indexDir/docs"), if (fields.isEmpty) Seq("content") else fields.map(_._1), cfg)
    val tb = cfg.termBuckets

    if (cfg.positions) {
      // positions FIRST (single tokenize; per-doc grouping is doc-local,
      // so the only shuffle is the chunk shuffle of the write)
      Lineage.stage(spark, indexDir, "positions") {
        writePositions(rows, s"$indexDir/positions", cfg, cfg.numPartitions)
        Nil
      }
      doclenStage(spark, indexDir, cfg)
      // postings derive from a narrow column-pruned (term, docId, tf,
      // len) scan of the committed positions — never a second tokenize
      Lineage.stage(spark, indexDir, "postings") {
        encodeBlocks(positionKeys(spark, s"$indexDir/positions", tb), cfg,
          s"$indexDir/postings")
        postingLineage(spark, s"$indexDir/postings", "postings")
      }
    } else {
      // no positions: the tokenize pass feeds the posting shuffle
      // directly; sentinel len rows ride the same shuffle
      Lineage.stage(spark, indexDir, "postings") {
        encodeBlocks(rows.toDF(TokenCols: _*), cfg, s"$indexDir/postings")
        // doclen extraction FUSED into this stage: a kill anywhere in
        // here re-runs the whole stage from a clean overwrite
        val sentinel = s"$indexDir/postings/bucket=$tb"
        if (exists(spark, sentinel)) {
          // no repartition: the decoded rows inherit the shard-salted,
          // docId-sorted layout of the sentinel blocks
          sentinelDoclen(spark, sentinel)
            .write.mode("overwrite").parquet(s"$indexDir/doclen")
          deleteDir(spark, sentinel)
        } else emptyDoclen(spark, indexDir) // empty corpus
        postingLineage(spark, s"$indexDir/postings", "postings")
      }
    }

    // ---- stage: dict — derived from posting-block metadata -------------
    // df = sum of block counts, cf = sum of block tf sums: a column-
    // pruned scan of what was just committed; no extra shuffle over the
    // token stream, and the dict provably agrees with the postings.
    Lineage.stage(spark, indexDir, "dict") {
      writeDict(spark, indexDir)
      Nil
    }

    // ---- stage: stats — N and Σlen from the (narrow) doclen table, and
    // the manifest: the query side, appends and dumps take every setting
    // from it, so all of them segment, filter and encode as the build did
    Lineage.stage(spark, indexDir, "stats") {
      val (n, tokens) = doclenTotals(spark, s"$indexDir/doclen")
      Manifest.write(spark, indexDir, Manifest(n, tokens, BM25.K1, BM25.B,
        cfg.docsPerShard, cfg.termBuckets, cfg.blockSize, cfg.positions, cfg.stopWords,
        fields.zipWithIndex.map { case ((name, w), fid) => (fid, name, w) }, cfg.tokenizer))
      Nil
    }
  }

  /** docs/ schema of a single-field index (the BM25 `len` lives in
    * doclen/; SearchEngine.docs joins it back). */
  final val DocsSchemaDdl =
    "docId INT, repo STRING, path STRING, commit STRING, lang STRING, " +
      "content STRING, content_sha256 STRING"

  /** docs/ schema of a multi-field index ([[buildMultiField]]): the
    * single-field columns with one STRING column per field, in fid
    * order, before `content_sha256`. */
  def docsSchema(fieldCols: Seq[String]): StructType = {
    val base = StructType.fromDDL(DocsSchemaDdl)
    StructType(base.fields.init ++
      fieldCols.map(StructField(_, StringType)) :+ base.fields.last)
  }

  /** [[TokenRow]]'s column names. */
  final val TokenCols: Seq[String] = Seq("term", "docId", "tf", "len", "positions")

  /** Columns of positions/ and prefix_positions/ as [[writePositions]]
    * writes them. */
  final val PositionsCols: Seq[String] =
    Seq("term", "docId", "positions", "tf", "len", "bucket")

  /** Read schema of positions/ and prefix_positions/: both hold `tf` as
    * well, which no reader needs, so it is pruned. */
  final val PositionsSchemaDdl =
    "term STRING, docId INT, positions ARRAY<INT>, len INT, bucket INT"

  /** One document's token rows from ONE tokenizer scan per field: a row
    * per distinct non-stop term (tf summed across fields), then the
    * [[LenTerm]] sentinel whose tf is the FULL token count including
    * stop words (the BM25 `len` norm). Every row carries that count as
    * its `len`, so each posting block stores its docs' lengths. With
    * `positions`, each row also carries the term's occurrence positions
    * (clamped to 0xffff, fid<<16 for multi-field — reference
    * lib.rs:201-208; tf = their count, so postings derive without
    * reading the arrays) and the sentinel carries `[len]`; without, no
    * position is buffered. Fields tokenize in fid order, each with its
    * own locale hint. */
  def positionRowsOf(docId: Int, fields: Seq[String], stop: Set[String],
                     tok: Tokenizer.TokSettings, positions: Boolean): Iterator[TokenRow] = {
    val tfs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val pos = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Int]]
    var total = 0
    fields.iterator.zipWithIndex.foreach { case (f, fid) =>
      // per-field locale hints resolve the CJK unigram mode for THIS
      // fid (Tokenizer.TokSettings.forFid; no-op without localesByFid)
      Tokenizer.scan(f, tok.forFid(fid)) { (term, p, _, _) =>
        total += 1
        if (stop.isEmpty || !stop.contains(term)) {
          if (positions)
            pos.getOrElseUpdate(term, new ArrayBuffer[Int]) +=
              ((fid << 16) | math.min(p, 0xffff))
          else tfs.update(term, tfs.getOrElse(term, 0) + 1)
        }
      }
    }
    val rows: Iterator[TokenRow] =
      if (positions) pos.iterator.map { case (t, ps) => (t, docId, ps.length, total, ps.toArray) }
      else tfs.iterator.map { case (t, tf) => (t, docId, tf, total, null) }
    rows ++ Iterator.single((LenTerm, docId, total, total, if (positions) Array(total) else null))
  }

  /** The one doclen/ schema every writer produces: one row per document,
    * `tf` = its token count (the BM25 `len`). The positions path's
    * renamed sentinel partition carries extra (term, positions) columns
    * that this fixed read schema prunes. */
  final val DoclenSchemaDdl = "docId INT, tf INT"

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }

  /** Doclen rows decoded from encoded [[LenTerm]] sentinel blocks (a
    * postings `bucket=<termBuckets>` partition). */
  private def sentinelDoclen(spark: SparkSession, sentinelDir: String): DataFrame = {
    import spark.implicits._
    spark.read.schema("docBytes BINARY, tfBytes BINARY").parquet(sentinelDir)
      .as[(Array[Byte], Array[Byte])]
      .flatMap { case (db, tfb) =>
        VByte.decodeDeltas(db).iterator.zip(VByte.decode(tfb).iterator)
      }
      .toDF("docId", "tf")
  }

  /** An empty corpus has no sentinel rows: commit an empty doclen/ so
    * the stats stage and readers work. */
  private def emptyDoclen(spark: SparkSession, indexDir: String): Unit = {
    import spark.implicits._
    Seq.empty[(Int, Int)].toDF("docId", "tf")
      .write.mode("overwrite").parquet(s"$indexDir/doclen")
  }

  /** The positions path's doclen/ commit stage, ZERO Spark jobs: the
    * sentinel partition (`positions/bucket=<termBuckets>`, one
    * (docId, tf=len) row per document, shard-salted and docId-sorted by
    * the positions write) IS the doclen table; it is claimed by an
    * atomic directory rename. At the 10^12-doc target this avoids a full
    * (docId, len) re-shuffle + rewrite of one row per corpus document. */
  private def doclenStage(spark: SparkSession, indexDir: String,
                          cfg: IndexConfig): Unit = {
    val sentinelDir = new org.apache.hadoop.fs.Path(
      s"$indexDir/positions/bucket=${cfg.termBuckets}")
    Lineage.stage(spark, indexDir, "doclen") {
      val fs = sentinelDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val doclenPath = new org.apache.hadoop.fs.Path(s"$indexDir/doclen")
      if (fs.exists(sentinelDir)) {
        if (fs.exists(doclenPath)) fs.delete(doclenPath, true)
        require(fs.rename(sentinelDir, doclenPath),
          s"rename $sentinelDir -> $doclenPath failed")
      } else if (!fs.exists(doclenPath)) emptyDoclen(spark, indexDir)
      Nil
    }: Unit
  }

  /** The narrow (docId, len) doc-length view: one fixed-schema read of
    * doclen/ (no schema-inference job). The single definition for every
    * reader (docs views, facets, SearchEngine). */
  def readDoclen(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(DoclenSchemaDdl).parquet(s"$indexDir/doclen")
      .select(col("docId"), col("tf").as("len"))

  /** (N, Σlen) of the doclen rows under `dir` in ONE job: a count and a
    * sum per partition, added up on the driver — no aggregate exchange.
    * avgdl comes from here, NOT from dict cf sums: with stop words the
    * dictionary undercounts tokens while `len` (the BM25 norm) counts
    * them all. */
  private def doclenTotals(spark: SparkSession, dir: String): (Long, Long) = {
    val parts = spark.read.schema(DoclenSchemaDdl).parquet(dir).select(col("tf"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        var n = 0L
        var tokens = 0L
        rows.foreach { r => n += 1; tokens += r.getInt(0) }
        Iterator.single((n, tokens))
      }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** The narrow (term, docId, tf, len) columns of a positions table, its
    * [[LenTerm]] sentinel partition excluded: postings derive from
    * positions without a second tokenize. */
  private def positionKeys(spark: SparkSession, dir: String,
                           termBuckets: Int): DataFrame =
    spark.read.schema("term STRING, docId INT, tf INT, len INT, bucket INT").parquet(dir)
      .filter(col("bucket") =!= termBuckets)

  /** dict/ from a column-pruned posting-metadata scan (shared by build
    * and append; the [[LenTerm]] filter is pure defense — the sentinel
    * partition is extracted and deleted before dict derivation). */
  private def writeDict(spark: SparkSession, indexDir: String): Unit = {
    import spark.implicits._
    spark.read.schema(BlocksSchemaDdl).parquet(s"$indexDir/postings")
      .filter($"term" =!= LenTerm)
      .groupBy($"term")
      .agg(sum($"count").as("df"), sum($"tfSum").as("cf"))
      // len supports predicate-pushdown length-band loads (TermDict):
      // typo expansion reads only |len(t)-len(w)| <= budget rows
      .select($"term", xxhash64($"term").as("termId"), $"df", $"cf",
        length($"term").as("len"))
      .write.mode("overwrite").parquet(s"$indexDir/dict")
  }

  /** Incremental append (reference U1 del/add delta indexing,
    * update/new/extract cache deltas — here the append-only variant for
    * an immutable-per-commit corpus, SURVEY §2.9): new docs get docids
    * N.., their postings land in NEW blocks whose docid ranges sit
    * strictly above all committed blocks of the same (term, shard), so
    * readers (including the WAND cursors, which sort blocks by
    * firstDoc) see one coherent posting list with no rewrite of old
    * segments. The next docid and the batch's docid range come from the
    * committed lineage, and the batch's N and Σlen land in its own
    * `stats/delta-<batchId>` (no scan of docs/ or doclen/); the dict is
    * still rewritten whole from the posting metadata, in the batch's own
    * `dict_<batchId>` stage. Each batch commits its own lineage stages,
    * so a killed append resumes like a build, and a repeated call of a
    * committed batch writes nothing. The build settings come from the
    * index's [[Manifest]]: a `cfg` that disagrees with them is refused
    * before anything is written; only its `numPartitions` is used. */
  def append(spark: SparkSession, delta: Dataset[SourceFile], indexDir: String,
             cfg: IndexConfig, batchId: String): Unit = {
    import spark.implicits._
    val m = Manifest.read(spark, indexDir)
    // multi-field docs/ rows also carry every field column, which the
    // single-content delta rows below cannot supply — fail fast
    require(m.fields.isEmpty,
      "append does not support multi-field indexes: the delta rows store " +
        "only the concatenated content column; rebuild with buildMultiField")
    val conf = m.checked(cfg, "append")

    Lineage.stage(spark, indexDir, s"docs_delta_$batchId") {
      // next free docid = 1 + the highest COMMITTED docs docid, read
      // INSIDE the stage (on resume the stage is skipped, so a kill
      // between the two stages can't shift the batch's range). Files a
      // killed attempt published without committing are not counted, so
      // a resumed batch gets the ids a clean run would.
      val base = Lineage.rows(spark, indexDir)
        .filter(r => r.stage == "docs" || r.stage.startsWith("docs_delta_"))
        .map(_.docidMax.toLong + 1).maxOption.getOrElse(0L)
      // staged write (overwrite = idempotent) + tagged publish into docs/:
      // a kill during either step re-runs the stage and converges
      val staging = stagingDir(indexDir, "docs", batchId)
      val rows = rankDocs(spark, delta, base, staging, conf.numPartitions,
        s"docs_delta_$batchId")((p, _, c) => s"docs_delta_$batchId:$p:$c")
      Lineage.publishAppend(spark, staging, s"$indexDir/docs", s"b$batchId")
      rows
    }

    Lineage.stage(spark, indexDir, s"postings_delta_$batchId") {
      // the batch's docid range comes from its COMMITTED docs_delta rows
      val batch = Lineage.rows(spark, indexDir).filter(_.stage == s"docs_delta_$batchId")
      if (batch.nonEmpty) {
        val (lo, hi) = (batch.map(_.docidMin).min, batch.map(_.docidMax).max)
        val tb = conf.termBuckets
        // ONE tokenize pass over the delta, with sentinel len rows riding
        // the same shuffle; the sentinel partition becomes the batch's
        // doclen/ delta
        val rows = tokenRows(spark.read.schema(DocsSchemaDdl).parquet(s"$indexDir/docs")
          .filter($"docId".between(lo, hi)), Seq("content"), conf)
        val staging = stagingDir(indexDir, "postings", batchId)
        if (conf.positions) {
          val pstaging = stagingDir(indexDir, "positions", batchId)
          writePositions(rows, pstaging, conf, math.max(1, conf.numPartitions / 2))
          // postings delta from the STAGED positions (narrow scan, no
          // second tokenize)
          encodeBlocks(positionKeys(spark, pstaging, tb), conf, staging)
          writeStatsDelta(spark, indexDir, batchId, s"$pstaging/bucket=$tb")
          // the staged sentinel files move into doclen/ as-is — zero jobs
          Lineage.publishAppend(spark, s"$pstaging/bucket=$tb",
            s"$indexDir/doclen", s"b$batchId")
          Lineage.publishAppend(spark, pstaging, s"$indexDir/positions", s"b$batchId")
        } else {
          encodeBlocks(rows.toDF(TokenCols: _*), conf, staging)
          val lstaging = stagingDir(indexDir, "doclen", batchId)
          sentinelDoclen(spark, s"$staging/bucket=$tb").coalesce(1)
            .write.mode("overwrite").parquet(lstaging)
          deleteDir(spark, s"$staging/bucket=$tb")
          writeStatsDelta(spark, indexDir, batchId, lstaging)
          Lineage.publishAppend(spark, lstaging, s"$indexDir/doclen", s"b$batchId")
        }
        Lineage.publishAppend(spark, staging, s"$indexDir/postings", s"b$batchId")
      }
      Nil
    }

    // the dict derives from the committed postings: recompute (overwrite)
    // as a committed stage, so the generation moves again once dict/ is
    // current and a cache keyed on it cannot keep the torn dictionary
    Lineage.stage(spark, indexDir, s"dict_$batchId") { writeDict(spark, indexDir); Nil }: Unit
  }

  /** An append batch's staging directory for `table`. No path component
    * starts with `_` or `.`: Spark's file listing treats such a root as
    * hidden, and the stats delta and postings derivation read these
    * directories back. */
  private def stagingDir(indexDir: String, table: String, batchId: String): String =
    s"$indexDir/staging/$table-$batchId"

  /** Delete documents by docid: append a lineage-committed tombstone
    * batch (reference DELETE /documents; the on-disk model is
    * Lucene-style live-docs — postings/positions of deleted docs stay
    * until [[compact]], every SearchEngine read path excludes them).
    * Like Lucene, corpus statistics (N, avgdl, df→idf) keep counting
    * tombstoned docs until compaction, so surviving docs' BM25 scores
    * are bit-identical before and after a delete — compaction is the
    * point where statistics converge to the live corpus. Idempotent
    * per batchId. */
  def delete(spark: SparkSession, indexDir: String, ids: Seq[Int],
             batchId: String): Unit = {
    import spark.implicits._
    Lineage.stage(spark, indexDir, s"delete_$batchId") {
      ids.toDF("docId").coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/deleted/batch=d$batchId")
      Nil
    }
  }

  /** Persisted per-column facet value index (reference U4, the facet
    * LEVEL TREE `facet/facet_*.rs`: level-0 leaves are (value → docid
    * bitmap), upper levels aggregate value RANGES so a range query
    * touches O(log) groups). Columnar re-expression: one tiny
    * (value, n, docidMin, docidMax) row per distinct facet value,
    * range-partitioned and sorted BY VALUE — a range predicate prunes
    * parquet row groups via min/max stats, so range counts and
    * distributions read O(matching values) rows and never touch the
    * doc store. The upper tree levels are exactly what parquet row-
    * group statistics provide for free over a value-sorted file.
    * A STATISTICS TABLE over the LIVE documents at build time, so call
    * it again after append/delete batches; tombstoned docs are
    * excluded, so facet counts agree with `SearchEngine.docs` exactly
    * (N/avgdl keep Lucene tombstone semantics until compact; facet
    * counts do not need to). Each column's `_FINGERPRINT` marker holds
    * the [[Lineage.generation]] it was built from, written after the
    * data: a call over an unchanged index runs no Spark job, and any
    * committed mutation (or a killed rebuild) makes the column stale. */
  def buildFacetIndex(spark: SparkSession, indexDir: String,
                      cols: Seq[String], numPartitions: Int = 4): Unit = {
    import spark.implicits._
    val fieldCols = Manifest.read(spark, indexDir).fields.map(_._2)
    val sig = s"${Lineage.generation(spark, indexDir)}:$numPartitions"
    val stale = cols.filterNot(c =>
      Lineage.readMarker(spark, s"$indexDir/facets/$c/$FprFile").contains(sig))
    if (stale.isEmpty) return
    val docs = liveDocs(spark, indexDir, fieldCols)
    val live =
      if (stale.contains("len")) docs.join(readDoclen(spark, indexDir), Seq("docId"))
      else docs
    stale.foreach { c =>
      live.groupBy(col(c).as("value"))
        .agg(count(lit(1)).as("n"),
          min($"docId").as("docidMin"), max($"docId").as("docidMax"))
        .repartitionByRange(numPartitions, $"value")
        .sortWithinPartitions($"value")
        .write.mode("overwrite").parquet(s"$indexDir/facets/$c")
      Lineage.writeMarker(spark, s"$indexDir/facets/$c/$FprFile", sig)
    }
  }

  /** The derived-table marker: the source's [[Lineage.generation]] plus
    * build parameters, written after the data. Underscore-prefixed so
    * parquet readers ignore it as metadata. */
  private[graft] final val FprFile = "_FINGERPRINT"

  /** Precomputed prefix posting tables (reference U3: the index
    * materializes `word_prefix_docids` for prefixes of length ≤ 4
    * occurring often enough — index.rs:129-132, thresholds at
    * index.rs:1711-1713 (≥100 docs, len ≤ 4), builder
    * update/new/words_prefix_docids.rs — so search-as-you-type never
    * expands a short prefix on the fly).
    *
    * Spark re-expression, three tables under `indexDir`:
    *   prefix_dict/       (term=prefix, df=Σ member df, len) — the
    *                      selection set; TermDict-compatible schema
    *   prefixes/bucket=B/ merged posting blocks keyed by the prefix
    *                      (same EncodedCols layout as postings/, so the
    *                      query-side decode path is shared verbatim)
    *   prefix_positions/bucket=B/  merged position arrays (and Σ member
    *                      tf) per (prefix, docId), written like
    *                      positions/ — the reference's
    *                      word_prefix_position_docids analogue, feeding
    *                      proximity/attribute ranks for prefix slots
    *
    * Selection uses Σdf ≥ minDf (an upper bound of the reference's
    * distinct-doc threshold — cheap from the dict alone; a prefix
    * passing on Σdf but not on distinct docs merely materializes a
    * slightly-smaller-than-threshold list).
    *
    * Staleness: `prefix_meta/_FINGERPRINT` holds the
    * [[Lineage.generation]] the tables were built from (and the
    * thresholds); a rerun after any committed mutation rebuilds, a rerun
    * over an unchanged index runs no Spark job. The marker is written
    * LAST, so a killed rebuild re-runs (idempotent overwrite).
    * Per table, one decode pass and one merge shuffle, then the chunk
    * shuffle of [[encodeBlocks]] or [[writePositions]] — never per
    * query. The blocks are encoded under the index's [[Manifest]]
    * settings: a `cfg` that disagrees with them is refused before
    * anything is written; only its `numPartitions` is used. */
  def buildPrefixIndex(spark: SparkSession, indexDir: String, cfg: IndexConfig,
                       maxLen: Int = PrefixMaxLen, minDf: Long = PrefixMinDf): Unit = {
    import spark.implicits._
    val m = Manifest.read(spark, indexDir)
    val conf = m.checked(cfg, "buildPrefixIndex")
    val sig = s"${Lineage.generation(spark, indexDir)}:$maxLen:$minDf"
    if (Lineage.readMarker(spark, s"$indexDir/prefix_meta/$FprFile").contains(sig)) return

    spark.read.schema(TermDict.SchemaDdl).parquet(s"$indexDir/dict")
      .select($"term", $"df").as[(String, Long)]
      .flatMap { case (t, df) =>
        (1 to math.min(maxLen, t.length)).map(l => (t.substring(0, l), df))
      }
      .toDF("term", "df")
      .groupBy($"term").agg(sum($"df").as("df"))
      .filter($"df" >= minDf)
      .select($"term", $"df", length($"term").as("len"))
      .write.mode("overwrite").parquet(s"$indexDir/prefix_dict")

    val sel = spark.read.schema(TermDict.SchemaDdl).parquet(s"$indexDir/prefix_dict")
      .select($"term".as("prefix"))

    // merged prefix postings: decode → explode member prefixes → keep
    // selected → re-encode through the standard chunk shuffle (same
    // salt, same block layout)
    encodeBlocks(
      spark.read.schema(BlocksSchemaDdl).parquet(s"$indexDir/postings")
        .select($"term", $"docBytes", $"tfBytes", $"lenBytes")
        .as[(String, Array[Byte], Array[Byte], Array[Byte])]
        .flatMap { case (t, db, tfb, lb) =>
          val ids = VByte.decodeDeltas(db); val tfs = VByte.decode(tfb)
          val lens = VByte.decode(lb)
          (1 to math.min(maxLen, t.length)).iterator.flatMap { l =>
            val p = t.substring(0, l)
            ids.indices.iterator.map(i => (p, ids(i), tfs(i), lens(i)))
          }
        }
        .toDF("prefix", "docId", "tf", "len")
        .join(sel, Seq("prefix"), "left_semi")
        // len is the doc's: every member row of a (prefix, docId) holds it
        .groupBy($"prefix", $"docId")
        .agg(sum($"tf").cast("int").as("tf"), max($"len").as("len"))
        .select($"prefix".as("term"), $"docId", $"tf", $"len"),
      conf, s"$indexDir/prefixes")

    // merged prefix positions (only when the index has positions)
    if (m.positions) {
      writePositions(
        spark.read.schema("term STRING, docId INT, tf INT, len INT, positions ARRAY<INT>")
          .parquet(s"$indexDir/positions")
          .select(TokenCols.map(col): _*).as[TokenRow]
          .flatMap { case (t, d, tf, len, ps) =>
            (1 to math.min(maxLen, t.length)).map(l => (t.substring(0, l), d, tf, len, ps))
          }
          .toDF("prefix", "docId", "tf", "len", "positions")
          .join(sel, Seq("prefix"), "left_semi")
          .groupBy($"prefix", $"docId")
          .agg(sum($"tf").cast("int").as("tf"), max($"len").as("len"),
            sort_array(array_distinct(flatten(collect_list($"positions"))))
              .as("positions"))
          .select($"prefix".as("term"), $"docId", $"tf", $"len", $"positions")
          .as[TokenRow],
        s"$indexDir/prefix_positions", conf, math.max(1, conf.numPartitions / 2))
    }
    // marker LAST (killed rebuild re-runs); plain file, no Spark job
    Lineage.writeMarker(spark, s"$indexDir/prefix_meta/$FprFile", sig)
  }

  /** Reference thresholds (index.rs:1711-1713). */
  final val PrefixMaxLen = 4
  final val PrefixMinDf = 100L

  /** Rewrite the index without tombstoned documents: rebuild through
    * the standard pipeline from the live doc store (bounded tombstone
    * model: delete() is O(batch), compact() is the amortized rewrite —
    * at 10^12 files it is a full parallel re-index, run it when the
    * tombstone fraction justifies reclaiming scan/skip efficiency).
    * A fresh build with the caller's `cfg`: it reads only the
    * single-field columns of docs/ and deleted/ of `indexDir`, neither
    * its format stamp nor its manifest, so compacting into a fresh
    * directory is also the way to carry an index written by an older
    * format forward. Ids are always assigned by (repo, path, commit)
    * rank: the live docs are no bare file scan once anything was
    * deleted. */
  def compact(spark: SparkSession, indexDir: String, outDir: String,
              cfg: IndexConfig): Unit = {
    import spark.implicits._
    val live = liveDocs(spark, indexDir, Nil)
    build(spark, live.select($"repo", $"path", $"commit", $"lang", $"content")
      .as[graft.corpus.SourceFile], outDir, cfg.copy(storageOrderIds = false))
  }

  /** An append batch's `stats/delta-<batchId>` from its staged doclen
    * rows (one job over the batch only): the batch's `N` and `tokens`
    * as a JSON object, written through the FileSystem API like the
    * manifest. An overwrite, so a resumed stage rewrites the same file. */
  private def writeStatsDelta(spark: SparkSession, indexDir: String,
                              batchId: String, batchDoclen: String): Unit = {
    val (n, tokens) = doclenTotals(spark, batchDoclen)
    Lineage.writeJson(spark, s"$indexDir/stats/delta-$batchId",
      Map("N" -> n, "tokens" -> tokens))
  }

  /** The index's BM25 corpus totals (N, Σlen): the manifest's, from the
    * build, plus every append's delta, summed on the driver (no Spark
    * job). Exact longs, so an index built then appended has the
    * bit-identical N and avgdl of a from-scratch build of the same docs.
    * Tombstoned docs stay counted (Lucene semantics — see [[delete]]);
    * [[compact]] is where statistics shrink to live. */
  def corpusTotals(spark: SparkSession, indexDir: String, m: Manifest): (Long, Long) = {
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/stats")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deltas = if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("delta-")).flatMap(p => Lineage.readJson(spark, p.toString))
    (m.n + deltas.map(_.get("N").asLong).sum, m.tokens + deltas.map(_.get("tokens").asLong).sum)
  }

  /** Update-merge ingest (reference S1 replace vs update semantics,
    * document_operation.rs): keep the latest version per primary key
    * before indexing. */
  def latestByKey(df: DataFrame, pkCols: Seq[String], versionCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pkCols.map(col): _*)
      .orderBy(col(versionCol).desc)
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** Build over rows that already carry a dense docid (e.g. an external
    * table with an integer primary key). */
  def buildFromTable(spark: SparkSession, df: DataFrame,
                     docIdCol: String, contentCol: String, langCol: String,
                     sourceCol: String, indexDir: String,
                     cfg: IndexConfig): Unit = {
    tableDocsStage(spark, df, docIdCol, col(contentCol), Nil, langCol,
      sourceCol, indexDir)
    buildFromDocs(spark, indexDir, cfg)
  }

  /** Multi-field build (reference: positions are
    * `fid << 16 | relative_pos`, lib.rs:201-208; per-field weights feed
    * the fid ranking rule, ranking_rule_graph/fid/mod.rs:50-110).
    *
    * @param fields (columnName, weight) per searchable field, fid =
    *   position in this list; lower weight = more important (reference
    *   weight semantics). Docs store keeps the original field columns
    *   plus `content` = hard-separator-joined concatenation (display,
    *   sha); `len` = total tokens across fields (BM25 norm). tf sums
    *   across fields; positions carry the fid in the high 16 bits, so
    *   phrase/proximity joins stay within a field by construction
    *   (cross-field distances clamp past the 7/8 caps). Positions are
    *   always built: the fid rule reads them.
    */
  def buildMultiField(spark: SparkSession, df: DataFrame, docIdCol: String,
                      fields: Seq[(String, Int)], langCol: String,
                      sourceCol: String, indexDir: String,
                      cfg: IndexConfig): Unit = {
    import spark.implicits._
    require(fields.nonEmpty && fields.size < (1 << 15), "1..32767 fields")
    val fieldCols = fields.map(_._1)
    tableDocsStage(spark, df, docIdCol, concat_ws("\n\n", fieldCols.map(col): _*),
      fieldCols, langCol, sourceCol, indexDir)
    buildFromDocs(spark, indexDir, cfg.copy(positions = true), fields)
  }

  /** The docs stage of a table build ([[buildFromTable]],
    * [[buildMultiField]]): the row's own id, `path` = the id as text,
    * `content`, then the field columns. A pure-column projection (sha2
    * is codegen'd and equals Sha.hex: both are lowercase-hex SHA-256 of
    * the UTF-8 bytes); no tokenize here — [[buildFromDocs]] does the
    * single tokenize pass. */
  private def tableDocsStage(spark: SparkSession, df: DataFrame,
                             docIdCol: String, content: org.apache.spark.sql.Column,
                             fieldCols: Seq[String], langCol: String,
                             sourceCol: String, indexDir: String): Unit =
    Lineage.stage(spark, indexDir, "docs") {
      df.select(Seq(
          col(docIdCol).cast("int").as("docId"),
          col(sourceCol).cast("string").as("repo"),
          col(docIdCol).cast("string").as("path"),
          lit("").as("commit"),
          col(langCol).cast("string").as("lang"),
          // the build/append content contract: nothing to index or checksum
          when(content.isNull, raise_error(concat(
            lit("SourceFile.content must be non-null (docId "),
            col(docIdCol).cast("string"), lit(")"))))
            .otherwise(content.cast("string")).as("content")) ++
          fieldCols.map(c => col(c).cast("string").as(c)): _*)
        .withColumn("content_sha256", sha2(col("content"), 256))
        .write.mode("overwrite").parquet(s"$indexDir/docs")
      docsLineage(spark, indexDir)
    }: Unit

  /** One postings/ block row, [[EncodedCols]] in order. */
  type EncodedBlock = (String, Int, Int, Int, Int, Int, Array[Byte], Array[Byte],
    Array[Byte], Int, Long, Int, Int)

  /** Streaming block encoder: input token rows sorted by (term, docId)
    * within the partition — equivalently (term, shard, docId); emits one
    * [[EncodedCols]] block row per `blockSize` docids of each
    * (term, shard) run. The single sanctioned imperative spot (SURVEY
    * §4.4). */
  def encodePartition(rows: Iterator[TokenRow],
                      blockSize: Int, termBuckets: Int, docsPerShard: Int)
      : Iterator[EncodedBlock] = {
    new Iterator[EncodedBlock] {
      private val it = rows.buffered
      private var out: Iterator[EncodedBlock] = Iterator.empty
      override def hasNext: Boolean = out.hasNext || it.hasNext
      override def next() = {
        if (!out.hasNext) {
          val term = it.head._1
          val shard = it.head._2 / docsPerShard
          val docIds = new ArrayBuffer[Int](blockSize)
          val tfs = new ArrayBuffer[Int](blockSize)
          val lens = new ArrayBuffer[Int](blockSize)
          while (it.hasNext && it.head._1 == term && it.head._2 / docsPerShard == shard) {
            val r = it.next(); docIds += r._2; tfs += r._3; lens += r._4
          }
          val bucket = bucketOfIndexed(term, termBuckets)
          out = Iterator.range(0, docIds.length, blockSize).zipWithIndex.map { case (from, bid) =>
            val until = math.min(from + blockSize, docIds.length)
            val da = docIds.slice(from, until).toArray
            val ta = tfs.slice(from, until).toArray
            val db = VByte.encodeDeltas(da); val tb = VByte.encode(ta)
            (term, shard, bid, da.head, da.last, da.length, db, tb,
              VByte.encode(lens.slice(from, until).toArray),
              ta.max, ta.map(_.toLong).sum, db.length + tb.length, bucket)
          }
        }
        out.next()
      }
    }
  }

  val EncodedCols: Seq[String] = Seq("term", "shard", "blockId", "firstDoc",
    "lastDoc", "count", "docBytes", "tfBytes", "lenBytes", "blockMaxTf", "tfSum",
    "encBytes", "bucket")

  /** Read schema of postings/ and prefixes/ ([[EncodedCols]] as
    * [[encodePartition]] types them). */
  final val BlocksSchemaDdl =
    "term STRING, shard INT, blockId INT, firstDoc INT, lastDoc INT, " +
      "count INT, docBytes BINARY, tfBytes BINARY, lenBytes BINARY, " +
      "blockMaxTf INT, tfSum BIGINT, encBytes INT, bucket INT"

  /** The docs lineage row of a table build: docid range and count from
    * one fixed-schema scan. An empty table commits no row, as
    * [[rankDocs]] does for an empty partition. */
  private def docsLineage(spark: SparkSession, indexDir: String): Seq[LineageRow] = {
    val dir = s"$indexDir/docs"
    val r = spark.read.schema("docId INT").parquet(dir)
      .agg(min(col("docId")), max(col("docId")), count(lit(1))).collect()(0)
    val n = r.getLong(2)
    if (n == 0) Nil
    else Seq(LineageRow("docs", 0, r.getInt(0), r.getInt(1), n,
      0L, Sha.hex(s"$dir:$n"), java.time.Instant.now.toString))
  }

  /** Per-shard lineage from a column-pruned scan of the committed
    * posting metadata (blob columns never read). */
  private def postingLineage(spark: SparkSession, dir: String,
                             stage: String): Seq[LineageRow] = {
    import spark.implicits._
    spark.read.schema(BlocksSchemaDdl).parquet(dir)
      .filter($"term" =!= LenTerm) // lineage describes real postings only
      .select($"shard", $"term", $"firstDoc", $"lastDoc", $"count", $"encBytes")
      .groupBy($"shard").agg(
        min($"firstDoc").as("lo"), max($"lastDoc").as("hi"),
        sum($"count").as("n"),
        sum($"encBytes").as("bytes"),
        sha2(concat_ws(",", sort_array(collect_list(
          concat_ws(":", $"term", $"firstDoc", $"lastDoc", $"count")))), 256)
          .as("sha"))
      .collect().map { r =>
        LineageRow(stage, r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3),
          r.getLong(4), r.getString(5), java.time.Instant.now.toString)
      }.toIndexedSeq
  }

}
