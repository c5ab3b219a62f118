package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestBus

import graft.SparkTestBase
import graft.corpus.SourceFile

/** The chunk shuffle of every posting and position write (map-side
  * delta+VByte chunk combine) must be a pure transport optimization: the
  * one chunk codec round-trips to the exact sorted token stream, doc
  * lengths included, with and without positions, and a build ships fewer shuffle bytes than a
  * per-posting row shuffle. Same blocks out: BuildPinSpec. */
class ChunkShuffleSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val words = Seq("spark", "merge", "batch", "stream", "window",
    "table", "index", "shard", "cursor", "buffer", "return", "import")

  private def corpus(n: Int) = (0 until n).map { i =>
    SourceFile(s"r${i % 5}", s"p$i.scala", f"c$i%04d", "scala",
      (0 until 20).map(j => words((i * 13 + j * 7) % words.length)).mkString(" "))
  }.toDS()

  /** Checks the one chunk codec on `rows` (interleaved docids, a hot
    * term, a flush budget of 16): flattenChunks(chunkRows(shuffled))
    * restores every (term, shard) run sorted, no chunk spans shards, a
    * postings-only stream ships no position payload, and some run has
    * overlapping chunks, so the reduce-side merge is exercised. */
  private def assertRoundTrip(rows: Seq[IndexBuild.TokenRow], seed: Int): Unit = {
    val dps = 16
    val shuffled = new scala.util.Random(seed).shuffle(rows)
    // tiny flush budget forces many partial flushes
    val chunks = IndexBuild.chunkRows(shuffled.iterator, dps, 16).toSeq
    def view(r: IndexBuild.TokenRow) = (r._1, r._2, r._3, r._4, Option(r._5).map(_.toSeq))
    // simulate the exchange: group by (term, shard), order by firstKey
    val runs = chunks.groupBy(c => (c._1, IndexBuild.keyDoc(c._2) / dps))
    runs.foreach { case ((term, shard), cs) =>
      val got = IndexBuild.flattenChunks(cs.sortBy(_._2).iterator).map(view).toSeq
      val want = rows.filter(r => r._1 == term && r._2 / dps == shard)
        .sortBy(_._2).map(view)
      assert(got == want, s"($term, $shard)")
      cs.foreach { c =>
        val docs = graft.functions.VByte.decodeDeltas(c._3)
        assert(docs.forall(_ / dps == shard), s"chunk spans shards: $term")
        assert((c._6 == null) == (rows.head._5 == null), s"position payload: $term")
      }
    }
    assert(runs.values.exists { cs =>
      val spans = cs.map(c => graft.functions.VByte.decodeDeltas(c._3)).sortBy(_.head)
      spans.zip(spans.drop(1)).exists { case (a, b) => b.head <= a.last }
    }, "no overlapping chunks: the merge path went untested")
  }

  test("chunk round-trip: flattenChunks(chunkPartition(s)) == sorted s, including shard splits and budget flushes") {
    // interleaved docids (two 'files' out of order) + a hot term, so
    // shard-boundary seals, out-of-order appends, and overlapping
    // chunks across map partitions all occur; no positions
    assertRoundTrip((0 until 200).flatMap { d =>
      Seq[IndexBuild.TokenRow](("hot", d, 1 + d % 3, 5 + d % 11, null),
        (s"t${d % 7}", d, 1, 5 + d % 11, null))
    }, seed = 7)
  }

  test("position chunk round-trip: flatten(chunk(s)) == sorted s with fid<<16 positions and budget flushes") {
    assertRoundTrip((0 until 120).flatMap { d =>
      Seq[IndexBuild.TokenRow](
        ("hot", d, 2, 300 + d, Array((1 << 16) | d % 7, (1 << 16) | (d % 7 + 3))),
        (s"t${d % 5}", d, 1, 300 + d, Array(d % 11)))
    }, seed = 11)
  }

  /** Shuffle bytes the whole build below wrote when postings and doc
    * rows crossed the exchange as one row per posting (the row-shuffle
    * transport this chunked one replaced), measured on this exact
    * corpus and config before that transport was deleted. */
  private val RowShuffleBytes = 88574L

  test("chunked shuffle writes fewer shuffle bytes than the row shuffle") {
    val sc = spark.sparkContext
    val dir = tempDir("sb")
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        bytes.addAndGet(
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
    }
    // drained on both sides: earlier work's events stay out, and this
    // build's last stage events are in before the count is read
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try IndexBuild.build(spark, corpus(600), dir,
      IndexConfig(docsPerShard = 64, termBuckets = 3, blockSize = 8,
        numPartitions = 4))
    finally {
      TestBus.drain(sc)
      sc.removeSparkListener(l)
    }
    assert(bytes.get < RowShuffleBytes,
      s"chunked shuffle must ship fewer bytes: ${bytes.get} vs $RowShuffleBytes")
  }
}
