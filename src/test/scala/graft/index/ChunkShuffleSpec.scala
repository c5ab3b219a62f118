package graft.index

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import org.apache.spark.TestBus

import graft.SparkTestBase
import graft.corpus.SourceFile

/** The chunked posting shuffle (map-side delta+VByte chunk combine)
  * must be a pure transport optimization: the chunk kernels round-trip
  * to the exact sorted stream, and a build ships fewer shuffle bytes
  * than a per-posting row shuffle. Same blocks out: BuildPinSpec. */
class ChunkShuffleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val words = Seq("spark", "merge", "batch", "stream", "window",
    "table", "index", "shard", "cursor", "buffer", "return", "import")

  private def corpus(n: Int) = (0 until n).map { i =>
    SourceFile(s"r${i % 5}", s"p$i.scala", f"c$i%04d", "scala",
      (0 until 20).map(j => words((i * 13 + j * 7) % words.length)).mkString(" "))
  }.toDS()

  test("chunk round-trip: flattenChunks(chunkPartition(s)) == sorted s, including shard splits and budget flushes") {
    val dps = 16
    // interleaved docids (two 'files' out of order) + a hot term, so
    // shard-boundary seals, out-of-order appends, and overlapping
    // chunks across map partitions all occur
    val rows: Seq[(String, Long)] =
      (0 until 200).flatMap { d =>
        Seq(("hot", IndexBuild.packKey(d, 1 + d % 3)),
          (s"t${d % 7}", IndexBuild.packKey(d, 1)))
      }
    val shuffled = new scala.util.Random(7).shuffle(rows)
    // tiny flush budget forces many partial flushes
    val chunks = IndexBuild.chunkPartition(shuffled.iterator, dps, 16).toSeq
    // simulate the exchange: group by (term, shard), order by firstKey
    chunks.groupBy(c => (c._1, IndexBuild.keyDoc(c._2) / dps)).foreach {
      case ((term, shard), cs) =>
        val got = IndexBuild.flattenChunks(
          cs.sortBy(_._2).iterator).toSeq
        val want = rows.filter(r =>
          r._1 == term && IndexBuild.keyDoc(r._2) / dps == shard).sortBy(_._2)
        assert(got == want, s"($term, $shard)")
        // every chunk stays within one shard
        cs.foreach { c =>
          val docs = graft.functions.VByte.decodeDeltas(c._3)
          assert(docs.forall(_ / dps == shard), s"chunk spans shards: $term")
        }
    }
  }

  test("position chunk round-trip: flatten(chunk(s)) == sorted s with fid<<16 positions and budget flushes") {
    val dps = 16
    val rows: Seq[(String, Int, Array[Int], Int)] =
      (0 until 120).flatMap { d =>
        Seq(("hot", Array((1 << 16) | d % 7, (1 << 16) | (d % 7 + 3)), 2),
          (s"t${d % 5}", Array(d % 11), 1))
          .map { case (t, ps, tf) => (t, d, ps, tf) }
      }
    val shuffled = new scala.util.Random(11).shuffle(rows)
    val chunks = IndexBuild.chunkPositionRows(shuffled.iterator, dps, 16).toSeq
    chunks.groupBy(c => (c._1, IndexBuild.keyDoc(c._2) / dps)).foreach {
      case ((term, shard), cs) =>
        val got = IndexBuild.flattenPositionChunks(cs.sortBy(_._2).iterator, 3)
          .map(r => (r._1, r._2, r._3.toSeq, r._4, r._5)).toSeq
        val want = rows
          .filter(r => r._1 == term && r._2 / dps == shard)
          .sortBy(_._2)
          .map(r => (r._1, r._2, r._3.toSeq, r._4,
            IndexBuild.bucketOfIndexed(r._1, 3)))
        assert(got == want, s"($term, $shard)")
    }
  }

  /** Shuffle bytes the whole build below wrote when postings and doc
    * rows crossed the exchange as one row per posting (the row-shuffle
    * transport this chunked one replaced), measured on this exact
    * corpus and config before that transport was deleted. */
  private val RowShuffleBytes = 88574L

  test("chunked shuffle writes fewer shuffle bytes than the row shuffle") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("sb").toString
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
