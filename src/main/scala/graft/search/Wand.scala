package graft.search

import scala.collection.mutable

import graft.functions.{BM25, VByte}

/** Per-shard block-max WAND top-k (north rule's pruned retrieval).
  *
  * Public-literature algorithm (Broder et al. WAND; Ding & Suel
  * block-max WAND): posting cursors sorted by current docid; a pivot is
  * the first docid where the cumulative term upper bounds reach the
  * current top-k threshold; blocks whose (firstDoc, lastDoc) exclude the
  * pivot are skipped without decoding; the block-level max-score sum
  * prunes pivots that cannot enter the heap.
  *
  * Exactness contract (tested against the declarative plan): returns
  * exactly the shard's top-k by (score desc, docId asc) — prune
  * comparisons use >= / < so score ties (broken by ascending docId,
  * reference bucket_sort.rs:343-364) are never lost.
  */
object Wand {

  /** One encoded posting block as read from the postings table. The
    * block-level score upper bound is derived from blockMaxTf + the
    * term's idf (doclen lower-bounded by 0, see BM25.maxScore) — stored
    * maxTf keeps the index layout independent of the scoring constants.
    *
    * The block's `lenBytes` stream is not a field: the caller decodes it
    * into the `lens` map [[topKShard]] takes (SearchEngine.searchWand
    * does so per shard). The shape stays as it is because the benchmark
    * harness's kernel probe builds these eight fields and that map
    * itself; a tighter bound over the block's real (tf, len) maximum
    * needs a new field and waits for a change of that probe. */
  final case class Block(term: String, shard: Int, firstDoc: Int,
      lastDoc: Int, count: Int, docBytes: Array[Byte],
      tfBytes: Array[Byte], blockMaxTf: Int)

  /** Lazy-decoding cursor over one term's blocks within a shard. */
  final class Cursor(val term: String, blocksUnsorted: Array[Block],
                     val idf: Double) {
    private val blocks = blocksUnsorted.sortBy(_.firstDoc)
    @inline private def bms(b: Block): Double =
      idf * b.blockMaxTf * (BM25.K1 + 1.0) /
        (b.blockMaxTf + BM25.K1 * (1.0 - BM25.B))
    val maxScore: Double = blocks.map(bms).max
    private var bi = 0
    private var pi = 0
    private var ids: Array[Int] = _
    private var tfs: Array[Int] = _
    loadIfNeeded()

    private def loadIfNeeded(): Unit =
      if (bi < blocks.length && ids == null) {
        ids = VByte.decodeDeltas(blocks(bi).docBytes)
        tfs = VByte.decode(blocks(bi).tfBytes)
        pi = 0
      }

    def exhausted: Boolean = bi >= blocks.length
    def curDoc: Int = if (exhausted) Int.MaxValue else ids(pi)
    def curTf: Int = tfs(pi)

    def next(): Unit = {
      pi += 1
      if (pi >= ids.length) { bi += 1; ids = null; loadIfNeeded() }
    }

    /** Advance to the first docid >= target, skipping whole blocks via
      * their (firstDoc, lastDoc) metadata without decoding. */
    def advanceTo(target: Int): Unit = {
      if (exhausted || curDoc >= target) return
      if (blocks(bi).lastDoc < target) {
        ids = null
        while (bi < blocks.length && blocks(bi).lastDoc < target) bi += 1
        loadIfNeeded()
        if (exhausted) return
      }
      // binary search within the decoded block
      var lo = pi; var hi = ids.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) < target) lo = mid + 1 else hi = mid
      }
      pi = lo
      if (pi >= ids.length) { bi += 1; ids = null; loadIfNeeded(); advanceTo(target) }
    }

    /** (blockMaxScore, lastDoc) of the first block that could contain
      * `target` — pure lookup, does NOT move the cursor (so the sorted
      * cursor order stays valid during block-max pivot refinement). */
    def blockInfoAt(target: Int): (Double, Int) = {
      var b = bi
      while (b < blocks.length && blocks(b).lastDoc < target) b += 1
      if (b >= blocks.length) (0.0, Int.MaxValue)
      else (bms(blocks(b)), blocks(b).lastDoc)
    }

    def score(len: Int, avgdl: Double): Double = BM25.score(idf, curTf, len, avgdl)
  }

  /** Bounded top-k heap ordered by (score desc, docId asc); the head is
    * the *worst* kept hit. */
  final class TopK(k: Int) {
    private val heap = mutable.PriorityQueue.empty[Hit](
      Ordering.by[Hit, (Double, Long)](h => (-h.score, h.docId.toLong)))
    def threshold: Double = if (heap.size < k) Double.NegativeInfinity else heap.head.score
    def offer(docId: Int, score: Double): Unit = {
      if (heap.size < k) heap.enqueue(Hit(docId, score))
      else {
        val w = heap.head
        if (score > w.score || (score == w.score && docId < w.docId)) {
          heap.dequeue(); heap.enqueue(Hit(docId, score))
        }
      }
    }
    def sortedHits: Iterator[Hit] =
      heap.dequeueAll.reverse.iterator // dequeueAll yields worst->best
  }

  /** Exact top-k for one shard. `conjunctive` = AND (all terms present)
    * else OR (weak-and). */
  def topKShard(blocks: Array[Block], lens: mutable.HashMap[Int, Int],
                idfs: Map[String, Double], avgdl: Double, k: Int,
                conjunctive: Boolean): Iterator[Hit] = {
    if (blocks.isEmpty) return Iterator.empty
    val byTerm = blocks.groupBy(_.term)
    // AND semantics: a query term absent from this shard means no doc in
    // the shard can match all terms — without this check the
    // intersection would silently run over the remaining terms (idfs
    // carries ALL query terms; blocks only the shard-present ones)
    if (conjunctive && byTerm.size < idfs.size) return Iterator.empty
    val cursors = byTerm.map { case (t, bs) =>
      new Cursor(t, bs, idfs(t))
    }.toArray
    val topk = new TopK(k)
    if (conjunctive) intersect(cursors, lens, avgdl, topk)
    else wandOr(cursors, lens, avgdl, topk)
    topk.sortedHits
  }

  /** AND path: lead with the rarest term, gallop the others (block
    * metadata skips undecoded blocks). */
  private def intersect(cursors: Array[Cursor],
                        lens: mutable.HashMap[Int, Int], avgdl: Double,
                        topk: TopK): Unit = {
    val lead = cursors.maxBy(_.idf) // highest idf = rarest term leads
    val others = cursors.filter(_ ne lead)
    while (!lead.exhausted) {
      val d = lead.curDoc
      var ok = true
      var i = 0
      while (ok && i < others.length) {
        others(i).advanceTo(d)
        ok = !others(i).exhausted && others(i).curDoc == d
        if (others(i).exhausted) { // no more matches possible
          return
        }
        i += 1
      }
      if (ok) {
        // a docId absent from lens is not live (tombstoned delete whose
        // postings still exist) — skip it entirely; scoring it with a
        // default len would both resurrect it and skew its norm
        lens.get(d) match {
          case Some(len) =>
            // deterministic sum order: ascending term (matches searchDF)
            val s = (Array(lead) ++ others).sortBy(_.term)
              .foldLeft(0.0)((acc, c) => acc + c.score(len, avgdl))
            topk.offer(d, s)
          case None => ()
        }
        lead.next()
      } else {
        // advance lead to the furthest blocker
        var m = d + 1
        var j = 0
        while (j < others.length) {
          if (!others(j).exhausted && others(j).curDoc > d && others(j).curDoc < Int.MaxValue)
            m = math.max(m, others(j).curDoc)
          j += 1
        }
        lead.advanceTo(m)
      }
    }
  }

  /** OR path: block-max WAND. */
  private def wandOr(cursors: Array[Cursor],
                     lens: mutable.HashMap[Int, Int], avgdl: Double,
                     topk: TopK): Unit = {
    val cs = cursors.clone()
    while (true) {
      java.util.Arrays.sort(cs, Ordering.by[Cursor, Int](_.curDoc))
      if (cs(0).exhausted) return
      // pivot: first cursor where cumulative term UBs reach threshold
      val theta = topk.threshold
      var acc = 0.0
      var p = -1
      var i = 0
      while (p < 0 && i < cs.length) {
        if (!cs(i).exhausted) {
          acc += cs(i).maxScore
          if (acc >= theta) p = i
        }
        i += 1
      }
      if (p < 0) return // no doc can make the heap anymore
      val pivot = cs(p).curDoc
      if (pivot == Int.MaxValue) return
      // include every cursor already sitting on the pivot doc, so the
      // block-max refinement bound below covers all its terms
      while (p + 1 < cs.length && cs(p + 1).curDoc == pivot) p += 1
      // block-max refinement: per-block UBs at the pivot (pure lookups,
      // cursor order stays sorted)
      var bub = 0.0
      var minBlockLast = Int.MaxValue
      var j = 0
      while (j <= p) {
        val (bms, blast) = cs(j).blockInfoAt(pivot)
        bub += bms
        minBlockLast = math.min(minBlockLast, blast)
        j += 1
      }
      if (bub < theta && theta > Double.NegativeInfinity) {
        // no doc in [pivot, minBlockLast] can beat the heap with terms
        // 0..p alone; the next doc that could differ is either past the
        // tightest block end or the next cursor's current doc (BMW rule)
        var target = if (minBlockLast == Int.MaxValue) Int.MaxValue
          else minBlockLast + 1
        if (p + 1 < cs.length && cs(p + 1).curDoc < target)
          target = cs(p + 1).curDoc
        if (target <= pivot) target = pivot + 1
        cs(0).advanceTo(target)
      } else if (cs(0).curDoc == pivot) {
        // all cursors ahead of p sit on pivot -> fully score it
        // (deterministic sum order: ascending term, matches searchDF);
        // a pivot absent from lens is tombstoned — skip, don't score
        val atPivot = cs.takeWhile(_.curDoc == pivot)
        lens.get(pivot) match {
          case Some(len) =>
            val s = atPivot.sortBy(_.term)
              .foldLeft(0.0)((acc, c) => acc + c.score(len, avgdl))
            topk.offer(pivot, s)
          case None => ()
        }
        atPivot.foreach(_.next())
      } else {
        // advance the largest-UB cursor still strictly before the pivot
        // (cs(0) qualifies here, so `best` is always valid)
        var best = 0
        j = 1
        while (j <= p) {
          if (cs(j).curDoc < pivot && cs(j).maxScore > cs(best).maxScore) best = j
          j += 1
        }
        cs(best).advanceTo(pivot)
      }
    }
  }
}
