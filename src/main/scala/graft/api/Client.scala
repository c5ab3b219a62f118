package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.rank.TypoSettings

/** Index-level statistics (reference GET /indexes/{uid}/stats:
  * numberOfDocuments, isIndexing, fieldDistribution). `isIndexing` =
  * the lineage lacks the committed `stats` stage — the LAST stage of
  * every build path — so a mid-build (or crashed) index reports
  * indexing=true rather than serving partial data. */
final case class IndexStats(numberOfDocuments: Long,
                            fieldDistribution: Map[String, Long],
                            isIndexing: Boolean)

/** One build-stage task of an index (reference GET /tasks task objects,
  * crates/index-scheduler task listing: uid, indexUid, status, type,
  * details, finishedAt). Stages map 1:1 onto queued tasks here: a
  * committed lineage stage is a `succeeded` task whose details
  * aggregate its per-partition lineage rows; a lineage dir without its
  * `_COMMITTED` marker is a `processing` task (in-flight, or orphaned
  * by a kill — exactly the set a resume re-runs). */
final case class TaskInfo(uid: Long, indexUid: String, stage: String,
                          status: String, partitions: Int,
                          docidMin: Option[Int], docidMax: Option[Int],
                          postingCount: Long, bytes: Long,
                          finishedAt: Option[String])

/** Multi-index client (reference index CRUD + POST /swap-indexes,
  * meilisearch/src/routes/indexes/ + swap_indexes.rs): named indexes as
  * directories under one root. The deploy pattern: build `products_new`
  * offline, then [[swapIndexes]] it with `products` — readers by uid
  * never observe a partially BUILT index (the swap is rename-based; see
  * its scaladoc for the brief-absence window it does have). */
final class Client(spark: SparkSession, rootDir: String) {
  private val root = new Path(rootDir)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dirOf(uid: String): Path = {
    require(uid.nonEmpty && uid.matches("[A-Za-z0-9_-]+"),
      s"invalid index uid '$uid' (A-Za-z0-9_- only, reference uid rules)")
    new Path(root, uid)
  }

  /** Directory for a (new or existing) index uid — hand it to
    * IndexBuild.build* to create/update the index. */
  def indexDir(uid: String): String = dirOf(uid).toString

  def indexExists(uid: String): Boolean = fs.exists(dirOf(uid))

  /** Open an index for searching, through the one engine cache
    * ([[graft.DocIndex.open]]): the engine is reused until the index's
    * generation moves. */
  def index(uid: String, synonyms: Map[String, Seq[String]] = Map.empty,
            typo: TypoSettings = TypoSettings()): Index = {
    require(indexExists(uid), s"index '$uid' does not exist")
    new Index(graft.DocIndex.open(spark, indexDir(uid)), synonyms, typo)
  }

  /** All valid index uids under the root, sorted. `.swap-*` recovery
    * dirs and other non-uid names are excluded (they would crash every
    * uid-validated accessor); see [[danglingSwaps]]. */
  def listIndexes(): Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.matches("[A-Za-z0-9_-]+")).sorted.toSeq

  /** Leftover `.swap-*` dirs from a crashed [[swapIndexes]] — manual
    * recovery targets. */
  def danglingSwaps(): Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith(".swap-")).sorted.toSeq

  /** True while the index's build has not committed its final (stats)
    * lineage stage. */
  def isIndexing(uid: String): Boolean =
    !graft.index.Lineage.isCommitted(spark, indexDir(uid), "stats")

  def stats(uid: String): IndexStats = {
    require(indexExists(uid), s"index '$uid' does not exist")
    val e = graft.DocIndex.open(spark, indexDir(uid))
    IndexStats(e.nDocs, e.fieldDistribution(), isIndexing(uid))
  }

  /** Non-federated multi-search (reference POST /multi-search,
    * meilisearch/src/routes/multi_search.rs WITHOUT a `federation`
    * body): N independent (indexUid, query) pairs answered as N
    * independent result lists in one call — no score merging, unlike
    * [[graft.search.Federation]]. Each result is a lazy DataFrame plan;
    * engines are opened once per distinct uid. */
  def multiSearch(requests: Seq[(String, SearchRequest)],
                  synonyms: Map[String, Seq[String]] = Map.empty,
                  typo: TypoSettings = TypoSettings())
      : Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val byUid = requests.map(_._1).distinct
      .map(uid => uid -> index(uid, synonyms, typo)).toMap
    requests.map { case (uid, r) => uid -> byUid(uid).search(r) }
  }

  /** Task introspection for an index (reference GET /tasks?indexUids=,
    * meilisearch/src/routes/tasks.rs → index-scheduler queue listing):
    * one row per lineage stage, `succeeded` stages carrying the
    * committed docid range / posting count / bytes / finish time from
    * their lineage rows, uncommitted stage dirs reported `processing`.
    * Ordered by finish time then stage name (task uid = that order) —
    * driver-side metadata only, no Spark job. */
  def tasks(uid: String): Seq[TaskInfo] = {
    require(indexExists(uid), s"index '$uid' does not exist")
    val dir = indexDir(uid)
    val base = new Path(s"$dir/lineage")
    if (!fs.exists(base)) return Nil
    val committed = graft.index.Lineage.rows(spark, dir).groupBy(_.stage)
    val infos = fs.listStatus(base).filter(_.isDirectory).map(_.getPath).map { p =>
      val stage = p.getName
      if (!fs.exists(new Path(p, "_COMMITTED")))
        TaskInfo(0L, uid, stage, "processing", 0, None, None, 0L, 0L, None)
      else {
        val rows = committed.getOrElse(stage, Nil)
        // rowless stages (positions/doclen/dict/stats commit Nil) still finish:
        // fall back to the _COMMITTED marker's mtime
        val markerTime = java.time.Instant.ofEpochMilli(
          fs.getFileStatus(new Path(p, "_COMMITTED")).getModificationTime).toString
        TaskInfo(0L, uid, stage, "succeeded", rows.size,
          rows.map(_.docidMin).minOption, rows.map(_.docidMax).maxOption,
          rows.map(_.postingCount).sum, rows.map(_.bytes).sum,
          Some(rows.map(_.committedAt).maxOption.getOrElse(markerTime)))
      }
    }
    infos.sortBy(t => (t.finishedAt.getOrElse("~"), t.stage)).toSeq
      .zipWithIndex.map { case (t, i) => t.copy(uid = i.toLong) }
  }

  /** Exchange two indexes via three directory renames (reference
    * swap_indexes — there it runs as a queued task with the same
    * exposure): NOT one atomic op — there is a brief window where `a`
    * does not exist, and a crash mid-swap leaves a `.swap-*` recovery
    * dir (surfaced by [[danglingSwaps]], excluded from
    * [[listIndexes]]). Self-swap is rejected (it would strand the only
    * copy in the recovery dir). */
  def swapIndexes(a: String, b: String): Unit = {
    require(a != b, s"cannot swap '$a' with itself")
    val (pa, pb) = (dirOf(a), dirOf(b))
    require(fs.exists(pa) && fs.exists(pb),
      s"swap requires both indexes to exist: '$a', '$b'")
    val tmp = new Path(root, s".swap-$a-$b-${System.nanoTime()}")
    require(fs.rename(pa, tmp) && fs.rename(pb, pa) && fs.rename(tmp, pb),
      s"swap of '$a' and '$b' failed mid-way — a .swap-* dir remains for recovery")
  }

  /** Delete an index and everything in it. */
  def deleteIndex(uid: String): Unit = {
    val p = dirOf(uid)
    require(fs.exists(p), s"index '$uid' does not exist")
    fs.delete(p, true): Unit
  }
}
