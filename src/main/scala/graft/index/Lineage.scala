package graft.index

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.functions.Tokenizer

/** Checkpoint/lineage bookkeeping for resumable index builds (north
  * rule: "checkpoint each stage ... with per-partition lineage rows so a
  * killed job resumes from the last committed segment").
  *
  * Model (mirrors the reference's task/batch commit semantics,
  * crates/index-scheduler — a batch is visible iff its txn committed):
  *  - every build stage writes its data dir, then its lineage rows
  *    under `lineage/<stage>/`, then an empty `_COMMITTED` marker. A
  *    stage is visible/resumable iff the marker exists; a killed job
  *    re-runs only uncommitted stages.
  *  - lineage rows carry (partitionId, docidMin, docidMax, postingCount,
  *    bytes, sha256) computed from the *written* files, so they describe
  *    exactly what was committed.
  *  - `lineage/_FORMAT` stamps the directory's on-disk format
  *    ([[FormatStamp]]); writers and readers refuse any other.
  *  - [[rows]] is the one reader: it parses the committed stages' JSON
  *    lines on the driver (no Spark job). The append path takes its next
  *    docId and its batch's docId range from it; `api.Client.tasks` and
  *    [[read]] are views over it.
  *  - [[generation]] names the committed snapshot (the reference's LMDB
  *    read transaction): every cache and derived artifact keys on it.
  *
  * Uses the Hadoop FileSystem API so the same code runs on local FS in
  * tests and on HDFS/S3A on a cluster.
  */
object Lineage {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def markerPath(indexDir: String, stage: String): Path =
    new Path(s"$indexDir/lineage/$stage/_COMMITTED")

  def isCommitted(spark: SparkSession, indexDir: String, stage: String): Boolean =
    fs(spark, indexDir).exists(markerPath(indexDir, stage))

  /** Write lineage rows for a stage, then the commit marker. Rows are
    * tiny and already on the driver: written as JSON lines through the
    * FileSystem API directly — a Spark job for a 5-row table would add
    * ~0.5s of serial driver time per stage, which is what erodes
    * scaling efficiency on short builds. */
  def commit(spark: SparkSession, indexDir: String, stage: String,
             rows: Seq[LineageRow]): Unit = {
    writeMarker(spark, s"$indexDir/lineage/$stage/rows/rows.json",
      rows.map(r => Json.writeValueAsString(r) + "\n").mkString)
    fs(spark, indexDir).create(markerPath(indexDir, stage), true).close()
  }

  /** (stage dir, `_COMMITTED` mtime) of every committed stage (a stage
    * dir without its marker is in flight or orphaned), by stage name. */
  private def committed(spark: SparkSession, indexDir: String): Seq[(Path, Long)] = {
    val f = fs(spark, indexDir)
    val base = new Path(s"$indexDir/lineage")
    if (!f.exists(base)) return Nil
    f.listStatus(base).filter(_.isDirectory).toIndexedSeq.flatMap { d =>
      f.listStatus(d.getPath).find(_.getPath.getName == "_COMMITTED")
        .map(m => d.getPath -> m.getModificationTime)
    }.sortBy(_._1.getName)
  }

  /** True iff `indexDir` holds at least one committed stage. */
  def hasCommits(spark: SparkSession, indexDir: String): Boolean =
    committed(spark, indexDir).nonEmpty

  /** The index generation: a hash of the committed stages' (name,
    * `_COMMITTED` mtime) pairs — O(stages) FileSystem calls, no Spark
    * job. Every build, append and delete commits a uniquely named stage,
    * so any mutation moves it with no counter to write. */
  def generation(spark: SparkSession, indexDir: String): String =
    Sha.hex(committed(spark, indexDir)
      .map { case (p, t) => s"${p.getName}:$t\n" }.mkString)

  /** Every row of the committed stages of an index, parsed from the
    * JSON lines [[commit]] writes: driver-side, no Spark job. A stage
    * dir without its `_COMMITTED` marker contributes nothing. */
  def rows(spark: SparkSession, indexDir: String): Seq[LineageRow] =
    committed(spark, indexDir).flatMap { case (p, _) =>
      readMarker(spark, s"$p/rows/rows.json").toSeq
        .flatMap(_.linesIterator.filter(_.nonEmpty).map(Json.readValue(_, classOf[LineageRow])))
    }

  /** [[rows]] as a local relation (inspection/tests): no Spark job. */
  def read(spark: SparkSession, indexDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows(spark, indexDir).toDF()
  }

  /** Idempotent publish of a staged append: move every data file under
    * `stagingDir` into `targetDir`, renaming it `<tag>-<name>` (one
    * level of `col=value` partition subdirs is preserved). Any target
    * files already carrying the tag prefix are deleted first, so a
    * re-run after a mid-publish kill converges to exactly one copy —
    * this is what makes `mode("append")` safe under resume (a plain
    * Spark append writes fresh UUID-named files on every attempt and
    * duplicates rows). The staging dir is removed on success. */
  def publishAppend(spark: SparkSession, stagingDir: String,
                    targetDir: String, tag: String): Unit = {
    val f = fs(spark, targetDir)
    val src = new Path(stagingDir)
    val dst = new Path(targetDir)
    f.mkdirs(dst)
    def dataFiles(dir: Path): Seq[Path] =
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).filter(_.isFile).map(_.getPath)
        .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .toIndexedSeq
    def partDirs(dir: Path): Seq[Path] =
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map(_.getPath).toIndexedSeq
    // pre-delete any previous (possibly partial) publish of this tag
    (dst +: partDirs(dst)).foreach { d =>
      dataFiles(d).filter(_.getName.startsWith(s"$tag-")).foreach(p => f.delete(p, false))
    }
    def moveInto(from: Path, to: Path): Unit = {
      f.mkdirs(to)
      dataFiles(from).foreach(p => f.rename(p, new Path(to, s"$tag-${p.getName}")))
    }
    moveInto(src, dst)
    partDirs(src).foreach(pd => moveInto(pd, new Path(dst, pd.getName)))
    f.delete(src, true): Unit
  }

  /** The on-disk format stamp, `lineage/_FORMAT`: one line naming the
    * table layout ([[IndexBuild.FormatVersion]]) and the normalizer
    * folds the stored terms went through ([[Tokenizer.NormalizerVersion]]).
    * A directory written under any other stamp is refused, never read
    * or extended through a fallback. */
  val FormatStamp: String =
    s"layout=${IndexBuild.FormatVersion} normalizer=${Tokenizer.NormalizerVersion}"

  def formatPath(dir: String): Path = new Path(s"$dir/lineage/_FORMAT")

  private def refuse(dir: String, found: Option[String]): Nothing =
    throw new IllegalArgumentException(
      s"index at $dir has format ${found.getOrElse("<no lineage/_FORMAT stamp>")} " +
        s"but this engine reads $FormatStamp (layout version and normalizer " +
        "version must both match): rebuild the index, or IndexBuild.compact " +
        "it into a fresh directory")

  /** Stamp `dir` with [[FormatStamp]] (overwrites). */
  def writeFormat(spark: SparkSession, dir: String): Unit =
    writeMarker(spark, formatPath(dir).toString, FormatStamp)

  /** Fail fast unless `dir` carries exactly [[FormatStamp]]: the check
    * every reader entry point runs before it touches a table. */
  def requireFormat(spark: SparkSession, dir: String): Unit = {
    val found = readMarker(spark, formatPath(dir).toString)
    if (!found.contains(FormatStamp)) refuse(dir, found)
  }

  /** The writer-side check, run by every [[stage]]: a stamped directory
    * must match; an unstamped one is stamped before its first stage body
    * runs, unless it already holds committed stages (an older format). */
  private def checkOrStamp(spark: SparkSession, dir: String): Unit =
    readMarker(spark, formatPath(dir).toString) match {
      case Some(FormatStamp) => ()
      case None if !hasCommits(spark, dir) => writeFormat(spark, dir)
      case found => refuse(dir, found)
    }

  /** Small marker files (format stamp, fingerprints, JSON files): plain
    * FileSystem reads and writes, like `_COMMITTED` — no Spark job. */
  private[graft] def readMarker(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val f = fs(spark, path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  private[graft] def writeMarker(spark: SparkSession, path: String, content: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** The one JSON codec of the small index files: lineage rows, the
    * [[Manifest]], stats deltas, LSH parameters and dump manifests.
    * Scala maps, sequences, options and case classes serialize as JSON
    * objects, arrays, values-or-null and objects; map keys in sorted
    * order, so a file's bytes depend only on its content. */
  private[graft] val Json: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .build()

  private[graft] def writeJson(spark: SparkSession, path: String, value: Any): Unit =
    writeMarker(spark, path, Json.writeValueAsString(value))

  private[graft] def readJson(spark: SparkSession, path: String): Option[JsonNode] =
    readMarker(spark, path).map(Json.readTree)

  /** Run `body` only if the stage is not yet committed; `body` must
    * return the lineage rows describing what it wrote. */
  def stage(spark: SparkSession, indexDir: String, stage: String)
           (body: => Seq[LineageRow]): Boolean = {
    checkOrStamp(spark, indexDir)
    if (isCommitted(spark, indexDir, stage)) false
    else {
      commit(spark, indexDir, stage, body)
      true
    }
  }
}
