package graft.index

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

import graft.functions.{BM25, Tokenizer}

/** The index manifest, `<indexDir>/manifest.json`: every setting the
  * build fixes, written once on the driver by the build's `stats` stage
  * (the reference keeps the same settings under the typed keys of its
  * `main` database, index.rs:39-81, and its dump carries them as one
  * `settings.json`). Every reader — the search engine, append, the
  * prefix tables, dumps — takes these settings from here and nowhere
  * else.
  *
  * @param n the build's document count (appends add theirs in
  *   `stats/delta-<batchId>`, see [[IndexBuild.corpusTotals]])
  * @param tokens the build's Σ doc length
  * @param fields (fid, name, weight) of a multi-field index's
  *   searchable fields in fid order; empty for a single-field index
  */
final case class Manifest(
    n: Long,
    tokens: Long,
    k1: Double,
    b: Double,
    docsPerShard: Int,
    termBuckets: Int,
    blockSize: Int,
    positions: Boolean,
    stopWords: Set[String],
    fields: Seq[(Int, String, Int)],
    tokenizer: Tokenizer.TokSettings) {

  /** The index's build settings with the caller's execution setting
    * (`numPartitions`): what a later writer builds with. */
  def config(numPartitions: Int): IndexConfig =
    IndexConfig(docsPerShard, termBuckets, blockSize, numPartitions, positions,
      stopWords, tokenizer)

  /** [[config]] for a writer extending this index (`op`), refusing a
    * `cfg` that disagrees on any build setting — each such field is
    * named — before anything is written: blocks encoded under other
    * settings would be unreadable, silently, to every query. */
  def checked(cfg: IndexConfig, op: String): IndexConfig = {
    val own = config(cfg.numPartitions).copy(storageOrderIds = cfg.storageOrderIds)
    val diff = cfg.productElementNames.zip(cfg.productIterator.zip(own.productIterator))
      .collect { case (k, (got, want)) if got != want => s"$k = $got (the index has $want)" }
      .toSeq
    require(diff.isEmpty, s"$op: the IndexConfig disagrees with the index's " +
      s"manifest on ${diff.mkString(", ")}; pass the settings the index was built with")
    own
  }

  /** The JSON object [[Manifest.read]] parses (sets sorted, chars as
    * one-character strings, `localesByFid` keyed by the fid's decimal). */
  def toJson: Map[String, Any] = {
    val t = tokenizer
    def chars(cs: Set[Char]) = cs.toSeq.sorted.map(_.toString)
    Map("N" -> n, "tokens" -> tokens, "k1" -> k1, "b" -> b,
      "docsPerShard" -> docsPerShard, "termBuckets" -> termBuckets,
      "blockSize" -> blockSize, "positions" -> positions,
      "stopWords" -> stopWords.toSeq.sorted,
      "fields" -> fields.map { case (fid, name, w) =>
        Map("fid" -> fid, "name" -> name, "weight" -> w) },
      "tokSettings" -> Map(
        "separatorTokens" -> chars(t.separatorTokens),
        "nonSeparatorTokens" -> chars(t.nonSeparatorTokens),
        "dictionary" -> t.dictionary.toSeq.sorted,
        "separatorStrings" -> t.separatorStrings.toSeq.sorted,
        "localesByFid" -> t.localesByFid.map { case (fid, loc) => fid.toString -> loc },
        "cjkUnigrams" -> t.cjkUnigrams))
  }
}

object Manifest {

  def path(indexDir: String): String = s"$indexDir/manifest.json"

  def write(spark: SparkSession, indexDir: String, m: Manifest): Unit =
    Lineage.writeJson(spark, path(indexDir), m.toJson)

  /** The manifest of the index at `indexDir`, after its format check:
    * a file read on the driver, no Spark job. */
  def read(spark: SparkSession, indexDir: String): Manifest = {
    Lineage.requireFormat(spark, indexDir)
    fromJson(Lineage.readJson(spark, path(indexDir)).getOrElse(
      throw new IllegalStateException(s"index at $indexDir has no manifest.json: " +
        "its build has not committed the stats stage")))
  }

  /** A [[Manifest.toJson]] object back to its manifest. Dump manifests
    * arrive from outside the program, so a missing key, a token that is
    * not one character or a locale key that is not a fid fails with its
    * name. */
  def fromJson(j: JsonNode): Manifest = {
    def at(o: JsonNode, k: String): JsonNode = Option(o.get(k)).getOrElse(
      throw new IllegalArgumentException(s"manifest: no '$k'"))
    def strs(o: JsonNode, k: String): Seq[String] = at(o, k).asScala.map(_.asText).toSeq
    def chars(o: JsonNode, k: String): Set[Char] = strs(o, k).map { s =>
      require(s.length == 1, s"manifest: '$k' entry '$s' is not one character")
      s.charAt(0)
    }.toSet
    val t = at(j, "tokSettings")
    Manifest(at(j, "N").asLong, at(j, "tokens").asLong, at(j, "k1").asDouble,
      at(j, "b").asDouble, at(j, "docsPerShard").asInt, at(j, "termBuckets").asInt,
      at(j, "blockSize").asInt, at(j, "positions").asBoolean,
      strs(j, "stopWords").toSet,
      at(j, "fields").asScala.map(f =>
        (at(f, "fid").asInt, at(f, "name").asText, at(f, "weight").asInt)).toSeq,
      Tokenizer.TokSettings(chars(t, "separatorTokens"), chars(t, "nonSeparatorTokens"),
        strs(t, "dictionary").toSet, strs(t, "separatorStrings").toSet,
        at(t, "localesByFid").properties().asScala.map { e =>
          require(e.getKey.nonEmpty && e.getKey.length < 10 && e.getKey.forall(_.isDigit),
            s"manifest: 'localesByFid' key '${e.getKey}' is not a fid")
          e.getKey.toInt -> e.getValue.asText
        }.toMap,
        Some(at(t, "cjkUnigrams")).filterNot(_.isNull).map(_.asBoolean)))
  }

  /** Moves whenever the codec's output does: a digest of one manifest
    * with every field set. Dump signatures carry it, so a dump written
    * under another codec is rewritten. */
  lazy val CodecTag: String = Sha.hex(Lineage.Json.writeValueAsString(
    Manifest(1L, 1L, BM25.K1, BM25.B, 1, 1, 1, positions = true, Set("s"), Seq((0, "f", 1)),
      Tokenizer.TokSettings(Set('_'), Set('-'), Set("d"), Set("||"), Map(0 -> "ja"),
        Some(true))).toJson)).take(8)
}
