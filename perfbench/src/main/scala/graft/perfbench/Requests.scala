package graft.perfbench

import org.apache.spark.sql.Row

import graft.api.{Index, SearchRequest}
import graft.search.SearchEngine

/** One search request of the `search` workload. `cls` is the request
  * class: `bm25` (SearchEngine.search), `wand` (SearchEngine.searchWand)
  * or `cascade` (api.Index.search). `key` names it in digest files. */
sealed trait Req {
  def cls: String
  def key: String
  def text: String
}

final case class Bm25Req(q: String, k: Int, conj: Boolean) extends Req {
  def cls = "bm25"; def text = q
  def key = s"bm25|$q|$k|${if (conj) "and" else "or"}"
}

final case class WandReq(q: String, k: Int, conj: Boolean) extends Req {
  def cls = "wand"; def text = q
  def key = s"wand|$q|$k|${if (conj) "and" else "or"}"
}

final case class CascadeReq(variant: String, r: SearchRequest) extends Req {
  def cls = "cascade"; def text = r.q
  def key = s"cascade|$variant|${r.q}|${r.limit}|${r.filter.getOrElse("")}|" +
    s"${r.sort.mkString(",")}|${r.lastWordIsPrefix}|${r.highlight}"
}

/** Executes requests and reduces answers to comparable digests. */
object Answers {
  /** Canonical text of result rows: every column, doubles to 9
    * significant digits (the plans sum per-term scores in a fixed
    * order, so equal answers agree far beyond that). */
  def canon(rows: Seq[Row]): String = rows.map(_.toSeq.map {
    case d: Double => f"$d%.9e"
    case null => "null"
    case m: scala.collection.Map[_, _] => m.toSeq.map(_.toString).sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case other => other.toString
  }.mkString("\u0001")).mkString("\n")

  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(canon(rows).getBytes("UTF-8")).take(12).map(b => f"$b%02x").mkString
  }

  /** The answer of `r` through its own route. */
  def run(engine: SearchEngine, index: Index, r: Req): Seq[Row] = r match {
    case Bm25Req(q, k, c) => engine.search(q, k, c).collect().toSeq
    case WandReq(q, k, c) => engine.searchWand(q, k, c).collect().toSeq
    case CascadeReq(_, sr) => index.search(sr).collect().toSeq
  }

  /** The answer of `r` through the other BM25 plan, for the cross-check
    * (declarative vs WAND); cascade requests are re-run as they are. */
  def crossRun(engine: SearchEngine, index: Index, r: Req): Seq[Row] = r match {
    case Bm25Req(q, k, c) => engine.searchWand(q, k, c).collect().toSeq
    case WandReq(q, k, c) => engine.searchDF(q, k, c).collect().toSeq
    case c: CascadeReq => run(engine, index, c)
  }
}

/** Seeded request pool over a [[CorpusSpec]] corpus. Terms are taken
  * from regenerated documents, so AND queries have matches. Each class
  * has a fixed set of variants; the pool cycles through them, so every
  * seed has the same variant mix and only the terms differ. */
final class Pool(spec: CorpusSpec, seed: Long, nBm25: Int, nWand: Int, nCascade: Int) {
  import Gen._

  private var draw = 0L
  private def rnd(): Long = { draw += 1; mix(seed * 0x2545f491L + draw) }
  private def doc(): Long = (rnd() >>> 1) % spec.nDocs
  /** A term of document i whose Zipf rank is in [lo, hi) (any of the
    * document's terms if none is): banding keeps each variant's cost
    * similar from seed to seed. */
  private def pick(ranks: Array[Int], lo: Int, hi: Int): Int = {
    val in = ranks.filter(r => r >= lo && r < hi)
    val from = if (in.isEmpty) ranks else in
    from(((rnd() >>> 1) % from.length).toInt)
  }
  /** Frequent head term (in 35-50 % of the docs). */
  private def topOf(i: Long): String = spec.head(pick(spec.ranks(i)._1, 0, 8))
  /** Ordinary head term (in 5-15 % of the docs). */
  private def headOf(i: Long): String = spec.head(pick(spec.ranks(i)._1, 40, 120))
  /** Rare term (in tens of docs or fewer). */
  private def midOf(i: Long): String = spec.mid(pick(spec.ranks(i)._2, 40, 400))
  private def uniqueOf(i: Long): String =
    if (spec.uniquePerDoc == 0) midOf(i)
    else spec.unique(i, ((rnd() >>> 1) % spec.uniquePerDoc).toInt)
  /** One substitution at position 2: a distance-1 typo. */
  private def typo(w: String): String = {
    val c = if (w.charAt(2) == 'a') 'e' else 'a'
    w.substring(0, 2) + c + w.substring(3)
  }

  val bm25: IndexedSeq[Req] = (0 until nBm25).map { n =>
    val i = doc()
    n % 6 match {
      case 0 => Bm25Req(s"${uniqueOf(i)} ${headOf(i)}", 10, conj = true)
      case 1 => Bm25Req(s"${midOf(i)} ${midOf(doc())}", 20, conj = false)
      case 2 => Bm25Req(s"${headOf(i)} ${midOf(i)}", 50, conj = true)
      case 3 => Bm25Req(s"${topOf(i)} ${topOf(doc())}", 100, conj = false)
      case 4 => Bm25Req(s"${midOf(i)} ${headOf(i)} ${headOf(i)}", 10, conj = true)
      case _ => Bm25Req(uniqueOf(i), 10, conj = true)
    }
  }

  val wand: IndexedSeq[Req] = (0 until nWand).map { n =>
    val i = doc()
    n % 4 match {
      case 0 => WandReq(s"${topOf(i)} ${topOf(i)}", 10, conj = true)
      case 1 => WandReq(s"${topOf(i)} ${topOf(doc())} ${topOf(doc())}", 20, conj = false)
      case 2 => WandReq(s"${topOf(i)} ${midOf(i)}", 50, conj = false)
      case _ => WandReq(s"${topOf(i)} ${topOf(i)} ${topOf(i)}", 100, conj = true)
    }
  }

  val cascade: IndexedSeq[Req] = (0 until nCascade).map { n =>
    val i = doc()
    val plain = s"${headOf(i)} ${midOf(i)}"
    n % 8 match {
      case 0 => CascadeReq("plain", SearchRequest(q = plain, limit = 20))
      case 1 => CascadeReq("typo", SearchRequest(q = s"${headOf(i)} ${typo(midOf(i))}", limit = 20))
      case 2 => CascadeReq("filter", SearchRequest(q = plain, limit = 20,
        filter = Some(s"lang = ${spec.lang(i)}")))
      case 3 => CascadeReq("sort", SearchRequest(q = plain, limit = 20, sort = Seq("repo:asc")))
      case 4 => CascadeReq("prefix", SearchRequest(q = s"${headOf(i)} ${midOf(i).take(4)}",
        limit = 20, lastWordIsPrefix = true))
      case 5 => CascadeReq("highlight", SearchRequest(q = plain, limit = 10, highlight = true))
      case 6 => CascadeReq("three", SearchRequest(q = s"${headOf(i)} ${headOf(i)} ${midOf(i)}", limit = 20))
      case _ => CascadeReq("rare", SearchRequest(q = s"${uniqueOf(i)} ${headOf(i)}", limit = 20))
    }
  }

  def of(cls: Char): IndexedSeq[Req] = cls match {
    case 'b' => bm25; case 'w' => wand; case _ => cascade
  }

  def all: IndexedSeq[Req] = bm25 ++ wand ++ cascade
}

object Pool {
  /** Request classes in order, per 20 requests: 10 bm25, 3 wand,
    * 7 cascade (50 / 15 / 35 %). */
  final val Schedule = "bcbwcbbcbcbwcbbcbcwb"

  /** The n-th request of client `client`: the class comes from the
    * schedule; the request within the class is drawn Zipf-wise (q = 1),
    * so low-numbered requests of each class repeat most. */
  def pick(pool: Pool, seed: Long, client: Int, n: Long): (Req, Int) = {
    val reqs = pool.of(Schedule(((n + client * 10) % Schedule.length).toInt))
    val r = Gen.zipf(Gen.unit(Gen.mix(seed ^ (client.toLong << 40) ^ (n * 0x9e37L + 11))),
      reqs.length, 1.0)
    (reqs(r), r)
  }
}
