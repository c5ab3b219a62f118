package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.api.Index
import graft.functions.{Tokenizer, VByte}
import graft.index.TermDict
import graft.rank.MeiliRank
import graft.search.{LevWalk, SearchEngine, Wand}

/** Single-threaded kernel timings, minimum of 5, on inputs taken from the
  * workload's own corpus and index blocks. */
object Kernels {
  final val Reps = 5

  def tokenize(spec: CorpusSpec): Map[String, Double] = {
    val docs = 300
    val texts = (0 until docs).map(i => spec.file(i.toLong * spec.nDocs / docs).content)
    val bytes = texts.map(_.getBytes("UTF-8").length).sum
    val ns = Stats.minOf(Reps)(texts.foreach(t => Tokenizer.tokenize(t)))
    Map("functions.tokenize_ns_per_byte" -> ns.toDouble / bytes)
  }

  /** VByte delta codec over the posting blocks of `q`'s terms. */
  def vbyte(engine: SearchEngine, q: String): Map[String, Double] = {
    import engine.spark.implicits._
    val blocks = engine.blocksFor(engine.analyze(q)).select(col("docBytes"))
      .as[Array[Byte]].limit(4000).collect()
    val ids = blocks.map(VByte.decodeDeltas)
    val postings = ids.map(_.length).sum.max(1)
    val dec = Stats.minOf(Reps)(blocks.foreach(VByte.decodeDeltas))
    val enc = Stats.minOf(Reps)(ids.foreach(VByte.encodeDeltas))
    Map("functions.vbyte_encode_ns_per_posting" -> enc.toDouble / postings,
      "functions.vbyte_decode_ns_per_posting" -> dec.toDouble / postings)
  }

  def parse(engine: SearchEngine, queries: Seq[String]): Map[String, Double] = {
    val ns = Stats.minOf(Reps)(queries.foreach(q => engine.parseQuery(q)))
    Map("query.parse_us" -> ns / 1e3 / queries.size.max(1))
  }

  /** Wand.topKShard over shard 0 of an OR query of head terms. */
  def wandShard(engine: SearchEngine, q: String): Map[String, Double] = {
    import engine.spark.implicits._
    val terms = engine.analyze(q)
    val blocks = engine.blocksFor(terms).filter(col("shard") === 0)
      .select($"term", $"shard", $"firstDoc", $"lastDoc", $"count",
        $"docBytes", $"tfBytes", $"blockMaxTf").as[Wand.Block].collect()
    val lens = mutable.HashMap.empty[Int, Int]
    engine.doclen.filter(col("docId") < engine.docsPerShard)
      .select($"docId", $"len").as[(Int, Int)].collect().foreach { case (d, l) => lens(d) = l }
    val idfs = terms.map(t => t.term -> t.idf).toMap
    val ns = Stats.minOf(Reps)(
      Wand.topKShard(blocks, lens, idfs, engine.avgdl, 10, conjunctive = false).size)
    Map("search.wand_topk_shard_us" -> ns / 1e3)
  }

  /** LevWalk over the dictionary's length band around `w` (budget 2). */
  def levWalk(engine: SearchEngine, w: String): Map[String, Double] = {
    val (band, _) = engine.td.lengthBand(w.length - 2, w.length + 2)
    val ns = Stats.minOf(Reps)(LevWalk(band, w, 2))
    Map("search.levwalk_ms" -> ns / 1e6,
      "search.levwalk_visited_nodes" -> LevWalk.visitedNodes.toDouble)
  }
}

/** Per-layer measurements of the `search` workload's traced run.
  *
  * A fixed probe set (the first requests of each class, so counts repeat
  * exactly for a seed) runs serially after the measured loop. Each probe
  * runs once to warm, once untraced and once traced; the traced run
  * splits it into layer calls, and the untraced one gives the tracing
  * overhead. */
object SearchLayers {
  final case class Probe(req: Req, plainNs: Long, tracedNs: Long, work: Work,
                         planNs: Long = 0, execNs: Long = 0,
                         rankNs: Long = 0, rankWork: Work = Work(),
                         analyzeNs: Long = 0, formatNs: Long = 0)

  /** Two of each BM25 route, and the plain, typo, prefix and highlight
    * cascade variants. */
  def probes(pool: Pool): Seq[Req] =
    pool.bm25.take(2) ++ pool.wand.take(2) ++ Seq(0, 1, 4, 5).map(pool.cascade)

  def measure(ctx: Ctx, spec: CorpusSpec, engine: SearchEngine, index: Index,
              pool: Pool): Map[String, Double] = {
    val mr = new MeiliRank(engine)
    val results = probes(pool).zipWithIndex.map { case (r, n) =>
      val id = s"probe-$n"
      Answers.run(engine, index, r)
      val (_, plainNs) = Stats.timed(Answers.run(engine, index, r))
      ctx.tracer.withRequest(id) {
        r match {
          case c: CascadeReq =>
            val ((_, w), apiNs) = Stats.timed(ctx.scoped(id)(
              ctx.tracer.span("api.search")(index.search(c.r).collect())))
            val (_, analyzeNs) = Stats.timed(ctx.tracer.span("rank.analyze")(
              mr.analyze(c.r.q, c.r.lastWordIsPrefix)))
            val rules = MeiliRank.DefaultRules.flatMap {
              case "sort" => c.r.sort; case o => Seq(o)
            }
            val ((_, rw), rankNs) = Stats.timed(ctx.scoped(id + "-rank")(
              ctx.tracer.span("rank.search")(mr.search(c.r.q, c.r.limit,
                filterExpr = c.r.filter, lastIsPrefix = c.r.lastWordIsPrefix,
                rankingRules = rules).collect())))
            val formatNs =
              if (!c.r.highlight) 0L
              else apiNs - Stats.timed(index.search(c.r.copy(highlight = false)).collect())._2
            Probe(r, plainNs, apiNs, w, rankNs = rankNs, rankWork = rw,
              analyzeNs = analyzeNs, formatNs = formatNs)
          case _ =>
            val ((plan, exec), w) = ctx.scoped(id)(ctx.tracer.span("search.search") {
              val ((df, _), planNs) = Stats.timed {
                val df = r match {
                  case Bm25Req(q, k, cj) => engine.search(q, k, cj)
                  case WandReq(q, k, cj) => engine.searchWand(q, k, cj)
                  case _ => sys.error("unreachable")
                }
                (df, df.queryExecution.executedPlan)
              }
              (planNs, Stats.timed(df.collect())._2)
            })
            ctx.tracer.span("search.analyze")(engine.analyze(r.text))
            Probe(r, plainNs, plan + exec, w, planNs = plan, execNs = exec)
        }
      }
    }
    def cls(c: String) = results.filter(_.req.cls == c)
    def route(c: String): Map[String, Double] = {
      val ps = cls(c)
      val w = ps.map(_.work).foldLeft(Work())(_ + _)
      Map(s"search.$c.plan_ms" -> Stats.median(ps.map(p => Stats.ms(p.planNs))),
        s"search.$c.execute_ms" -> Stats.median(ps.map(p => Stats.ms(p.execNs))),
        s"search.$c.jobs" -> w.jobs.toDouble, s"search.$c.tasks" -> w.tasks.toDouble,
        s"search.$c.input_bytes" -> w.inputBytes.toDouble,
        s"search.$c.shuffle_bytes" -> w.shuffleBytes.toDouble)
    }
    val casc = cls("cascade")
    val rankW = casc.map(_.rankWork).foldLeft(Work())(_ + _)
    val dictNs = pool.bm25.take(2).map(r => Stats.timed(
      engine.td.lookup(engine.parseQuery(r.text).positiveTerms))._2)
    // the bucketed route a dictionary above the collect threshold takes:
    // pushed-down lookups, a length band and a prefix range
    val bucketed = new TermDict(engine.spark, s"${engine.indexDir}/dict", collectThreshold = 0)
    val bucketedNs = pool.bm25.take(2).map { r =>
      val words = engine.parseQuery(r.text).positiveTerms
      Stats.timed {
        bucketed.lookup(words)
        bucketed.lengthBand(words.head.length - 1, words.head.length + 1)
        bucketed.withPrefix(words.head.take(3), SearchEngine.MaxPrefixCount)
      }._2
    }
    val typoWord = pool.cascade.collectFirst {
      case CascadeReq("typo", sr) => sr.q.split(" ").last
    }.getOrElse("mabobe")
    val overhead = results.map(_.tracedNs).sum.toDouble / results.map(_.plainNs).sum - 1
    route("bm25") ++ route("wand") ++ Map(
      "rank.analyze_ms" -> Stats.median(casc.map(p => Stats.ms(p.analyzeNs))),
      "rank.search_ms" -> Stats.median(casc.map(p => Stats.ms(p.rankNs))),
      "rank.jobs" -> rankW.jobs.toDouble, "rank.tasks" -> rankW.tasks.toDouble,
      "rank.input_bytes" -> rankW.inputBytes.toDouble,
      "rank.shuffle_bytes" -> rankW.shuffleBytes.toDouble,
      "api.overhead_ms" -> Stats.median(casc.map(p => Stats.ms(p.tracedNs - p.rankNs))),
      "api.format_ms" -> Stats.median(casc.filter(_.req.asInstanceOf[CascadeReq].r.highlight)
        .map(p => Stats.ms(p.formatNs))),
      "index.dict_lookup_ms" -> Stats.median(dictNs.map(Stats.ms)),
      "index.dict_bucketed_ms" -> Stats.median(bucketedNs.map(Stats.ms)),
      "trace.overhead_pct" -> 100 * overhead) ++
      Kernels.tokenize(spec) ++
      Kernels.vbyte(engine, pool.wand.head.text) ++
      Kernels.parse(engine, pool.all.map(_.text)) ++
      Kernels.wandShard(engine, pool.wand(1).text) ++
      Kernels.levWalk(engine, typoWord) ++
      SpanStats.of(ctx.tracer)
  }
}

/** Median self time per span name, from the run's recorded spans. */
object SpanStats {
  final val Names = Seq("api.search", "rank.analyze", "rank.search", "search.search",
    "search.analyze", "index.build", "index.append", "index.delete", "index.open")

  def of(t: Tracer): Map[String, Double] = {
    val self = t.selfNs.groupMap(_._1.name)(x => Stats.ms(x._2))
    Names.map(n => s"span.$n.self_ms" -> Stats.median(self.getOrElse(n, Nil))).toMap
  }
}
