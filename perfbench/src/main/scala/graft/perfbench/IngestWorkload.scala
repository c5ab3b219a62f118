package graft.perfbench

import scala.collection.mutable

import graft.corpus.SourceFile
import graft.index.{IndexBuild, IndexConfig}
import graft.search.SearchEngine

/** The `ingest` workload: writes beside reads.
  *
  * Setup generates a base corpus plus the append batches, and builds the
  * base `builds` times (positions off, the headline build config). Then
  * one client starts rounds for `seconds` (at least [[CountedRounds]]).
  * A round appends a batch of `batch` files carrying the batch's own
  * marker term, opens a new SearchEngine and searches the marker (a fresh
  * search); deletes `deletes` base ids and runs a fresh search again;
  * then runs `warmSearches` searches on the last engine. Checks:
  * the marker returns exactly the batch's docIds, no search returns a
  * deleted id, and at the end the live document count is exact and no
  * deleted id is live. */
object IngestWorkload {
  final case class Scale(docs: Int, builds: Int, batch: Int, deletes: Int,
                         warmSearches: Int, maxRounds: Int)

  val Full = Scale(docs = 3000, builds = 2, batch = 60, deletes = 100,
    warmSearches = 1, maxRounds = 12)

  /** Rounds that always run; the per-operation counts cover them. */
  final val CountedRounds = 1

  def config: IndexConfig = IndexConfig(docsPerShard = 1 << 14, termBuckets = 4,
    blockSize = 128, numPartitions = Main.Cores * 2, storageOrderIds = true)

  def marker(spec: CorpusSpec, round: Int): String =
    "zq" + Gen.word(spec.seed ^ 0x3a7c, round, 8)

  final case class Round(appendNs: Long, deleteNs: Long, openNs: Seq[Long],
                         freshNs: Seq[Long], warmNs: Seq[Long],
                         appendWork: Work, openWork: Work, failures: Int, ops: Int,
                         work: Work = Work())

  /** A new engine on `dir`, then the marker search collected: returns
    * ((docIds, open ns, open-to-result ns), engine, open work). */
  def freshSearch(ctx: Ctx, dir: String, id: String, marker: String,
                  batch: Int): ((Array[Int], Long, Long), SearchEngine, Work) = {
    val t0 = System.nanoTime()
    val ((engine, openWork), openNs) = Stats.timed(ctx.scoped(id)(
      ctx.tracer.span("index.open")(new SearchEngine(ctx.query, dir))))
    val got = ctx.tracer.span("search.search")(
      engine.search(marker, batch + 10).collect().map(_.getInt(0)))
    ((got, openNs, System.nanoTime() - t0), engine, openWork)
  }

  def run(ctx: Ctx): Outcome = run(ctx, Full)

  def run(ctx: Ctx, sc: Scale): Outcome = {
    import ctx.spark.implicits._
    val spec = CorpusSpec(ctx.seed, sc.docs, uniquePerDoc = 2)
    val t0 = System.nanoTime()
    val deltaDir = ctx.dir("ingest-delta")
    ctx.deleteDir("ingest-delta")
    // append batches 0 until maxRounds, plus one for the warm-up round
    val n = sc.docs.toLong
    val batch = sc.batch
    ctx.spark.range(n, n + (sc.maxRounds + 1L) * batch, 1, Main.Cores).map { i =>
      val r = ((i - n) / batch).toInt
      val f = spec.file(i)
      (r, f.copy(content = f.content + s"\n${marker(spec, r)}\n"))
    }.select($"_1".as("batch"), $"_2.*").write.partitionBy("batch").parquet(deltaDir)
    val deltaS = Stats.s(System.nanoTime() - t0)
    val setup = Setup.run(ctx, spec, sc.builds, config, "ingest")
    val dir = setup.dirs.last
    // warm-up on the first build: the append and open paths are
    // JIT-compiled before the timed rounds
    val (_, warmRoundNs) = Stats.timed {
      val wd = setup.dirs.head
      IndexBuild.append(ctx.spark, ctx.spark.read.parquet(s"$deltaDir/batch=${sc.maxRounds}")
        .as[SourceFile], wd, config, "warm")
      new SearchEngine(ctx.query, wd).search(marker(spec, sc.maxRounds), batch + 10).collect()
    }
    val heapAfterSetup = Host.liveHeapMb

    // ---- measured rounds -------------------------------------------------
    val deleted = mutable.LinkedHashSet.empty[Int]
    var nextId = sc.docs
    var draw = 0L
    val rounds = mutable.ArrayBuffer.empty[Round]
    val cpu0 = Host.cpuNs
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (rounds.size < CountedRounds ||
           (System.nanoTime() < deadline && rounds.size < sc.maxRounds)) {
      val r = rounds.size
      val id = s"round-$r"
      val roundWork0 = ctx.counters.total
      val delta = ctx.spark.read.parquet(s"$deltaDir/batch=$r").as[SourceFile]
      val ((_, appendWork), appendNs) = Stats.timed(ctx.scoped(s"$id-append")(
        ctx.tracer.span("index.append")(IndexBuild.append(ctx.spark, delta, dir, config, s"b$r"))))
      val (afterAppend, _, _) = freshSearch(ctx, dir, s"$id-open0", marker(spec, r), batch)
      var failures = 0
      if (afterAppend._1.toSet != (nextId until nextId + batch).toSet) {
        failures += 1
        System.err.println(s"[perfbench] round $r: marker returned ${afterAppend._1.length} " +
          s"docs, expected ids $nextId until ${nextId + batch}")
      }
      val ids = mutable.LinkedHashSet.empty[Int]
      while (ids.size < sc.deletes) {
        draw += 1
        val d = ((Gen.mix(ctx.seed * 31 + draw) >>> 1) % sc.docs).toInt
        if (!deleted.contains(d)) ids += d
      }
      val (_, deleteNs) = Stats.timed(ctx.tracer.span("index.delete")(
        IndexBuild.delete(ctx.spark, dir, ids.toSeq, s"d$r")))
      deleted ++= ids
      val (afterDelete, engine, openWork) = freshSearch(ctx, dir, s"$id-open1",
        marker(spec, r), batch)
      if (afterDelete._1.toSet != (nextId until nextId + batch).toSet) failures += 1
      nextId += batch
      val warmNs = (0 until sc.warmSearches).map { w =>
        val i = (Gen.mix(ctx.seed ^ (r * 64L + w)) >>> 1) % sc.docs
        val (h, m) = spec.ranks(i)
        val q = s"${spec.head(h(0))} ${spec.mid(m(0))}"
        val (hits, ns) = Stats.timed(ctx.tracer.span("search.search")(
          engine.search(q, 50, conjunctive = false).collect().map(_.getInt(0))))
        if (hits.exists(deleted.contains)) {
          failures += 1
          System.err.println(s"[perfbench] round $r: '$q' returned a deleted docId")
        }
        ns
      }
      val freshes = Seq(afterAppend, afterDelete)
      rounds += Round(appendNs, deleteNs, freshes.map(_._2), freshes.map(_._3), warmNs,
        appendWork, openWork, failures, ops = 4 + sc.warmSearches,
        work = ctx.counters.total - roundWork0)
    }
    val cpuNs = Host.cpuNs - cpu0
    val ops = rounds.map(_.ops).sum
    // per-operation counts over the first round only: later rounds run on
    // a larger index, and how many fit the window depends on the host
    val counted = rounds.take(CountedRounds)
    val perOp = Metrics.perOp(counted.map(_.work).reduce(_ + _), counted.map(_.ops).sum)
    val heapAfterRun = Host.liveHeapMb

    // ---- final state checks ----------------------------------------------
    val last = new SearchEngine(ctx.query, dir)
    val live = last.docsRaw.count()
    val expectLive = sc.docs + rounds.size * sc.batch - deleted.size
    val liveOk = live == expectLive
    if (!liveOk) System.err.println(s"[perfbench] live docs $live, expected $expectLive")
    val head = spec.head(0)
    val headDocs = last.candidates(head).as[Int].collect()
    val resurrected = headDocs.count(deleted.contains)
    if (resurrected > 0) System.err.println(s"[perfbench] $resurrected deleted ids match '$head'")
    val finalFailures = (if (liveOk) 0 else 1) + (if (resurrected == 0) 0 else 1)

    val appended = rounds.size * sc.batch
    val appendS = rounds.map(r => Stats.s(r.appendNs)).sum
    val appendPerS = appended / appendS
    val fresh = rounds.flatMap(_.freshNs).map(Stats.ms)
    val failed = rounds.map(_.failures).sum + finalFailures
    val first = rounds.headOption
    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else setup.layers ++ perOp ++ Map(
        "build_files_per_s" -> setup.buildFilesPerS,
        "build_cpu_ms_per_file" -> setup.buildCpuMsPerFile,
        "cpu_ms_per_op" -> Stats.ms(cpuNs) / math.max(1, ops),
        "append_files_per_s" -> appendPerS,
        "fresh_search_p50_ms" -> Stats.median(fresh),
        "index.append.s" -> Stats.median(rounds.map(r => Stats.s(r.appendNs))),
        "index.append.jobs" -> first.fold(0.0)(_.appendWork.jobs.toDouble),
        "index.append.shuffle_write_bytes" ->
          first.fold(0.0)(_.appendWork.shuffleWriteBytes.toDouble),
        "index.delete_ms" -> Stats.median(rounds.map(r => Stats.ms(r.deleteNs))),
        "index.open_ms" -> Stats.median(rounds.flatMap(_.openNs).map(Stats.ms)),
        "index.open_jobs" -> first.fold(0.0)(_.openWork.jobs.toDouble),
        "index.dict_terms" -> last.td.size.toDouble) ++
        Kernels.tokenize(spec) ++
        Kernels.vbyte(last, s"${spec.head(0)} ${spec.head(1)} ${spec.head(2)}") ++
        Kernels.parse(last, (0 until 50).map(i => s"${spec.head(i)} ${spec.mid(i)}")) ++
        SpanStats.of(ctx.tracer)
    Outcome(
      attempted = ops.toLong + 2,
      failed = failed.toLong,
      e2e = Map(
        "setup_s" -> (setup.setupS + deltaS + Stats.s(warmRoundNs)),
        "live_heap_peak_mb" -> math.max(heapAfterSetup, heapAfterRun)) ++ perOp,
      layers = layers,
      info = Map(
        "rounds" -> rounds.size, "appended_files" -> appended,
        "round_jobs" -> rounds.map(_.work.jobs), "round_tasks" -> rounds.map(_.work.tasks),
        "round_input_bytes" -> rounds.map(_.work.inputBytes),
        "append_files_per_s" -> appendPerS, "fresh_search_p50_ms" -> Stats.median(fresh),
        "build_files_per_s" -> setup.buildFilesPerS,
        "cpu_ms_per_op" -> Stats.ms(cpuNs) / math.max(1, ops),
        "deleted_ids" -> deleted.size, "live_docs" -> live,
        "samples" -> Map("fresh_search" -> fresh.size, "append" -> rounds.size),
        "warm_round_s" -> Stats.s(warmRoundNs),
        "append_s" -> rounds.map(r => Stats.s(r.appendNs)),
        "fresh_search_ms" -> fresh,
        "warm_search_p50_ms" -> Stats.median(rounds.flatMap(_.warmNs).map(Stats.ms)),
        "build_s" -> setup.buildS, "gen_s" -> (setup.genS + deltaS), "docs" -> sc.docs))
  }
}
