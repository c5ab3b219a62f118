package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.Index
import graft.corpus.SourceFile
import graft.index.{IndexBuild, IndexConfig}
import graft.search.SearchEngine

/** The `search` workload: the read path.
  *
  * Setup generates the corpus (head, mid and unique vocabularies) and
  * builds it with positions, `builds` times, into fresh directories.
  * The dictionary stays below TermDict's collect threshold: a corpus
  * above it (2.2M terms) takes 23-35 s per build and ~2 s per request on
  * 4 cores, too slow for a run of seconds; the traced run measures the
  * bucketed route on this dictionary instead (see [[SearchLayers]]).
  * Then `clients` threads run a closed loop for
  * `seconds` over a seeded request pool (see [[Pool]]). Afterwards each
  * distinct answered request is re-run serially through the other plan
  * (bm25 via WAND, wand via the declarative plan, cascade as is): every
  * concurrent answer must equal it, and for the default seed it must
  * also equal the digest stored with the benchmark. */
object SearchWorkload {
  final case class Scale(docs: Int, uniquePerDoc: Int, builds: Int,
                         nBm25: Int, nWand: Int, nCascade: Int, clients: Int)

  val Full = Scale(docs = 3000, uniquePerDoc = 4, builds = 2,
    nBm25 = 8, nWand = 3, nCascade = 6, clients = 2)

  final val DefaultSeed = 1L

  def config: IndexConfig = IndexConfig(docsPerShard = 1 << 12, termBuckets = 4,
    blockSize = 128, numPartitions = Main.Cores * 2, storageOrderIds = true,
    positions = true)

  /** Result of one request in the closed loop. */
  final case class Done(req: Req, rank: Int, latNs: Long,
                        digest: Option[String], error: Option[String], work: Work)

  def run(ctx: Ctx): Outcome = run(ctx, Full, Expected.load(ctx, "search"))

  def run(ctx: Ctx, sc: Scale, expected: Option[Map[String, String]]): Outcome = {
    val spec = CorpusSpec(ctx.seed, sc.docs, uniquePerDoc = sc.uniquePerDoc)
    val setup = Setup.run(ctx, spec, sc.builds, config, "idx")
    setup.dirs.init.foreach(d => Ctx.deleteRec(new java.io.File(d)))
    val engine = setup.engine
    val index = new Index(engine)
    val pool = new Pool(spec, ctx.seed, sc.nBm25, sc.nWand, sc.nCascade)
    val dictTerms = engine.td.size

    // warm-up: requests from another seed, so no pool request is cached
    val t0 = System.nanoTime()
    val warm = new Pool(spec, ctx.seed ^ 0x77a1L, 1, 1, 1)
    warm.all.foreach(r => Answers.run(engine, index, r))
    val setupS = setup.setupS + Stats.s(System.nanoTime() - t0)
    val heapAfterSetup = Host.liveHeapMb

    // ---- measured closed loop --------------------------------------------
    val done = new ConcurrentLinkedQueue[Done]()
    val cpu0 = Host.cpuNs
    val start = System.nanoTime()
    val deadline = start + ctx.seconds * 1000000000L
    val threads = (0 until sc.clients).map { c =>
      val t = new Thread(() => {
        SparkSession.setActiveSession(ctx.query)
        var n = 0L
        while (System.nanoTime() < deadline) {
          val (req, rank) = Pool.pick(pool, ctx.seed, c, n)
          val id = s"c$c-$n"
          val t1 = System.nanoTime()
          val res = try {
            Right(ctx.tracer.withRequest(id) {
              ctx.counters.scoped(id)(ctx.tracer.span(spanOf(req))(Answers.run(engine, index, req)))
            })
          } catch { case e: Exception => Left(e.toString) }
          done.add(Done(req, rank, System.nanoTime() - t1,
            res.toOption.map(r => Answers.digest(r._1)), res.left.toOption,
            res.toOption.fold(Work())(_._2)))
          n += 1
        }
      }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val wallNs = System.nanoTime() - start
    val cpuNs = Host.cpuNs - cpu0
    val answers = done.asScala.toSeq
    val heapAfterRun = Host.liveHeapMb

    // ---- correctness: serial cross-plan answers --------------------------
    val distinct = answers.map(_.req).distinct
    val reference: Map[Req, Either[String, String]] = distinct.map { r =>
      r -> (try Right(Answers.digest(Answers.crossRun(engine, index, r)))
            catch { case e: Exception => Left(e.toString) })
    }.toMap
    val bad = answers.filter(d => !ok(d, reference(d.req), expected))
    bad.take(5).foreach(d => System.err.println(
      s"[perfbench] wrong answer: ${d.req.key} got ${d.digest.orElse(d.error)} " +
        s"reference ${reference(d.req)} expected ${expected.flatMap(_.get(d.req.key))}"))

    if (sys.props.get("perfbench.record").contains("true")) Expected.record(ctx, "search",
      pool.all.map(r => r.key -> Answers.digest(Answers.crossRun(engine, index, r))))

    val lat = answers.map(d => Stats.ms(d.latNs))
    def clsLat(c: String) = answers.filter(_.req.cls == c).map(d => Stats.ms(d.latNs))
    val qps = answers.size / Stats.s(wallNs)
    val repeats = answers.size - distinct.size
    val layers0 = Map(
      "build_files_per_s" -> setup.buildFilesPerS,
      "build_cpu_ms_per_file" -> setup.buildCpuMsPerFile,
      "cpu_ms_per_op" -> Stats.ms(cpuNs) / math.max(1, answers.size),
      "search_qps" -> qps,
      "search_p50_ms" -> Stats.median(lat),
      "search_p90_ms" -> Stats.quantile(lat, 0.9),
      "bm25_p50_ms" -> Stats.median(clsLat("bm25")),
      "wand_p50_ms" -> Stats.median(clsLat("wand")),
      "cascade_p50_ms" -> Stats.median(clsLat("cascade")),
      "index.dict_terms" -> dictTerms.toDouble)
    val perOp = expectedPerOp(pool, answers)
    val layers =
      if (!ctx.trace) layers0
      else layers0 ++ perOp ++ setup.layers ++ SearchLayers.measure(ctx, spec, engine, index, pool)
    Outcome(
      attempted = answers.size.toLong,
      failed = bad.size.toLong,
      e2e = Map(
        "setup_s" -> setupS,
        "live_heap_peak_mb" -> math.max(heapAfterSetup, heapAfterRun)) ++ perOp,
      layers = layers,
      info = Map(
        "requests" -> answers.size, "distinct_requests" -> distinct.size,
        "search_qps" -> qps, "search_p50_ms" -> Stats.median(lat),
        "build_files_per_s" -> setup.buildFilesPerS,
        "cpu_ms_per_op" -> Stats.ms(cpuNs) / math.max(1, answers.size),
        "repeat_share" -> repeats.toDouble / math.max(1, answers.size),
        "samples" -> Map("all" -> lat.size, "bm25" -> clsLat("bm25").size,
          "wand" -> clsLat("wand").size, "cascade" -> clsLat("cascade").size),
        "p50_ms" -> Map("bm25" -> Stats.median(clsLat("bm25")),
          "wand" -> Stats.median(clsLat("wand")),
          "cascade" -> Stats.median(clsLat("cascade"))),
        "p90_ms" -> Stats.quantile(lat, 0.9),
        "dict_terms" -> dictTerms, "docs" -> sc.docs,
        "build_s" -> setup.buildS, "gen_s" -> setup.genS,
        "clients" -> sc.clients, "checked_against_stored" -> expected.isDefined))
  }

  def spanOf(r: Req): String = if (r.cls == "cascade") "api.search" else "search.search"

  /** Spark work per request of the stream, each answered request weighted
    * by how often the stream draws it: its class's share of the schedule
    * times its Zipf probability within the class. Which requests a
    * window happens to complete then hardly moves the figure. */
  def expectedPerOp(pool: Pool, answers: Seq[Done]): Map[String, Double] = {
    val byReq = answers.groupBy(_.req).map { case (r, ds) => (r, ds.head.rank) -> ds.head.work }
    val perClass = Pool.Schedule.distinct.flatMap { c =>
      val reqs = pool.of(c)
      val seen = byReq.filter { case ((r, _), _) => reqs.contains(r) }
      if (seen.isEmpty) None
      else {
        val p = seen.map { case ((_, rank), w) => Gen.zipfProb(rank, reqs.length, 1.0) -> w }
        val z = p.keys.sum
        val share = Pool.Schedule.count(_ == c).toDouble / Pool.Schedule.length
        Some(share -> p.map { case (q, w) => Metrics.perOp(w, 1).map { case (k, v) => k -> v * q / z } }
          .reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) }))
      }
    }
    val shares = perClass.map(_._1).sum
    perClass.map { case (sh, m) => m.map { case (k, v) => k -> v * sh / shares } }
      .reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
  }

  /** An answer is right when the request did not fail, it equals the
    * serial answer of the other plan, and (default seed) the stored one. */
  def ok(d: Done, ref: Either[String, String],
         expected: Option[Map[String, String]]): Boolean =
    d.digest.isDefined && ref.toOption == d.digest &&
      expected.forall(_.get(d.req.key).forall(d.digest.contains))
}

/** Stored answer digests for the default seed. */
object Expected {
  def file(workload: String): java.nio.file.Path =
    java.nio.file.Paths.get(sys.props.getOrElse("perfbench.expected", "perfbench/expected"))
      .resolve(s"$workload-seed${SearchWorkload.DefaultSeed}.tsv")

  /** Writes the digests of the default seed (`-Dperfbench.record=true`). */
  def record(ctx: Ctx, workload: String, digests: Seq[(String, String)]): Unit = {
    require(ctx.seed == SearchWorkload.DefaultSeed, "digests are stored for the default seed only")
    java.nio.file.Files.createDirectories(file(workload).getParent)
    java.nio.file.Files.write(file(workload),
      digests.sorted.map { case (k, v) => s"$k\t$v" }.asJava)
  }

  def load(ctx: Ctx, workload: String): Option[Map[String, String]] = {
    val f = file(workload)
    if (ctx.seed != SearchWorkload.DefaultSeed || !java.nio.file.Files.exists(f)) None
    else Some(java.nio.file.Files.readAllLines(f).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t"); k -> v
    }.toMap)
  }
}

/** Index set-up shared by both workloads: generate the corpus once, build
  * it `builds` times into fresh directories and open the last build. The
  * first build also pays for class loading and JIT: set-up time takes the
  * median build, build throughput the fastest. */
final case class Setup(engine: SearchEngine, dirs: Seq[String],
                       genS: Double, buildS: Seq[Double],
                       setupS: Double, buildFilesPerS: Double,
                       buildCpuMsPerFile: Double, layers: Map[String, Double])

object Setup {
  def run(ctx: Ctx, spec: CorpusSpec, builds: Int, cfg: IndexConfig, name: String): Setup = {
    import ctx.spark.implicits._
    val t0 = System.nanoTime()
    val corpusDir = ctx.dir(s"$name-corpus")
    ctx.deleteDir(s"$name-corpus")
    spec.files(ctx.spark, 0, spec.nDocs, Main.Cores * 2).write.parquet(corpusDir)
    val corpus = ctx.spark.read.parquet(corpusDir).as[SourceFile]
    val genNs = System.nanoTime() - t0
    val dirs = (0 until builds).map(b => ctx.dir(s"$name-$b"))
    val dir = dirs.last
    var buildWork = Work()
    var startMs = 0L
    val buildCpuNs = mutable.ArrayBuffer.empty[Long]
    val buildNs = (0 until builds).map { b =>
      ctx.deleteDir(s"$name-$b")
      startMs = System.currentTimeMillis()
      val cpu0 = Host.cpuNs
      val ((_, work), ns) = Stats.timed(ctx.scoped(s"build-$b")(
        ctx.tracer.span("index.build")(IndexBuild.build(ctx.spark, corpus, dirs(b), cfg))))
      buildCpuNs += Host.cpuNs - cpu0
      buildWork = work
      ns
    }
    val ((engine, openWork), openNs) = Stats.timed(ctx.scoped("open")(
      ctx.tracer.span("index.open")(new SearchEngine(ctx.query, dir))))
    val buildS = buildNs.map(Stats.s)
    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val contentBytes = corpus.select(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length($"content"))).as[Long].collect()(0)
        stageSeconds(dir, startMs) ++ Map(
          "index.build.cpu_s" -> buildWork.cpuNs / 1e9,
          "index.build.tasks" -> buildWork.tasks.toDouble,
          "index.build.shuffle_write_bytes" -> buildWork.shuffleWriteBytes.toDouble,
          "index.build.spill_bytes" -> buildWork.spillBytes.toDouble,
          "index.bytes_per_input_byte" -> dirBytes(new java.io.File(dir)).toDouble / contentBytes,
          "index.open_ms" -> Stats.ms(openNs),
          "index.open_jobs" -> openWork.jobs.toDouble)
      }
    Setup(engine, dirs, Stats.s(genNs), buildS,
      Stats.s(genNs + openNs) + Stats.median(buildS), spec.nDocs / buildS.min,
      Stats.ms(buildCpuNs.min) / spec.nDocs, layers)
  }

  /** Build stage durations from the lineage commit markers: each stage
    * ends at its `_COMMITTED` marker and starts at the previous one (the
    * first at `startMs`, when the build began). */
  def stageSeconds(dir: String, startMs: Long): Map[String, Double] = {
    val lineage = new java.io.File(dir, "lineage")
    val marks = Option(lineage.listFiles()).toSeq.flatten
      .map(d => d.getName -> new java.io.File(d, "_COMMITTED"))
      .filter(_._2.exists).map { case (n, f) => n -> f.lastModified() }.sortBy(_._2)
    val durs = marks.zip(startMs +: marks.map(_._2)).map {
      case ((n, end), prev) => n.replaceAll("_bucket_\\d+$", "") -> (end - prev) / 1000.0
    }.groupMapReduce(_._1)(_._2)(_ + _)
    Map(
      "index.build.docs_s" -> durs.getOrElse("docs", 0.0),
      "index.build.postings_s" -> durs.getOrElse("postings", 0.0),
      "index.build.doclen_s" -> durs.getOrElse("doclen", 0.0),
      "index.build.dict_s" -> durs.getOrElse("dict", 0.0),
      "index.build.stats_s" -> durs.getOrElse("stats", 0.0),
      "index.positions_build_s" -> durs.getOrElse("positions", 0.0))
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()
}
