package graft.perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Index

/** Self-tests of the benchmark's instruments: per-request Spark counts
  * repeat exactly, and the correctness gate reports wrong answers. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Paths.get("target", "bench-spec").toAbsolutePath
  private lazy val ctx = {
    Ctx.deleteRec(work.toFile)
    Files.createDirectories(work)
    Ctx.open(work, "search", seed = 3L, seconds = 3, trace = true)
  }
  private val tiny = SearchWorkload.Scale(docs = 3000, uniquePerDoc = 2, builds = 1,
    nBm25 = 6, nWand = 4, nCascade = 8, clients = 2)
  private lazy val spec = CorpusSpec(ctx.seed, tiny.docs, uniquePerDoc = tiny.uniquePerDoc)
  private lazy val setup = Setup.run(ctx, spec, 1, SearchWorkload.config, "spec-idx")
  private lazy val pool = new Pool(spec, ctx.seed, tiny.nBm25, tiny.nWand, tiny.nCascade)

  override def afterAll(): Unit = {
    ctx.spark.stop()
    Ctx.deleteRec(work.toFile)
  }

  test("per-request jobs, stages, tasks and shuffle bytes repeat exactly") {
    val engine = setup.engine
    val index = new Index(engine)
    for (r <- Seq(pool.bm25.head, pool.wand.head, pool.cascade.head, pool.cascade(1))) {
      Answers.run(engine, index, r) // fills the engine's caches
      val counts = (0 until 20).map { n =>
        val (_, w) = ctx.scoped(s"repeat-${r.cls}-$n")(Answers.run(engine, index, r))
        (w.jobs, w.stages, w.tasks, w.shuffleReadBytes, w.shuffleWriteBytes)
      }
      assert(counts.head._1 > 0, s"${r.key}: no jobs counted")
      assert(counts.distinct.size == 1, s"${r.key}: counts differ across runs: ${counts.distinct}")
    }
  }

  test("the gate counts an answer that differs from the stored digest as failed") {
    val engine = setup.engine
    val index = new Index(engine)
    val right = pool.all.map(r => r.key -> Answers.digest(Answers.crossRun(engine, index, r))).toMap
    val good = SearchWorkload.run(ctx, tiny, Some(right))
    assert(good.attempted > 0 && good.failed == 0)
    val perturbed = right.map { case (k, d) => k -> d.reverse }
    val bad = SearchWorkload.run(ctx, tiny, Some(perturbed))
    assert(bad.attempted > 0 && bad.failed == bad.attempted)
  }
}
