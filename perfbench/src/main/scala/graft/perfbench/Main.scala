package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per process.
  *
  *   Main --workload search|ingest --seed N --seconds S --trace 0|1 --work DIR
  *
  * Prints one JSON line of host facts (`{"info": ...}`), then, as the
  * last line, `{"correct", "attempted", "failed", "metrics"}`. With
  * `--trace 0` the metrics are the end-to-end set of [[Metrics.EndToEnd]];
  * with `--trace 1` the per-layer set of [[Metrics.PerLayer]], measured
  * with spans and Spark counters on. */
object Main {
  final val Cores = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a.getOrElse("work", sys.error("--work is required"))).toAbsolutePath
    val runner: Ctx => Outcome = workload match {
      case "search" => SearchWorkload.run
      case "ingest" => IngestWorkload.run
      case other => sys.error(s"unknown workload '$other' (search|ingest)")
    }
    Files.createDirectories(work)
    val ctx = Ctx.open(work, workload, seed, seconds, trace)
    val out = try {
      val before = Map("steal_s" -> Host.stealS, "mem_bw_gbs" -> Host.memBandwidthGBs)
      val o = runner(ctx)
      val after = Map("steal_s" -> Host.stealS, "mem_bw_gbs" -> Host.memBandwidthGBs)
      if (trace) ctx.tracer.write(work.resolve("spans.jsonl"))
      println(Json.obj(Map("info" -> (o.info ++ Host.static(ctx.spark) ++ Map(
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "host_before" -> before, "host_after" -> after)))))
      o
    } finally ctx.spark.stop()
    val metrics =
      if (trace) Metrics.PerLayer.map { case (n, u) => n -> (out.layers.getOrElse(n, 0.0), u) }
      else Metrics.EndToEnd.map { case (n, u) =>
        n -> (out.e2e.getOrElse(n, sys.error(s"workload did not measure $n")), u) }
    println(Json.obj(Map(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metrics.map { case (n, (v, u)) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
  }
}

/** What a workload reports. `e2e` must hold every end-to-end metric;
  * `layers` holds the per-layer metrics it measured (others read 0). */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double],
                         layers: Map[String, Double],
                         info: Map[String, Any])

/** Process-wide state of one run: the sessions, tracing and counters. */
final class Ctx(val work: Path, val workload: String, val seed: Long,
                val seconds: Int, val trace: Boolean,
                val spark: SparkSession, val query: SparkSession) {
  val tracer = new Tracer(trace)
  val counters = new Counters(spark.sparkContext)
  spark.sparkContext.addSparkListener(counters)

  /** `f` under a per-request job group when tracing, with its work. */
  def scoped[T](group: String)(f: => T): (T, Work) =
    if (trace) counters.scoped(group)(f) else (f, Work())

  def dir(name: String): String = work.resolve(name).toString

  def deleteDir(name: String): Unit = Ctx.deleteRec(work.resolve(name).toFile)
}

object Ctx {
  /** Build session: AQE on (the build's exchanges benefit from
    * coalescing). Query session: AQE off, as SearchEngine's scaladoc
    * prescribes for interactive serving. Both share one SparkContext
    * with zstd shuffle compression and a local dir inside `work`. */
  def open(work: Path, workload: String, seed: Long, seconds: Int,
           trace: Boolean): Ctx = {
    val local = work.resolve("spark-local")
    deleteRec(local.toFile)
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[${Main.Cores}]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Main.Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val query = spark.newSession()
    query.conf.set("spark.sql.adaptive.enabled", "false")
    new Ctx(work, workload, seed, seconds, trace, spark, query)
  }

  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def ms(ns: Long): Double = ns / 1e6
  def s(ns: Long): Double = ns / 1e9

  def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val v = f
    (v, System.nanoTime() - t0)
  }

  /** Minimum over `reps` runs of `f`, in ns. */
  def minOf(reps: Int)(f: => Unit): Long =
    (0 until reps).map(_ => timed(f)._2).min
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
