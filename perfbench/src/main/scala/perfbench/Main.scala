package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.config.EngineConfig

/** One closed-loop operation: its loop cycle, wall ms, process CPU ms,
  * traced or not. */
final case class Sample(kind: String, cycle: Int, ms: Double, cpuMs: Double, traced: Boolean)

/** One untraced loop cycle: its operations and wall seconds. */
final case class Cycle(samples: Seq[Sample], wallS: Double)

/** Everything a workload needs: the session, its scratch directory, the
  * seed, the probe and where outcomes go. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val cores: Int,
                val probe: Probe) {
  /** The engine configuration graft's own serving paths use. */
  val cfg: EngineConfig = graft.SparkEntry.IndexCfg

  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  /** `n` operations failed for the reason `what`. */
  def fail(what: String, n: Int = 1): Unit = {
    failed += n
    if (failures.size < 10) failures += what
    System.err.println(s"[perfbench] FAIL $what")
  }
  def firstFailures: Seq[String] = failures.toSeq

  var cycle = 0
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Wall seconds of each untraced loop cycle. */
  val cycleWalls = mutable.LinkedHashMap.empty[Int, Double]
  /** Untraced request latencies, of one kind or of all. */
  def latencies(kind: String = null): Seq[Double] =
    samples.filter(s => !s.traced && (kind == null || s.kind == kind)).map(_.ms).toSeq

  private val firsts = mutable.Map.empty[String, Any]
  private val repeatCounts = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** Records a request's response: a response that differs from the
    * first one for the same request fails. */
  def respond(request: String, response: Any): Unit =
    if (firsts.getOrElseUpdate(request, response) == response) repeatCounts(request) += 1
    else fail(s"$request: response differs from the first")
  def first[T](request: String): Option[T] = firsts.get(request).map(_.asInstanceOf[T])
  /** Responses equal to the first, which all fail if the first is wrong. */
  def sameAsFirst(request: String): Int = repeatCounts(request)

  /** Times one closed-loop operation (wall and process CPU); an
    * exception counts as a failure. */
  def op[T](kind: String)(f: => T): Option[T] = {
    attempted += 1
    probe.request += 1
    val (t0, c0) = (System.nanoTime(), Jvm.cpuNs)
    try {
      val r = probe.span(s"request.$kind")(f)
      samples += Sample(kind, cycle, (System.nanoTime() - t0) / 1e6, (Jvm.cpuNs - c0) / 1e6, probe.on)
      Some(r)
    } catch {
      case e: Exception => fail(s"$kind: $e"); None
    }
  }

  def untracedCycles: Seq[Cycle] =
    cycleWalls.toSeq.map { case (c, wall) => Cycle(samples.filter(_.cycle == c).toSeq, wall) }

  /** The end-to-end metrics of a request loop: requests per second of
    * the best cycle (host noise only ever slows a cycle down), and mean
    * process CPU per request over every untraced cycle (CPU time is not
    * lost to waiting, and the sum over all cycles spreads least).
    * Latencies (the best cycle's median, the all-cycle median and the
    * tail) go beside them in the report. */
  def requestMetrics(prefix: String): Unit = {
    val cs = untracedCycles
    val all = cs.flatMap(_.samples)
    endToEnd("ops_per_s") = (cs.map(c => c.samples.size / c.wallS).max, "1/s")
    endToEnd("cpu_ms_per_op") = (all.map(_.cpuMs).sum / all.size, "ms")
    report(s"${prefix}_best_cycle_p50_ms") = cs.map(c => Stats.median(c.samples.map(_.ms))).min.toString
    val ms = latencies()
    report(s"${prefix}_qps") = (ms.size / cs.map(_.wallS).sum).toString
    report(s"${prefix}_p50_ms") = Stats.median(ms).toString
    Stats.tail(ms).foreach { case (p, v, beyond) =>
      report(s"${prefix}_tail_ms") = v.toString
      report(s"${prefix}_tail_pct") = p.toString
      report(s"${prefix}_tail_beyond") = beyond.toString
    }
    report(s"${prefix}_requests") = ms.size.toString
  }

  def dir(name: String): String = work.resolve(name).toString

  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Named figures printed beside the result (JSON value text). */
  val report = mutable.LinkedHashMap.empty[String, String]
}

/** One workload: a set-up, a closed loop of fixed request cycles, a
  * correctness check, and (traced runs only) the single-layer calls that
  * give the per-layer metrics. */
abstract class Workload(val ctx: Ctx) {
  /** A loop cycle's wall time on the calibration host (4 vCPUs): a run
    * of S seconds measures round(S / cycleSeconds) cycles, at least
    * two, so both commits of a comparison do the same work. */
  def cycleSeconds: Double
  /** Set-ups per run; setup_s reports their median. Each set-up replaces
    * the last one's state. */
  def setupReps: Int = 1
  def setup(): Unit
  /** Runs once after the last set-up: fills caches and compiles every
    * plan the loop runs, so the first timed cycle is warm. */
  def warmup(): Unit = ()
  def cycle(c: Int): Unit
  def verify(): Unit
  def instrument(): Unit
  def metrics(): Unit
}

object Main {
  private def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload build|serve --seed N " +
      "--seconds S --trace 0|1 --work DIR")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case _ => usage()
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage())
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)

    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = Jvm.uptimeS

    val ctx = new Ctx(spark, work, seed, cores, new Probe(spark))
    val w: Workload = workload match {
      case "build" => new BuildWorkload(ctx)
      case "serve" => new ServeWorkload(ctx)
      case other => System.err.println(s"unknown workload $other"); usage()
    }

    // set-up and warm-up, untraced
    val setupS = Seq.fill(w.setupReps) {
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9

    // closed loop of whole cycles; a traced run alternates untraced and
    // traced cycles, all warm, and compares their operation latencies
    System.gc()
    Jvm.resetPeaks()
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    val cycles = math.max(2, math.round(seconds / w.cycleSeconds).toInt)
    for (c <- 0 until cycles) {
      ctx.probe.on = traced && c % 2 == 1
      ctx.cycle = c
      val c0 = System.nanoTime()
      w.cycle(c)
      if (!ctx.probe.on) ctx.cycleWalls(c) = (System.nanoTime() - c0) / 1e9
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val gcS = (Jvm.gcMs - gc0) / 1e3
    val heapMb = Jvm.heapPeakMb

    ctx.probe.on = false
    w.verify()
    ctx.report("error_rate") = (ctx.failed.toDouble / ctx.attempted).toString
    ctx.report("setup_reps_s") = setupS.mkString("[", ",", "]")
    ctx.report("spark_start_s") = sparkStartS.toString
    ctx.report("warmup_s") = warmupS.toString
    ctx.report("cycles") = cycles.toString
    ctx.report("loop_s") = loopS.toString
    ctx.report("samples") = ctx.samples.map(x => f"${x.kind}:${x.ms}%.0f/${x.cpuMs}%.0f")
      .map(Json.str).mkString("[", ",", "]")
    ctx.endToEnd("setup_s") = (sparkStartS + Stats.median(setupS) + warmupS, "s")
    w.metrics()

    if (traced) {
      ctx.probe.on = true
      w.instrument()
      ctx.perLayer("jvm.heap_peak_mb") = (heapMb, "MB")
      ctx.perLayer("jvm.gc_s") = (gcS, "s")
      // every cycle sends the same operations, so their summed latencies
      // compare directly between traced and untraced cycles
      def opS(traced: Boolean) = Stats.median(ctx.samples.filter(_.traced == traced)
        .groupBy(_.cycle).values.map(_.map(_.ms).sum).toSeq)
      val overhead = opS(true) / opS(false) - 1
      ctx.perLayer("trace.overhead_ratio") = (overhead, "ratio")
      val self = ctx.probe.selfSeconds
      for (l <- Seq("analyze", "index", "query", "request"))
        ctx.perLayer(s"$l.self_s") = (self.getOrElse(l, 0.0), "s")
      val tracePath = work.resolve(s"trace-$workload-$seed.jsonl")
      ctx.probe.flush(tracePath)
      ctx.report("trace_spans") = ctx.probe.spanCount.toString
      ctx.report("trace_file") = Json.str(tracePath.toString)
    }

    val layerNames = PerLayer.all
    val unknown = ctx.perLayer.keySet -- layerNames.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics not declared in PerLayer: $unknown")
    val metrics =
      if (traced) layerNames.map { case (k, u) => k -> ctx.perLayer.getOrElse(k, (0.0, u)) }
      else ctx.endToEnd.toSeq
    ctx.report("failures") = ctx.firstFailures.map(Json.str).mkString("[", ",", "]")
    println(Json.obj(Seq("report" -> Json.obj(ctx.report.toSeq))))
    println(Json.obj(Seq(
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
        k -> Json.obj(Seq("value" -> v.toString, "unit" -> Json.str(u)))
      }))))
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
