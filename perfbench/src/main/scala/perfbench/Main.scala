package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{Bench, GraftSession}

/** One workload run in its own JVM. Writes `result.json` (and, traced,
  * `spans.jsonl`) into `--out`; perfbench/run.py turns that into the
  * benchmark's metrics.
  *
  * A run is one restart-then-serve session: the driver-query pass (pass 1
  * cold, pass 2 timed), then the page-view pipeline catching up on a
  * seeded T2 backlog, then live traffic on its HTTP surface.
  */
object Main {
  val shapes: Map[String, LiveShape] = Map(
    // the reference envelope: two pages, a 10-minute outage of the 5 ev/s
    // supplier as backlog, one SSE client
    "live_reference" -> LiveShape(backlogEvents = 3000, pages = 2, zipfS = 0.0,
      backlogFiles = 12, spanSec = 600, warmEvents = 2000, warmFiles = 4,
      publishRate = 4.0, senders = 2, subscribers = 1),
    // a consumer restarting on a large, Zipf-skewed, high-cardinality
    // backlog: the state store and the Analytics store grow large, and
    // each /publish job queues behind heavier micro-batches, so the sender
    // runs slower to stay inside its two connections' capacity
    "catchup_highcard" -> LiveShape(backlogEvents = 120000, pages = 20000,
      zipfS = 1.1, backlogFiles = 72, spanSec = 1800, warmEvents = 16000,
      warmFiles = 8, publishRate = 3.0, senders = 2, subscribers = 2))

  private def arg(args: Array[String], k: String, default: String): String =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }.getOrElse(default)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload", "")
    val shape = shapes.getOrElse(workload,
      sys.error(s"unknown workload '$workload' (have ${shapes.keys.mkString(", ")})"))
    val seed = arg(args, "--seed", "1").toLong
    val seconds = arg(args, "--seconds", "10").toInt
    val trace = arg(args, "--trace", "0") == "1"
    val out = Paths.get(arg(args, "--out", "out"))
    val data = Paths.get(arg(args, "--data", "perfbench/data"))
    val queries = arg(args, "--queries", "").split(',').filter(_.nonEmpty).toSeq
    val cores = arg(args, "--cores", Runtime.getRuntime.availableProcessors().toString).toInt
    Files.createDirectories(out)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val canSt = Seq.newBuilder[Double]; val canMt = Seq.newBuilder[Double]
    def canary(): Double = {
      val t0 = System.nanoTime()
      canSt += Bench.canaryStSec(100000000L); canMt += Bench.canaryMtSec(50000000L)
      (System.nanoTime() - t0) / 1e9
    }
    val canarySec = canary()

    val spark = GraftSession.local(cores)
    val tracer = if (trace) Some(new Tracer(spark, s"$workload-$seed")) else None
    tracer.foreach(_.attach())
    def ph[T](name: String)(f: => T): T = tracer.fold(f)(_.phase(name)(f))

    val driver = new DriverPass(spark, data.resolve("sf0.01").toString,
      data.resolve("sf0.001").toString, queries, tracer)
    val resultsDir = out.resolve("results")
    // set-up: the cold driver pass and the pipeline's warm-up drain and
    // backlog write run side by side; neither is timed
    val live = new Live(spark, out.resolve("live"), shape, seed, seconds, tracer)
    val prep = new Thread(() => live.prepare(), "perfbench-prepare")
    val prepFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    prep.setUncaughtExceptionHandler((_, e) => prepFailure.set(e))
    prep.start()
    val pass1 = ph("pass1")(driver.run(1, Some(resultsDir)))
    prep.join()
    Option(prepFailure.get()).foreach(e => throw e)
    val pass2Start = System.currentTimeMillis()
    // three warm passes, each row's fastest counts (graft.Bench takes the
    // per-query minimum of its passes): a host hiccup lands on one pass
    val warm = ph("pass2")(Seq.fill(3)(driver.run(2, None)))
    val pass2 = warm.transpose.map(_.minBy(_.sec))

    val liveResult = live.run()
    canary()
    val setupSec = (pass2Start - jvmStart) / 1e3 - canarySec + liveResult.setupSec

    val layers = tracer.fold(Map.empty[String, Any]) { tr =>
      tr.detach()
      tr.writeSpans(out.resolve("spans.jsonl"))
      Layers.reduce(tr, liveResult, pass2)
    }
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val hwmKb = status.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(Double.NaN)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

    val queryRuns = pass1 ++ warm.flatten
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "setup_s" -> setupSec,
      "rss_peak_mb" -> hwmKb / 1024.0,
      "canary" -> Map("st_s" -> canSt.result(), "mt_s" -> canMt.result()),
      "samples" -> Map(
        "publish_ms" -> liveResult.publishMs, "visible_ms" -> liveResult.visibleMs,
        "gen_late_ms" -> liveResult.genLateMs, "sse_gap_ms" -> liveResult.sseGapMs),
      "catchup" -> Map("events" -> liveResult.catchupEvents, "seconds" -> liveResult.catchupSec),
      "driver" -> Map(
        "batch_s" -> pass2.filterNot(_.replay).map(_.sec).sum,
        "replay_s" -> pass2.filter(_.replay).map(_.sec).sum,
        "queries" -> pass1.zip(pass2).map { case (a, b) =>
          Map("name" -> a.name, "replay" -> a.replay, "p1" -> a.sec, "p2" -> b.sec,
            "engine_s" -> b.engineSec, "error" -> (a.error + b.error))
        }),
      "ops" -> Map(
        "publishes" -> liveResult.publishes, "publish_failed" -> liveResult.publishFailed,
        "not_visible" -> liveResult.notVisible, "frames" -> liveResult.frames,
        "frames_missed" -> liveResult.framesMissed, "query_runs" -> queryRuns.size,
        "query_failed" -> queryRuns.count(!_.ok)),
      "checks" -> liveResult.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "jvm" -> Map("gc_s" -> gc, "jit_s" -> jit,
        "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount),
      "layers" -> layers)
    Files.write(out.resolve("result.json"), Json.write(result).getBytes("UTF-8"))
    // everything is written: skip Spark's shutdown (seconds of cleanup of a
    // run directory run.py deletes anyway)
    Runtime.getRuntime.halt(0)
  }
}
