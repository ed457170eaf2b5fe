package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{PageEvent, PageEventCodec}
import graft.operators.PageViews
import graft.sources.Topics
import graft.streaming.PageEventPipeline

/** Shape of one restart-then-serve session of the reference topology. */
final case class LiveShape(
    backlogEvents: Int,   // events waiting on T2 when the job starts
    pages: Int,           // distinct page keys in the backlog
    zipfS: Double,        // page-key skew (0 = uniform)
    backlogFiles: Int,    // producer appends the backlog is written in
    spanSec: Int,         // event-time span of the backlog
    warmEvents: Int,      // warm-up drain on a separate topic root
    warmFiles: Int,
    publishRate: Double,  // open-loop /publish calls per second
    senders: Int,         // HTTP connections the sender uses
    subscribers: Int)     // SSE clients on /analytics

/** Everything a live run measured, as plain data for the result file. */
final case class LiveResult(
    catchupEvents: Long, catchupSec: Double,
    publishMs: Seq[Double], visibleMs: Seq[Double], genLateMs: Seq[Double],
    sseGapMs: Seq[Double], frames: Int, framesMissed: Int,
    publishes: Int, publishFailed: Int, notVisible: Int,
    setupSec: Double, checks: Seq[(String, Boolean, String)],
    layers: Map[String, Any])

/** Drives [[PageEventPipeline]] the way a user sees it: a seeded backlog
  * through the Topic producer API, `startJob` catching up, then live
  * traffic through `startServer`'s HTTP surface (`/publish` from an
  * open-loop sender, `/analytics` SSE subscribers) with the reference's
  * supplier running. Nothing inside the engine is modified or hooked.
  */
final class Live(spark: SparkSession, root: Path, shape: LiveShape,
                 seed: Long, seconds: Int, tracer: Option[Tracer]) {

  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  /** Wall clock in ms from a monotonic source. */
  private def now(): Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(now() - t0Ms) / 1e3}%7.2f s] $msg")

  // the sender's pages: the supplier only ever emits P1/P2, so these
  // windows hold /publish events alone and each event's rank is exact
  private val senderPages = Seq("L1", "L2")

  // ---- seeded inputs -------------------------------------------------------

  /** Backlog rows in wire form. Event time increases with the row index
    * minus a jitter below 8 s, so events arrive out of order but never
    * behind the 10 s watermark: the streamed counts equal the batch answer.
    * The base is hour-aligned (windows are 5 s epoch buckets, so the
    * bucketing is identical for a given seed) and ends over an hour ago,
    * inside the Analytics store's 24 h retention and behind live traffic.
    */
  private def backlog(n: Int, files: Int, salt: Long): Seq[Seq[Row]] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + salt)
    val cdf = {
      val w = (1 to shape.pages).map(k => 1.0 / math.pow(k, shape.zipfS))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    def page(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      s"P${(if (i >= 0) i else -i - 1).min(shape.pages - 1) + 1}"
    }
    val base = (t0Ms / 3600000L - 2) * 3600000L
    val spanMs = shape.spanSec * 1000L
    val rows = (0 until n).map { i =>
      val date = base + i * spanMs / n - rng.nextLong(8000L)
      Row(page(), s"U${1 + rng.nextInt(2)}", date, 10L + rng.nextInt(10000))
    }
    rows.grouped(math.max(1, (n + files - 1) / files)).toSeq
  }

  /** Appends the backlog one wire file per chunk. The job's source takes
    * files oldest first, at most 64 per micro-batch (FileTopic), so the
    * files of one 64-file group always share a batch: they are written
    * concurrently, and each group only after the one before it has landed.
    */
  private def writeBacklog(p: PageEventPipeline, chunks: Seq[Seq[Row]]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try chunks.grouped(64).foreach { group =>
      group.map(c => pool.submit[Unit](() =>
        p.t2.append(spark.createDataFrame(c.asJava, PageEvent.wireSchema)))).foreach(_.get())
      Thread.sleep(5) // modification times of the next group sort strictly after
    } finally pool.shutdown()
  }

  // live traffic before the timed window: the publish path, the supplier
  // and the small-batch cadence reach steady state (JIT) before sampling
  private val warmInMs = 2000.0

  /** Open-loop schedule: Poisson arrivals at `publishRate` over the warm-in
    * and the timed window, names drawn from the sender's pages.
    */
  private def schedule(): Seq[(Double, String)] = {
    val rng = new java.util.SplittableRandom(seed * 7919L + 17L)
    Iterator.iterate(0.0)(t => t - math.log(1.0 - rng.nextDouble()) * 1000.0 / shape.publishRate)
      .drop(1).takeWhile(_ < warmInMs + seconds * 1000.0)
      .map(t => (t, senderPages(rng.nextInt(senderPages.size)))).toSeq
  }

  // ---- load and probes -----------------------------------------------------

  private final case class Sent(due: Double, start: Double, end: Double,
                                name: String, echo: Option[(String, Long, Long)],
                                timed: Boolean)

  private val echoRx = """"user":"([^"]*)","date":(\d+),"duration":(\d+)""".r
  private val wireRx = """"name":"([^"]*)","user":"([^"]*)","date":(\d+),"duration":(\d+)""".r

  private def get(port: Int, path: String): String = {
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(5000); c.setReadTimeout(30000)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
    if (code != 200) throw new java.io.IOException(s"HTTP $code: $body")
    body
  }

  /** One SSE client: records each frame's arrival time until closed. */
  private final class Subscriber(port: Int) extends Thread("perfbench-sse") {
    setDaemon(true)
    val frames = new ConcurrentLinkedQueue[Double]()
    @volatile private var conn: HttpURLConnection = _
    override def run(): Unit = try {
      conn = new URL(s"http://127.0.0.1:$port/analytics").openConnection()
        .asInstanceOf[HttpURLConnection]
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream, UTF_8))
      Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.startsWith("data:")).foreach(_ => frames.add(now()))
    } catch { case _: java.io.IOException => () }
    def close(): Unit = { Option(conn).foreach(_.disconnect()); interrupt() }
  }

  /** Polls `Analytics.snapshot(windowStart, 0)` for the windows live
    * events land in, recording when each (page, window) count changed.
    */
  private final class Poller(p: PageEventPipeline) extends Thread("perfbench-poll") {
    setDaemon(true)
    val running = new AtomicBoolean(true)
    val senderDone = new AtomicBoolean(false)
    val windows = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val expected = new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]()
    // written by this thread only; read after join()
    val series = mutable.Map.empty[(String, Long), mutable.ArrayBuffer[(Double, Long)]]
    val snapshotMs = new ConcurrentLinkedQueue[Double]()
    override def run(): Unit = while (running.get()) {
      val tNow = now()
      val round0 = System.nanoTime()
      windows.asScala.toSeq.foreach { ws =>
        val t0 = System.nanoTime()
        val snap = p.analytics.snapshot(ws, 0L)
        val at = now()
        if (tracer.isDefined) snapshotMs.add((System.nanoTime() - t0) / 1e6)
        val done = senderPages.forall { pg =>
          val cnt = snap.getOrElse(pg, 0L)
          val s = series.getOrElseUpdate((pg, ws), mutable.ArrayBuffer.empty)
          if (cnt > 0 && (s.isEmpty || s.last._2 != cnt)) s += ((at, cnt))
          cnt >= expected.getOrDefault((pg, ws), 0)
        }
        // a window is finished once every echoed event in it is counted
        // and no event can still be dated in it or have its echo in flight
        if (done && (senderDone.get() || (ws + 15) * 1000.0 < tNow)) windows.remove(ws)
      }
      // at most 100 Hz, and busy at most a fifth of the time: each snapshot
      // scans the whole store, and a large store must not lose a core to
      // the probe
      Thread.sleep(math.max(10L, 4 * (System.nanoTime() - round0) / 1000000L))
    }
  }

  private def runSender(port: Int, sched: Seq[(Double, String)],
                        poller: Poller): Seq[Sent] = {
    val out = new ConcurrentLinkedQueue[Sent]()
    val next = new AtomicInteger(0)
    val start = now() + 200.0
    val threads = (0 until shape.senders).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < sched.size) {
          val (off, name) = sched(i)
          val due = start + off
          poller.windows.add((due / 1000).toLong / 5 * 5)
          val wait = due - now()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val s = now()
          val echo = try {
            val body = tracer.fold(get(port, s"/publish?name=$name&topic=T2"))(
              _.timed("publish", "live")(get(port, s"/publish?name=$name&topic=T2")))
            echoRx.findFirstMatchIn(body).map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong))
          } catch { case _: Exception => None }
          echo.foreach { case (_, date, dur) =>
            val ws = date / 1000 / 5 * 5
            poller.windows.add(ws)
            if (dur > 100) poller.expected.merge((name, ws), 1, Integer.sum)
          }
          out.add(Sent(due, s, now(), name, echo, off >= warmInMs))
          i = next.getAndIncrement()
        }
      }, "perfbench-send")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq.sortBy(_.due)
  }

  // ---- the run ---------------------------------------------------------------

  private def ph[T](name: String)(f: => T): T = tracer.fold(f)(_.phase(name)(f))

  private val topics = root.resolve("topics")
  private val p = new PageEventPipeline(spark, topics.toString)

  /** The JSON wire files of a topic directory (FileTopic layout). */
  private def wireFiles(dir: Path): Seq[Path] =
    Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".json")).toList)
  private val chunks = backlog(shape.backlogEvents, shape.backlogFiles, 2L)

  /** Set-up that needs no HTTP surface: a warm-up drain on its own topic
    * root (codegen, JIT and state-store start-up are paid here, not by the
    * timed catch-up), then the seeded backlog written to T2.
    */
  def prepare(): Unit = {
    val warm = new PageEventPipeline(spark, root.resolve("warm/topics").toString)
    writeBacklog(warm, backlog(shape.warmEvents, shape.warmFiles, 1L))
    val wq = warm.startJob(root.resolve("warm/ckpt").toString)
    try wq.processAllAvailable() finally wq.stop()
    log("warm-up drain done")
    writeBacklog(p, chunks)
    log("backlog written")
  }

  def run(): LiveResult = {
    val setup0 = now()
    val server = p.startServer()
    val port = server.boundPort
    val subs = (0 until shape.subscribers).map { _ => val s = new Subscriber(port); s.start(); s }
    val poller = new Poller(p)
    val setupSec = (now() - setup0) / 1e3

    val ckpt = root.resolve("ckpt").toString
    val c0 = now()
    val q = ph("catchup") {
      val q = p.startJob(ckpt)
      q.processAllAvailable()
      q
    }
    val c1 = now()
    log("caught up")

    poller.start()
    val supplier = p.startSupplier(ckpt, 5)
    val sent = ph("live")(runSender(port, schedule(), poller))
    poller.senderDone.set(true)
    val l1 = now()
    log("live window over")
    // drain: with the supplier stopped, the job processes everything on
    // T2; then every echoed event must be visible (bounded wait)
    supplier.stop()
    q.processAllAvailable()
    val deadline = now() + 20000.0
    while (!poller.windows.isEmpty && now() < deadline) Thread.sleep(20)
    poller.running.set(false); poller.join()
    q.stop()
    log("pipeline drained and stopped")
    // closing the SSE clients and HttpServer.stop can each block for
    // seconds (a handler notices its client left only at its next frame);
    // let that overlap the checks below
    val stopper = new Thread(() => { subs.foreach(_.close()); server.stop() }, "perfbench-stop")
    stopper.start()

    // ---- SSE cadence over the timed phases
    val gaps = subs.flatMap { s =>
      val fr = s.frames.asScala.toSeq.filter(t => t >= c0 && t <= l1)
      fr.zip(fr.drop(1)).map { case (a, b) => b - a }
    }
    val frames = subs.map(_.frames.asScala.count(t => t >= c0 && t <= l1)).sum
    val missed = gaps.count(_ > 3000.0)

    // ---- T2 wire contents: per-file mtime gives each event's append order
    val t2Dir = topics.resolve(Topics.T2)
    val t2Files = wireFiles(t2Dir)
    val liveStartMs = c1
    val mtime = mutable.Map.empty[(String, String, Long, Long), Long]
    t2Files.filter(f => f.getParent == t2Dir &&
        Files.getLastModifiedTime(f).toMillis >= liveStartMs).foreach { f =>
      val ns = Files.getLastModifiedTime(f).to(java.util.concurrent.TimeUnit.NANOSECONDS)
      Files.readAllLines(f).asScala.flatMap(wireRx.findFirstMatchIn).foreach { g =>
        mtime((g.group(1), g.group(2), g.group(3).toLong, g.group(4).toLong)) = ns
      }
    }

    // ---- publish-to-visible per echoed, counted event
    val ok = sent.filter(_.echo.isDefined)
    val counted = ok.filter(_.echo.get._3 > 100)
    val ranked = counted.groupBy(s => (s.name, s.echo.get._2 / 1000 / 5 * 5)).toSeq.flatMap {
      case (key, evs) =>
        val withT = evs.map(s => (s, mtime.get((s.name, s.echo.get._1, s.echo.get._2, s.echo.get._3))))
        val known = withT.collect { case (s, Some(t)) => (s, t) }.sortBy(_._2)
        val series = poller.series.getOrElse(key, mutable.ArrayBuffer.empty)
        known.map { case (s, t) =>
          val rank = known.count(_._2 <= t)
          (s, series.find(_._2 >= rank).map(_._1 - s.due))
        } ++ withT.collect { case (s, None) => (s, None) }
    }
    val visible = ranked.filter(_._1.timed).flatMap(_._2)
    val notVisible = ranked.count(_._2.isEmpty)
    log("visibility resolved")

    // ---- correctness: store and T4 both equal the batch recount of T2
    val expected = PageViews.pageCounts(PageEventCodec.fromWire(p.t2.batch(spark)),
        "name", "date", "duration")
      .select("name", "window_start", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val t4 = p.t4.batch(spark).groupBy("name", "window_start").agg(max("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byWindow = expected.groupBy(_._1._2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val storeBad = try {
      byWindow.toSeq.map { case (ws, kv) =>
        pool.submit(() => {
          val want = kv.map { case ((n, _), c) => n -> c }
          p.analytics.snapshot(ws, 0L) != want
        })
      }.count(_.get())
    } finally pool.shutdown()
    val inputRows = chunks.map(_.size).sum
    log("correctness checked")
    stopper.join()
    val checks = Seq(
      ("store_equals_batch", storeBad == 0 && p.analytics.size == expected.size,
        s"${expected.size} (page, window) counts, store holds ${p.analytics.size}, $storeBad windows differ"),
      ("t4_equals_batch", t4 == expected,
        s"T4 holds ${t4.size} (page, window) maxima, batch has ${expected.size}"),
      ("published_on_wire", ok.forall(s => mtime.contains((s.name, s.echo.get._1, s.echo.get._2, s.echo.get._3))),
        s"${ok.size} echoed /publish events"))

    val layers: Map[String, Any] = if (tracer.isEmpty) Map.empty else Map(
        "serve.snapshot_ms" -> poller.snapshotMs.asScala.toSeq,
        "serve.store_entries" -> p.analytics.size,
        "serve.frames" -> frames,
        "sources.t2_files" -> t2Files.size,
        "sources.t2_bytes" -> t2Files.map(Files.size).sum,
        "sink.t4_files" -> wireFiles(topics.resolve(Topics.T4)).size,
        "job_query_id" -> q.id.toString,
        // (append time, events) per T2 file, for the consumer-lag series
        "appended" -> t2Files.map(f => Seq(Files.getLastModifiedTime(f).toMillis,
          Using.resource(Files.lines(f))(_.count()))))
    LiveResult(inputRows, (c1 - c0) / 1e3,
      ok.filter(_.timed).map(s => s.end - s.due), visible,
      sent.filter(_.timed).map(s => s.start - s.due),
      gaps, frames, missed, sent.size, sent.size - ok.size, notVisible,
      setupSec, checks, layers)
  }
}
