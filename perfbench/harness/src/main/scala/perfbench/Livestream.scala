package perfbench

import java.io.{BufferedReader, FileOutputStream, InputStreamReader}
import java.net.{HttpURLConnection, InetSocketAddress, Socket, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.pipeline.Flagship
import graft.streaming.{Collector, EventServer, FileTailer, StreamingFlagship}

/** Open-loop livestream: a generator appends CLF lines to a log file
  * on a fixed schedule (warm-up, then the workload's rate: `r100` or
  * `r2000`), and the product path carries them to subscribers:
  *
  *   FileTailer (1 s poll) → spool → StreamingFlagship → EventServer
  *   → draining SSE subscriber, stalled SSE subscriber, and the
  *   collector (HttpLines JSONL → Collector parquet append).
  *
  * Line `i` carries lemma `w<i>`, which survives into its enriched
  * event, so every frame and collector row maps back to the time the
  * line was due. */
object Livestream {

  /** Open-loop rate in lines/s, by workload. */
  val Rates: Map[String, Double] = Map("r100" -> 100.0, "r2000" -> 2000.0)
  private val WarmRate = 100.0
  private val MaxWarmSec = 30
  private val IdPattern = "/w(\\d+)".r
  private val LemmaPattern = "\"lemma\":\"w(\\d+)".r

  /** The generated log (warm-up lines first) and the enrichment
    * dimension. */
  final case class Inputs(lines: Array[String], dim: DataFrame)

  /** Seeded events rendered to CLF by the engine's own synthesizer:
    * the seed draws each line's `event_id` (hence its filter residue
    * classes), user and whether it is an error line; one in fifty of the
    * lemmata are in the dimension. */
  def inputs(spark: SparkSession, seed: Long, n: Int): Inputs = {
    val rnd = new java.util.SplittableRandom(seed)
    val base = 1704067200L * 1000000L // 2024-01-01T00:00:00Z in µs
    val rows = (0 until n).map { i =>
      val eventId = i.toLong * 1000L + rnd.nextInt(1000)
      val kind = if (rnd.nextDouble() < 0.1) "error" else s"w$i"
      Row(eventId, new java.sql.Timestamp((base + i * 10000L) / 1000L), rnd.nextInt(1500).toLong,
        kind, rnd.nextDouble() < 0.02)
    }
    val schema = StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("in_dim", BooleanType)))
    val events = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val lines = Flagship.synthLog(events).collect().map(_.getString(0))
    val dimRows = Flagship.dimension(events.where(col("in_dim"))).collect()
    val dimSchema = StructType(Seq(StructField("lemma", StringType),
      StructField("freq", LongType), StructField("first_user", LongType)))
    Inputs(lines, spark.createDataFrame(dimRows.toSeq.asJava, dimSchema))
  }

  /** The wire shape both the SSE frames and the collector consume. */
  def wire(enriched: DataFrame): DataFrame =
    StreamingFlagship.toJsonl(enriched.select(
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("timestamp"),
      col("lemma"), col("freq"), col("first_user")))

  def lineId(line: String): Option[Int] = IdPattern.findFirstMatchIn(line).map(_.group(1).toInt)
  def frameId(json: String): Option[Int] = LemmaPattern.findFirstMatchIn(json).map(_.group(1).toInt)
  def lemmaId(lemma: String): Option[Int] = IdPattern.findPrefixMatchOf("/" + lemma).map(_.group(1).toInt)

  /** Appends due lines in one write per wake-up; never waits for the
    * pipeline (open loop). */
  final class Generator(lines: Array[String]) {
    val appended = new AtomicLong(0)
    /** Per line: when it was due, and how late its append ran (ms). */
    val due = new Array[Long](lines.length)
    val lagMs = new Array[Double](lines.length)

    /** Append to `log` from the next line at `rate` until `done()` holds
      * at a line boundary or `maxSec` passes; returns the index range. */
    def phase(log: Path, rate: Double, maxSec: Double, done: () => Boolean): (Int, Int) = {
      val first = appended.get.toInt
      val sched = Stats.Schedule(System.nanoTime(), rate)
      val limit = math.min(lines.length, first + (rate * maxSec).toInt)
      val appends = mutable.ArrayBuffer.empty[(Long, Long)]
      val out = new FileOutputStream(log.toFile, true)
      try {
        var next = first
        while (next < limit && !(next > first && done())) {
          val now = System.nanoTime()
          val upTo = math.min(limit, first + sched.dueBy(now).toInt)
          if (upTo > next) {
            val sb = new StringBuilder
            (next until upTo).foreach { i => sb.append(lines(i)).append('\n') }
            out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
            out.flush()
            appends += ((upTo - first).toLong -> System.nanoTime())
            next = upTo
            appended.set(next)
          } else LockSupport.parkNanos(math.min(sched.due(next - first) - now, 1000000L))
        }
      } finally out.close()
      Stats.appendLagMs(sched, appends.toSeq).zipWithIndex.foreach { case (lag, k) =>
        due(first + k) = sched.due(k)
        lagMs(first + k) = lag
      }
      (first, appended.get.toInt)
    }
  }

  /** Reads every spool file the tailer publishes and notes when each
    * line became visible. */
  final class SpoolWatcher(spool: Path) {
    val seenAt = new ConcurrentHashMap[Int, java.lang.Long]()
    val files = new AtomicLong(0)
    private val running = new AtomicBoolean(true)
    private val done = mutable.HashSet.empty[String]
    private val thread = new Thread(() => {
      while (running.get) { scan(); Thread.sleep(5) }
      scan()
    }, "perfbench-spool-watch")
    private def scan(): Unit = {
      val names = Files.list(spool).iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && !done(n)).toSeq.sorted
      names.foreach { n =>
        val t = System.nanoTime()
        new String(Files.readAllBytes(spool.resolve(n)), StandardCharsets.UTF_8)
          .split('\n').foreach(l => lineId(l).foreach(i => seenAt.putIfAbsent(i, t)))
        done += n
        files.incrementAndGet()
      }
    }
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { running.set(false); thread.join() }
  }

  /** A subscriber that reads every SSE frame as it arrives. */
  final class Drain(port: Int) {
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    @volatile private var closed = false
    private val conn = new URI(s"http://127.0.0.1:$port/api/events").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setReadTimeout(60000)
    private val thread = new Thread(() => {
      val in = new BufferedReader(new InputStreamReader(conn.getInputStream, StandardCharsets.UTF_8))
      try {
        var l = in.readLine()
        while (l != null && !closed) {
          if (l.startsWith("data: ")) {
            val t = System.nanoTime()
            val json = l.substring(6)
            frames.add((frameId(json).getOrElse(-1), t, json))
          }
          l = in.readLine()
        }
      } catch { case _: java.io.IOException => () }
    }, "perfbench-sse-drain")
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { closed = true; conn.disconnect(); thread.join(5000) }
  }

  /** The worst-case peer: subscribes, then never reads a byte. */
  final class Stalled(port: Int) {
    private val s = new Socket()
    s.setReceiveBufferSize(4096)
    s.connect(new InetSocketAddress("127.0.0.1", port))
    s.getOutputStream.write(
      s"GET /api/events HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n\r\n".getBytes(StandardCharsets.US_ASCII))
    s.getOutputStream.flush()
    def stop(): Unit = s.close()
  }

  private def await(maxMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    cond
  }

  /** The open-loop phase through the product path at `rate` lines/s. */
  def openLoop(ctx: Ctx, rate: Double): () => Outcome = {
    val spark = ctx.spark
    ctx.setupAgain()
    val dir = ctx.work.resolve("livestream")
    val in = inputs(spark, ctx.seed, (WarmRate * MaxWarmSec + rate * ctx.seconds).toInt)
    Log("live inputs generated")

    val server = EventServer.start()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val drain = new Drain(server.port)
    val stalled = new Stalled(server.port)
    val collectorOut = dir.resolve("collector").toString
    val collector = Collector.start(Collector.decode(spark.readStream
      .format("graft.sources.HttpLines")
      .option("url", s"http://127.0.0.1:${server.port}/api/jsonl")
      .load(), "line"), collectorOut, dir.resolve("ckpt-collector").toString)
    await(10000)(server.subscriberCount >= 3)
    val gen = new Generator(in.lines)
    val (log, spool) = (dir.resolve("access.log"), dir.resolve("spool"))
    Files.createDirectories(spool)
    Files.write(log, Array.emptyByteArray)
    val hub = server.attach(wire(StreamingFlagship.enriched(
      StreamingFlagship.readLines(spark, spool.toString), in.dim)),
      dir.resolve("ckpt-hub").toString, Trigger.ProcessingTime(0L))
    val watcher = new SpoolWatcher(spool)
    val tailer = FileTailer.start(log, spool)
    def seenAt(i: Int): Option[Long] = Option(watcher.seenAt.get(i)).map(_.longValue)
    def spooledAll: Boolean = watcher.seenAt.size >=
      in.lines.take(gen.appended.get.toInt).count(l => lineId(l).isDefined)
    Log("live path started")

    // warm-up at 100 lines/s: until the hub has run two batches with
    // rows, the drain has a frame and the collector has committed rows
    val (w0, w1) = gen.phase(log, WarmRate, MaxWarmSec, () =>
      progress.of(hub.id).count(_.rows > 0) >= 2 && !drain.frames.isEmpty &&
        progress.of(collector.id).exists(_.rows > 0))
    ctx.setupDone()
    Log(s"${ctx.workload}: feed warm after ${w1 - w0} lines")
    val (f0, mark) = (drain.frames.size, server.latencyMark)
    val published0 = server.published
    val broadcasts0 = server.broadcasts
    val t0 = System.nanoTime()
    val range = gen.phase(log, rate, ctx.seconds, () => false)
    val t1 = System.nanoTime()
    val publishedMeasured = server.published - published0
    val framesMeasured = drain.frames.size - f0
    val broadcastsMeasured = server.broadcasts - broadcasts0
    val writeLatMs = server.latencySince(mark).map(_ / 1e6)
    // drain: every appended line through the tailer and the hub
    await(5000)(spooledAll)
    tailer.stop()
    hub.processAllAvailable()
    watcher.stop()
    hub.stop()
    Log("live phase done")
    Thread.sleep(500) // the writer delivers the last slot after the batch
    collector.processAllAvailable()
    collector.stop()
    server.stop() // closes the subscribers' connections, so the drain's reader ends
    drain.stop()
    stalled.stop()
    spark.streams.removeListener(progress)

    Log("live path drained")
    // correctness and metrics: the caller runs them later, outside every
    // measured window
    () => {
      // --- correctness, outside the timed region: batch Flagship on the same lines
      val appended = gen.appended.get.toInt
      val lineDf = spark.createDataFrame(in.lines.take(appended).toSeq.map(Row(_)).asJava,
        StructType(Seq(StructField("line", StringType))))
      val expectJsonl = wire(Flagship.enrich(Flagship.logToRequests(lineDf), in.dim))
      val expected: Map[Int, String] = expectJsonl.collect().map(_.getString(0))
        .map(j => frameId(j).get -> j).toMap
      val expectedRows: Map[String, String] = Collector.toDbRows(Collector.decode(expectJsonl))
        .collect().map(r => r.getString(1) -> r.toString).toMap
      val failures = mutable.ArrayBuffer.empty[String]
      val published = server.published
      if (published < expected.size)
        failures += s"live_lost_events: ${expected.size - published} surviving lines never published " +
          s"(${expected.size} expected, $published published)"
      if (published > expected.size)
        failures += s"hub published $published events for ${expected.size} surviving lines"
      val frames = drain.frames.asScala.toSeq
      frames.foreach { case (id, _, json) =>
        if (!expected.get(id).contains(json)) failures += s"frame differs from batch: $json"
      }
      val rows = spark.read.parquet(collectorOut).drop("epoch")
        .select("ts", "lemma", "article_type", "article_source", "article_date").collect()
      val epochs = spark.read.parquet(collectorOut).select(col("lemma"), col("epoch")).collect()
        .map(r => r.getString(0) -> r.getAs[Number](1).longValue).toMap
      rows.foreach { r =>
        if (!expectedRows.get(r.getString(1)).contains(r.toString))
          failures += s"collector row differs from batch: $r"
      }
      val lost = math.max(0L, expected.size - published)

      Log("live checked")
      // --- metrics. The 1-slot subscriber reads a few frames per batch and
      // drops the superseded ones by design, so a surviving line reached
      // the subscriber with the first frame at or past it (same for rows).
      val survivors = expected.keys.toSeq.sorted
      val measuredIds = survivors.filter(i => i >= range._1 && i < range._2)
      val reached = Stats.firstCovered(frames.collect { case (id, t, _) if id >= 0 => (t, id) }, survivors)
      val metrics = mutable.LinkedHashMap.empty[String, Double]
      val lat = measuredIds.flatMap(i => reached.get(i).map(t => (t - gen.due(i)) / 1e6))
      metrics("live_p50_ms") = Stats.percentile(lat, 50)
      metrics("live_p90_ms") = Stats.percentile(lat, 90)
      metrics("live.lines") = lat.size.toDouble
      val collectorBatches = progress.of(collector.id)
      val commitAt = collectorBatches.map(b => b.p.batchId -> b.receivedAt).toMap
      val committed = rows.toSeq.flatMap { r =>
        val lemma = r.getString(1)
        for (id <- lemmaId(lemma); e <- epochs.get(lemma); t <- commitAt.get(e)) yield (t, id)
      }
      val persisted = Stats.firstCovered(committed, survivors)
      metrics("live_persist_p50_ms") = Stats.percentile(
        measuredIds.flatMap(i => persisted.get(i).map(t => (t - gen.due(i)) / 1e6)), 50)

      val ids = range._1 until range._2
      metrics("gen.lag_p99_ms") = Stats.percentile(ids.map(gen.lagMs(_)), 99)
      val tailerLag = ids.flatMap(i => seenAt(i).map(t => (t - gen.due(i)) / 1e6))
      metrics("tailer.lag_p50_ms") = Stats.percentile(tailerLag, 50)
      metrics("tailer.lag_p90_ms") = Stats.percentile(tailerLag, 90)
      metrics("tailer.files") = watcher.files.get.toDouble
      val hubBatches = progress.of(hub.id)
      metrics ++= ProgressLog.batchMetrics(hubBatches.filter(b => b.start >= t0 && b.start < t1))
      metrics("hub.published") = publishedMeasured.toDouble
      metrics("hub.broadcasts") = broadcastsMeasured.toDouble
      metrics("hub.write_p50_ms") = Stats.percentile(writeLatMs, 50)
      metrics("hub.write_p99_ms") = Stats.percentile(writeLatMs, 99)
      metrics("sub.drain_drop_ratio") =
        if (publishedMeasured == 0) Double.NaN else 1.0 - framesMeasured.toDouble / publishedMeasured
      metrics("collector.rows") = rows.length.toDouble
      metrics("collector.batch_ms") =
        Stats.median(collectorBatches.filter(_.rows > 0).map(_.ms("triggerExecution")))
      metrics("collector.commit_lag_p50_ms") = metrics("live_persist_p50_ms") - metrics("live_p50_ms")
      metrics("live_lost_events") = lost.toDouble

      val gLag = metrics("gen.lag_p99_ms")
      if (!(gLag < 250.0)) failures += f"generator ran late: gen.lag_p99_ms=$gLag%.1f, run invalid"

      if (ctx.trace.enabled) {
        (0 until appended).foreach { i =>
          seenAt(i).foreach { spooled =>
            val end = reached.getOrElse(i, spooled)
            val root = ctx.trace.add("line", gen.due(i), end)
            ctx.trace.add("line.tailer", gen.due(i), spooled, root)
            reached.get(i).foreach(r => ctx.trace.add("line.serve", spooled, r, root))
          }
        }
        ProgressLog.trace(ctx.trace, "microbatch.hub", hubBatches)
        ProgressLog.trace(ctx.trace, "microbatch.collector", collectorBatches)
      }

      Outcome(metrics.toMap, appended.toLong, failures.toSeq, Json.obj(
        "measured_lines" -> Json.Arr(Seq(range._1, range._2)), "warm_lines" -> (w1 - w0),
        "hub_trigger_ms" -> hubBatches.map(_.ms("triggerExecution")), "expected_events" -> expected.size,
        "published" -> published, "frames" -> frames.size, "collector_rows" -> rows.length))
    }
  }
}
