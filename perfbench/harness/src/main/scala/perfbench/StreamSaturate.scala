package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Flagship
import graft.streaming.StreamingFlagship

/** Closed loop: back-to-back micro-batches from a `rate-micro-batch`
  * source, synthesized into CLF lines on the executors and run through
  * the flagship parse/filter/enrich plan into a `noop` sink. Measures
  * the kernels at full parallelism with the fixed per-batch cost a
  * small share. It is the first part of every workload, so its warm-up
  * also brings the JVM to the steady state a long-running server has
  * before the open-loop phase starts. Its batch and executor metrics
  * are reported as `saturate.batch.*` and `saturate.exec.busy_share`. */
object StreamSaturate {

  private val Types = Seq("click", "view", "signup", "error", "purchase")
  /** Rows per micro-batch per core: about a second of work per batch,
    * of which the fixed per-batch cost is about a seventh. */
  private val RowsPerCore = 20000L

  /** Seeded synthetic events for source row `value`: the seed keys the
    * hashes that pick each row's event_id (hence its filter residue
    * classes), user and event type. Deterministic, so any id range can
    * be recomputed in batch. */
  def events(values: DataFrame, seed: Long): DataFrame = {
    val v = col("value")
    def h(salt: Long): Column = xxhash64(v, lit(seed), lit(salt))
    val types = array(Types.map(lit): _*)
    values.select(
      pmod(h(1), lit(1000000000000L)).as("event_id"),
      timestamp_seconds(lit(1704067200L) + v).as("ts"),
      pmod(h(2), lit(977L)).as("user_id"),
      element_at(types, (pmod(h(3), lit(Types.size.toLong)) + 1).cast("int")).as("event_type"))
  }

  def dim(spark: SparkSession): DataFrame = {
    val rows = Types.zipWithIndex.flatMap { case (t, i) =>
      (0 to i).map(k => Row(i * 10L + k, t, i * 7L + k)) }
    val ev = spark.createDataFrame(rows.asJava, StructType(Seq(StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("user_id", LongType))))
    val d = Flagship.dimension(ev).collect()
    spark.createDataFrame(d.toSeq.asJava, StructType(Seq(StructField("lemma", StringType),
      StructField("freq", LongType), StructField("first_user", LongType))))
  }

  /** The flagship plan over seeded events. */
  def pipeline(values: DataFrame, seed: Long, d: DataFrame): DataFrame =
    StreamingFlagship.enriched(Flagship.synthLog(events(values, seed)), d)

  private def offset(json: String): Long =
    "\"offset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(json.trim.toLong)

  /** Warms and measures the stream, then stops it; the returned
    * function checks the output and computes the metrics. */
  def measure(ctx: Ctx): () => Outcome = {
    val spark = ctx.spark
    val d = dim(spark)
    val rows = RowsPerCore * ctx.cores
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rows.toString)
      .option("numPartitions", ctx.cores.toString)
      .load()
    val q = pipeline(src.select("value"), ctx.seed, d)
      .observe("out", count(lit(1)).as("events"))
      .writeStream.format("noop").start()
    val probe = if (ctx.trace.enabled) Some(EngineProbe.attach(spark)) else None
    def windows = progress.of(q.id).filter(_.rows > 0)
    def rate(p: Progress) = p.rows * 1000.0 / p.ms("triggerExecution")

    // warm until the per-window rate stops rising: the median of the
    // last three windows is within 5% of the three before it (at most 15 s)
    ctx.setupAgain()
    val warmDeadline = System.nanoTime() + 15L * 1000000000L
    def warmed: Boolean = {
      val w = windows.map(rate)
      w.size >= 6 && {
        val last = Stats.median(w.takeRight(3))
        val prev = Stats.median(w.takeRight(6).take(3))
        last <= prev * 1.05
      }
    }
    while (!warmed && System.nanoTime() < warmDeadline && q.isActive) Thread.sleep(100)
    Log(s"saturate warm after ${windows.size} windows: " +
      windows.map(w => f"${rate(w) / 1000}%.0fk").mkString(" ") + " lines/s")
    val warmedThrough = windows.lastOption.map(_.p.batchId).getOrElse(-1L)
    ctx.setupDone()
    val t0 = System.nanoTime()
    Thread.sleep(2 * ctx.seconds * 1000L) // ~6 windows at --seconds 3
    val t1 = System.nanoTime()
    val measuredUpTo = windows.lastOption.map(_.p.batchId).getOrElse(-1L)
    q.stop()
    Log("saturate measured: " + windows.filter(w => w.p.batchId > warmedThrough)
      .map(w => f"${rate(w) / 1000}%.0fk").mkString(" ") + " lines/s")
    spark.streams.removeListener(progress)
    val measured = windows.filter(w => w.p.batchId > warmedThrough && w.p.batchId <= measuredUpTo)

    // the check and the metrics: the caller runs them later, outside every
    // measured window
    () => {
      // correctness: the last measured window's events-out count equals
      // the batch plan's count over the same id range
      val checked = measured.takeRight(1)
      val failures = checked.flatMap { w =>
        val (s, e) = (offset(w.p.sources.head.startOffset), offset(w.p.sources.head.endOffset))
        val got = Option(w.p.observedMetrics.get("out")).map(_.getLong(0)).getOrElse(-1L)
        val want = pipeline(spark.range(s, e).toDF("value"), ctx.seed, d).count()
        if (got == want) None else Some(s"window ${w.p.batchId} [$s,$e): stream $got events, batch $want")
      }
      Log("saturate checked")
      val metrics = scala.collection.mutable.LinkedHashMap[String, Double](
        "stream_lines_per_s" -> Stats.median(measured.map(rate)),
        "stream_failed" -> failures.size.toDouble,
        "stream.windows" -> measured.size.toDouble)
      metrics ++= ProgressLog.batchMetrics(measured).map { case (k, v) => s"saturate.$k" -> v }
      probe.foreach { p =>
        p.settle()
        val jobs = p.jobsIn(t0, t1)
        val runMs = jobs.flatMap(_.stages).distinct.map(s => p.tasks(s).runMs).sum
        val wall = if (jobs.isEmpty) 1L else jobs.map(_.end).max - jobs.map(_.start).min
        metrics("saturate.exec.busy_share") = runMs * 1e6 / (wall.toDouble * ctx.cores)
      }
      ProgressLog.trace(ctx.trace, "microbatch.saturate", measured)
      Outcome(metrics.toMap, checked.size.toLong, failures,
        Json.obj("rows_per_batch" -> rows, "warm_windows" -> (warmedThrough + 1)))
    }
  }
}
