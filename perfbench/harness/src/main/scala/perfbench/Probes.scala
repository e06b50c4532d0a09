package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Clock bridge: Spark reports wall-clock milliseconds, the harness
  * times with `System.nanoTime`; spans live in the nanoTime domain. */
object Clock {
  private val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + offset
}

/** Streaming progress as Spark reports it, with the nanoTime at which
  * the harness received it. */
final case class Progress(p: StreamingQueryProgress, receivedAt: Long) {
  def ms(phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)
  def rows: Long = p.numInputRows
  def start: Long = Clock.fromEpochMs(Instant.parse(p.timestamp).toEpochMilli)
  def end: Long = start + (ms("triggerExecution") * 1e6).toLong
}

/** Collects every query's progress events through the public
  * StreamingQueryListener API. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(Progress(e.progress, System.nanoTime()))

  def of(queryId: java.util.UUID): Seq[Progress] =
    events.asScala.filter(_.p.id == queryId).toSeq.sortBy(_.p.batchId)
}

object ProgressLog {
  /** Micro-batch phases in the order MicroBatchExecution runs them. */
  val Phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** The `batch.*` layer metrics over batches that carried rows: means
    * per batch, so the phases add up to the trigger time as they do in
    * every single batch. */
  def batchMetrics(batches: Seq[Progress]): Map[String, Double] = {
    val b = batches.filter(_.rows > 0)
    def mean(f: Progress => Double) = if (b.isEmpty) Double.NaN else b.map(f).sum / b.size
    Map(
      "batch.trigger_ms" -> mean(_.ms("triggerExecution")),
      "batch.add_batch_ms" -> mean(_.ms("addBatch")),
      "batch.query_planning_ms" -> mean(_.ms("queryPlanning")),
      "batch.latest_offset_ms" -> mean(_.ms("latestOffset")),
      "batch.wal_commit_ms" -> mean(_.ms("walCommit")),
      "batch.fixed_ms" -> mean(x => x.ms("triggerExecution") - x.ms("addBatch")),
      "batch.rows" -> mean(_.rows.toDouble))
  }

  /** One span per micro-batch, its durationMs phases laid out in run
    * order as children. */
  def trace(trace: Trace, name: String, batches: Seq[Progress]): Unit =
    if (trace.enabled) batches.filter(_.rows > 0).foreach { b =>
      val id = trace.add(name, b.start, b.end)
      var t = b.start
      Phases.foreach { ph =>
        val d = (b.ms(ph) * 1e6).toLong
        if (d > 0) { trace.add(s"$name.$ph", t, t + d, id); t += d }
      }
    }
}

/** Engine-layer recorder for the analytics part: jobs, stages and
  * task metrics from a SparkListener (attributed to a query through
  * the job group the harness sets), Catalyst phase times from a
  * QueryExecutionListener. */
final class EngineProbe extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, start: Long, end: Long, tasks: Int)
  final case class Tasks(var n: Long = 0, var runMs: Long = 0, var cpuNs: Long = 0,
      var gcMs: Long = 0, var shuffleWrite: Long = 0, var shuffleRead: Long = 0,
      var spill: Long = 0)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val tasksByStage = mutable.HashMap.empty[Int, Tasks]
  private val phases = mutable.ArrayBuffer.empty[(Long, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, g, Clock.fromEpochMs(e.time), -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Clock.fromEpochMs(e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages(i.stageId) = Stage(i.stageId, Clock.fromEpochMs(s), Clock.fromEpochMs(c), i.numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tasksByStage.getOrElseUpdate(e.stageId, Tasks())
    t.n += 1
    Option(e.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases.values.map(p => (Clock.fromEpochMs(p.startTimeMs), p.durationMs.toDouble))
    synchronized { phases ++= ps }
  }

  /** Wait until the asynchronous listener bus has delivered every job
    * end, then stays quiet for `quietMs`. */
  def settle(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    var last = -1
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val (n, open) = synchronized((jobs.size + stages.size, jobs.values.count(_.end < 0)))
      if (n != last || open > 0) { last = n; stableSince = System.nanoTime() }
      else if (System.nanoTime() - stableSince > quietMs * 1000000L) return
      Thread.sleep(50)
    }
  }

  def jobsIn(from: Long, to: Long): Seq[Job] =
    synchronized(jobs.values.filter(j => j.start >= from && j.end > 0 && j.end <= to).toList)
  def jobsOf(groups: Set[String]): Seq[Job] = synchronized(jobs.values.filter(j => groups(j.group)).toList)
  def stage(id: Int): Option[Stage] = synchronized(stages.get(id))
  def tasks(stageId: Int): Tasks = synchronized(tasksByStage.getOrElse(stageId, Tasks()))
  /** Catalyst analysis + optimization + planning ms of the actions
    * whose phases started in `[from, to)`. */
  def planMs(from: Long, to: Long): Double =
    synchronized(phases.collect { case (t, ms) if t >= from && t < to => ms }.sum)
}

object EngineProbe {
  def attach(spark: SparkSession): EngineProbe = {
    val p = new EngineProbe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
