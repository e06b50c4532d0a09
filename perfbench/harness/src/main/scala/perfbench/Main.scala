package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the command line and the session. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long, seconds: Int,
    trace: Trace, work: Path, data: Option[String], cores: Int,
    setupBaseMs: Long) {
  private var setupFromMs: Option[Long] = Some(setupBaseMs)
  private var setupMs = 0L
  /** Set-up is what runs from launch to the first [[setupDone]] and from
    * each [[setupAgain]] to the next [[setupDone]]: data generation, JVM
    * and session, the streams' start-up and warm-up. Measured windows,
    * checks and draining run in between and are not set-up. */
  def setupDone(): Unit = {
    setupFromMs.foreach(t => setupMs += System.currentTimeMillis() - t)
    setupFromMs = None
  }
  def setupAgain(): Unit = if (setupFromMs.isEmpty) setupFromMs = Some(System.currentTimeMillis())
  def setupSeconds: Double = setupMs / 1000.0
}

/** Progress lines on stderr (the run's harness.log), stamped with
  * seconds since the JVM started. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1000.0}%7.2fs] $msg")
}

/** What a run, or one part of it, measured: metrics by name, operations attempted and
  * the description of every failed check. */
final case class Outcome(metrics: Map[String, Double], attempted: Long,
    failures: Seq[String], info: Json.Obj = Json.obj())

/** `perfbench.Main --workload <r100|r2000> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --out <file> --data <dir> [--setup-base-ms <epoch ms>]`
  *
  * Runs one workload on a `local[<cores>]` session and writes its
  * outcome as JSON to `--out`; `perfbench/run.py` is the front end.
  * Every workload runs every part, in this order: the saturated stream,
  * the open-loop livestream at the workload's rate, the checks of both,
  * the analytics passes, and with `--trace 1` the kernel runs. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val cores = Runtime.getRuntime.availableProcessors
    Log("jvm up")
    val spark = graft.Sessions.local(cores.toString, "ERROR")
    Log("session up")
    val ctx = Ctx(spark, a("workload"), a("seed").toLong, a("seconds").toInt,
      new Trace(a.getOrElse("trace", "0") == "1"), work, a.get("data"), cores,
      a.get("setup-base-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
    val origin = System.nanoTime()
    val outcome =
      try {
        val rate = Livestream.Rates.getOrElse(ctx.workload,
          throw new IllegalArgumentException(s"unknown workload '${ctx.workload}'"))
        val saturate = StreamSaturate.measure(ctx)
        val live = Livestream.openLoop(ctx, rate)
        val parts = Seq(saturate(), live(), new Analytics(ctx).measure())
        val kernels =
          if (ctx.trace.enabled) Kernels.measure(ctx.spark, ctx.seed, StreamSaturate.dim(ctx.spark), ctx.trace)
          else Map.empty[String, Double]
        Outcome(parts.map(_.metrics).reduce(_ ++ _) ++ kernels, parts.map(_.attempted).sum,
          parts.flatMap(_.failures), Json.Obj(Seq("saturate", "live", "analytics").zip(parts.map(_.info))))
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(Map.empty, 1, Seq(s"workload aborted: $e"))
      }
    Log("workload done")
    val metrics = outcome.metrics + ("setup_s" -> ctx.setupSeconds)
    val result = Json.obj(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "cores" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "attempted" -> outcome.attempted, "failures" -> outcome.failures,
      "metrics" -> Json.Obj(metrics.toSeq.sortBy(_._1)), "info" -> outcome.info)
    if (ctx.trace.enabled)
      ctx.trace.write(work.resolve("trace.json"), origin, result)
    write(Paths.get(a("out")), Json.render(result))
    Runtime.getRuntime.halt(0) // nothing left to flush; skips a slow session stop
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8)): Unit
  }
}
