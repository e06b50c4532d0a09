package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Flagship
import graft.streaming.StreamingFlagship

/** The pipeline kernels as differential single-partition batch runs
  * over the seed's generated lines: each kernel's input is cached, and
  * its cost is a run of the kernel minus a plain scan of that input
  * (interleaved repetitions, median difference). Single-threaded by
  * construction, so these are also the one-core baseline for
  * `stream_lines_per_s`. */
object Kernels {
  private val Lines = 50000L
  private val Reps = 5

  private def run(df: DataFrame): Long = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    System.nanoTime() - t0
  }

  private def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  /** Median over interleaved repetitions of (kernel run − input scan), ns. */
  private def deltaNs(trace: Trace, name: String, input: DataFrame, kernel: DataFrame): Double = {
    run(input); run(kernel) // warm: codegen, JIT
    Stats.median((1 to Reps).map { _ =>
      val base = run(input)
      val t0 = System.nanoTime()
      val k = run(kernel)
      trace.add(s"kernel.$name", t0, t0 + k)
      (k - base).toDouble
    })
  }

  def measure(spark: SparkSession, seed: Long, dim: DataFrame, trace: Trace): Map[String, Double] = {
    // each stage's input is cached only after the stage itself was
    // measured: a cached plan would otherwise stand in for the kernel
    val events = cached(StreamSaturate.events(spark.range(0, Lines, 1, 1).toDF("value"), seed))
    val synth = deltaNs(trace, "synth", events, Flagship.synthLog(events))
    val dimNs = deltaNs(trace, "dim", events, Flagship.dimension(events))
    val lines = cached(Flagship.synthLog(events))
    val parse = deltaNs(trace, "parse_filter", lines, Flagship.logToRequests(lines))
    val requests = cached(Flagship.logToRequests(lines))
    val kept = requests.count().toDouble
    val enrich = deltaNs(trace, "enrich", requests, Flagship.enrich(requests, dim))
    val enriched = cached(Flagship.enrich(requests, dim))
    val jsonl = deltaNs(trace, "jsonl", enriched, StreamingFlagship.toJsonl(enriched))
    Seq(events, lines, requests, enriched).foreach(_.unpersist())
    Map(
      "synth.ns_per_line" -> synth / Lines,
      "parse_filter.ns_per_line" -> parse / Lines,
      "enrich.ns_per_event" -> enrich / kept,
      "jsonl.ns_per_event" -> jsonl / kept,
      "dim.build_ms" -> dimNs / 1e6,
      "filter.keep_ratio" -> kept / Lines)
  }
}
