package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry
import graft.queries._

/** Closed loop, one client: a seeded, family-stratified sample of the
  * `SparkEntry` registry over generated tables, timed passes for
  * `--seconds` (at least one). There is no separate warm-up pass: the
  * JVM has run the two stream parts and their checks (the flagship
  * kernels among them) for most of a minute, and every pass compiles
  * its generated classes again anyway (they overflow the codegen cache),
  * so the first pass pays only the first run of each query's own
  * operators. Every pass materializes each result the way the
  * correctness dump does (`coalesce(1)` → parquet); the last pass's
  * results are what the DuckDB oracle checks (`perfbench/oracle.py`). */
object Analytics {

  /** The sample's strata, by name. Per stratum the seed draws one
    * family, then one query from that family's band: the oracle-checked
    * queries whose warm time falls in the stratum's cost band (4 vCPU,
    * sf 0.02: scalar 0.33–0.45 s, window 0.48–0.73 s, aggregate
    * 0.44–0.72 s), so every seed draws a pass of similar cost. The
    * flagship queries (the reference's batch mode) are always all in, and
    * so is one iterative graph query: those four compile about 100
    * classes a pass between them, and the median query is one of them
    * for every seed. A stratum's time per pass is the layer metric
    * `queries.<stratum>_s`: every seed has every stratum. */
  val Strata: Seq[(String, Seq[(String, Seq[String])])] = Seq(
    "flagship" -> Seq("Flagship" -> Seq("q_flagship", "q_flagship_hourly_top", "q_flagship_hidx")),
    "scalar" -> Seq(
      "RelationalQueries" -> Seq("q_split_decode", "q_to_json", "q_string_funcs"),
      "TextQueries" -> Seq("q_text_tokens", "q_text_fingerprint", "q_text_normalize", "q_text_pii"),
      "PipelineQueries" -> Seq("q_sample_stratified", "q_chunk_docs"),
      "MultimodalQueries" -> Seq("q_multimodal_meta", "q_multimodal_audio")),
    "window" -> Seq(
      "MaintenanceQueries" -> Seq("q_snapshot_diff", "q_mv_refresh", "q_zorder"),
      "TimeQueries" -> Seq("q_window_tumbling", "q_window_sliding", "q_sample_rate"),
      "ExtendedQueries" -> Seq("q_window_ntile", "q_window_firstlast"),
      "SketchQueries" -> Seq("q_sketch_cms", "q_sketch_histq")),
    "aggregate" -> Seq(
      "SimilarityQueries" -> Seq("q_embed_centroid", "q_embed_cov", "q_knn_lsh",
        "q_decontaminate_semantic"),
      "TpchQueries" -> Seq("q_tpch_q14"),
      "DedupQueries" -> Seq("q_dedup_exact", "q_dedup_url"),
      "StatsQueries" -> Seq("q_hist"),
      "EventQueries" -> Seq("q_anomaly")),
    "graph" -> Seq("GraphQueries" -> Seq("q_triangle_count")))

  /** Which registry module each query comes from. */
  private def moduleOf: Map[String, String] = {
    val modules = Seq(
      "DedupQueries" -> DedupQueries.all,
      "EventQueries" -> EventQueries.all, "ExtendedQueries" -> ExtendedQueries.all,
      "GraphQueries" -> GraphQueries.all, "ItemsetQueries" -> ItemsetQueries.all,
      "MaintenanceQueries" -> MaintenanceQueries.all, "MultimodalQueries" -> MultimodalQueries.all,
      "PipelineQueries" -> PipelineQueries.all, "RelationalQueries" -> RelationalQueries.all,
      "SimilarityQueries" -> SimilarityQueries.all, "SketchQueries" -> SketchQueries.all,
      "StatsQueries" -> StatsQueries.all, "TextQueries" -> TextQueries.all,
      "TimeQueries" -> TimeQueries.all, "TpchQueries" -> TpchQueries.all)
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  }

  /** The seeded sample, in run order, as (stratum, query). Only registry
    * queries with an oracle twin are drawn, each from the family it is
    * listed under. */
  def sample(seed: Long): Seq[(String, String)] = {
    val rnd = new java.util.SplittableRandom(seed)
    val registered = SparkEntry.oracleSql.keySet
    val module = moduleOf
    Strata.flatMap { case (stratum, families) =>
      val (family, band) = families(rnd.nextInt(families.size))
      val ok = band.filter(q => registered(q) && module.getOrElse(q, "Flagship") == family)
      require(ok.nonEmpty, s"no registered oracle-checked query left in the $family band")
      if (family == "Flagship") ok.map(stratum -> _)
      else Seq(stratum -> ok(rnd.nextInt(ok.size)))
    }
  }

}

final class Analytics(ctx: Ctx) {
  import Analytics._

  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val data = ctx.data.getOrElse(throw new IllegalArgumentException("analytics needs --data"))
  private val picked = sample(ctx.seed)
  private val out = ctx.work.resolve("results")
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private var fenced = 0

  /** Runs the sample once; returns (stratum, query, start, end) per
    * query and the pass's (start, end), all nanoTime. */
  private def pass(label: String, dir: String): (Seq[(String, String, Long, Long)], (Long, Long)) = {
    val p0 = System.nanoTime()
    val times = picked.map { case (stratum, name) =>
      sc.setJobGroup(s"$label/$name", name)
      val prior = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(name).toString)
      catch { case e: Throwable => errors(name) = s"$label: $e" }
      val t1 = System.nanoTime()
      val fresh = sc.getPersistentRDDs.filterNot { case (id, _) => prior(id) }
      fenced += fresh.size
      fresh.values.foreach(_.unpersist(blocking = false))
      sc.clearJobGroup()
      (stratum, name, t0, t1)
    }
    (times, (p0, System.nanoTime()))
  }

  private def secs(q: (String, String, Long, Long)): Double = (q._4 - q._3) / 1e9

  /** Timed passes, with their metrics. */
  def measure(): Outcome = {
    val probe = if (ctx.trace.enabled) Some(EngineProbe.attach(spark)) else None
    val compile0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val classes0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rules0 = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time
    fenced = 0
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val passes = mutable.ArrayBuffer.empty[(Seq[(String, String, Long, Long)], (Long, Long))]
    while (passes.isEmpty || System.nanoTime() < deadline) passes += pass(s"pass${passes.size}", data)
    Log(s"${passes.size} timed passes done")
    val n = passes.size.toDouble
    val compileMs = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - compile0) / 1e6 / n
    val classes = (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0) / n
    val ruleMs = (org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time - rules0) / 1e6 / n

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val walls = passes.map { case (_, (s, e)) => (e - s) / 1e9 }
    metrics("analytics_wall_s") = Stats.median(walls.toSeq)
    metrics("analytics_query_p50_s") = Stats.median(passes.flatMap(_._1.map(secs)).toSeq)
    metrics("analytics.passes") = n
    metrics("analytics.queries") = picked.size.toDouble
    picked.map(_._1).distinct.foreach { f =>
      metrics(s"queries.${f}_s") = Stats.median(passes.map(_._1.filter(_._1 == f).map(secs).sum).toSeq)
    }
    probe.foreach { p =>
      p.settle()
      val perPass = passes.zipWithIndex.map { case ((times, (ps, pe)), i) =>
        val groups = times.map(t => s"pass$i/${t._2}").toSet
        val jobs = p.jobsOf(groups)
        val stageIds = jobs.flatMap(_.stages).distinct
        val done = stageIds.flatMap(p.stage)
        val tasks = stageIds.map(p.tasks)
        val driverOnly = (pe - ps) - Stats.unionLength(jobs.map(j => (j.start, j.end)))
        Map(
          "query.driver_only_ms" -> driverOnly / 1e6,
          "query.jobs" -> jobs.size.toDouble,
          "query.stages" -> done.size.toDouble,
          "query.tasks" -> tasks.map(_.n).sum.toDouble,
          "exec.run_ms" -> tasks.map(_.runMs).sum.toDouble,
          "exec.cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6,
          "exec.gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
          "exec.busy_share" -> tasks.map(_.runMs).sum * 1e6 / ((pe - ps).toDouble * ctx.cores),
          "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
          "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
          "spill.bytes" -> tasks.map(_.spill).sum.toDouble,
          "catalyst.plan_ms" -> p.planMs(ps, pe))
      }
      perPass.head.keys.foreach(k => metrics(k) = Stats.median(perPass.map(_(k)).toSeq))
      metrics("query.tasks_per_stage") = metrics("query.tasks") / math.max(1.0, metrics("query.stages"))
      // spans: pass → query → job → stage
      passes.zipWithIndex.foreach { case ((times, (ps, pe)), i) =>
        val passId = ctx.trace.add("pass", ps, pe)
        times.foreach { case (_, name, qs, qe) =>
          val qId = ctx.trace.add("query", qs, qe, passId)
          p.jobsOf(Set(s"pass$i/$name")).foreach { j =>
            val jId = ctx.trace.add("job", j.start, j.end, qId)
            j.stages.flatMap(p.stage).foreach(s => ctx.trace.add("stage", s.start, s.end, jId))
          }
        }
      }
    }
    metrics("codegen.compile_ms") = compileMs
    metrics("codegen.classes") = classes
    metrics("catalyst.rule_ms") = ruleMs
    metrics("fence.checkpoint_rdds") = fenced / n
    metrics("analytics_failed") = errors.size.toDouble

    val oracle = picked.map(_._2).map(q => q -> SparkEntry.oracleSql(q))
    Files.write(ctx.work.resolve("oracle_sql.json"),
      Json.render(Json.Obj(oracle)).getBytes(StandardCharsets.UTF_8))
    Outcome(metrics.toMap, picked.size.toLong, errors.map { case (k, v) => s"$k failed: $v" }.toSeq,
      Json.obj("sample" -> picked.map(_._2), "results" -> out.toString,
        "errored" -> errors.keys.toSeq))
  }
}
