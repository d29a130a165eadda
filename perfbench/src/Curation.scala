package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.ops.Reuse

/**
 * `curation_heavy`: the batch curation queries whose recorded floors are
 * the largest, run through `SparkEntry.queries` over the sf0.1 test tables
 * kept in `perfbench/data/sf0.1`, in a seed-permuted order, for at least
 * [[MinPasses]] passes. An operation is one query: building its DataFrame
 * (which runs any driver-loop jobs) and writing its result. Every query
 * starts with no build-once artifacts (`Reuse.dropIndexes`) and is followed
 * by `Reuse.freeAll`, so it prices the artifacts it needs and its time does
 * not depend on the seeded order. Set-up warms the code with
 * [[WarmPasses]] untimed passes.
 */
object Curation {
  /** Frozen query set; perfbench/NOTES.md says how it was chosen. */
  val Queries: Seq[String] = Seq(
    "ext15_corpus_pipeline", "ext177_cap_sweep")
  val WarmPasses = 2
  val MinPasses = 8

  final case class Run(query: String, ms: Double, out: Option[String])

  private def pass(ctx: Ctx, dir: String, order: Seq[String], p: Int,
      heap: Option[HeapProbe]): Seq[Run] = {
    val spark = ctx.spark
    val out = ctx.dir(s"out-$p")
    order.map { q =>
      Reuse.dropIndexes(spark)
      val path = new java.io.File(out, q).getPath
      val t0 = System.nanoTime()
      val ok =
        try {
          ctx.tracer.span(q, "ops", s"pass-$p/$q") {
            SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(path)
          }
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e"); false }
      val dt = (System.nanoTime() - t0) / 1e6
      Log(f"pass $p $q: $dt%.0f ms")
      heap.foreach(_.checkpoint())
      spark.catalog.clearCache()
      Reuse.freeAll(spark)
      Run(q, dt, Some(path).filter(_ => ok))
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val heap = new HeapProbe
    val t0 = System.nanoTime()
    // warm-up: untimed passes (code generation, JIT)
    (1 to WarmPasses).foreach(w => pass(ctx, ctx.corpus, Queries, -w, None))
    val setupS = (System.nanoTime() - t0) / 1e9
    Log(f"setup done: $setupS%.1f s")
    Reuse.dropIndexes(spark)
    heap.checkpoint()
    ctx.tracer.reset()
    val gc0 = Gc.ms
    val probeGc0 = heap.probeGcMs

    val order = new scala.util.Random(ctx.seed).shuffle(Queries)
    val runs = ArrayBuffer.empty[Run]
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var p = 0
    while (p < MinPasses || System.nanoTime() < deadline) {
      p += 1
      runs ++= pass(ctx, ctx.corpus, order, p, Some(heap))
    }
    val gcMs = Gc.ms - gc0 - (heap.probeGcMs - probeGc0)
    ctx.tracer.freeze()
    Log(s"loop done: $p passes")

    // each query's median over the passes: one slow pass moves no metric
    val perQuery = runs.groupBy(_.query).map { case (q, rs) =>
      q -> Stats.median(rs.map(_.ms).toSeq) }
    val endToEnd = Map(
      "setup_s" -> setupS,
      "throughput_per_s" -> perQuery.size / (perQuery.values.sum / 1000.0),
      "op_p50_ms" -> Stats.median(perQuery.values.toSeq),
      "op_tail_ms" -> perQuery.values.max,
      "peak_heap_mb" -> heap.peakMb)
    val notes = Seq(f"passes=$p curation_total_s=${perQuery.values.sum / 1000.0}%.3f " +
      f"curation_geomean_s=${Stats.geomean(perQuery.values.toSeq) / 1000.0}%.3f")
    val perLayer =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else layers(ctx, runs.toSeq, gcMs, endToEnd("op_p50_ms"))
    // result digests are checked against the oracle by the runner
    Outcome(runs.size, runs.count(_.out.isEmpty).toLong, endToEnd, perLayer,
      outputs = runs.flatMap(r => r.out.map(r.query -> _)).toSeq, notes = notes)
  }

  /** Per-layer metrics of the traced run (means per query), and per query
    * the medians of wall time, time inside its Spark jobs, driver time (wall
    * time with none of its jobs active) and jobs, written to
    * `trace/curation_heavy.queries.json`. */
  private def layers(ctx: Ctx, runs: Seq[Run], gcMs: Long,
      opP50: Double): Map[String, Double] = {
    val tr = ctx.tracer
    tr.drain()
    val spans = tr.spans.asScala.toSeq.filter(_.layer == "ops")
    val jobs = tr.jobs.values.asScala.toSeq.filter(_.span != 0L)
    val stages = tr.stages.values.asScala.toSeq.filter(_.span != 0L)
    val n = math.max(1, runs.size).toDouble
    // per query span: (name, wall ms, ms inside jobs, jobs)
    val perSpan = spans.map { s =>
      val iv = jobs.filter(j => j.span == s.id && j.endMs >= 0)
        .map(j => (tr.msToNs(j.startMs), tr.msToNs(j.endMs))).sortBy(_._1)
      var covered = 0L
      var reach = s.start
      iv.foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) { covered += b - lo; reach = b }
      }
      (s.name, s.dur / 1e6, covered / 1e6, iv.size.toDouble)
    }
    val table = perSpan.groupBy(_._1).toSeq.sortBy(_._1).map { case (q, xs) =>
      def med(f: ((String, Double, Double, Double)) => Double) =
        Json.num(Stats.median(xs.map(f)))
      s"""${Json.str(q)}:{"wall_ms":${med(_._2)},"in_jobs_ms":${med(_._3)},""" +
        s""""driver_ms":${med(x => x._2 - x._3)},"jobs":${med(_._4)}}"""
    }.mkString("{", ",", "}")
    ctx.writeTrace("curation_heavy.queries.json", table)
    tr.jobSpans(_ => 0L).foreach(j => tr.record(j.copy(layer = "ops")))
    def sum(f: StageWork => Double) = stages.map(f).sum / n
    Map(
      "ops.driver_ms" -> Stats.median(perSpan.map(x => x._2 - x._3)),
      "ops.jobs" -> jobs.size / n,
      "ops.stages" -> stages.size / n,
      "ops.tasks" -> sum(_.tasks.toDouble),
      "ops.task_cpu_ms" -> sum(_.cpuNs / 1e6),
      "ops.shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
      "ops.shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
      "ops.spill_bytes" -> sum(_.spill.toDouble),
      "ops.exchanges" -> stages.count(_.shuffleMap) / n,
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.heap_after_gc_mb" -> tr.oldGenAfterGcPeak.get / (1024.0 * 1024.0),
      "trace.spans" -> tr.spans.size.toDouble,
      "trace.op_p50_ms" -> opP50)
  }
}
