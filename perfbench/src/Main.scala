package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What a workload run reports back: operations attempted and failed, the
  * end-to-end and per-layer metrics by name, and (curation) the result
  * directories whose digests the runner checks against the oracle. */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], perLayer: Map[String, Double],
    outputs: Seq[(String, String)] = Nil, notes: Seq[String] = Nil)

/** Everything a workload needs. `tiny` shrinks every input for the
  * self-test; `plant` names a deliberate fault the self-test injects;
  * `corpus` is the table directory the curation workload reads. */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: File,
    seed: Long, seconds: Double, tiny: Boolean, plant: String,
    corpus: String) {
  def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }

  /** Write one file of the traced run's output (`trace/` of the work dir). */
  def writeTrace(name: String, text: String): Unit = {
    val f = new File(work, s"trace/$name")
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, text)
  }
}

/**
 * Benchmark entry point. One JVM runs one workload:
 *
 *   perfbench.Main --workload <ingest_serve|curation_heavy>
 *     --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *     [--scale tiny] [--plant <fault>] [--corpus <dir>]
 *
 * and prints one line `PERFBENCH_RESULT {...}` on stdout. The Python
 * runner (`perfbench/run.py`) builds this, launches it, finishes the
 * curation digest check and prints the contract's JSON line.
 */
object Main {
  /** Every per-layer metric; a workload reports 0 for a layer it does not
    * exercise. Must match `per_layer` in BENCHMARK.json. */
  val LayerMetrics: Seq[String] = Seq(
    "ingest.rows", "ingest.chars", "ingest.rejected_lines",
    "ingest.parse_rows_per_s",
    "stream.latest_offset_ms", "stream.get_batch_ms",
    "stream.query_planning_ms", "stream.add_batch_ms",
    "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "stream.state_rows_total", "stream.state_rows_updated",
    "stream.state_memory_bytes", "stream.state_update_ms",
    "stream.state_commit_ms", "stream.rows_dropped_by_watermark",
    "agg.task_cpu_ms", "agg.shuffle_write_bytes", "agg.spill_bytes",
    "store.write_ms.hashtags", "store.write_ms.mentions",
    "store.write_ms.retweets", "store.write_ms.counts",
    "store.files_written", "store.bytes_written", "store.bytes_per_input_byte",
    "serve.plan_ms", "serve.execute_ms", "serve.jobs",
    "serve.recent_probe_jobs", "serve.files_listed", "serve.files_read",
    "serve.bytes_read", "serve.partitions_read", "serve.range_p50_ms",
    "serve.entity_p50_ms", "serve.recent_p50_ms", "serve.summary_p50_ms",
    "ops.driver_ms", "ops.jobs", "ops.stages", "ops.tasks", "ops.task_cpu_ms",
    "ops.shuffle_read_bytes", "ops.shuffle_write_bytes", "ops.spill_bytes",
    "ops.exchanges", "jvm.gc_ms", "jvm.heap_after_gc_mb", "trace.spans",
    "trace.op_p50_ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val work = new File(opt("work")).getAbsoluteFile
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val traced = opt("trace") == "1"
    val tracer = new Tracer(spark, traced)
    tracer.install()
    val ctx = Ctx(spark, tracer, work, opt("seed").toLong,
      opt("seconds").toDouble, opts.get("scale").contains("tiny"),
      opts.getOrElse("plant", "none"), opts.getOrElse("corpus", ""))
    val wl = opt("workload")
    val out = wl match {
      case "ingest_serve" => IngestServe.run(ctx)
      case "curation_heavy" => Curation.run(ctx)
      case "dump_oracle" =>
        // for perfbench/record_digests.py: the oracle SQL of every query
        val sql = Curation.Queries.map(q =>
          s"${Json.str(q)}:${Json.str(graft.SparkEntry.oracleSql(q))}")
        ctx.writeTrace("oracle_sql.json", sql.mkString("{", ",", "}"))
        Outcome(1, 0, Map.empty, Map.empty)
      case other => sys.error(s"unknown workload $other")
    }
    if (traced) {
      val spans = tracer.spans.toArray(Array.empty[Span]).toSeq
      tracer.writeTo(new File(work, s"trace/$wl.spans.jsonl"))
      ctx.writeTrace(s"$wl.layers.json", Tracer.selfTimeByLayer(spans).toSeq
        .sortBy(_._1).map { case (layer, (total, self, n)) =>
          s"""${Json.str(layer)}:{"spans":$n,"total_ms":${Json.num(total / 1e6)},"self_ms":${Json.num(self / 1e6)}}"""
        }.mkString("{", ",", "}"))
    }
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    val outputs = out.outputs.map { case (q, p) =>
      s"[${Json.str(q)},${Json.str(p)}]" }.mkString("[", ",", "]")
    val notes = out.notes.map(Json.str).mkString("[", ",", "]")
    println(s"""PERFBENCH_RESULT {"attempted":${out.attempted},"failed":${out.failed},"end_to_end":${obj(out.endToEnd)},"per_layer":${obj(if (traced) LayerMetrics.map(_ -> 0.0).toMap ++ out.perLayer else Map.empty)},"outputs":$outputs,"notes":$notes}""")
    spark.stop()
    System.exit(0)
  }
}
