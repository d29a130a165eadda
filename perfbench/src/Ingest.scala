package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.stream.StreamingPipeline

/** The live pipeline as a user starts it: the unified 4-family aggregate
  * with full example payloads, one replay file per micro-batch. */
object Pipeline {
  def start(spark: SparkSession, src: File, store: File,
      ckpt: File): StreamingQuery = {
    spark.sparkContext.setLocalProperty("perfbench.span", null)
    StreamingPipeline.unifiedSink(
        StreamingPipeline.unifiedAggStream(
          StreamingPipeline.tweetStream(spark, src.getPath, Some(1)),
          includeExamples = true),
        store.getPath)
      .option("checkpointLocation", ckpt.getPath)
      .start()
  }

  /** Progress of the triggers that ran a batch (not idle reports). */
  def executed(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))

  def watermarkSec(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark"))
      .map(w => java.time.Instant.parse(w).getEpochSecond)
      .getOrElse(Long.MinValue)

  def ms(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  def ingestRows(p: StreamingQueryProgress, field: String): Long =
    Option(p.observedMetrics.get("ingest"))
      .flatMap(r => Option(r.getAs[Any](field)))
      .map(_.toString.toLong).getOrElse(0L)
}

/**
 * The ingest phase of `ingest_serve`: a seeded replay admitted one file at
 * a time (closed loop: the next file enters the source directory only
 * after the previous one's micro-batches have committed). An operation is
 * one admitted file, timed by the `triggerExecution` of the micro-batches
 * it caused: its data batch and, when the watermark moved, the no-data
 * batch that emits the windows it closed.
 */
object Ingest {
  val WarmFiles = 1
  /** Timed files: with the warm-up file, two bursts of three, so the
    * store the serve phase reads spans two `window_date` partitions. */
  val TimedFiles = 5
  val FilesPerBurst = 3

  /** What the phase leaves: the replay, the store and every batch's
    * progress, warm-up and timed apart. */
  final case class Phase(replay: Replay, admitted: Seq[File], store: File,
      warm: Seq[StreamingQueryProgress], ops: Seq[Seq[StreamingQueryProgress]],
      setupS: Double, loopS: Double, gcMs: Long) {
    def latMs: Seq[Double] = ops.map(_.map(Pipeline.ms(_, "triggerExecution")).sum)
    def tweets: Long = replay.tweets.drop(WarmFiles).map(_.toLong).sum
    def watermark: Long =
      (warm ++ ops.flatten).lastOption.map(Pipeline.watermarkSec)
        .getOrElse(Long.MinValue)
  }

  /** Set-up (replay generation, the warm-up file through the live query),
    * then the timed files. */
  def run(ctx: Ctx, heap: HeapProbe): Phase = {
    val spark = ctx.spark
    val perFile = if (ctx.tiny) 200 else 1000
    val t0 = System.nanoTime()
    val replay = Replay.write(ctx.dir("replay"), ctx.seed,
      WarmFiles + TimedFiles, perFile, FilesPerBurst)
    val src = ctx.dir("src")
    val store = new File(ctx.work, "store")
    val q = Pipeline.start(spark, src, store, new File(ctx.work, "ckpt"))
    val admitted = ArrayBuffer.empty[File]
    var seen = -1L
    /** Admit the next file and wait until its batches have committed. */
    def admit(): Seq[StreamingQueryProgress] = {
      val f = replay.files(admitted.size)
      val dst = new File(src, f.getName)
      Files.move(f.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      admitted += dst
      q.processAllAvailable()
      val fresh = Pipeline.executed(q).filter(_.batchId > seen)
      fresh.lastOption.foreach(p => seen = p.batchId)
      fresh
    }
    val ops = ArrayBuffer.empty[Seq[StreamingQueryProgress]]
    try {
      // warm-up: the first file through the live query itself, so the
      // timed batches run warm code on an initialised state store
      val warm = (1 to WarmFiles).flatMap(_ => admit())
      val setupS = (System.nanoTime() - t0) / 1e9
      Log(f"ingest setup done: $setupS%.1f s")
      heap.checkpoint()
      ctx.tracer.reset()
      val gc0 = Gc.ms
      val l0 = System.nanoTime()
      while (admitted.size < replay.files.size) ops += admit()
      val loopS = (System.nanoTime() - l0) / 1e9
      val gcMs = Gc.ms - gc0
      ctx.tracer.freeze()
      heap.checkpoint()
      Log(s"ingest loop done: ${admitted.size} files")
      Phase(replay.copy(files = admitted.toIndexedSeq), admitted.toSeq, store,
        warm, ops.toSeq, setupS, loopS, gcMs)
    } finally q.stop()
  }

  /** Failed operations (files) and notes: all four stored families must
    * equal their batch twins on the emitted windows, the rows ingest kept
    * must equal the planted tweets (so rejected lines equal the planted
    * notices), and no row may be dropped by the watermark. A mismatch that
    * cannot be put on a timed file fails one operation more. */
  def check(p: Phase, twins: Twins): (Long, Seq[String]) = {
    val notes = ArrayBuffer.empty[String]
    val badBatches = scala.collection.mutable.Set.empty[Long]
    var unattributed = false
    for ((kind, (rows, batches)) <- twins.perKind(twins.mismatches(p.store.getPath, _))) {
      if (rows > 0) {
        notes += s"$kind: $rows rows differ from the batch twin"
        if (batches.isEmpty || p.warm.exists(b => batches(b.batchId)))
          unattributed = true
        badBatches ++= batches
      }
    }
    val batchesAll = p.warm ++ p.ops.flatten
    val parsed = batchesAll.map(Pipeline.ingestRows(_, "rows")).sum
    val planted = p.replay.tweets.map(_.toLong).sum
    val lines = planted + p.replay.notices.sum
    if (parsed != planted) {
      notes += s"ingest kept $parsed rows, expected $planted " +
        s"(${lines - parsed} rejected vs ${p.replay.notices.sum} notices)"
      unattributed = true
    }
    val dropped = batchesAll.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsDroppedByWatermark).sum
    if (dropped != 0) {
      notes += s"$dropped rows dropped by the watermark"
      unattributed = true
    }
    val failed = p.ops.count(bs => bs.isEmpty ||
      bs.exists(b => badBatches.contains(b.batchId))) + (if (unattributed) 1 else 0)
    (math.min(failed, p.ops.size).toLong, notes.toSeq)
  }

  /** Per-layer metrics of the traced run: medians over the admitted files
    * of each file's sum over its micro-batches (so the phase times add up
    * to the operation time), per-file means of bytes and files written. */
  def layers(ctx: Ctx, p: Phase): Map[String, Double] = {
    val ops = p.ops
    val admitted = p.admitted.drop(WarmFiles)
    val replay = p.replay.slice(WarmFiles, p.replay.files.size)
    val store = p.store
    val tr = ctx.tracer
    tr.drain()
    val spark = ctx.spark
    def perOp(f: StreamingQueryProgress => Double) =
      Stats.median(ops.map(_.map(f).sum))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      (p: StreamingQueryProgress) => p.stateOperators.toSeq.map(f).sum
    val stages = tr.stages.values.asScala.toSeq.filter(_.batch >= 0)
    def stateful(b: StreamingQueryProgress) =
      stages.filter(s => s.stateful && s.batch == b.batchId)
    def aggPerOp(f: StageWork => Double) = perOp(b => stateful(b).map(f).sum)
    // the shuffle that feeds the state store stage is written by its parents
    def shuffledIn(b: StreamingQueryProgress) = stateful(b).flatMap(_.parents)
      .distinct.flatMap(id => Option(tr.stages.get(id))).map(_.shuffleWrite).sum
    val writes = tr.writes.asScala.toSeq
      .filter(_.path.contains(store.getPath + "/"))
    def writeMs(kind: String) = Stats.median(writes
      .filter(_.path.contains(s"/$kind/batch=")).map(_.durNs / 1e6))
    val inputBytes = admitted.map(_.length()).sum.toDouble
    val n = math.max(1, admitted.size).toDouble

    // batch probe of the ingest layer alone over the same replay
    val t0 = System.nanoTime()
    val probeRows = graft.ingest.Tables.projectTweets(
      graft.ingest.Tables.tweetsFromJsonLines(
        spark.read.text(admitted.map(_.getPath): _*))).count()
    val probeS = (System.nanoTime() - t0) / 1e9

    // spans: one per micro-batch (as the StreamingQueryListener saw it)
    // with its phases, jobs and store writes
    val batchSpan = scala.collection.mutable.Map.empty[Long, Long]
    tr.progress.asScala.filter(_.durationMs.containsKey("addBatch")).foreach { p =>
      val start = tr.msToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val id = tr.newId()
      val end = start + (Pipeline.ms(p, "triggerExecution") * 1e6).toLong
      tr.record(Span(id, 0L, "microbatch", "stream", s"batch-${p.batchId}",
        start, end))
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets").foreach { phase =>
        val d = (Pipeline.ms(p, phase) * 1e6).toLong
        val pid = tr.newId()
        tr.record(Span(pid, id, phase, "stream", s"batch-${p.batchId}", t, t + d))
        if (phase == "addBatch") batchSpan(p.batchId) = pid
        t += d
      }
    }
    val writeSpans = tr.sqlExecs.asScala.toSeq.flatMap { e =>
      val m = "/(hashtags|mentions|retweets|counts)/batch=(\\d+)".r
        .findFirstMatchIn(e.plan)
      m.filter(_ => e.plan.contains("InsertIntoHadoopFsRelationCommand"))
        .flatMap(x => batchSpan.get(x.group(2).toLong).map { parent =>
          val s = Span(tr.newId(), parent, s"write:${x.group(1)}", "store",
            s"batch-${x.group(2)}", tr.msToNs(e.startMs), tr.msToNs(e.endMs))
          tr.record(s)
          (x.group(2).toLong, s)
        })
    }
    tr.jobSpans(b => batchSpan.getOrElse(b, 0L)).foreach { j =>
      val job = tr.jobs.get(j.req.stripPrefix("job-").toInt)
      val inWrite = writeSpans.collectFirst {
        case (b, w) if b == job.batch && w.start <= j.start && j.end <= w.end => w
      }
      // the job that runs the state store stage is the aggregation
      val stateful = job.stageIds.exists(id =>
        Option(tr.stages.get(id)).exists(_.stateful))
      tr.record(j.copy(parent = inWrite.map(_.id).getOrElse(j.parent),
        layer = if (stateful) "agg" else if (inWrite.isDefined) "store" else "stream"))
    }

    Map(
      "ingest.rows" -> perOp(p => Pipeline.ingestRows(p, "rows").toDouble),
      "ingest.chars" -> perOp(p => Pipeline.ingestRows(p, "chars").toDouble),
      "ingest.rejected_lines" -> (replay.notices.take(admitted.size).sum +
        replay.tweets.take(admitted.size).sum -
        ops.flatten.map(Pipeline.ingestRows(_, "rows")).sum).toDouble,
      "ingest.parse_rows_per_s" -> probeRows / math.max(1e-9, probeS),
      "stream.latest_offset_ms" -> perOp(Pipeline.ms(_, "latestOffset")),
      "stream.get_batch_ms" -> perOp(Pipeline.ms(_, "getBatch")),
      "stream.query_planning_ms" -> perOp(Pipeline.ms(_, "queryPlanning")),
      "stream.add_batch_ms" -> perOp(Pipeline.ms(_, "addBatch")),
      "stream.wal_commit_ms" -> perOp(Pipeline.ms(_, "walCommit")),
      "stream.commit_offsets_ms" -> perOp(Pipeline.ms(_, "commitOffsets")),
      "stream.state_rows_total" -> ops.flatten.lastOption
        .map(state(_.numRowsTotal.toDouble)).getOrElse(0.0),
      "stream.state_rows_updated" -> perOp(state(_.numRowsUpdated.toDouble)),
      "stream.state_memory_bytes" -> ops.flatten
        .map(state(_.memoryUsedBytes.toDouble)).maxOption.getOrElse(0.0),
      "stream.state_update_ms" -> perOp(state(_.allUpdatesTimeMs.toDouble)),
      "stream.state_commit_ms" -> perOp(state(_.commitTimeMs.toDouble)),
      "stream.rows_dropped_by_watermark" -> ops.flatten
        .map(state(_.numRowsDroppedByWatermark.toDouble)).sum,
      "agg.task_cpu_ms" -> aggPerOp(_.cpuNs / 1e6),
      "agg.shuffle_write_bytes" -> perOp(shuffledIn(_).toDouble),
      "agg.spill_bytes" -> aggPerOp(_.spill.toDouble),
      "store.write_ms.hashtags" -> writeMs("hashtags"),
      "store.write_ms.mentions" -> writeMs("mentions"),
      "store.write_ms.retweets" -> writeMs("retweets"),
      "store.write_ms.counts" -> writeMs("counts"),
      "store.files_written" -> writes.map(_.files).sum / n,
      "store.bytes_written" -> writes.map(_.bytes).sum / n,
      "store.bytes_per_input_byte" -> writes.map(_.bytes).sum / math.max(1.0, inputBytes))
  }
}
