package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.functions._

import graft.Repl
import graft.serve.Serve

/**
 * The serve phase of `ingest_serve`: one client sends a seeded mix of the
 * nine REPL read commands through `Repl.serveLine` against the store the
 * live pipeline left behind (uncompacted, one `batch=<id>` directory per
 * micro-batch). An operation is one command, timed from the call to the
 * written result file.
 */
object ServeMix {
  val TailPercentile = 90.0
  val MinBlocks = 3
  private val Hop = 60L
  private val Hour = 3600L
  private val Day = 86400L

  final case class Cmd(kind: String, line: String)

  /** The seeded command mix over a store spanning [lo, hi] window ends, as
    * blocks of the same 12 commands in a seeded order with seeded
    * parameters: the 9 read commands, ranges of one hop, one hour, one day
    * and the whole store, entity restriction on the hottest and the coldest
    * stored entity, recent-N below and above the rows of the newest date
    * partition. Runs serve whole blocks, so every run asks the same mix. */
  def blocks(rnd: java.util.Random, lo: Long, hi: Long, hot: Map[String, String],
      cold: Map[String, String], newestRows: Map[String, Long]): Iterator[Seq[Cmd]] = {
    // a few seeded anchors per span, so the mix repeats its questions
    val anchors = Seq(Hop, Hour, Day).map { span =>
      span -> Seq.fill(3)(lo + (rnd.nextDouble() *
        math.max(1L, hi - lo - span)).toLong / Hop * Hop)
    }.toMap
    def range(cmd: String, span: Long) =
      if (span == 0L) s"$cmd $lo ${hi + 1}"
      else { val s = anchors(span)(rnd.nextInt(3)); s"$cmd $s ${s + span}" }
    def small = 1 + rnd.nextInt(20)
    def above(kind: String) = newestRows(kind) + 1 + rnd.nextInt(50)
    Iterator.continually(new scala.util.Random(rnd.nextLong()).shuffle(Seq(
      Cmd("range", range("getcounts", Hop)),
      Cmd("range", range("getcounts", 0L)),
      Cmd("range", range("gettophashtagsstring", Hour)),
      Cmd("range", range("gettopmentionsstring", Day)),
      Cmd("range", range("gettopretweetsstring", 0L)),
      Cmd("entity", range("gettophashtagsstring", 0L) + " " + hot("hashtags")),
      Cmd("entity", range("gettopmentionsstring", Day) + " " + cold("mentions")),
      Cmd("recent", s"getrecentcounts $small"),
      Cmd("recent", s"getrecenttophashtagsstring ${above("hashtags")}"),
      Cmd("recent", s"getrecenttopmentionsstring $small"),
      Cmd("recent", s"getrecenttopretweetsstring $small"),
      Cmd("summary", "getsummary"))))
  }

  /** What the phase leaves: every command with its latency and answer
    * file, and the files the commands listed. */
  final case class Phase(done: Seq[(Cmd, Double, Option[java.nio.file.Path])],
      setupS: Double, gcMs: Long, listed: Long) {
    def latMs: Seq[Double] = done.map(_._2)
  }

  /** Set-up (command parameters from the store's extent, one warm-up
    * block), then whole blocks of the mix until `seconds` have passed, at
    * least [[MinBlocks]]. */
  def run(ctx: Ctx, heap: HeapProbe, store: File, seconds: Double): Phase = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val root = store.getPath
    // command parameters from the store's own extent
    val counts = spark.read.parquet(s"$root/counts")
    val Array(lo, hi) = counts.agg(min("window_end"), max("window_end"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val ranked = Seq("hashtags", "mentions").map { k =>
      k -> spark.read.parquet(s"$root/$k").groupBy("entity").count()
        .orderBy(col("count").desc, col("entity")).collect()
        .map(_.getString(0))
    }.toMap
    val hot = ranked.map { case (k, es) => k -> es.head }
    val cold = ranked.map { case (k, es) => k -> es.last }
    val newestDate = counts.agg(max("window_date")).collect()(0).get(0)
    val newestRows = Seq("counts", "hashtags", "mentions", "retweets").map { k =>
      k -> spark.read.parquet(s"$root/$k")
        .filter(col("window_date") === lit(newestDate)).count()
    }.toMap
    def mix(seed: Long) = blocks(new java.util.Random(seed), lo, hi, hot, cold,
      newestRows)
    // warm-up: one block of the mix, with parameters of another seed
    val warmOut = ctx.dir("warm-out").getPath
    mix(~ctx.seed).next().foreach(c => Repl.serveLine(spark, root, warmOut, c.line))
    val setupS = (System.nanoTime() - t0) / 1e9
    Log(f"serve setup done: $setupS%.1f s")
    if (ctx.plant == "store_file") {
      // self-test fault: lose one stored file before serving
      val part = java.nio.file.Files.walk(new File(root, "hashtags").toPath)
        .iterator().asScala.map(_.toFile)
        .filter(_.getName.endsWith(".parquet")).toSeq.minBy(_.getPath)
      part.delete()
    }
    heap.checkpoint()
    ctx.tracer.resume()
    val gc0 = Gc.ms
    val probeGc0 = heap.probeGcMs
    val timedMix = mix(ctx.seed)

    val outDir = ctx.dir("serve-out").getPath
    val done = ArrayBuffer.empty[(Cmd, Double, Option[java.nio.file.Path])]
    def serve(c: Cmd): Unit = {
      val req = s"cmd-${done.size}"
      val t0 = System.nanoTime()
      val out =
        try {
          if (!ctx.tracer.enabled) Repl.serveLine(spark, root, outDir, c.line)
          else ctx.tracer.span(c.kind, "serve", req) {
            // serveLine's own body, with its two halves as child spans
            Serve.retryingServe(storePath = root) {
              ctx.tracer.span("dispatch", "serve", req)(
                Repl.dispatch(spark, root, c.line)).map { df =>
                ctx.tracer.span("writeResult", "serve", req)(
                  Repl.writeResult(df, c.line.split(" ").head, outDir))
              }
            }
          }
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] ${c.line} failed: $e"); None }
      done += ((c, (System.nanoTime() - t0) / 1e6, out))
    }
    val listed0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // whole blocks only, so every run serves the same mix
    var blocksDone = 0
    while (blocksDone < MinBlocks || System.nanoTime() < deadline) {
      blocksDone += 1
      timedMix.next().foreach(serve)
      heap.checkpoint()
    }
    Log(s"serve loop done: ${done.size} commands")
    val listed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - listed0
    val gcMs = Gc.ms - gc0 - (heap.probeGcMs - probeGc0)
    ctx.tracer.freeze()
    Phase(done.toSeq, setupS, gcMs, listed)
  }

  /** Failed operations (commands) and notes: every answer file must equal,
    * row for row and in order, the command evaluated over the batch twins. */
  def check(p: Phase, twins: Twins): (Long, Seq[String]) = {
    val expected = scala.collection.mutable.Map.empty[String, Seq[String]]
    val notes = ArrayBuffer.empty[String]
    val failed = p.done.count { case (c, _, out) =>
      val want = expected.getOrElseUpdate(c.line, twins.expected(c.line))
      val got = out.map(p => java.nio.file.Files.readAllLines(p).asScala.toSeq
        .filter(_.nonEmpty).map(Json.canonical))
      val ok = got.contains(want)
      if (!ok && notes.size < 5)
        notes += s"${c.line}: ${got.map(_.size).getOrElse(-1)} rows, " +
          s"expected ${want.size}"
      !ok
    }
    (failed.toLong, notes.toSeq)
  }

  /** Per-layer metrics of the traced run: per command, and medians. */
  def layers(ctx: Ctx, p: Phase): Map[String, Double] = {
    val done = p.done
    def kindP50(k: String) = Stats.median(done.filter(_._1.kind == k).map(_._2))
    val tr = ctx.tracer
    tr.drain()
    val spans = tr.spans.asScala.toSeq
    val n = math.max(1, done.size).toDouble
    def childMs(name: String) =
      Stats.median(spans.filter(_.name == name).map(_.dur / 1e6))
    // readRecent's probes (file listing, schema, the per-date count
    // jobs of its widening loop) all run before dispatch returns
    val recentCmds = spans.filter(_.name == "recent").map(_.id).toSet
    val recentDispatch = spans
      .filter(s => s.name == "dispatch" && recentCmds(s.parent))
      .map(_.id).toSet
    val jobs = tr.jobs.values.asScala.toSeq
    tr.jobSpans(_ => 0L).foreach(j => tr.record(j.copy(layer = "serve")))
    Map(
      "serve.plan_ms" -> childMs("dispatch"),
      "serve.execute_ms" -> childMs("writeResult"),
      "serve.jobs" -> jobs.size / n,
      "serve.recent_probe_jobs" -> jobs.count(j => recentDispatch(j.span)) /
        math.max(1, recentCmds.size).toDouble,
      "serve.files_listed" -> p.listed / n,
      "serve.files_read" -> tr.scanFiles.get / n,
      "serve.bytes_read" -> tr.scanBytes.get / n,
      "serve.partitions_read" -> tr.scanPartitions.get / n,
      "serve.range_p50_ms" -> kindP50("range"),
      "serve.entity_p50_ms" -> kindP50("entity"),
      "serve.recent_p50_ms" -> kindP50("recent"),
      "serve.summary_p50_ms" -> kindP50("summary"))
  }
}
