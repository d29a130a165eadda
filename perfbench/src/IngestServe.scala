package perfbench

/**
 * `ingest_serve`: the live pipeline as TSAR runs it, ingest then serving.
 * A seeded replay goes through the unified 4-family pipeline one file per
 * micro-batch ([[Ingest]]); then one client sends the seeded REPL read mix
 * against the store exactly as the pipeline left it ([[ServeMix]]). The two
 * timed loops together run for `--seconds`: a fixed number of files, then
 * whole blocks of commands until the time is used, so every run of a seed
 * serves the same store. Both checks run after both loops.
 */
object IngestServe {
  def run(ctx: Ctx): Outcome = {
    val heap = new HeapProbe
    val ing = Ingest.run(ctx, heap)
    val ingLayers =
      if (ctx.tracer.enabled) Ingest.layers(ctx, ing) else Map.empty[String, Double]
    val srv = ServeMix.run(ctx, heap, ing.store, ctx.seconds - ing.loopS)
    val srvLayers =
      if (ctx.tracer.enabled) ServeMix.layers(ctx, srv) else Map.empty[String, Double]

    // ---- correctness (outside the timed loops) ----------------------------
    val twins = new Twins(ctx.spark, ing.admitted.map(_.getPath), ing.watermark)
    val (ingFailed, ingNotes) = Ingest.check(ing, twins)
    val (srvFailed, srvNotes) = ServeMix.check(srv, twins)
    twins.release()
    Log("checks done")

    val lat = srv.latMs
    val endToEnd = Map(
      "setup_s" -> (ing.setupS + srv.setupS),
      "throughput_per_s" -> ing.tweets / math.max(1e-9, ing.latMs.sum / 1000.0),
      "op_p50_ms" -> Stats.median(lat),
      "op_tail_ms" -> Stats.percentile(lat, ServeMix.TailPercentile),
      "peak_heap_mb" -> heap.peakMb)
    val perLayer =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else ingLayers ++ srvLayers ++ Map(
        "jvm.gc_ms" -> (ing.gcMs + srv.gcMs).toDouble,
        "jvm.heap_after_gc_mb" ->
          ctx.tracer.oldGenAfterGcPeak.get / (1024.0 * 1024.0),
        "trace.spans" -> ctx.tracer.spans.size.toDouble,
        "trace.op_p50_ms" -> Stats.median(lat))
    Outcome(ing.ops.size + srv.done.size, ingFailed + srvFailed, endToEnd,
      perLayer, notes = ingNotes ++ srvNotes)
  }
}
