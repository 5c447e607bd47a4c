package perfbench

import scala.collection.mutable

/** The LLM-pipeline extension end to end: a batch dedup pass over a
  * corpus with planted duplicates, then a stream of novelty-ingest
  * micro-batches. Both reuse the same fused kernels, in bulk in the pass
  * and in small calls per batch, so per-row cost (the pass) separates
  * from per-call overhead (the batches). No `mat` call runs here. */
final class LlmPipeline(seed: Long) extends Workload {
  private val dedup = new LlmDedup(seed)
  private val stream = new NoveltyStream(seed)
  private var dir = ""
  private val kernelNs = mutable.Map.empty[String, Double]

  def setup(ctx: Ctx): Unit = {
    dir = ctx.dir
    dedup.setup(ctx, s"$dir/src/dedup")
    stream.setup(ctx, s"$dir/src/stream", dedup.centroids)
    stream.createIndexes(ctx)
  }

  def measure(ctx: Ctx, seconds: Double): Samples = {
    val t0 = System.nanoTime()
    ctx.rec.span("pass", "cycle")(dedup.pass(ctx))
    val pass = (System.nanoTime() - t0) / 1e9
    val deadline = t0 + (seconds * 1e9).toLong
    val steps = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Boolean]
    var rows = 0L
    val minBatches =
      if (ctx.rec.enabled) LlmPipeline.MinTracedBatches else LlmPipeline.MinBatches
    while (stream.hasNext &&
        (steps.size < minBatches || System.nanoTime() < deadline)) {
      ctx.rec.active = ctx.rec.enabled && steps.size % 2 == 1
      traced += ctx.rec.active
      val (dt, n) = stream.next(ctx)
      steps += dt
      rows += n
    }
    ctx.rec.active = ctx.rec.enabled
    if (ctx.rec.enabled) {
      // maintenance, not part of a batch: timed for the layer table only
      stream.compact(ctx)
      kernelNs ++= Kernels.time(ctx, s"$dir/src/dedup", Kernels.All)
    }
    Samples(Seq(pass), steps.toSeq, rows,
      Map("input_digest" -> dedup.digest),
      stream.storageRatio, traced.toSeq)
  }

  def check(ctx: Ctx): Unit = {
    dedup.check(ctx)
    stream.check(ctx)
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val r = ctx.rec
    val passes = r.cycles("pass")
    val batches = r.cycles("batch")
    dedup.layers(passes) ++ stream.layers(r, batches) ++
      kernelNs.map { case (k, v) => s"functions.$k.ns_per_row" -> v } ++
      Metrics.engine(r, steps = batches, passes = passes)
  }
}

object LlmPipeline {
  val MinBatches = 1
  /** An untraced warm-up, then one traced and one untraced batch. */
  val MinTracedBatches = 3
}
