package perfbench

import scala.collection.mutable.ArrayBuffer

/** Timings of one measured loop: iteration wall times (iterations with a
  * failed operation are left out) and per-operation latencies.
  */
final case class Measured(walls: Seq[Double], latMs: Seq[Double],
    extra: Seq[(String, Any)] = Nil) {
  def wallMedian: Double = Stats.median(walls)

  def summary: Seq[(String, Any)] = Seq(
    "wall_s" -> wallMedian,
    "wall_samples" -> walls,
    "latency_p50_ms" -> Stats.median(latMs),
    "latency_tail_ms" -> Stats.quantile(latMs, Workload.TailQuantile),
    "latency_tail_pct" -> Workload.TailQuantile * 100,
    "latency_samples" -> latMs.size,
    "latency_beyond_tail" ->
      latMs.count(_ > Stats.quantile(latMs, Workload.TailQuantile))) ++ extra
}

/** One benchmark workload. `iteration` is the unit that is timed; with an
  * enabled tracer it wraps each layer call in a span and forces that
  * layer's output, so per-layer times are self times.
  */
trait Workload {
  def name: String
  def ctx: Ctx

  /** The work before the first timed iteration; by default one untimed
    * warm-up iteration. `rep` numbers the repetitions.
    */
  def setUp(rep: Int): Unit =
    iteration(new Tracer(ctx.spark, ctx.counters, false), 0)

  /** One iteration: its wall seconds and operation latencies in ms, or
    * None when any of its operations failed.
    */
  def iteration(t: Tracer, it: Int): Option[(Double, Seq[Double])]

  /** Iterations until `seconds` have passed (at least one). */
  def measure(seconds: Double, t: Tracer): Measured = {
    val walls, lat = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var it = 0
    ctx.timing = true
    try do {
      it += 1
      t.iteration = it
      iteration(t, it).foreach { case (w, l) => walls += w; lat ++= l }
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    finally ctx.timing = false
    Measured(walls.toSeq, lat.toSeq, Seq("iterations" -> it))
  }

  /** Correctness outputs, produced after the timed region. */
  def checks(): Seq[(String, Any)] = Nil

  /** Per-layer metrics from the spans of a traced [[measure]]. */
  def layers(t: Tracer): Seq[(String, Double)]

  /** Median self time of the spans named `span`, per iteration. */
  protected def selfMedian(t: Tracer, span: String): Double = {
    val perIt = t.all.filter(_.name == span).groupBy(_.iteration)
      .values.map(_.map(t.selfSeconds).sum).toSeq
    Stats.median(perIt)
  }

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Workload {
  val TailQuantile = 0.9

  val names: Seq[String] =
    Seq("batch_daily", "stream_ingest", "corpus_build", "query_mix")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "batch_daily" => new BatchDaily(ctx)
    case "stream_ingest" => new StreamIngest(ctx)
    case "corpus_build" => new CorpusBuild(ctx)
    case "query_mix" => new QueryMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
