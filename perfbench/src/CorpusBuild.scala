package perfbench

import org.apache.spark.sql.functions.{col, lower}
import org.apache.spark.storage.StorageLevel

import graft.CorpusPipeline
import graft.functions.{MinHashSignature, ShingleHashes, SimHash64}
import graft.ops.TextOps

/** A fresh training-corpus build: `CorpusPipeline.run` (dedup →
  * boilerplate → quality → gate → decontam → chunk → pack → shuffle), each
  * iteration from an empty staging root and a fresh output directory, so
  * every artifact is built, never served.
  */
final class CorpusBuild(val ctx: Ctx) extends Workload {
  val name = "corpus_build"
  private val s = ctx.spark
  private val in = ctx.conf("corpusInput")
  private var last: Option[(String, String)] = None
  private var counts: Option[CorpusPipeline.StageCounts] = None
  private val stageSecs = scala.collection.mutable.Map
    .empty[String, List[Double]].withDefaultValue(Nil)

  def iteration(t: Tracer, it: Int): Option[(Double, Seq[Double])] = {
    last.foreach { case (a, b) => Stats.deleteTree(a); Stats.deleteTree(b) }
    val (stage, out) = (ctx.path(s"corpus/stage$it"), ctx.path(s"corpus/out$it"))
    last = Some((stage, out))
    val rootKey = "spark.graft.staging.root"
    val root = s.conf.get(rootKey)
    s.conf.set(rootKey, stage)
    val t0 = System.nanoTime()
    val r = try ctx.op("corpus_pipeline")(
        t.span("CorpusPipeline.run")(CorpusPipeline.run(s, in, out)))
      finally s.conf.set(rootKey, root)
    val wall = (System.nanoTime() - t0) / 1e9
    if (t.enabled) kernels(t)
    r.map { c =>
      counts = Some(c)
      val stages = CorpusPipeline.lastStageSeconds
      // every stage after the first counts as one more operation
      ctx.attempted += stages.size - 1
      if (t.enabled) stages.foreach { case (n, sec) =>
        stageSecs(n) = sec :: stageSecs(n) }
      (wall, stages.map(_._2 * 1000))
    }
  }

  /** The `functions` kernels, each forced alone over the already
    * materialized token arrays of the corpus documents.
    */
  private def kernels(t: Tracer): Unit = {
    val toks = s.read.parquet(s"$in/documents.parquet")
      .select(TextOps.tokens(lower(col("text"))).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    ctx.noop(toks)
    val seeds = Array.iterate(0x9E3779B97F4A7C15L, 64)(x =>
      x * 6364136223846793005L + 1442695040888963407L)
    t.span("functions.shingle_hashes")(
      ctx.noop(toks.select(ShingleHashes.shingleHashes(col("t"), 3))))
    t.span("functions.minhash_signature")(
      ctx.noop(toks.select(MinHashSignature.minhashSignature(col("t"), 3,
        seeds))))
    t.span("functions.simhash64")(
      ctx.noop(toks.select(SimHash64.simhash64(col("t")))))
    toks.unpersist(true)
  }

  override def checks(): Seq[(String, Any)] = {
    val c = counts.get
    Seq("check.corpus_out" -> last.get._2,
      "check.stage_counts" -> Map(
        "total" -> c.total, "survivors" -> c.survivors,
        "deboiled" -> c.afterBoiler, "quality" -> c.afterQuality,
        "gated" -> c.afterGate, "balanced" -> c.afterBalance,
        "clean" -> c.afterDecontam, "chunks" -> c.chunks,
        "packed" -> c.bins),
      "CorpusPipeline.write_amp" -> writeAmp)
  }

  private def writeAmp: Double =
    last.map { case (a, b) => Stats.dirBytes(a) + Stats.dirBytes(b) }
      .getOrElse(0L).toDouble / Stats.dirBytes(s"$in/documents.parquet")

  def layers(t: Tracer): Seq[(String, Double)] = {
    val c = counts.get
    def ratio(a: Long, b: Long) = a.toDouble / math.max(b, 1L)
    stageSecs.toSeq.sortBy(_._1.takeWhile(_.isDigit).toInt).map {
      case (n, xs) => s"CorpusPipeline.${n}_s" -> Stats.median(xs)
    } ++ Seq(
      "CorpusPipeline.write_amp" -> writeAmp,
      "ops.DedupOps.keep_ratio" -> ratio(c.survivors, c.total),
      "ops.CorpusOps.boilerplate_keep_ratio" -> ratio(c.afterBoiler,
        c.survivors),
      "ops.TextOps.quality_keep_ratio" -> ratio(c.afterQuality, c.afterBoiler),
      "ops.TextOps.gate_keep_ratio" -> ratio(c.afterGate, c.afterQuality),
      "ops.CorpusOps.decontam_keep_ratio" -> ratio(c.afterDecontam,
        c.afterBalance),
      "functions.shingle_hashes_s" -> selfMedian(t, "functions.shingle_hashes"),
      "functions.minhash_signature_s" ->
        selfMedian(t, "functions.minhash_signature"),
      "functions.simhash64_s" -> selfMedian(t, "functions.simhash64"))
  }
}
