package perfbench

import org.apache.spark.storage.StorageLevel

import graft.BatchPipeline
import graft.ops.Cleaners
import graft.schemas.Schemas

/** The paper's daily job: raw pin/geo/user JSON → declared-schema reads →
  * the three cleaners → parquet tables → the 9 report queries (noop sink)
  * over the tables read back.
  */
final class BatchDaily(val ctx: Ctx) extends Workload {
  val name = "batch_daily"
  private val s = ctx.spark
  private val in = ctx.conf("batchInput")
  private val topics = Seq(
    ("pin", Schemas.pinRaw, Cleaners.pinClean _),
    ("geo", Schemas.geoRaw, Cleaners.geoClean _),
    ("user", Schemas.userRaw, Cleaners.userClean _))
  private var lastOut: Option[String] = None
  private val keep = scala.collection.mutable.Map.empty[String, Double]

  def iteration(t: Tracer, it: Int): Option[(Double, Seq[Double])] = {
    lastOut.foreach(Stats.deleteTree)
    val out = ctx.path(s"batch/it$it")
    lastOut = Some(out)
    val t0 = System.nanoTime()
    val lat = t.span("batch_daily.iteration")(run(t, out))
    val wall = (System.nanoTime() - t0) / 1e9
    lat.map(l => (wall, l))
  }

  /** Tables then queries; the query latencies, or None on any failure. */
  private def run(t: Tracer, out: String): Option[Seq[Double]] = {
    var ok =
      if (t.enabled) tracedTables(t, out)
      else {
        val raw = topics.map { case (n, schema, _) =>
          BatchPipeline.readTopic(s, s"$in/$n", schema)
        }
        val c = BatchPipeline.clean(raw(0), raw(1), raw(2))
        Seq("pin" -> c.pin, "geo" -> c.geo, "user" -> c.user).forall {
          case (n, df) => ctx.op(s"${n}_table")(
            df.write.mode("overwrite").parquet(s"$out/$n")).isDefined
        }
      }
    if (!ok) return None
    val cleaned = BatchPipeline.Cleaned(
      s.read.parquet(s"$out/pin"), s.read.parquet(s"$out/geo"),
      s.read.parquet(s"$out/user"))
    val lat = BatchPipeline.queriesOver(cleaned).toSeq.sortBy(_._1).flatMap {
      case (q, df) =>
        val t1 = System.nanoTime()
        val r = ctx.op(q)(t.span(s"ops.ReferenceQueries.$q")(ctx.noop(df)))
        if (r.isEmpty) ok = false
        r.map(_ => (System.nanoTime() - t1) / 1e6)
    }
    if (ok) Some(lat) else None
  }

  /** The traced table build: each layer's output is forced on its own
    * from an input that is already materialized (persisted).
    */
  private def tracedTables(t: Tracer, out: String): Boolean =
    topics.forall { case (n, schema, clean) =>
      ctx.op(s"${n}_table") {
        val raw = BatchPipeline.readTopic(s, s"$in/$n", schema)
          .persist(StorageLevel.MEMORY_AND_DISK)
        t.span("sources.json_read")(ctx.noop(raw))
        val cleaned = clean(raw).persist(StorageLevel.MEMORY_AND_DISK)
        t.span(s"ops.Cleaners.$n")(ctx.noop(cleaned))
        t.span("sources.Sinks.write")(
          cleaned.write.mode("overwrite").parquet(s"$out/$n"))
        keep(n) = cleaned.count().toDouble / math.max(raw.count(), 1L)
        cleaned.unpersist(true)
        raw.unpersist(true)
      }.isDefined
    }

  private def inputBytes: Long = Stats.dirBytes(in)

  override def checks(): Seq[(String, Any)] = {
    val out = lastOut.get
    topics.map { case (n, _, _) =>
      s"check.${n}_rows" -> s.read.parquet(s"$out/$n").count()
    } ++ topics.map { case (n, schema, _) =>
      s"check.${n}_read" -> BatchPipeline.readTopic(s, s"$in/$n", schema)
        .count()
    } :+ ("sources.Sinks.write_amp" ->
      Stats.dirBytes(out).toDouble / inputBytes)
  }

  def layers(t: Tracer): Seq[(String, Double)] = {
    val readS = selfMedian(t, "sources.json_read")
    val out = lastOut.get
    val files = new java.io.File(out).listFiles.toSeq
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .count(_.getName.startsWith("part-"))
    Seq(
      "sources.json_read_s" -> readS,
      "sources.json_read_mb_per_s" -> inputBytes / 1048576.0 / readS,
      "sources.Sinks.write_s" -> selfMedian(t, "sources.Sinks.write"),
      "sources.Sinks.files_written" -> files.toDouble,
      "sources.Sinks.write_amp" -> Stats.dirBytes(out).toDouble / inputBytes,
      "ops.Cleaners.pin_s" -> selfMedian(t, "ops.Cleaners.pin"),
      "ops.Cleaners.geo_s" -> selfMedian(t, "ops.Cleaners.geo"),
      "ops.Cleaners.user_s" -> selfMedian(t, "ops.Cleaners.user"),
      "ops.Cleaners.pin_keep_ratio" -> keep.getOrElse("pin", Double.NaN)) ++
      (1 to 9).map(i => s"ops.ReferenceQueries.q${i}_s" ->
        selfMedian(t, s"ops.ReferenceQueries.q$i"))
  }
}
