package perfbench

import graft.{Caches, SparkEntry}

/** Closed loop, one client: a pass runs a fixed list of registry queries
  * over the generated tables to the noop sink, in an order shuffled by the
  * seed. Artifacts and bucketed layouts are built by the set-up pass.
  */
final class QueryMix(val ctx: Ctx) extends Workload {
  val name = "query_mix"
  private val s = ctx.spark
  private val in = ctx.conf("tablesInput")
  val queries: Seq[String] = ctx.conf("queries").split(",").toSeq
  private val rng = new scala.util.Random(ctx.conf("seed").toLong)
  private val firstRun = scala.collection.mutable.Map.empty[String, Double]
  private var cacheEntries = 0

  /** The set-up pass: each query once, against a fresh staging root, so
    * its artifacts and layouts are built here and served afterwards. It
    * is also the warm-up.
    */
  override def setUp(rep: Int): Unit = {
    s.conf.set("spark.graft.staging.root", ctx.path(s"qstage$rep"))
    queries.foreach { q =>
      val (_, sec) = timed(ctx.op(q)(
        ctx.noop(SparkEntry.queries(q)(s, in))))
      firstRun(q) = sec
    }
    Caches.releaseAll()
  }

  def iteration(t: Tracer, it: Int): Option[(Double, Seq[Double])] = {
    val order = rng.shuffle(queries)
    val t0 = System.nanoTime()
    val lat = order.map { q =>
      val t1 = System.nanoTime()
      ctx.op(q)(t.span(s"query.$q")(ctx.noop(SparkEntry.queries(q)(s, in))))
        .map(_ => (System.nanoTime() - t1) / 1e6)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    cacheEntries = Caches.size
    Caches.releaseAll()
    if (lat.forall(_.isDefined)) Some((wall, lat.flatten)) else None
  }

  /** Each query's result as one parquet file plus its DuckDB oracle SQL,
    * for the compare that run.py makes after the run.
    */
  override def checks(): Seq[(String, Any)] = {
    val out = ctx.path("qout")
    queries.foreach { q =>
      ctx.op(s"output_$q")(SparkEntry.queries(q)(s, in)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q"))
    }
    Caches.releaseAll()
    Seq("check.query_out" -> out,
      "check.oracle_sql" -> queries.map(q => q -> SparkEntry.oracleSql(q))
        .toMap)
  }

  def layers(t: Tracer): Seq[(String, Double)] = {
    val steady = queries.map(q => q -> selfMedian(t, s"query.$q")).toMap
    val shuffleMb = queries.map { q =>
      q -> Stats.median(t.all.filter(_.name == s"query.$q")
        .map(_.counter("shuffle_write_bytes") / 1048576.0))
    }.toMap
    queries.flatMap(q => Seq(s"query.${q}_s" -> steady(q),
      s"query.${q}_shuffle_mb" -> shuffleMb(q))) ++ Seq(
      "sources.Artifact.build_s" -> queries.map(q =>
        math.max(0.0, firstRun.getOrElse(q, 0.0) - steady(q))).sum,
      "Caches.entries" -> cacheEntries.toDouble)
  }
}
