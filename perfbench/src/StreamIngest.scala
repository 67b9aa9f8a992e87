package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.BatchPipeline
import graft.schemas.Schemas
import graft.streaming.StreamPipeline

/** The always-on path: JSON-line files → `rawTextDir` → pin/geo/user
  * streams (stateful dedup) → three concurrent checkpointed parquet sinks.
  *
  * A measured loop has two phases. Open loop: one generator thread renames
  * pre-written files into the watched directories on a fixed schedule, and
  * each file's latency runs from when it was due to the commit of the
  * micro-batch that read it. Drain: the timed iteration, three concurrent
  * `runAvailableNow` runs over a pre-staged backlog.
  */
final class StreamIngest(val ctx: Ctx) extends Workload {
  val name = "stream_ingest"
  private val s = ctx.spark
  private val in = ctx.conf("streamInput")
  private val intervalMs = ctx.conf("streamIntervalMs").toLong
  // the open loop is capped by the pre-written files (40 × 150 ms), so the
  // timed drains get the larger share of a run
  private val openShare = 0.35
  private val minFiles = 8
  private val topics = Seq("pin", "geo", "user")
  private val streamOf: Map[String, DataFrame => DataFrame] = Map(
    "pin" -> (StreamPipeline.pinStream(_)),
    "geo" -> (StreamPipeline.geoStream(_)),
    "user" -> (StreamPipeline.userStream(_)))
  private val pool = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(topics.size, { (r: Runnable) =>
      val th = new Thread(r, "perfbench-drain"); th.setDaemon(true); th
    }))
  private var measures = 0
  private var lastDrain: Option[String] = None
  private var lastOpen: Option[String] = None
  private var openStats: Seq[(String, Double)] = Nil
  private val drainSecs = scala.collection.mutable.Map
    .empty[String, List[Double]].withDefaultValue(Nil)

  private def pending(topic: String): Seq[java.io.File] =
    new java.io.File(s"$in/pending/$topic").listFiles.toSeq.sortBy(_.getName)

  override def measure(seconds: Double, t: Tracer): Measured = {
    measures += 1
    val drains = super.measure(seconds * (1 - openShare), t)
    val (lat, extra) = openLoop(seconds * openShare)
    drains.copy(latMs = lat, extra = drains.extra ++ extra)
  }

  /** One drain of the backlog through the three streams, concurrently. */
  def iteration(t: Tracer, it: Int): Option[(Double, Seq[Double])] = {
    lastDrain.foreach(Stats.deleteTree)
    val dir = ctx.path(s"stream/m${measures}_drain$it")
    lastDrain = Some(dir)
    val t0 = System.nanoTime()
    val runs = t.span("streaming.drain") {
      val fs = topics.map { n =>
        Future {
          val a = System.nanoTime()
          val done = StreamPipeline.runAvailableNow(
            streamOf(n)(StreamPipeline.rawTextDir(s, s"$in/backlog/$n")),
            s"$dir/sink/$n", s"$dir/ckpt/$n")
          (n, done, a, System.nanoTime())
        }(pool)
      }
      fs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val ok = runs.zip(topics).map { case (r, n) =>
      ctx.op(s"drain_$n") {
        val (_, done, a, b) = r.get
        require(done, s"drain of $n did not finish")
        t.record(s"streaming.drain_$n", a, b)
        if (t.enabled) drainSecs(n) = (b - a) / 1e9 :: drainSecs(n)
      }.isDefined
    }.forall(identity)
    if (ok) Some((wall, Nil)) else None
  }

  /** The open-loop phase: returns per-file latencies (ms) and the
    * streaming layer's progress statistics.
    */
  private def openLoop(seconds: Double): (Seq[Double], Seq[(String, Any)]) = {
    val avail = pending("pin").size
    val n = math.min(avail,
      math.max(minFiles, (seconds * 1000 / intervalMs).toInt))
    val dir = ctx.path(s"stream/m${measures}_open")
    lastOpen.foreach(Stats.deleteTree)
    lastOpen = Some(dir)
    topics.foreach { tp =>
      Files.createDirectories(Paths.get(s"$dir/in/$tp"))
      Files.createDirectories(Paths.get(s"$dir/staged/$tp"))
      pending(tp).take(n).foreach(f =>
        Files.copy(f.toPath, Paths.get(s"$dir/staged/$tp/${f.getName}")))
    }
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    val queries = topics.map(tp => tp -> StreamPipeline.startParquetSink(
      streamOf(tp)(StreamPipeline.rawTextDir(s, s"$dir/in/$tp")),
      s"$dir/sink/$tp", s"$dir/ckpt/$tp")).toMap
    // the generator: one thread, one file per topic due every intervalMs
    val files = pending("pin").take(n).map(_.getName)
    val start = System.currentTimeMillis() + 500
    val dueMs = files.indices.map(k => start + k * intervalMs)
    val lateMs = files.zip(dueMs).map { case (f, due) =>
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val late = System.currentTimeMillis() - due
      topics.foreach(tp => Files.move(Paths.get(s"$dir/staged/$tp/$f"),
        Paths.get(s"$dir/in/$tp/$f"), StandardCopyOption.ATOMIC_MOVE))
      late.toDouble
    }
    val failedQueries = queries.values.count { q =>
      try { q.processAllAvailable(); false }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] stream failed: $e"); true }
    }
    val lagEndS = (System.currentTimeMillis() - dueMs.last) / 1e3
    queries.values.foreach(_.stop())
    org.apache.spark.graft.ListenerBridge.drain(s.sparkContext)
    s.streams.removeListener(listener)

    val all = progress.asScala.toSeq
    val data = all.filter(_.numInputRows > 0)
    // file -> micro-batch, from the file source's offset log
    val fileOf = files.zipWithIndex.toMap
    val lat = topics.flatMap { tp =>
      val q = queries(tp)
      val commitMs = all.filter(_.id == q.id).map(p => p.batchId ->
        (java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.get("triggerExecution").longValue)).toMap
      sourceLog(s"$dir/ckpt/$tp").flatMap { case (file, batch) =>
        for (k <- fileOf.get(file); c <- commitMs.get(batch))
          yield (c - dueMs(k)).toDouble
      }
    }
    // the micro-batches, plus one check that every file was committed
    ctx.attempted += data.size + failedQueries + 1
    ctx.failed += failedQueries
    if (lat.size != n * topics.size) {
      ctx.failed += 1
      System.err.println(s"[perfbench] ${lat.size} of ${n * topics.size} " +
        "open-loop files reached a committed micro-batch")
    }
    def p50(key: String): Double =
      Stats.median(data.map(_.durationMs.get(key).doubleValue))
    val lastOf = topics.flatMap(tp => all.filter(_.id == queries(tp).id)
      .lastOption.flatMap(_.stateOperators.headOption))
    openStats = Seq(
      "streaming.batches" -> data.size.toDouble,
      "streaming.rows_per_batch" ->
        Stats.median(data.map(_.numInputRows.toDouble)),
      "streaming.trigger_ms_p50" -> p50("triggerExecution"),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.query_planning_ms_p50" -> p50("queryPlanning"),
      "streaming.wal_commit_ms_p50" -> p50("walCommit"),
      "streaming.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "streaming.latest_offset_ms_p50" -> p50("latestOffset"),
      "streaming.state_rows" -> lastOf.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mb" ->
        lastOf.map(_.memoryUsedBytes).sum / 1048576.0,
      "streaming.checkpoint_mb" -> Stats.dirBytes(s"$dir/ckpt") / 1048576.0,
      "streaming.lag_end_s" -> lagEndS,
      "streaming.generator_late_ms" -> lateMs.max,
      "streaming.latency_p50_ms" -> Stats.median(lat),
      "streaming.latency_tail_ms" -> Stats.quantile(lat, Workload.TailQuantile))
    (lat, Seq("open_loop_files" -> n, "interval_ms" -> intervalMs))
  }

  /** (file name, batch id) entries of a file source's offset log. */
  private def sourceLog(ckpt: String): Seq[(String, Long)] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    Option(new java.io.File(s"$ckpt/sources/0").listFiles).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList finally src.close()
      }
      .collect { case entry(p, b) =>
        p.substring(p.lastIndexOf('/') + 1) -> b.toLong }
      .distinct
  }

  /** Sink rows equal BatchPipeline.clean over the same records, as
    * multisets. Rows with a NULL dedup key collapse to one arbitrary
    * survivor on both paths, so for those only the count is compared.
    */
  private def sameAsBatch(sinkDir: String, inDir: String): Seq[Boolean] = {
    val raw = Seq(Schemas.pinRaw, Schemas.geoRaw, Schemas.userRaw)
      .zip(topics).map { case (sc, tp) =>
        BatchPipeline.readTopic(s, s"$inDir/$tp", sc) }
    val ref = BatchPipeline.clean(raw(0), raw(1), raw(2))
    def bag(df: DataFrame, key: String) = {
      val rows = df.collect().toSeq
      val (keyed, nulls) = rows.partition(r => !r.isNullAt(r.fieldIndex(key)))
      (keyed.groupBy(_.toSeq).map { case (k, v) => k -> v.size }, nulls.size)
    }
    Seq((ref.pin, "pin", "description"), (ref.geo, "geo", "ind"),
        (ref.user, "user", "ind")).map { case (b, tp, key) =>
      bag(s.read.schema(b.schema).parquet(s"$sinkDir/$tp"), key) ==
        bag(b, key)
    }
  }

  override def checks(): Seq[(String, Any)] = {
    val drain = lastDrain.get
    val open = lastOpen.get
    val sameDrain = sameAsBatch(s"$drain/sink", s"$in/backlog")
    val sameOpen = sameAsBatch(s"$open/sink", s"$open/in")
    topics.map(tp => s"check.${tp}_rows" ->
      s.read.parquet(s"$drain/sink/$tp").count()) ++
      topics.zip(sameDrain).map { case (tp, ok) =>
        s"check.drain_${tp}_equals_batch" -> ok } ++
      topics.zip(sameOpen).map { case (tp, ok) =>
        s"check.open_${tp}_equals_batch" -> ok } :+
      ("streaming.write_amp" ->
        Stats.dirBytes(drain).toDouble / Stats.dirBytes(s"$in/backlog"))
  }

  def layers(t: Tracer): Seq[(String, Double)] = {
    val backlogBytes = Stats.dirBytes(s"$in/backlog")
    val rows = topics.map(tp => countLines(s"$in/backlog/$tp")).sum
    val drainMedian = selfMedian(t, "streaming.drain")
    openStats ++ topics.map(tp =>
      s"streaming.drain_${tp}_s" -> Stats.median(drainSecs(tp))) ++ Seq(
      "streaming.drain_rows_per_s" -> rows / drainMedian,
      "streaming.write_amp" -> lastDrain.map(d =>
        Stats.dirBytes(d).toDouble / backlogBytes).getOrElse(Double.NaN))
  }

  private def countLines(dir: String): Long =
    new java.io.File(dir).listFiles.toSeq.map { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().size.toLong finally src.close()
    }.sum
}
