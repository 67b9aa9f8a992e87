package graft.streaming

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import graft.ops.Cleaners
import graft.schemas.Schemas

/** Shared plumbing for the foreachBatch table-maintenance sinks: portable
  * filesystem probes (java.io.File answers `false` for every hdfs://s3a://
  * path — an existence check through it silently degrades "merge into the
  * table" to "overwrite with the latest batch") and a per-sink BATCH
  * LEDGER that makes micro-batch REPLAY a no-op: foreachBatch's batchId
  * is replayed verbatim after checkpoint recovery, so recording the last
  * applied id next to the table and skipping `batchId <= recorded` is
  * the standard idempotent-foreachBatch pattern.
  *
  * The overwrite-shaped sinks go one step further with [[commit]]: the
  * ledger row is a `_graft_batch` MARKER FILE written INSIDE the staged
  * directory before the swap, so table content and ledger become one
  * atomic unit (the transaction-log trick on plain parquet — readers
  * skip `_`-prefixed files, exactly like `_SUCCESS`). Every crash point
  * is then safe: stage incomplete → the live table (with its old
  * marker) is untouched and the batch replays in full; stage complete
  * but swap unfinished (live dir deleted, rename pending) → [[recover]]
  * finishes the rename before any read, making the batch applied. The
  * old record-after-overwrite pattern had a window where the table was
  * updated but the ledger was not, double-merging the batch on replay.
  * The external ledger file ([[record]]) is still read, so tables written
  * before the marker existed keep their replay protection. The near-dup
  * gate appends instead of overwriting and keeps its own ledger: a
  * manifest pointer swapped by the same atomic rename
  * (`StreamPipeline.startNearDupGate`).
  */
private[graft] object TableSink {

  private def fs(s: SparkSession, path: String) =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  def hasParquet(s: SparkSession, path: String): Boolean = {
    recover(s, path) // a mid-swap table must read as its committed stage
    val f = fs(s, path)
    val p = new Path(path)
    f.exists(p) && f.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  def delete(s: SparkSession, path: String): Unit =
    fs(s, path).delete(new Path(path), true)

  private def ledger(path: String) = new Path(path + "__ledger")
  private def stage(path: String) = new Path(path + "__stage")
  // inside-the-directory marker: `_` prefix ⇒ invisible to parquet scans
  private val MarkerName = "_graft_batch"

  private def readId(s: SparkSession, path: String, p: Path): Option[Long] = {
    val f = fs(s, path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val b = new Array[Byte](32)
        val n = in.read(b)
        if (n > 0) Some(new String(b, 0, n).trim.toLong) else None
      } finally in.close()
    }
  }

  private def writeId(s: SparkSession, path: String, p: Path,
      batchId: Long): Unit = {
    val out = fs(s, path).create(p, true)
    try out.write(batchId.toString.getBytes) finally out.close()
  }

  /** Finish a [[commit]] swap a crash interrupted: the live directory is
    * gone but a COMPLETE stage (marker present — written last, so its
    * presence certifies every data file landed) is waiting. Rename is
    * the filesystem's atomic primitive; completing it here makes the
    * staged batch applied. An INCOMPLETE stage is never promoted (and is
    * simply overwritten by the next commit attempt).
    */
  def recover(s: SparkSession, path: String): Unit = {
    val f = fs(s, path)
    val st = stage(path)
    if (!f.exists(new Path(path)) && f.exists(st) &&
        f.exists(new Path(st, MarkerName)))
      renameOrThrow(f, st, new Path(path))
  }

  // FileSystem.rename/delete signal failure by RETURN VALUE, not by
  // exception (e.g. a cross-filesystem stage path, or a dest some FS
  // semantics refuse to clobber). Swallowing a false here would leave
  // no live table — or the old one — silently, deferring detection to
  // a later read; failing the micro-batch instead lets the checkpoint
  // replay it.
  private def renameOrThrow(f: org.apache.hadoop.fs.FileSystem,
      src: Path, dst: Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(
        s"TableSink: rename $src -> $dst failed (returned false)")

  private def deleteOrThrow(f: org.apache.hadoop.fs.FileSystem,
      p: Path): Unit =
    if (f.exists(p) && !f.delete(p, true) && f.exists(p))
      throw new java.io.IOException(
        s"TableSink: delete $p failed (returned false)")

  def alreadyApplied(s: SparkSession, path: String, batchId: Long): Boolean = {
    recover(s, path)
    // both ledgers consulted: the in-directory marker (atomic commit
    // sinks) and the external [[record]] file (pre-marker tables)
    val ids = Seq(
      readId(s, path, new Path(path, MarkerName)),
      readId(s, path, ledger(path))).flatten
    ids.nonEmpty && ids.max >= batchId
  }

  /** Atomically replace the table at `path` with `df` AND record
    * `batchId` as applied — one swap, no window. Protocol: write `df`
    * into `path__stage` (reading the LIVE table is still safe — it is
    * untouched until the write completes), add the marker file last,
    * rename the live directory ASIDE (rename, not recursive delete — a
    * crash mid-delete would leave a partially-deleted live table that a
    * rebuild would read as truth), rename the stage over it, then drop
    * the aside copy. The aside→promote gap is closed by [[recover]] at
    * read time.
    *
    * Round 13 — VERSIONED READS (time travel, the one Delta headline
    * semantic previously without an analog): the superseded live
    * directory is not garbage — it is EXACTLY the table as of the
    * previous commit, already carrying its own `_graft_batch` marker.
    * Instead of deleting it, the swap RENAMES it (no data copy) into
    * `path__versions/v<prevId>`, where [[readTableAsOf]] serves it.
    * Retention is bounded the windowed near-dup gate's way: after
    * every commit, [[vacuumVersions]] keeps the newest `keepVersions`
    * archived versions and GCs the rest — the overwrite-shaped sinks rewrite
    * the FULL table per commit, so unbounded retention would be
    * O(batches × table) storage on exactly the unbounded streams these
    * sinks serve. A live table WITHOUT a marker (created before the
    * atomic protocol) falls back to the old aside-and-delete path —
    * there is no id to file it under.
    *
    * Crash points (all inherited): stage incomplete → live untouched,
    * batch replays in full, no version archived twice (the archive
    * rename happens only after the marker certifies the stage).
    * Archive done + promote pending → [[recover]] promotes; the replay
    * reads as applied and never re-runs the archive (idempotence spec).
    * Crash mid-vacuum → the next commit's vacuum re-deletes (listing-
    * based, idempotent).
    */
  def commit(s: SparkSession, path: String, batchId: Long,
      df: DataFrame, keepVersions: Int = 2): Unit = {
    val f = fs(s, path)
    val st = stage(path)
    val live = new Path(path)
    val aside = new Path(path + "__old")
    deleteOrThrow(f, st)
    df.write.mode("overwrite").parquet(st.toString)
    writeId(s, path, new Path(st, MarkerName), batchId)
    deleteOrThrow(f, aside)
    if (f.exists(live)) {
      readId(s, path, new Path(live, MarkerName)) match {
        case Some(prevId) =>
          f.mkdirs(versionsDir(path))
          val vp = new Path(versionsDir(path), s"v$prevId")
          deleteOrThrow(f, vp)
          renameOrThrow(f, live, vp)
        case None =>
          renameOrThrow(f, live, aside)
      }
    }
    renameOrThrow(f, st, live)
    deleteOrThrow(f, aside)
    vacuumVersions(s, path, keepVersions)
  }

  private def versionsDir(path: String) = new Path(path + "__versions")

  /** Every readable version id, oldest first: the archived superseded
    * commits plus the live table's own. Incomplete archive directories
    * (no marker) are invisible — the marker certifies every data file
    * landed, same contract as the stage promote.
    */
  def listVersions(s: SparkSession, path: String): Seq[Long] = {
    recover(s, path)
    val f = fs(s, path)
    val vd = versionsDir(path)
    val archived =
      if (!f.exists(vd)) Seq.empty[Long]
      else f.listStatus(vd).toSeq
        .filter(st => f.exists(new Path(st.getPath, MarkerName)))
        .flatMap(st => scala.util.Try(
          st.getPath.getName.stripPrefix("v").toLong).toOption)
    (archived ++ readId(s, path, new Path(path, MarkerName))).sorted
  }

  /** Delta-style `versionAsOf`: the table EXACTLY as it stood after
    * batch `batchId` committed — the live directory when `batchId` is
    * current, the archived version otherwise. A version outside the
    * retention horizon (vacuumed) or never committed throws with the
    * available ids, like Delta's VersionNotFound.
    */
  def readTableAsOf(s: SparkSession, path: String,
      batchId: Long): DataFrame = {
    recover(s, path)
    val f = fs(s, path)
    if (readId(s, path, new Path(path, MarkerName)).contains(batchId))
      s.read.parquet(path)
    else {
      val vp = new Path(versionsDir(path), s"v$batchId")
      if (f.exists(new Path(vp, MarkerName)))
        s.read.parquet(vp.toString)
      else throw new IllegalArgumentException(
        s"no committed version $batchId at $path; available: " +
          listVersions(s, path).mkString("[", ", ", "]"))
    }
  }

  /** Retention GC: keep the newest `keepLast` ARCHIVED versions, delete
    * the rest (the live table is never touched). Listing-based and
    * idempotent — a crash mid-vacuum leaves directories the next
    * vacuum re-deletes, the near-dup gate's GC discipline.
    */
  def vacuumVersions(s: SparkSession, path: String, keepLast: Int): Unit = {
    val f = fs(s, path)
    val vd = versionsDir(path)
    if (f.exists(vd)) {
      f.listStatus(vd).toSeq
        .flatMap(st => scala.util.Try(
          st.getPath.getName.stripPrefix("v").toLong).toOption)
        .sorted.dropRight(math.max(keepLast, 0))
        .foreach(id => deleteOrThrow(f, new Path(vd, s"v$id")))
    }
  }

  def record(s: SparkSession, path: String, batchId: Long): Unit =
    writeId(s, path, ledger(path), batchId)
}

/** The reference's streaming entry point (`(Clone) Kinesis Data Stream.py`)
  * re-expressed as Structured Streaming: an unbounded source of JSON bytes
  * → `CAST(data AS STRING)` → `from_json(schema)` → struct flatten → the
  * same cleaning transforms as batch → append sink with checkpoint.
  *
  * The Kinesis connector is not on the offline classpath (SURVEY.md §7.4):
  * any source producing a `data: string` column preserves the semantics —
  * tests use MemoryStream[String]; production would swap in a connector
  * without touching the pipeline (`deserialize` onward is source-agnostic).
  *
  * Scale notes:
  *  - Batch and stream share one cleaner per topic (`Cleaners.pinClean`
  *    etc.): every step is narrow except the trailing `dropDuplicates`,
  *    which on a stream compiles to StreamingDeduplicate and keeps the
  *    reference's unbounded dedup state (`KINESIS:131,145,156`) — every
  *    key ever seen stays in the state store. A stream that must run
  *    forever bounds that state by deduplicating within a watermark
  *    (`dropDuplicatesWithinWatermark`) on its own event-time column
  *    instead; the pipeline keeps the reference's contract.
  *  - Sinks are parquet append with per-query checkpoints — the same
  *    exactly-once contract as the reference's Delta sinks (`KINESIS:174-192`).
  */
object StreamPipeline {

  /** `CAST(data AS STRING)` → `from_json` → flatten (`KINESIS:49-51`). */
  def deserialize(raw: DataFrame, schema: StructType): DataFrame =
    raw.selectExpr("CAST(data AS STRING) AS data")
      .select(from_json(col("data"), schema).as("data"))
      .select(col("data.*"))

  /** Streaming pin path: deserialize + the batch cleaner. */
  def pinStream(raw: DataFrame): DataFrame =
    deserialize(raw, Schemas.pinRaw).transform(Cleaners.pinClean)

  /** [[pinStream]] with per-batch data-quality counters attached via
    * `observe` (a CollectMetrics node): row count, post-clean NULL
    * follower_count (unparseable suffixes + sentinel hits), NULL
    * category (sentinel hits). The counters ride the existing
    * micro-batch — no second aggregation, no extra pass — and surface
    * in every `StreamingQueryProgress.observedMetrics["pin_quality"]`,
    * where an operator alerts on drift (e.g. a null-rate spike means
    * the producer changed its schema). The 100 TB telemetry shape:
    * monitoring cost must be O(0) passes, not a shadow pipeline.
    */
  def pinStreamObserved(raw: DataFrame): DataFrame =
    pinStream(raw).observe("pin_quality",
      count(lit(1)).as("n_rows"),
      sum(when(col("follower_count").isNull, 1L).otherwise(0L))
        .as("n_null_follower"),
      sum(when(col("category").isNull, 1L).otherwise(0L))
        .as("n_null_category"))

  /** Streaming geo path (`KINESIS:138-149`). */
  def geoStream(raw: DataFrame): DataFrame =
    deserialize(raw, Schemas.geoRaw).transform(Cleaners.geoClean)

  /** [[geoStream]] with [[pinStreamObserved]]'s per-batch counters:
    * unparseable timestamps and NULL coordinate components both signal
    * producer drift.
    */
  def geoStreamObserved(raw: DataFrame): DataFrame =
    geoStream(raw).observe("geo_quality",
      count(lit(1)).as("n_rows"),
      sum(when(col("timestamp").isNull, 1L).otherwise(0L))
        .as("n_null_timestamp"),
      sum(when(col("coordinates").getItem(0).isNull ||
        col("coordinates").getItem(1).isNull, 1L).otherwise(0L))
        .as("n_null_coord"))

  /** Streaming user path (`KINESIS:153-163`). */
  def userStream(raw: DataFrame): DataFrame =
    deserialize(raw, Schemas.userRaw).transform(Cleaners.userClean)

  /** [[userStream]] with per-batch counters: NULL date_joined flags an
    * unparseable date; NULL user_name flags a missing name component
    * (concat propagates NULL).
    */
  def userStreamObserved(raw: DataFrame): DataFrame =
    userStream(raw).observe("user_quality",
      count(lit(1)).as("n_rows"),
      sum(when(col("date_joined").isNull, 1L).otherwise(0L))
        .as("n_null_date"),
      sum(when(col("user_name").isNull, 1L).otherwise(0L))
        .as("n_null_name"))

  /** Event-time tumbling-window aggregate with watermark — the windowed
    * streaming shape the reference lacks (SURVEY.md §2.11 T4), over any
    * stream with (ts, event_type, value).
    */
  def windowedCounts(events: DataFrame,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Input/stat/output records for streaming sessionization. */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, duration_sec: Long)

  /** [[sessionizeStream]] via the native `session_window` streaming
    * aggregation — Spark's own session operator: state-store-backed
    * window merging, watermark-bounded state, Append-mode emission once
    * the watermark passes a session's gap-extended end. No custom state
    * machine to maintain, and semantics identical to the batch
    * [[graft.ops.EventOps.sessionizeNative]] (touching windows merge,
    * `session_end = last + gap`) — asserted in spec against the
    * flatMapGroupsWithState twin. Prefer this form when the per-session
    * output is expressible as aggregates (here `n_events` and
    * `total_value`); drop to `flatMapGroupsWithState` only for session
    * logic aggregates can't state (mid-session emission, custom
    * eviction).
    */
  def sessionizeStreamNative(
      events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMin: Int = 30, watermark: String = "1 hour"): DataFrame =
    events.toDF()
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMin minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Custom streaming state machine: per-user sessionization with a gap
    * rule, via `flatMapGroupsWithState` (SURVEY.md §2.11 T4 extension —
    * the arbitrary-state API the reference never needed). A session closes
    * when a later event arrives more than `gapMin` past the last one, or
    * when the group times out; closed sessions are emitted in Append mode.
    * State per user is three longs — the bounded-state production shape.
    */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMin: Int = 30): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMin * 60 * 1000L
    def fn(userId: Long, it: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      var closed = List.empty[SessionOut]
      if (state.hasTimedOut) {
        state.getOption.foreach { st =>
          closed ::= SessionOut(userId, new java.sql.Timestamp(st.start),
            st.n, (st.last - st.start) / 1000L)
        }
        state.remove()
        return closed.iterator
      }
      var cur = state.getOption
      it.toSeq.sortBy(e => (e.ts.getTime, e.value)).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(st) if t - st.last >= gapMs =>
            closed ::= SessionOut(userId, new java.sql.Timestamp(st.start),
              st.n, (st.last - st.start) / 1000L)
            cur = Some(SessionState(t, t, 1))
          case Some(st) =>
            cur = Some(SessionState(st.start, math.max(st.last, t), st.n + 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { st =>
        state.update(st)
        // With EventTimeTimeout Spark drops input rows behind the
        // watermark BEFORE they reach this function (spec-pinned), so a
        // below-watermark expiry "cannot" arise from late data — but
        // setTimeoutTimestamp throws (killing the whole query) if it
        // ever does, e.g. on a watermark-config change across restart.
        // Clamp to watermark+1 as defense: the session then closes on a
        // following trigger instead of crashing the stream.
        state.setTimeoutTimestamp(
          math.max(st.last + gapMs, state.getCurrentWatermarkMs + 1))
      }
      closed.reverse.iterator
    }
    events
      .withWatermark("ts", s"$gapMin minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Spark 4 `transformWithState` twin of [[sessionizeStream]] — the
    * successor API to `flatMapGroupsWithState`: typed state variables
    * come from a handle (`getValueState`) instead of one opaque state
    * object, session closure runs in an explicit `handleExpiredTimer`
    * callback on a registered event-time timer, and the operator
    * requires the RocksDB state store (per-key state off-heap, the
    * backend that scales state past executor memory — set
    * `spark.sql.streaming.stateStore.providerClass` to
    * `...state.RocksDBStateStoreProvider`). Semantics are identical to
    * the fMGWS sessionizer (spec: same closed sessions, batch
    * boundaries invisible).
    */
  class SessionProcessor(gapMin: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessionEvent, SessionOut] {
    import org.apache.spark.sql.streaming.{TimerValues, ExpiredTimerInfo, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    private val gapMs = gapMin * 60 * 1000L
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: streaming.OutputMode,
        timeMode: streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[SessionEvent],
        timerValues: TimerValues): Iterator[SessionOut] = {
      var closed = List.empty[SessionOut]
      var cur = Option(state.get())
      val hadTimer = cur.map(_.last + gapMs)
      rows.toSeq.sortBy(e => (e.ts.getTime, e.value)).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(st) if t - st.last >= gapMs =>
            closed ::= SessionOut(userId, new java.sql.Timestamp(st.start),
              st.n, (st.last - st.start) / 1000L)
            cur = Some(SessionState(t, t, 1))
          case Some(st) =>
            cur = Some(SessionState(st.start, math.max(st.last, t), st.n + 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { st =>
        state.update(st)
        // re-arm: one live timer per key (delete the superseded one)
        hadTimer.filter(_ != st.last + gapMs)
          .foreach(getHandle.deleteTimer)
        getHandle.registerTimer(st.last + gapMs)
      }
      closed.reverse.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      val out = Option(state.get()).map { st =>
        SessionOut(userId, new java.sql.Timestamp(st.start),
          st.n, (st.last - st.start) / 1000L)
      }
      state.clear()
      out.iterator
    }
  }

  /** [[sessionizeStream]] on the transformWithState API — same contract,
    * new-generation state backend. See [[SessionProcessor]].
    */
  def sessionizeStreamTws(events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMin: Int = 30): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withWatermark("ts", s"$gapMin minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMin),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stream-stream inner join with watermarks and an event-time range
    * bound (T7 extension): match each click to purchases of the same user
    * within the following hour. Both sides' state is evicted past their
    * watermarks — the join is runnable indefinitely.
    */
  def streamStreamJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "click_ts", "purchase_ts", "value")
  }

  /** Streaming corpus cleaning: the training-data text ops composed on an
    * unbounded documents stream — quality gate, then PII redaction in
    * place. Both are stateless narrow transforms (no state store, no
    * watermark needed), so the batch semantics carry over verbatim; this
    * is the shape a continuous ingest pipeline runs before anything
    * stateful (dedup) sees the data.
    */
  def cleanDocsStream(docs: DataFrame): DataFrame =
    docs
      .filter(graft.ops.TextOps.qualityKeep(col("text")))
      .withColumn("text", graft.ops.TextOps.redactText(col("text")))

  /** The full streaming ingest path for a training-data corpus: quality
    * gate → PII redaction → exact dedup on the normalized content hash
    * (`dropDuplicatesWithinWatermark` — state bounded by the watermark
    * horizon, the only dedup shape that survives an unbounded stream).
    * Requires an event-time column `ts` on the stream. Everything before
    * the dedup is stateless; the dedup state is one 16-byte hash per doc
    * within the horizon.
    */
  def ingestDocsStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    cleanDocsStream(docs)
      .withColumn("content_hash",
        md5(concat_ws(" ",
          graft.ops.TextOps.tokens(lower(col("text"))))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming benchmark-contamination quarantine: the continuous twin of
    * `CorpusOps.decontaminate`. Each arriving document's token n-grams are
    * checked against the static benchmark gram table with a stream-static
    * LEFT SEMI join (no state — the static side is just a lookup); docs
    * with any overlap surface once on the quarantine feed, deduplicated
    * within the watermark horizon (16-byte id state per doc, bounded).
    * Downstream, the trainer's ingest anti-joins this feed.
    *
    * Requires event-time column `ts` on the stream. The benchmark side is
    * benchmark-sized by nature — Spark broadcasts it per micro-batch.
    */
  def contaminationQuarantine(docs: DataFrame, benchmarkGrams: DataFrame,
      n: Int = 5, watermark: String = "1 hour"): DataFrame = {
    val t = graft.ops.TextOps.tokens(lower(col("text")))
    val grams = when(size(col("t")) >= n,
      transform(sequence(lit(0), size(col("t")) - n),
        i => concat_ws(" ", slice(col("t"), i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col("doc_id"), col("ts"), t.as("t"))
      .select(col("doc_id"), col("ts"),
        explode(array_distinct(grams)).as("gram"))
      .join(benchmarkGrams.select(col("gram")), Seq("gram"), "left_semi")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ts"))
  }

  /** The reference's wire streams through the DSv2 seam: an offset-tracked
    * [[graft.sources.v2.GraftWireSource]] micro-batch stream of raw JSON
    * (`stream` = pin|geo|user) — the Kinesis-consumer position the
    * MemoryStream/file variants stub. Feed to [[pinStreamObserved]] /
    * [[geoStreamObserved]] / [[userStreamObserved]].
    */
  def wireStream(s: SparkSession, stream: String, rows: Long,
      rowsPerBatch: Long = 25L, partitions: Int = 2): DataFrame =
    s.readStream.format("graft.sources.v2.GraftWireSource")
      .option("stream", stream)
      .option("rows", rows.toString)
      .option("rowsPerBatch", rowsPerBatch.toString)
      .option("partitions", partitions.toString)
      .load()

  /** Append sink into the DSv2 [[graft.sources.v2.GraftStoreSink]] table
    * store — the two-phase-commit write path with per-(query, epoch)
    * idempotent installs, i.e. the engine twin of the reference's Delta
    * streaming table (`KINESIS:174-192`) with exactly-once under replay.
    */
  def startStoreSink(df: DataFrame, table: String,
      checkpoint: String): StreamingQuery =
    df.writeStream
      .format("graft.sources.v2.GraftStoreSink")
      .option("table", table)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Start a parquet append sink with checkpoint — the engine twin of
    * `writeStream.format("delta").outputMode("append")
    * .option("checkpointLocation", ...).table(...)` (`KINESIS:174-192`).
    */
  def startParquetSink(df: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .start()

  /** One-shot catch-up run (`Trigger.AvailableNow`): process everything
    * the source has RIGHT NOW in rate-limited micro-batches, advance the
    * checkpoint, and stop — the scheduled-batch face of a streaming
    * pipeline. Repeated invocations are incremental and exactly-once:
    * the checkpoint carries the offset across runs, so a nightly cron of
    * this call is equivalent to having streamed continuously (the
    * operational mode the reference's always-on notebook cluster can't
    * express — a cluster that only exists while the job runs). Returns
    * whether the drain finished inside `timeoutMs`.
    */
  def runAvailableNow(df: DataFrame, path: String, checkpoint: String,
      timeoutMs: Long = 120000L): Boolean = {
    val q = df.writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val done = q.awaitTermination(timeoutMs)
    if (!done) q.stop()
    done
  }

  /** File-source variant of the pipeline entry: watch a directory of JSON
    * lines (each line one record, the wire shape of FIXTURES.md §3),
    * deserialize each line with the declared `schema`, and return the
    * flattened columns. Lets the whole pipeline run end-to-end without any
    * connector.
    */
  def fromJsonDir(s: SparkSession, dir: String, schema: StructType): DataFrame =
    deserialize(rawTextDir(s, dir), schema)

  /** Directory of JSON-line files as a raw wire-shaped stream — one
    * string `data` column per record, exactly what a connector delivers
    * (KINESIS:49). Feed to [[pinStream]]/[[geoStream]]/[[userStream]],
    * which own their deserialize+clean.
    */
  def rawTextDir(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(StructType(Seq(
        org.apache.spark.sql.types.StructField("data",
          org.apache.spark.sql.types.StringType))))
      .text(dir).withColumnRenamed("value", "data")

  /** The one `foreachBatch` scaffold every table-maintenance sink below
    * starts: `apply` gets each micro-batch with its checkpointed id.
    */
  private def startBatchSink(df: DataFrame, checkpoint: String)(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(apply)
      .start()

  /** The exactly-once protocol of every state-table sink. foreachBatch
    * replays a batch id verbatim after checkpoint recovery, and most
    * folds double-apply under a re-merge (counts, sums, CMS counters,
    * KLL weights, the funnel's out-of-order counts), so a `batchId` the
    * [[TableSink]] ledger already holds is skipped and the call returns
    * false. Otherwise `next` folds the batch into the stored table (None
    * before the first commit) and [[TableSink.commit]] swaps the result
    * in together with the ledger marker — one atomic unit, so no crash
    * point applies a batch twice. `next` may read the stored table: the
    * commit stages the new table before the live directory moves. State
    * lives in the table, not the stream (no watermark, no state store):
    * a restart resumes from the checkpoint and the table.
    */
  private def foldTable(s: SparkSession, path: String, batchId: Long)(
      next: Option[DataFrame] => DataFrame): Boolean =
    !TableSink.alreadyApplied(s, path, batchId) && {
      val stored =
        if (TableSink.hasParquet(s, path)) Some(s.read.parquet(path))
        else None
      TableSink.commit(s, path, batchId, next(stored))
      true
    }

  /** An associative keyed rollup kept as a state table: each micro-batch
    * projects its rows (`input`) and groups them by `keys` into `partial`
    * aggregates; [[applyRollupBatch]] unions those with the stored table
    * and re-groups the union with `merge`. `merge` is associative and
    * commutative over partials, so every raw row enters exactly one batch
    * partial and any batch slicing converges to the one-pass table, in
    * the sense each value's contract states. Consumers answer coarser
    * grains and windows by merging stored partials, never by re-reading
    * events.
    */
  final case class Rollup(input: Seq[Column], keys: Seq[String],
      partial: Seq[Column], merge: Seq[Column]) {
    def partialOf(batch: DataFrame): DataFrame =
      aggregate(batch.select(input: _*), partial)
    def mergeOf(tables: DataFrame): DataFrame = aggregate(tables, merge)
    private def aggregate(df: DataFrame, aggs: Seq[Column]) =
      df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  object Rollup {
    private val dec = "decimal(18,2)"

    /** Count, decimal sum, min and max per hour × event_type — the
      * O(batch) streaming twin of [[graft.ops.EventOps.incrementalHourly]].
      * Contract: EXACT — integer counts and decimal sums add
      * associatively, so any slicing equals the full recompute.
      */
    val hourlyAgg = Rollup(
      Seq(date_trunc("hour", col("ts")).as("hour"), col("event_type"),
        col("value")),
      Seq("hour", "event_type"),
      Seq(count(lit(1)).as("n_events"),
        sum(col("value").cast(dec)).as("sum_dec"),
        min("value").as("min_value"), max("value").as("max_value")),
      Seq(sum("n_events").as("n_events"),
        sum("sum_dec").cast(dec).as("sum_dec"),
        min("min_value").as("min_value"), max("max_value").as("max_value")))

    /** HLL sketch of user ids per epoch hour `h` — the partials
      * [[graft.ops.EventOps.slidingDistinctUsers]] unions into sliding
      * distinct counts. Contract: BYTE-IDENTICAL — HLL union is a pure
      * function of the input set.
      */
    val hourlyHll = hll(expr("unix_timestamp(ts) div 3600").as("h"), "h")

    /** HLL sketch of user ids per epoch `day` — the partials
      * [[graft.ops.EventOps.dauWauMauSketch]] consumes; any trailing
      * DAU/WAU/MAU window is at most 30 stored unions. Contract:
      * BYTE-IDENTICAL, as [[hourlyHll]].
      */
    val dailyHll =
      hll(expr("unix_micros(ts) div 86400000000").as("day"), "day")

    private def hll(key: Column, name: String) = Rollup(
      Seq(key, col("user_id")), Seq(name),
      Seq(expr("hll_sketch_agg(user_id)").as("sk")),
      Seq(expr("hll_union_agg(sk)").as("sk")))

    /** KLL sketch of `value` per epoch hour `h` — the streaming half of
      * [[graft.ops.EventOps.quantileRollupDaily]]. Contract: RANK-DOMAIN
      * — KLL merge is associative in guarantee, not in bits (compaction
      * is randomized), so any slicing yields quantile estimates within
      * the sketch's rank tolerance, every value counted once.
      */
    val hourlyKll = Rollup(
      Seq(expr("unix_timestamp(ts) div 3600").as("h"), col("value")),
      Seq("h"),
      Seq(expr("kll_sketch_agg_double(value)").as("sk")),
      Seq(expr("kll_merge_agg_double(sk)").as("sk")))

    /** Theta sketch of user ids per event_type. Theta also intersects,
      * so stored partials answer pairwise audience overlaps
      * (`theta_intersection`, [[graft.ops.EventOps.segmentOverlap]]'s
      * shape). Contract: BYTE-IDENTICAL at exact-regime cardinality —
      * theta union is a pure function of the input set under the default
      * seed.
      */
    val segmentTheta = Rollup(
      Seq(col("event_type"), col("user_id")), Seq("event_type"),
      Seq(expr("theta_sketch_agg(user_id)").as("sk")),
      Seq(expr("theta_union_agg(sk)").as("sk")))

    /** Count-min sketch of document terms per `lang` (eps 0.001,
      * confidence 0.99, seed 42), merged by [[graft.functions.CmsUnion]]
      * (the union SQL lacks); batch twin
      * [[graft.ops.TextOps.termFreqRollup]]. Contract: BYTE-IDENTICAL —
      * CMS union adds counters elementwise, so any slicing equals the
      * direct sketch over the whole stream.
      */
    val langCms = Rollup(
      Seq(col("lang"),
        explode(graft.ops.TextOps.tokens(lower(col("text")))).as("term")),
      Seq("lang"),
      Seq(expr("count_min_sketch(term, 0.001D, 0.99D, 42)").as("cms")),
      Seq(graft.functions.CmsUnion.cmsUnion(col("cms")).as("cms")))

    /** Count and decimal sum per minute `bucket_ts` — the base of
      * [[startGrainRollupSink]]'s ladder. Contract: EXACT, as
      * [[hourlyAgg]].
      */
    val grainMinute = Rollup(
      Seq(date_trunc("minute", col("ts")).as("bucket_ts"), col("value")),
      Seq("bucket_ts"),
      Seq(count(lit(1)).as("n_events"),
        sum(col("value").cast(dec)).as("dec_v")),
      Seq(sum("n_events").as("n_events"),
        sum("dec_v").cast(dec).as("dec_v")))
  }

  /** Keep `rollup`'s state table at `path` up to date from a stream: one
    * [[applyRollupBatch]] per micro-batch.
    */
  def startRollupSink(df: DataFrame, path: String, checkpoint: String,
      rollup: Rollup): StreamingQuery =
    startBatchSink(df, checkpoint)(applyRollupBatch(_, path, _, rollup))

  /** One rollup micro-batch (spec-drivable): the batch's partials merged
    * into the stored table through [[foldTable]]; false on a replay.
    */
  private[graft] def applyRollupBatch(batch: DataFrame, path: String,
      batchId: Long, rollup: Rollup): Boolean =
    foldTable(batch.sparkSession, path, batchId) { stored =>
      val partial = rollup.partialOf(batch)
      stored.fold(partial)(t => rollup.mergeOf(t.unionByName(partial)))
    }

  /** Streaming keyed-upsert sink: per micro-batch, MERGE the batch into a
    * parquet table by key (latest batch wins per key). The engine twin of
    * the Delta `foreachBatch { merge }` pattern — the upgrade path from
    * the reference's append-only streaming table (`KINESIS:174-192`) when
    * the stream carries updates, not just inserts.
    *
    * Within one batch, several rows may share a key; `orderCol` picks the
    * survivor deterministically (max wins) BEFORE the merge, and
    * [[foldTable]] makes a replayed batch a no-op. At 100 TB the
    * read-merge-rewrite touches only partitions holding merged keys (see
    * `Relational.mergeUpsert`); here the table rewrites whole, the
    * fixture shape.
    */
  def startMergeSink(df: DataFrame, path: String, checkpoint: String,
      keys: Seq[String], orderCol: String): StreamingQuery =
    startBatchSink(df, checkpoint) { (batch, batchId) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col(orderCol).desc)
      val latest = batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      foldTable(batch.sparkSession, path, batchId)(
        _.fold(latest)(graft.ops.Relational.mergeUpsert(_, latest, keys)))
    }

  /** Self-compacting append sink: each micro-batch appends parquet (the
    * cheap, exactly-once path), and whenever the accumulated small-file
    * count exceeds `maxFiles` the sink folds the table back to
    * ~`targetRecordsPerFile`-row files via [[graft.sources.Sinks
    * .compactParquet]]. This bounds scan cost at O(bytes), not
    * O(micro-batches) — the small-files problem every streaming table
    * hits (the reference's checkpointed append sink, `KINESIS:174-192`,
    * grows one file per batch per partition forever). Both the count and
    * the compaction go through the Hadoop FileSystem, so any path scheme
    * (`file:`, `hdfs://`, `s3a://`) compacts.
    *
    * Compaction runs inside foreachBatch, i.e. serialized with appends —
    * no writer races. At 100 TB the same trigger logic runs per
    * partition directory with a transaction log making the swap atomic;
    * the threshold check (a directory listing) is O(files), which is
    * exactly the quantity being bounded.
    */
  def startCompactingSink(df: DataFrame, path: String, checkpoint: String,
      maxFiles: Int, targetRecordsPerFile: Long): StreamingQuery =
    startBatchSink(df, checkpoint) { (batch, _) =>
      val s = batch.sparkSession
      batch.write.mode("append").parquet(path)
      if (graft.sources.Sinks.parquetFileCount(s, path) > maxFiles)
        graft.sources.Sinks.compactParquet(s, path, targetRecordsPerFile)
    }

  /** Streaming windowed funnel — the streaming twin of
    * [[graft.ops.EventOps.funnelWindowed]], sharing its step window
    * [[graft.ops.EventOps.FunnelWindowSec]]: a per-user state TABLE
    * (user_id, t1, t2, t3) holding the earliest view / qualifying
    * click / qualifying purchase times, merged per micro-batch through
    * [[foldTable]] with the greedy cascade evaluated row-locally over
    * the batch's sorted per-user event arrays.
    *
    * Correctness contract: with batches sliced in event-time order
    * (the append-stream premise every table-state sink here shares),
    * each stage time is fixed by the first batch that can prove it —
    * t1 is the global min view (earlier batches hold no views), a
    * qualifying click has us > t1 so it can only arrive in or after
    * t1's batch, and likewise down the cascade — so ANY ordered
    * slicing converges to the batch operator's state; the spec drives
    * uneven slicings and asserts exact equality of the readout. The
    * premise is made OBSERVABLE, not assumed: the state table carries
    * each user's max-seen event time, and a batch whose per-user min
    * precedes it is counted and loudly logged (late events can have
    * silently missed a stage window), so a violated contract surfaces
    * at runtime instead of as a quietly-diverged funnel.
    * Scale: per batch ONE user-keyed aggregate of the batch slice
    * (arrays bounded by a user's in-batch activity) + a user-keyed
    * full-outer merge join against the state table — co-partitioned,
    * no window, state one row per user ever seen.
    */
  def startFunnelSink(events: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    startBatchSink(events, checkpoint)(applyFunnelBatch(_, path, _))

  /** One funnel-state micro-batch merge (spec-drivable). Returns the
    * number of users this batch delivered OUT of event-time order
    * (0 when the ordered-slicing contract held, or when the batch was
    * a replayed no-op).
    */
  private[graft] def applyFunnelBatch(batch: DataFrame, path: String,
      batchId: Long): Long = {
    val winUs = graft.ops.EventOps.FunnelWindowSec * 1000000L
    var nOoo = 0L
    foldTable(batch.sparkSession, path, batchId) { stored =>
      val per = batch.select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("us")))
            .as("bv"),
          sort_array(collect_list(when(col("event_type") === "click",
            col("us")))).as("bc"),
          sort_array(collect_list(when(col("event_type") === "purchase",
            col("us")))).as("bp"),
          min(col("us")).as("bmin"), max(col("us")).as("bmax"))
      val joined = stored.map { t =>
        // schema forward-compat: a state table written before the
        // max-seen watermark (or the out-of-order counter) landed
        // simply starts tracking now
        val t1 = if (t.columns.contains("max_us")) t
          else t.withColumn("max_us", lit(null).cast("long"))
        val t2 = if (t1.columns.contains("ooo_events")) t1
          else t1.withColumn("ooo_events", lit(0L))
        t2.join(per, Seq("user_id"), "full_outer")
      }.getOrElse(per.withColumn("t1", lit(null).cast("long"))
        .withColumn("t2", lit(null).cast("long"))
        .withColumn("t3", lit(null).cast("long"))
        .withColumn("max_us", lit(null).cast("long"))
        .withColumn("ooo_events", lit(0L))
      ).localCheckpoint() // consumed by the contract probe AND the merge
      // the ordered-slicing contract, probed: a user whose batch slice
      // starts BEFORE their stored max-seen time arrived out of event-
      // time order — their stage times may have missed qualifying
      // events, so say so loudly instead of diverging silently
      val oooFlag = col("bmin").isNotNull &&
        col("max_us").isNotNull && col("bmin") < col("max_us")
      nOoo = joined.filter(oooFlag).count()
      if (nOoo > 0)
        System.err.println(s"[graft] funnel sink batch $batchId: $nOoo " +
          "user(s) arrived OUT OF EVENT-TIME ORDER (batch min < stored " +
          "max-seen) — the ordered-slicing premise is violated and late " +
          "stage events may have been missed; replay the stream in " +
          "event-time order to recover exact funnel state")
      // …and PERSISTED, not just logged (round-11 verdict #4): each
      // user's cumulative out-of-order arrival count rides in the state
      // table itself — committed in the SAME atomic swap as the stage
      // times (no second table, no torn-metrics window; a replayed
      // batch no-ops through the ledger like every other column), so a
      // monitoring query (`sum(ooo_events) > 0`) detects the violated
      // premise without access to driver logs
      joined
        .withColumn("t1n", least(col("t1"), col("bv")))
        .withColumn("t2n", least(col("t2"), expr(
          s"array_min(filter(bc, x -> x > t1n AND x <= t1n + $winUs))")))
        .withColumn("t3n", least(col("t3"), expr(
          s"array_min(filter(bp, x -> x > t2n AND x <= t2n + $winUs))")))
        .select(col("user_id"), col("t1n").as("t1"),
          col("t2n").as("t2"), col("t3n").as("t3"),
          greatest(col("max_us"), col("bmax")).as("max_us"),
          (coalesce(col("ooo_events"), lit(0L)) +
            when(oooFlag, 1L).otherwise(0L)).as("ooo_events"))
    }
    nOoo
  }

  /** Monitoring face of the funnel state table's ordered-slicing
    * contract: total users, users that EVER arrived out of event-time
    * order, and the summed violation count — the query a dashboard
    * polls to learn the funnel's premise was violated (nonzero ⇒
    * replay the stream in event-time order to recover exact state).
    */
  def funnelOooReadout(s: SparkSession, path: String): DataFrame = {
    val st = s.read.parquet(path)
    val ooo = if (st.columns.contains("ooo_events")) col("ooo_events")
      else lit(0L)
    st.agg(count(lit(1)).as("n_users"),
      sum(when(ooo > 0, 1L).otherwise(0L)).as("n_ooo_users"),
      sum(ooo).as("n_ooo_events"))
  }

  /** [[startFunnelSink]]'s readout: the same (stage, n_users,
    * p50_gap_sec) surface as the batch [[graft.ops.EventOps
    * .funnelWindowed]], derived from the stored per-user state table —
    * the spec asserts exact equality after any ordered slicing.
    */
  def funnelStateReadout(s: SparkSession, path: String): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    val st = s.read.parquet(path)
    val r1 = st.filter(col("t1").isNotNull)
      .agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("stage"), col("n_users"),
        lit(null).cast("double").as("p50_gap_sec"))
    val r2 = st.filter(col("t2").isNotNull)
      .select((col("t2") - col("t1")).as("gap"))
      .agg(count(lit(1)).as("n_users"),
        exactQuantiles(col("gap").cast("double"), Seq(50), 100).as("qs"))
      .select(lit("2_click").as("stage"), col("n_users"),
        (col("qs").getItem(0) / 1e6).as("p50_gap_sec"))
    val r3 = st.filter(col("t3").isNotNull)
      .select((col("t3") - col("t2")).as("gap"))
      .agg(count(lit(1)).as("n_users"),
        exactQuantiles(col("gap").cast("double"), Seq(50), 100).as("qs"))
      .select(lit("3_purchase").as("stage"), col("n_users"),
        (col("qs").getItem(0) / 1e6).as("p50_gap_sec"))
    r1.unionByName(r2).unionByName(r3).orderBy("stage")
  }

  /** Streaming materialized-view LADDER — the streaming twin of
    * [[graft.ops.EventOps.grainRollup]]: per micro-batch, the batch's
    * [[Rollup.grainMinute]] partials merge into the stored minute table
    * ([[applyRollupBatch]]: ledger-idempotent, so a replayed batch is a
    * no-op); the hour and day tables are then re-derived FROM THE MINUTE
    * TABLE with the same merge aggregates — never from raw events, which
    * each enter exactly one batch aggregate, once. At 100 TB the
    * hour/day rewrites read the minute PARTIALS (|minutes| rows, not
    * |events|) and the minute table is partitioned by day so each batch
    * rewrites only the days it touched.
    *
    * Exactly-once: the hour/day tables are PURE FUNCTIONS of the minute
    * table and are re-derived on every batch call — including replays —
    * so a crash anywhere between the minute commit and the derived
    * rewrites heals on the replay the checkpoint guarantees (a replayed
    * batch skips the merge, then re-derives the grains idempotently).
    */
  def startGrainRollupSink(events: DataFrame, basePath: String,
      checkpoint: String): StreamingQuery =
    startBatchSink(events, checkpoint)(applyGrainRollupBatch(_, basePath, _))

  /** One grain-rollup micro-batch (spec-drivable): atomic minute-table
    * merge, then idempotent hour/day re-derivation.
    */
  private[graft] def applyGrainRollupBatch(batch: DataFrame,
      basePath: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    applyRollupBatch(batch, basePath + "/minute", batchId,
      Rollup.grainMinute)
    // ladder: coarser grains re-aggregate the stored partials — OUTSIDE
    // the ledger guard, because they must also heal when a replayed
    // batch finds the minute commit already applied but the derived
    // rewrites were lost to the crash. Each rewrite goes through the
    // same stage+swap as the minute commit (a plain overwrite has a
    // mid-write window where a crash leaves a CORRUPT derived table
    // that no replay heals once the batch is checkpointed — the swap
    // leaves old-or-new, never half); being pure functions of the
    // minute table, the marker's batch id is observability only.
    def regrain(from: String, grain: String) = Rollup.grainMinute.mergeOf(
      s.read.parquet(s"$basePath/$from")
        .withColumn("bucket_ts", date_trunc(grain, col("bucket_ts"))))
    TableSink.commit(s, basePath + "/hour", batchId, regrain("minute", "hour"))
    TableSink.commit(s, basePath + "/day", batchId, regrain("hour", "day"))
  }

  /** Streaming near-dup admission gate: each micro-batch's documents are
    * admitted only if they do not near-duplicate (n-gram Jaccard ≥
    * `thresholdPct`%) a document admitted within the last
    * `windowBatches` batches or a smaller-id peer in the same batch. The
    * window defaults to unbounded — dedup against everything the gate
    * ever admitted. A bounded window is the TTL contract for a stream
    * with no end: content older than the window re-admits by design, and
    * the gate's state stays O(window). The streaming twin of
    * [[graft.ops.DedupOps.incrementalJaccardPairs]].
    *
    * State is TABLES, not stream state (no state store; restart =
    * checkpoint + manifest). Each batch writes overwrite-idempotent
    * SEGMENT directories — admitted docs at `<outPath>/seg_<batchId>`,
    * their shingle hashes at `<indexPath>/seg_<batchId>`, per-doc shingle
    * counts (the Jaccard denominator) at `<indexPath>/szseg_<batchId>` —
    * and merges its admitted hashes into its generation's Bloom filter.
    * One MANIFEST pointer (`_gate_manifest`: a `#hwm <id>` high-water
    * mark plus the in-window batch ids, swapped by atomic rename) then
    * commits all of it at once. The manifest is the batch ledger
    * (checkpointed batch ids are monotonic, so `batchId <= hwm` is a
    * replay and a no-op) and the readers' truth ([[readGateAdmitted]] /
    * [[readGateIndex]]): files a crash left before the swap are
    * invisible, the replay overwrites them, and their Bloom bits can
    * only add false positives.
    *
    * Per-batch work: the batch is shingled row-locally (compiled
    * [[graft.functions.ShingleHashes]]) and probed row-locally against
    * the live generations' Bloom filters, each read once; only candidate
    * hashes read the index. Bloom has no false negatives, so every truly
    * shared hash reaches the exact postings join, and a false positive
    * only costs a probed hash — a novel batch admits without reading the
    * index at all. A generation is `windowBatches` consecutive batch
    * ids, so at most two are live and no filter holds more than a
    * window's batches; unbounded, there is exactly one. A commit that
    * expires batches then lists the index directory and deletes expired
    * segments and filters (a crash mid-GC leaves files the next GC
    * reaps).
    *
    * Admission rule: reject iff near-dup of an indexed doc or a
    * SMALLER-id batch peer (one pass, deterministic). On a chain-shaped
    * cluster arriving in ONE batch (a~b, b~c, ¬a~c) this drops the whole
    * chain where batch-internal connected components would keep `c`; the
    * streaming contract trades that corner for O(batch) admission —
    * documented deviation from [[graft.ops.DedupOps.dedupSurvivors]].
    * While the window covers the stream, decisions equal the full-index
    * reference [[applyExactGateBatch]]'s (spec-pinned).
    */
  def startNearDupGate(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, n: Int = 3, thresholdPct: Int = 60,
      maxShingleDf: Int = 1000, windowBatches: Long = Long.MaxValue,
      bloomCapacity: Long = 1L << 22,
      bloomFpp: Double = 0.01): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyNearDupGateBatch(batch, indexPath, outPath, batchId, n,
          thresholdPct, maxShingleDf, windowBatches, bloomCapacity,
          bloomFpp): Unit
      }
      .start()

  /** One admission micro-batch (spec-drivable). Returns the number of
    * batch shingle hashes that survived the Bloom probe (0 = the index
    * was not read; -1 = a replayed no-op batch).
    */
  private[graft] def applyNearDupGateBatch(batch: DataFrame,
      indexPath: String, outPath: String, batchId: Long, n: Int = 3,
      thresholdPct: Int = 60, maxShingleDf: Int = 1000,
      windowBatches: Long = Long.MaxValue, bloomCapacity: Long = 1L << 22,
      bloomFpp: Double = 0.01): Long = {
    require(windowBatches >= 1)
    val s = batch.sparkSession
    import s.implicits._
    val manifest = readGateManifestLines(s, indexPath)
    if (batchId <= manifestHwm(manifest)) -1L
    else {
      val applied = manifestIds(manifest)
      // the TTL: batch a is deduped against iff it is at most
      // windowBatches behind this one
      val active = applied.filter(a => batchId - a <= windowBatches)
      val gen = (b: Long) => b / windowBatches
      val fs = new Path(indexPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // A manifest without the #hwm header was committed under an earlier
      // layout: no size files (the full-index gate) or one merged filter
      // file. Rebuild the missing szseg_<b> from seg_<b> (deterministic,
      // safe on replay) and every filter from its listed segments. This
      // gate writes both before it lists a batch and always writes the
      // header, so the probe runs on an index's first commit only and no
      // per-JVM record of checked segments is needed.
      val legacy = !manifest.exists(_.startsWith("#hwm "))
      if (legacy)
        active.filterNot(b => fs.exists(new Path(s"$indexPath/szseg_$b")))
          .foreach(b =>
            shingleCounts(readSegments(s, indexPath, "seg", Seq(b)))
              .write.mode("overwrite").parquet(s"$indexPath/szseg_$b"))
      val batchSh = shingles(batch, n).persist()
      // declared here so the finally below unpersists it on ANY exit: a
      // failing batch must not pin another copy per foreachBatch retry
      var admittedSh: DataFrame = null
      try {
        val blooms = (active :+ batchId).map(gen).distinct.map { g =>
          val members = active.filter(gen(_) == g)
          g -> (if (legacy) buildGenBloom(s, indexPath, members,
              bloomCapacity, bloomFpp)
            else readGenBloom(s, indexPath, windowBatches, g, members,
              bloomCapacity, bloomFpp))
        }.toMap
        val probe = BloomFilter.create(bloomCapacity, bloomFpp)
        blooms.values.foreach(probe.mergeInPlace)
        // the probe ships as a broadcast, not a plan literal: a literal
        // prints the filter's megabytes into the plan string of every
        // query built on it. The checkpoint materializes the candidates,
        // so the broadcast can go at once.
        val bc = s.sparkContext.broadcast(probe)
        val candH =
          try batchSh.select("h").as[Long]
            .mapPartitions(_.filter(bc.value.mightContainLong))
            .distinct().toDF("h").localCheckpoint()
          finally bc.destroy()
        val nCand = candH.count()
        val indexSh =
          if (active.nonEmpty && nCand > 0)
            readSegments(s, indexPath, "seg", active)
              .join(candH, Seq("h"), "left_semi")
          else Seq.empty[(Long, Long)].toDF("doc_id", "h")
        // per-doc TOTAL sizes come from the size files: the
        // candidate-pruned index read undercounts them by construction
        val indexSizes =
          if (active.nonEmpty) readSegments(s, indexPath, "szseg", active)
          else Seq.empty[(Long, Long)].toDF("doc_id", "sz")
        val rejected = rejectedDocs(indexSh, indexSizes, batchSh,
          thresholdPct, maxShingleDf)
        admittedSh = batchSh.join(rejected, Seq("doc_id"), "left_anti")
          .persist()
        batch.join(rejected, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$outPath/seg_$batchId")
        admittedSh.write.mode("overwrite")
          .parquet(s"$indexPath/seg_$batchId")
        shingleCounts(admittedSh)
          .write.mode("overwrite").parquet(s"$indexPath/szseg_$batchId")
        // the filter must hold the batch BEFORE the batch is listed (a
        // listed batch missing from it would be a false negative)
        val bloom = blooms(gen(batchId))
        bloom.mergeInPlace(hashBloom(admittedSh, bloomCapacity, bloomFpp))
        writeGenBloom(s, indexPath, windowBatches, gen(batchId), bloom)
        val retained = active :+ batchId
        swapGateManifest(s, indexPath, retained, hwm = batchId)
        // GC after the swap, by directory LISTING rather than by the
        // manifest: the swap drops an expired id before its files go, so
        // a crash between the two would orphan them forever if GC only
        // scanned manifest entries. The listing also reaps filters of
        // other windows and the legacy `_gate_bloom` file. Only a commit
        // that expired ids lists (an unbounded window never does: its
        // index has nothing to reap and grows with the stream).
        if (retained.size <= applied.size) {
          val liveBlooms = retained.map(gen).distinct
            .map(g => genBloomPath(indexPath, windowBatches, g).getName).toSet
          def expired(name: String, prefix: String) =
            name.startsWith(prefix) &&
              scala.util.Try(name.stripPrefix(prefix).toLong).toOption
                .exists(!retained.contains(_))
          fs.listStatus(new Path(indexPath)).map(_.getPath).foreach { p =>
            val name = p.getName
            if (expired(name, "seg_") || expired(name, "szseg_") ||
                (name.startsWith("_gate_bloom") && !liveBlooms(name)))
              fs.delete(p, true)
          }
        }
        nCand
      } finally {
        batchSh.unpersist()
        if (admittedSh != null) admittedSh.unpersist()
      }
    }
  }

  /** The full-index reference for [[applyNearDupGateBatch]] (spec-only):
    * the same admission rule with no window and no Bloom filter — each
    * batch joins against every manifest-listed index segment, and per-doc
    * sizes are counted from them. It writes the legacy index layout (no
    * size files, no `#hwm` header), so specs can also drive the gate's
    * migration path.
    */
  private[graft] def applyExactGateBatch(batch: DataFrame,
      indexPath: String, outPath: String, batchId: Long, n: Int = 3,
      thresholdPct: Int = 60, maxShingleDf: Int = 1000): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    val applied = gateManifest(s, indexPath)
    if (!applied.contains(batchId)) {
      val batchSh = shingles(batch, n).persist()
      try {
        val indexSh =
          if (applied.nonEmpty) readSegments(s, indexPath, "seg", applied)
          else Seq.empty[(Long, Long)].toDF("doc_id", "h")
        val rejected = rejectedDocs(indexSh, shingleCounts(indexSh),
          batchSh, thresholdPct, maxShingleDf)
        batch.join(rejected, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$outPath/seg_$batchId")
        batchSh.join(rejected, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$indexPath/seg_$batchId")
        swapGateManifest(s, indexPath, applied :+ batchId)
      } finally batchSh.unpersist()
    }
  }

  /** (doc_id, h): one row per n-gram shingle hash of each doc's text. */
  private def shingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.ShingleHashes.shingleHashes(
        graft.ops.TextOps.tokens(lower(col("text"))), n)).as("h"))

  /** (doc_id, sz): shingle count per doc. */
  private def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))

  private def readSegments(s: SparkSession, indexPath: String,
      prefix: String, ids: Seq[Long]): DataFrame =
    s.read.parquet(ids.map(b => s"$indexPath/${prefix}_$b"): _*)

  /** The admission rule: doc ids of `batchSh` whose shingle Jaccard with
    * an indexed doc, or with a smaller-id doc of the same batch, reaches
    * `thresholdPct`%. `indexSh` must carry EVERY index posting of each
    * hash it holds (so document frequencies count exactly), and
    * `indexSizes` (doc_id, sz) the total shingle count of the indexed
    * docs.
    */
  private def rejectedDocs(indexSh: DataFrame, indexSizes: DataFrame,
      batchSh: DataFrame, thresholdPct: Int,
      maxShingleDf: Int): DataFrame = {
    val all = indexSh.withColumn("is_new", lit(false))
      .unionByName(batchSh.withColumn("is_new", lit(true)))
    // pair-forming postings only (df ∈ [2, maxShingleDf] skew guard, same
    // contract as the batch pair generators)
    val pairForming = all.groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxShingleDf))
      .select("h")
    val postings = all.join(pairForming, Seq("h"))
    val newSide = postings.filter(col("is_new"))
      .select(col("h"), col("doc_id").as("doc_new"))
    val otherSide = postings.select(col("h"),
      col("doc_id").as("doc_other"), col("is_new").as("other_new"))
    val shared = newSide.join(otherSide, Seq("h"))
      .filter(col("doc_other") =!= col("doc_new"))
      // precedence: every indexed doc, or an earlier (smaller-id) doc of
      // this batch
      .filter(!col("other_new") || col("doc_other") < col("doc_new"))
      .groupBy("doc_new", "doc_other").agg(count(lit(1)).as("shared"))
    val sizes = shingleCounts(batchSh).unionByName(indexSizes)
      .groupBy("doc_id").agg(sum(col("sz")).as("sz"))
    shared
      .join(sizes.select(col("doc_id").as("doc_new"),
        col("sz").as("size_new")), Seq("doc_new"))
      .join(sizes.select(col("doc_id").as("doc_other"),
        col("sz").as("size_other")), Seq("doc_other"))
      .filter(col("shared") * 100 >= lit(thresholdPct) *
        (col("size_new") + col("size_other") - col("shared")))
      .select(col("doc_new").as("doc_id")).distinct()
  }

  /** One generation's filter file. The window is part of the name: a
    * generation is `windowBatches` consecutive batch ids, so a filter
    * written under another window covers other batches and is never read
    * (the GC reaps it). Unbounded, the one filter is `_gate_bloom_all_gen_0`.
    */
  private def genBloomPath(indexPath: String, windowBatches: Long,
      gen: Long): Path = {
    val w = if (windowBatches == Long.MaxValue) "all"
      else windowBatches.toString
    new Path(indexPath, s"_gate_bloom_${w}_gen_$gen")
  }

  /** A filter over the `h` column; empty for no rows (where the
    * `stat.bloomFilter` aggregate yields NULL and throws).
    */
  private def hashBloom(sh: DataFrame, capacity: Long,
      fpp: Double): BloomFilter =
    if (sh.isEmpty) BloomFilter.create(capacity, fpp)
    else sh.stat.bloomFilter("h", capacity, fpp)

  /** The filter over the admitted hashes of `members` (batch ids). */
  private def buildGenBloom(s: SparkSession, indexPath: String,
      members: Seq[Long], capacity: Long, fpp: Double): BloomFilter =
    if (members.isEmpty) BloomFilter.create(capacity, fpp)
    else hashBloom(readSegments(s, indexPath, "seg", members), capacity, fpp)

  /** One generation's stored filter; a missing, unreadable, or
    * parameter-incompatible file (another capacity/fpp: `mergeInPlace`
    * would throw IncompatibleMergeException on every replay) is rebuilt
    * from the generation's listed segments — hashes of already-expired
    * batches drop out.
    */
  private[graft] def readGenBloom(s: SparkSession, indexPath: String,
      windowBatches: Long, gen: Long, members: Seq[Long], capacity: Long,
      fpp: Double): BloomFilter = {
    val p = genBloomPath(indexPath, windowBatches, gen)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stored =
      if (!f.exists(p)) None
      else try {
        val in = f.open(p)
        try Some(BloomFilter.readFrom(in)) finally in.close()
      } catch { case _: Exception => None }
    stored.filter(_.isCompatible(BloomFilter.create(capacity, fpp)))
      .getOrElse(buildGenBloom(s, indexPath, members, capacity, fpp))
  }

  private[graft] def writeGenBloom(s: SparkSession, indexPath: String,
      windowBatches: Long, gen: Long, bloom: BloomFilter): Unit =
    replaceFile(s, genBloomPath(indexPath, windowBatches, gen))(bloom.writeTo)

  private def gateManifestPath(indexPath: String) =
    new Path(indexPath, "_gate_manifest")

  /** Listed batch ids; `#`-prefixed header lines are skipped. */
  private def manifestIds(lines: Seq[String]): Seq[Long] =
    lines.filterNot(_.startsWith("#")).map(_.toLong)

  /** The high-water mark: the largest batch id EVER committed, surviving
    * the window's pruning of the listed ids. Read from the `#hwm <id>`
    * header; a legacy manifest (no header) falls back to the max listed
    * id, and a fresh gate reads -1.
    */
  private def manifestHwm(lines: Seq[String]): Long =
    lines.collectFirst {
      case l if l.startsWith("#hwm ") => l.stripPrefix("#hwm ").trim.toLong
    }.getOrElse {
      val ids = manifestIds(lines)
      if (ids.isEmpty) -1L else ids.max
    }

  private def gateManifest(s: SparkSession, indexPath: String): Seq[Long] =
    manifestIds(readGateManifestLines(s, indexPath))

  private def readGateManifestLines(s: SparkSession,
      indexPath: String): Seq[String] = {
    val p = gateManifestPath(indexPath)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      try {
        val b = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, b, 4096, false)
        b.toString("UTF-8").split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      } finally in.close()
    }
  }

  /** Atomically replace the file at `p`: write a temp file, then
    * `FileContext.rename(…, Options.Rename.OVERWRITE)` — the one
    * rename-over-existing primitive Hadoop guarantees atomic (plain
    * `FileSystem.rename` refuses an existing destination, and
    * delete-then-rename would open a window in which a crash loses the
    * file — for the manifest, every admitted batch). Object stores
    * without atomic rename need their own pointer primitive — same
    * caveat as every swap in [[TableSink]].
    */
  private def replaceFile(s: SparkSession, p: Path)(
      write: java.io.OutputStream => Unit): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val tmp = new Path(p.getParent, p.getName + "__tmp")
    val out = tmp.getFileSystem(conf).create(tmp, true)
    try write(out) finally out.close()
    FileContext.getFileContext(p.toUri, conf)
      .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** Repoint the manifest; `hwm >= 0` adds the `#hwm` header. */
  private def swapGateManifest(s: SparkSession, indexPath: String,
      applied: Seq[Long], hwm: Long = -1L): Unit = {
    val header = if (hwm >= 0) s"#hwm $hwm\n" else ""
    replaceFile(s, gateManifestPath(indexPath))(
      _.write((header + applied.mkString("\n")).getBytes("UTF-8")))
  }

  /** The gate's admitted-documents table: every output segment whose
    * batch id is at or below the manifest's high-water mark — the FULL
    * admitted history, since output segments outlive the window's pruning
    * of the index (the window bounds dedup STATE, not the stream's
    * product). Crash-orphaned segments stay invisible: a pre-swap crash
    * leaves a segment whose id is strictly above the committed hwm.
    * Fresh gate → empty (schema-typed) frame.
    */
  def readGateAdmitted(s: SparkSession, outPath: String,
      indexPath: String): DataFrame = {
    import s.implicits._
    val hwm = manifestHwm(readGateManifestLines(s, indexPath))
    val op = new Path(outPath)
    val f = op.getFileSystem(s.sparkContext.hadoopConfiguration)
    val visible =
      if (hwm < 0 || !f.exists(op)) Seq.empty[String]
      else f.listStatus(op).toSeq.map(_.getPath)
        .filter { seg =>
          val n = seg.getName
          n.startsWith("seg_") &&
            scala.util.Try(n.stripPrefix("seg_").toLong)
              .toOption.exists(_ <= hwm)
        }
        .map(_.toString)
    if (visible.isEmpty) Seq.empty[(Long, String)].toDF("doc_id", "text")
    else s.read.parquet(visible: _*)
  }

  /** The gate's shingle-index table (manifest-listed segments only). */
  def readGateIndex(s: SparkSession, indexPath: String): DataFrame = {
    import s.implicits._
    val applied = gateManifest(s, indexPath)
    if (applied.isEmpty) Seq.empty[(Long, Long)].toDF("doc_id", "h")
    else readSegments(s, indexPath, "seg", applied)
  }
}
