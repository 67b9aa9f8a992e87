package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** Event-stream-shaped operators over the `events` table
  * (event_id, ts, user_id, event_type, value, props-json). These are the
  * batch twins of the streaming path (graft.streaming): same logical
  * transforms, bounded input.
  *
  * Money-sum reproducibility: double addition is not associative, so
  * engines disagree in the last bits. All value sums here go through
  * DECIMAL(18,2) (exact integer arithmetic in any engine) and surface as
  * DOUBLE (exact decimal→binary conversion) — bit-stable everywhere.
  */
object EventOps {

  /** JSON field extraction from the props column — the batch analog of the
    * reference's `from_json` stage (`(Clone) Kinesis Data Stream.py:50`).
    */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").try_cast(LongType).as("k"))
      .orderBy("event_id")

  /** VARIANT-typed semi-structured extraction (Spark 4): `parse_json`
    * shreds the JSON string into the binary VARIANT encoding once, then
    * `variant_get` reads typed paths without re-parsing — at 100 TB the
    * difference between one parse per field access
    * ([[jsonExtract]]'s `get_json_object`) and one parse per ROW with
    * O(1) typed reads after. A missing path surfaces as NULL, not an
    * error (same contract as the JSON-path form).
    */
  def variantExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("v", parse_json(col("props")))
      .select(col("event_id"),
        try_variant_get(col("v"), "$.k", "bigint").as("k"),
        try_variant_get(col("v"), "$.missing", "bigint").as("missing"))
      .orderBy("event_id")

  /** Tumbling-hour aggregate per event_type: the windowed-agg shape
    * (`window($"ts","1 hour")`) expressed via date_trunc so batch and
    * oracle share one formulation. Partial aggregation is automatic; the
    * single shuffle is keyed (hour × type) — well distributed over time.
    */
  def hourlyByType(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("hour", "event_type")

  /** Sessionization: a session break is a ≥30-minute gap per user; session
    * id = running count of breaks. Two windows over one user-keyed
    * shuffle — the batch equivalent of stream session windows.
    */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMin = 30
    Tables.events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull, 1)
          .when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
            >= gapMin * 60, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        (unix_timestamp(max("ts")) - unix_timestamp(min("ts")))
          .as("duration_sec"))
      .orderBy("user_id", "session_seq")
  }

  /** [[sessionize]] again via Spark's native `session_window` — the
    * operator you'd actually deploy, because it is the same operator the
    * streaming path uses (state-store-backed there, hash-agg here): one
    * user-keyed shuffle, sessions merged by exact microsecond arithmetic
    * (`ts + gap` in micros — no second-truncation like the hand-rolled
    * `unix_timestamp` form). Two semantic deltas vs [[sessionize]], both
    * asserted in spec: the native merge is touching-inclusive (an event
    * exactly `gap` after the last still merges; the split is strictly
    * `> gap`), and `session_end` is the gap-extended bound
    * `max(ts) + gap`, the operator's window-close semantics.
    */
  def sessionizeNative(s: SparkSession, d: String): DataFrame =
    sessionizeNativeFrom(Tables.events(s, d))

  /** [[sessionizeNative]] over an arbitrary (user_id, ts) frame. */
  def sessionizeNativeFrom(ev: DataFrame): DataFrame =
    ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  /** Interval-overlap join: user sessions (native bounds, [start,
    * end = last + gap)) against the top-5 busiest hour windows — how
    * many sessions and distinct users were live in each peak hour. The
    * window set is bounded (top-k), so the non-equi overlap predicate
    * plans as a broadcast join over a single session scan — the right
    * shape at any corpus size. For an UNBOUNDED window set the same
    * semantics need hour-binning first (explode each interval to the
    * hours it spans, equi-join on the hour, then re-check the exact
    * overlap) — the [[Relational.rangeJoinBinned]] pattern; never a
    * nested-loop over two unbounded sides.
    */
  def sessionOverlapWindows(s: SparkSession, d: String): DataFrame = {
    val sess = sessionizeNativeFrom(Tables.events(s, d))
    val top5 = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("window_start")).limit(5)
      .select(col("window_start"),
        (col("window_start") + expr("INTERVAL 1 HOUR")).as("window_end"))
    sess.join(broadcast(top5),
        col("session_start") < col("window_end") &&
          col("window_start") < col("session_end"))
      .groupBy("window_start")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("window_start")
  }

  /** As-of join (composed form): attach to every event the timestamp of
    * the user's most recent *prior* purchase. The classic as-of-join
    * semantics expressed with built-ins — a conditional max over a
    * preceding-rows frame — one user-keyed shuffle, no custom operator
    * needed for the self-join case (SURVEY.md §7.3 preference order (a)).
    */
  def asOfLastPurchase(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select("event_id", "user_id", "ts", "event_type")
      .withColumn("last_purchase_ts",
        max(when(col("event_type") === "purchase", col("ts"))).over(w))
      .orderBy("event_id")
  }

  /** General TWO-TABLE backward as-of join, composed (SURVEY.md §7.3
    * preference (a)): for each left row, the most recent right row with
    * `right.ts <= left.ts` on the same key.
    *
    * Union trick: tag sides, union by name, ONE window over (key) ordered
    * by (ts, side) with right rows sorting first at equal timestamps (so
    * an exactly-simultaneous right row is visible — `<=` semantics), and
    * carry the right payload as a single struct through
    * `last(_, ignoreNulls)` — atomic, so ts and payload always come from
    * the same right row. One key-ordered shuffle of |L|+|R| rows: no
    * range join, no per-key nested loop, no custom operator. Right rows
    * should be unique per (key, ts) — pre-aggregate otherwise (the pick
    * among exact duplicates is tie-broken by nothing).
    *
    * Output: every left column, plus `asof_ts` and `asof_<payload>`
    * columns (NULL when no prior right row exists — left-join semantics).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String]): DataFrame = {
    val rStruct = struct(
      (col(ts).as("__ts") +: payload.map(c => col(c).as(c))): _*)
    val rTagged = right.select(
      (Seq(col(key), col(ts), lit(0).as("__side"),
        rStruct.as("__asof")): _*))
    val lTagged = left
      .withColumn("__side", lit(1))
      .withColumn("__asof", lit(null).cast(rTagged.schema("__asof").dataType))
    val u = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col(ts), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = u.withColumn("__carried", last(col("__asof"), true).over(w))
      .filter(col("__side") === 1)
    val outCols = left.columns.map(col) ++
      Seq(col("__carried.__ts").as("asof_ts")) ++
      payload.map(c => col(s"__carried.$c").as(s"asof_$c"))
    filled.select(outCols: _*)
  }

  /** [[asOfJoin]] on the gate tables: for each click, the user's most
    * recent at-or-before purchase (purchases pre-aggregated to one row
    * per (user, ts) for determinism). DuckDB's native ASOF LEFT JOIN is
    * the oracle twin.
    */
  def asOfClickPurchase(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("value"))
    asOfJoin(clicks, purchases, "user_id", "ts", Seq("value"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_ts").as("last_purchase_ts"),
        col("asof_value").as("last_purchase_value"))
      .orderBy("event_id")
  }

  /** [[asOfClickPurchase]] through the NATIVE as-of operator
    * ([[graft.plans.AsOfJoinNative]]) — same contract, same oracle, but
    * planned as the custom `AsOfJoinExec` merge instead of the
    * union+window composition. Registered at the gate so the custom
    * LogicalPlan → Strategy → SparkPlan path is hash-verified against
    * DuckDB's native ASOF LEFT JOIN end to end.
    */
  def asOfClickPurchaseNative(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("value"))
    graft.plans.AsOfJoinNative.join(clicks, purchases, "user_id", "ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_ts").as("last_purchase_ts"),
        col("asof_value").as("last_purchase_value"))
      .orderBy("event_id")
  }

  /** Ordered funnel — sequential pattern matching: how many users did
    * view → click → purchase IN ORDER (each stage's first qualifying
    * event strictly after the previous stage's). Three user-keyed
    * aggregates, each a narrow shuffle over rows that survived the prior
    * stage — work shrinks monotonically down the funnel, and per-user
    * state is one timestamp per stage (no event-list materialization).
    */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("user_id", "ts", "event_type")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.join(s1, Seq("user_id"))
      .filter(col("event_type") === "click" && col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.join(s2, Seq("user_id"))
      .filter(col("event_type") === "purchase" && col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    s1.select(lit("1_view").as("stage"), col("user_id"))
      .unionByName(s2.select(lit("2_click").as("stage"), col("user_id")))
      .unionByName(s3.select(lit("3_purchase").as("stage"), col("user_id")))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }

  /** Rolling 7-day Pearson correlation between daily CLICK volume and
    * daily PURCHASE revenue — "is engagement still converting?", the
    * leading-indicator pairing next to [[crossCorrelation]]'s global
    * lag scan: a correlation that decays while clicks hold means the
    * funnel is rotting before revenue shows it.
    *
    * Exactness: the five windowed moments (n, Σx, Σy, Σxy, Σx², Σy²)
    * sum DECIMAL-quantized terms — decimal addition is associative, so
    * DuckDB's segment-tree window evaluation and Spark's sequential
    * frames agree bit-for-bit (the [[cusumChangepoint]] discipline);
    * the Pearson closed form is then scalar IEEE doubles per row, with
    * a variance > 0 guard on BOTH factors before the sqrt. Scale: one
    * fact aggregate to the day grain; the RANGE window runs over the
    * calendar-bounded daily frame (the [[forecastBacktest]] whitelist
    * class).
    */
  def movingCorr(s: SparkSession, d: String, win: Int = 7): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .cast("decimal(12,0)").as("x"),
        coalesce(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(18,2)"))),
          lit(0).cast("decimal(18,2)")).cast("decimal(18,2)").as("y"))
    val w = Window.orderBy("day").rangeBetween(-(win - 1), 0)
    val m = daily
      .select(col("day"), col("x"), col("y"),
        (col("x") * col("y")).cast("decimal(30,2)").as("xy"),
        (col("x") * col("x")).cast("decimal(24,0)").as("xx"),
        (col("y") * col("y")).cast("decimal(36,4)").as("yy"))
      .select(col("day"),
        count(lit(1)).over(w).as("n"),
        sum(col("x")).over(w).cast("double").as("sx"),
        sum(col("y")).over(w).cast("double").as("sy"),
        sum(col("xy")).over(w).cast("double").as("sxy"),
        sum(col("xx")).over(w).cast("double").as("sxx"),
        sum(col("yy")).over(w).cast("double").as("syy"))
    m.select(col("day"), col("n").as("n_days"),
        when(
          col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
            col("n") * col("syy") - col("sy") * col("sy") > 0,
          (col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr"))
      .orderBy("day")
  }

  /** The windowed funnel's step window (one day), shared by
    * [[funnelWindowed]] and its streaming twin
    * `StreamPipeline.startFunnelSink` so the two cannot drift.
    */
  val FunnelWindowSec = 86400L

  /** Windowed (strict) funnel — [[funnel]]'s production variant: each
    * next step must land within [[FunnelWindowSec]] of the previous
    * step's time, so "viewed in March, purchased in July" no longer
    * counts as a conversion. Greedy earliest-step semantics (the first
    * qualifying event per stage), matching the unwindowed op; per stage
    * also the exact MEDIAN latency from the previous step — the "where
    * does the funnel stall" number.
    *
    * Exactness: stage times are integer-micros minima; window bounds
    * are integer comparisons; medians are ONE partial-merged
    * [[graft.functions.ExactQuantiles]] count-map per stage with one
    * micros→seconds double division at the surface. Scale: each stage
    * is a type-filtered fact scan (the predicate reaches the parquet
    * scan) joined against the previous stage's user-keyed minima —
    * co-partitioned user-keyed shuffles, no window function anywhere.
    */
  def funnelWindowed(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    val winUs = FunnelWindowSec * 1000000L
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("us") > col("t1") && col("us") <= col("t1") + winUs)
      .groupBy("user_id").agg(min(col("us")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("us") > col("t2") && col("us") <= col("t2") + winUs)
      .groupBy("user_id").agg(min(col("us")).as("t3"))
    val r1 = s1.agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("stage"), col("n_users"),
        lit(null).cast("double").as("p50_gap_sec"))
    val r2 = s2.join(s1, Seq("user_id"))
      .select((col("t2") - col("t1")).as("gap"))
      .agg(count(lit(1)).as("n_users"),
        exactQuantiles(col("gap").cast("double"), Seq(50), 100).as("qs"))
      .select(lit("2_click").as("stage"), col("n_users"),
        (col("qs").getItem(0) / 1e6).as("p50_gap_sec"))
    val r3 = s3.join(s2, Seq("user_id"))
      .select((col("t3") - col("t2")).as("gap"))
      .agg(count(lit(1)).as("n_users"),
        exactQuantiles(col("gap").cast("double"), Seq(50), 100).as("qs"))
      .select(lit("3_purchase").as("stage"), col("n_users"),
        (col("qs").getItem(0) / 1e6).as("p50_gap_sec"))
    r1.unionByName(r2).unionByName(r3).orderBy("stage")
  }

  /** Weekly cohort retention: users bucketed by first-seen week, then for
    * each (cohort_week, weeks_since_first) the distinct users active that
    * week — the standard retention triangle. Two user-keyed shuffles
    * (first-seen aggregate, join back) plus one grouped distinct count;
    * weeks are epoch-day/7 buckets (engine-portable integer math, no
    * locale-dependent week-of-year).
    */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("user_id", "ts")
    val firstSeen = ev.groupBy("user_id").agg(min("ts").as("first_ts"))
    def epochWeek(c: org.apache.spark.sql.Column) =
      floor(datediff(to_date(c), lit("1970-01-01").cast("date")) / 7)
    ev.join(firstSeen, Seq("user_id"))
      .select(col("user_id"),
        epochWeek(col("first_ts")).as("cohort_week"),
        (epochWeek(col("ts")) - epochWeek(col("first_ts")))
          .as("weeks_since"))
      .groupBy("cohort_week", "weeks_since")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "weeks_since")
  }

  /** Time-to-convert funnel latency: per user, the gap between their
    * FIRST event and their first BIG-TICKET purchase (value > 180 —
    * the fixture's real censoring threshold: every user has some
    * purchase, so a plain first-purchase definition would convert 100%
    * and the row would be vacuous), surfaced as the conversion rate
    * plus exact p25/p50/p75/p90 latency quantiles over converted
    * users. The activation-speed readout growth teams pair with
    * [[cohortRetention]].
    *
    * Exactness: latencies are BIGINT microsecond differences; the
    * quantiles come from ONE [[graft.functions.ExactQuantiles]]
    * count-map aggregate (integer rank rule, NULL non-converters
    * ignored); rate and the micros→seconds conversions are the only
    * double divisions. Scale: one user-keyed aggregate, then one
    * count-map aggregate over the |converted-users| latency column —
    * no window, no sort.
    */
  def timeToConvert(s: SparkSession, d: String,
      minValue: Double = 180.0): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    val per = Tables.events(s, d)
      .groupBy("user_id")
      .agg(min(expr("unix_micros(ts)")).as("first_us"),
        min(when(col("event_type") === "purchase"
            && col("value") > minValue, expr("unix_micros(ts)")))
          .as("conv_us"))
      .withColumn("lat", col("conv_us") - col("first_us"))
    per.agg(count(lit(1)).as("n_users"),
        count(col("conv_us")).as("n_converted"),
        exactQuantiles(col("lat").cast("double"),
          Seq(25, 50, 75, 90), 100).as("qs"))
      .select(col("n_users"), col("n_converted"),
        (col("n_converted").cast("double") / col("n_users"))
          .as("conversion_rate"),
        (col("qs").getItem(0) / 1e6).as("p25_sec"),
        (col("qs").getItem(1) / 1e6).as("p50_sec"),
        (col("qs").getItem(2) / 1e6).as("p75_sec"),
        (col("qs").getItem(3) / 1e6).as("p90_sec"))
  }

  /** Pareto cover of user value mass — "how many users produce 50 /
    * 80 / 90% of the value": the operational 80/20 readout beside
    * [[giniUserValue]]'s single inequality number. Computed by ONE
    * partial-merged count-map aggregate
    * ([[graft.functions.ParetoCover]]) instead of the global
    * value-desc sort + cumulative window the naive form plans — no
    * data-sized single-task sort, state ∝ distinct per-user totals.
    *
    * Exactness: per-user totals are integer micros; targets, unit
    * counts, and covered mass are pure integer arithmetic inside the
    * aggregate's eval (tie-order independent by construction); the
    * two surfaced shares are int/int double divisions.
    */
  def paretoCover(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d)
      .groupBy("user_id")
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    per.agg(graft.functions.ParetoCover
        .paretoCover(col("x"), Seq(50, 80, 90), 100).as("pc"))
      .select(explode(col("pc")).as("p"))
      .select(col("p.pct").as("pct"), col("p.n_units").as("n_users"),
        col("p.unit_share").as("user_share"),
        col("p.mass_share").as("mass_share"))
      .orderBy("pct")
  }

  /** DAU / WAU / MAU + stickiness — the front page of every product
    * dashboard: per observed day, the exact count of distinct active
    * users that day, in the trailing 7 days, and in the trailing 30
    * days, plus DAU/MAU stickiness. Windows trail the calendar
    * (days with no events contribute nothing; days before the stream
    * starts simply aren't there — both engines agree by construction).
    *
    * Exactness: distinct counts are exact integers at gate scale; the
    * stickiness is ONE int/int double division. Scale: the fact
    * collapses to the distinct (user, day) frame once; each row is then
    * fanned out MAP-SIDE to the ≤30 trailing days it belongs to
    * (`explode(sequence(day, day+29))` — linear in window width, never
    * in calendar length) and ONE day-keyed distinct aggregate counts
    * all three windows via conditional `countDistinct` (offset 0 → DAU,
    * offset < 7 → WAU, any → MAU). The round-9 form joined the frame
    * against a broadcast calendar on a range condition, which Catalyst
    * planned as a BroadcastNestedLoopJoin comparing every row against
    * EVERY day — cost multiplied with dataset age; the explode form's
    * cost multiplies only with the 30-day window. Days past a user's
    * activity that no event observed carry dau = 0 and are exactly the
    * un-observed days the contract excludes — one filter, no join.
    * At 100 TB the same numbers come from the stored HLL partials
    * ([[dauWauMauSketch]] — union 7/30 daily sketches instead of
    * recounting users), with this exact form as the sampled-audit
    * oracle twin.
    */
  def dauWauMau(s: SparkSession, d: String): DataFrame = {
    val userDays = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    userDays
      .select(col("user_id"), col("day"),
        explode(sequence(col("day"), col("day") + 29)).as("day_g"))
      .groupBy("day_g")
      .agg(
        countDistinct(when(col("day_g") === col("day"),
          col("user_id"))).as("dau"),
        countDistinct(when(col("day_g") - col("day") < 7,
          col("user_id"))).as("wau"),
        countDistinct(col("user_id")).as("mau"))
      .where(col("dau") > 0)
      .select(col("day_g").as("day"), col("dau"), col("wau"), col("mau"),
        (col("dau").cast("double") / col("mau")).as("stickiness"))
      .orderBy("day")
  }

  /** The 100 TB serving path for [[dauWauMau]]: DAU/WAU/MAU from the
    * STORED hourly HLL partials ([[sketchPartials]] — ONE fact pass
    * serves the whole sketch family) instead of recounting users —
    * daily sketches are unioned from the hourly ones, then each
    * trailing 7/30-day window UNIONS daily sketches (HLL union is a
    * pure function of the input set) where the exact form re-scans the
    * distinct (user, day) frame. Build-once/serve-many: the partials
    * are fingerprint-guarded on disk and shared with the
    * sliding-distinct/quantile/theta consumers.
    *
    * Sketch estimates are engine-specific, so the driver-gated surface
    * is the [[slidingDistinctUsers]] bound contract: per observed day,
    * the SAMPLED exact dau/wau/mau (every `auditEveryK`-th calendar
    * day — the audit is an assurance sample; running the exact twin on
    * every day at 100 TB would reintroduce the recount the sketch path
    * exists to avoid) plus within-`maxRelErr` flags; unaudited days
    * carry NULLs in both engines. The estimate itself never crosses
    * the oracle compare. Day membership (observed vs not) is decided
    * by EXACT set membership of the day key, never by an estimate.
    */
  def dauWauMauSketch(s: SparkSession, d: String,
      maxRelErr: Double = 0.08, auditEveryK: Int = 3): DataFrame = {
    // daily HLL sketches merged from the stored hourly partials (UTC
    // session ⇒ epoch-hour div 24 is the same day key as the exact
    // form's epoch-micros div 86400000000)
    val daily = sketchPartials(s, d)
      .groupBy(expr("h div 24").as("day"))
      .agg(expr("hll_union_agg(hll_sk)").as("sk"))
    val est = daily
      .select(col("day"), col("sk"),
        explode(sequence(col("day"), col("day") + 29)).as("day_g"))
      .groupBy("day_g")
      .agg(
        max(when(col("day_g") === col("day"), 1).otherwise(0))
          .as("observed"),
        expr("hll_sketch_estimate(hll_union_agg(" +
          "CASE WHEN day_g = day THEN sk END))").as("dau_est"),
        expr("hll_sketch_estimate(hll_union_agg(" +
          "CASE WHEN day_g - day < 7 THEN sk END))").as("wau_est"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("mau_est"))
      .where(col("observed") === 1)
    val exact = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .select(col("user_id"), col("day"),
        explode(filter(sequence(col("day"), col("day") + 29),
          g => g % auditEveryK === 0)).as("day_g"))
      .groupBy("day_g")
      .agg(
        countDistinct(when(col("day_g") === col("day"),
          col("user_id"))).as("exact_dau"),
        countDistinct(when(col("day_g") - col("day") < 7,
          col("user_id"))).as("exact_wau"),
        countDistinct(col("user_id")).as("exact_mau"))
    def within(estC: String, exC: String) =
      when(col(exC).isNotNull,
        abs(col(estC) - col(exC)) <= col(exC) * maxRelErr)
    est.join(exact, Seq("day_g"), "left")
      .select(col("day_g").as("day"),
        col("exact_dau"), col("exact_wau"), col("exact_mau"),
        within("dau_est", "exact_dau").as("dau_within"),
        within("wau_est", "exact_wau").as("wau_within"),
        within("mau_est", "exact_mau").as("mau_within"))
      .orderBy("day")
  }

  /** New-vs-returning split per day — the growth-accounting row under
    * [[dauWauMau]]: per observed day, how many active users were seen
    * for the FIRST time that day vs had history. The new/returning mix
    * is the first diagnostic when DAU moves (acquisition spike vs
    * resurrection vs retention shift).
    *
    * Exactness: distinct counts are exact integers; the share is ONE
    * int/int double division. Scale: the fact collapses to distinct
    * (user, day) once; first-seen is a user-keyed min aggregate joined
    * back user-keyed (co-partitioned with the frame that produced it),
    * then one day-keyed count — no window, no fan-out.
    */
  def newVsReturning(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
    ud.join(first, Seq("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        (col("n_new").cast("double") / col("n_active")).as("new_share"))
      .orderBy("day")
  }

  /** Weekly churn — the loss side of [[cohortRetention]]'s curve: per
    * epoch week w (except the last, which has no successor to churn
    * into), the active users, how many of them are absent in week w+1,
    * and the churn rate. The single number a subscription dashboard
    * tracks weekly.
    *
    * Exactness: integer counts, ONE int/int double division. Scale:
    * distinct (user, week) once; "retained" is an equi-join of that
    * frame against itself shifted one week (user+week keyed — a hash
    * join, never a window or fan-out); the last-week cutoff is a 1-row
    * scalar broadcast (the lint-sanctioned global-scalar attach).
    */
  def churnWeekly(s: SparkSession, d: String): DataFrame = {
    val uw = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000 div 7").as("week"))
      .distinct()
    val nxt = uw.select(col("user_id"), (col("week") - 1).as("week"))
      .distinct().withColumn("ret", lit(1))
    val maxW = uw.agg(max(col("week")).as("max_week"))
    uw.join(nxt, Seq("user_id", "week"), "left")
      .crossJoin(broadcast(maxW))
      .where(col("week") < col("max_week"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("ret").isNull, 1L).otherwise(0L)).as("n_churned"))
      .select(col("week"), col("n_active"), col("n_churned"),
        (col("n_churned").cast("double") / col("n_active"))
          .as("churn_rate"))
      .orderBy("week")
  }

  /** Interpolated (percentile_cont) per-type value percentiles — the
    * ANSI-SQL continuous-percentile surface beside the positional
    * (percentile_disc-style) [[graft.functions.ExactQuantiles]]
    * family: value = x⌊h⌋ + (h−⌊h⌋)·(x⌈h⌉−x⌊h⌋) at h = (n−1)·p.
    * Spark ships this as the EXACT `percentile` aggregate (a
    * partial-merged counts-buffer two-phase aggregate — the built-in
    * the brief's "functions, not UDFs" rule points to), and DuckDB as
    * `quantile_cont`: both implement the identical linear
    * interpolation, so the doubles agree bit-for-bit.
    */
  def percentileCont(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        expr("percentile(value, array(0.25D, 0.5D, 0.9D))").as("ps"))
      .select(col("event_type"), col("n_events"),
        col("ps").getItem(0).as("p25_cont"),
        col("ps").getItem(1).as("p50_cont"),
        col("ps").getItem(2).as("p90_cont"))
      .orderBy("event_type")

  /** Behavioral-diversity histogram: Shannon entropy (nats) of each
    * user's event-type mix, bucketed at 1/64-nat grain — "how varied
    * is each user's behavior?", the engagement-quality feature next to
    * [[streaks]]' depth and [[topUsers]]' volume. H = 0 is a
    * single-action bot; H near ln(|types|) is full-surface usage.
    * (The grain is 1/64 nat, not the dashboard-friendly 0.25: the
    * fixture's per-user mixes all sit within ~0.1 nat of ln(5), so a
    * 0.25-nat histogram collapses to ONE row and the gate would never
    * exercise the bucket arithmetic — at 1/64 the sf0.01 gate row has
    * ≥ 7 buckets.)
    *
    * Exactness: p = per-(user, type) count / per-user count (int/int
    * double division); each −p·ln p term rounds onto DECIMAL(24,9)
    * before the per-user sum (≤ |types| terms, associative); the
    * bucket is `floor(H·64)` on the identical double, and the per-
    * bucket mean is one decimal-sum/count division. Scale: one fact
    * aggregate to (user, type), a user-keyed rollup, a buckets-sized
    * histogram — no window, nothing data-sized in one task.
    */
  def userEntropy(s: SparkSession, d: String): DataFrame =
    userEntropyFrom(Tables.events(s, d).select("user_id", "event_type"))

  /** [[userEntropy]]'s core over an explicit (user_id, event_type)
    * frame — spec-drivable with hand mixes.
    */
  private[graft] def userEntropyFrom(ev: DataFrame): DataFrame = {
    val ut = ev
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
    val per = ut
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .select(col("user_id"),
        (negate(col("c") / col("n"))
          * log(col("c") / col("n"))).cast("decimal(24,9)").as("t"))
      .groupBy("user_id").agg(sum(col("t")).as("h"))
    per.select(col("user_id"),
        floor(col("h").cast("double") * 64).cast("long").as("bucket"),
        col("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"),
        (sum(col("h")).cast("double") / count(lit(1)))
          .as("avg_entropy"))
      .orderBy("bucket")
  }

  /** Consecutive-day activity streaks (gaps-and-islands): the
    * engagement-depth readout beside [[dauWauMau]]'s breadth — per
    * streak length, how many maximal runs of consecutive active days
    * exist and how many distinct users own one. Streak features feed
    * habit scoring and reward mechanics; the distribution shifting
    * toward 1 is disengagement DAU alone hides.
    *
    * Exactness: the island key is the textbook `day − row_number()`
    * identity over each user's distinct active days (integers; the
    * per-user order is total, so both engines derive identical
    * islands); counts are exact. Scale: distinct (user, day) once,
    * then a row_number window PARTITIONED BY user_id — a
    * high-cardinality key with per-user-bounded groups, exactly where
    * the plain hash-partitioned window is the right plan (the
    * [[graft.ops.Ranks]] scaladoc's own boundary) — and two bounded
    * aggregates. No data-sized window group anywhere.
    */
  def streaks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val isl = ud.withColumn("isl",
      col("day") - row_number().over(
        Window.partitionBy("user_id").orderBy("day")).cast("long"))
    isl.groupBy("user_id", "isl")
      .agg(count(lit(1)).as("len"))
      .groupBy(col("len").as("streak_len"))
      .agg(count(lit(1)).as("n_streaks"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("streak_len")
  }

  /** Inter-arrival time profile per event type — the burstiness
    * readout capacity planning and bot detection both start from: the
    * exact p50/p90 of the gaps between each user's CONSECUTIVE events
    * of a type, plus the gap count. A p50 collapsing toward 0 flags
    * scripted traffic; a drifting p90 flags disengagement before DAU
    * moves.
    *
    * Exactness: gaps are differences of integer micros taken on each
    * user's SORTED timestamp multiset (`sort_array(collect_list(us))`
    * — order-determinate even under duplicate timestamps, where a
    * lag-window formulation would depend on the engines' tie order);
    * quantiles are ONE partial-merged [[graft.functions
    * .ExactQuantiles]] count-map per type. Scale: one fact aggregate
    * to per-(type, user) arrays — bounded by a single user's activity
    * in a type, the standard sessionization bound — then a row-local
    * diff and the count-map aggregate; no window, no sort, nothing
    * keyed wider than (type, user).
    */
  def interarrival(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    val per = Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts)").as("us"))
      .groupBy("event_type", "user_id")
      .agg(sort_array(collect_list(col("us"))).as("ts"))
    val gaps = per.select(col("event_type"),
      explode(expr(
        "transform(slice(ts, 2, size(ts) - 1), (x, i) -> x - ts[i])"))
        .as("gap"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        exactQuantiles(col("gap").cast("double"), Seq(50, 90), 100)
          .as("qs"))
      .select(col("event_type"), col("n_gaps"),
        (col("qs").getItem(0) / 1e6).as("p50_sec"),
        (col("qs").getItem(1) / 1e6).as("p90_sec"))
      .orderBy("event_type")
  }

  /** Cohort LTV curve — [[cohortRetention]]'s revenue companion and the
    * other half of every growth dashboard: per (first-seen cohort week,
    * weeks since first seen), the cohort's cumulative purchase revenue
    * and revenue per cohort user. Cohorts are closed over the input
    * (first event defines the cohort, as in [[cohortRetention]]), so
    * the row for (w, k) is the LTV-at-k-weeks readout finance
    * discounts against acquisition cost.
    *
    * Exactness: revenue rides the DECIMAL(18,2) money discipline
    * ([[movingStats]]' proven double→decimal quantization of `value`);
    * weekly sums and the cumulative window are associative decimal
    * adds; the per-user division is ONE decimal→double pair at the
    * surface. Scale: one user-keyed first-seen aggregate joined back
    * (the retention shape), one (cohort, week) fact aggregate, then a
    * cumulative window over the WEEKS-sized per-cohort frame — bounded
    * by calendar, never fact-sized.
    */
  def ltvCohort(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def epochWeek(c: Column) =
      floor(datediff(to_date(c), lit("1970-01-01").cast("date")) / 7)
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
      when(col("event_type") === "purchase",
        col("value").cast("decimal(18,2)"))
        .otherwise(lit(0).cast("decimal(18,2)")).as("rev"))
    val firstSeen = ev.groupBy("user_id").agg(min("ts").as("first_ts"))
    val cohortSize = firstSeen
      .groupBy(epochWeek(col("first_ts")).as("cohort_week"))
      .agg(count(lit(1)).as("n_users"))
    val weekly = ev.join(firstSeen, Seq("user_id"))
      .groupBy(epochWeek(col("first_ts")).as("cohort_week"),
        (epochWeek(col("ts")) - epochWeek(col("first_ts")))
          .as("weeks_since"))
      .agg(sum(col("rev")).as("wk_rev"))
    val cum = Window.partitionBy("cohort_week").orderBy("weeks_since")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("cum_rev", sum(col("wk_rev")).over(cum))
      .join(broadcast(cohortSize), Seq("cohort_week"))
      .select(col("cohort_week").cast("long").as("cohort_week"),
        col("weeks_since").cast("long").as("weeks_since"),
        col("n_users"),
        col("cum_rev").cast("double").as("cum_revenue"),
        (col("cum_rev").cast("double") / col("n_users"))
          .as("ltv_per_user"))
      .orderBy("cohort_week", "weeks_since")
  }

  /** Per-event-type Gini of user value mass — "do a few whales carry
    * this event type's value?", the user-concentration twin of
    * [[graft.ops.TextOps.giniTokens]] (same rank identity
    * G = (2Σi·xᵢ − (n+1)Σx)/(nΣx) over ascending per-user totals) and
    * the inequality number next to [[topUsers]]' point answer.
    *
    * Exactness: per-event value is quantized to integer MICROS
    * (`floor(value·1e6)` — one IEEE multiply, identical in both
    * engines) so totals, ranks, and all three Gini sums are BIGINT;
    * the final G is one int→double division pair. Scale: one fact
    * aggregate to (type, user) totals, then the DISTRIBUTED per-type
    * rank ([[Ranks.perKeyRank]]) — a users-sized group never sorts in
    * one task.
    */
  def giniUserValue(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val ranked = Ranks.perKeyRank(per, "event_type",
      Seq(col("x"), col("user_id")), "i")
    ranked.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("total_micros"),
        sum(col("i") * col("x")).as("swx"))
      .select(col("event_type"), col("n_users"), col("total_micros"),
        when(col("total_micros") > 0,
          (lit(2) * col("swx")
            - (col("n_users") + 1) * col("total_micros")).cast("double")
            / (col("n_users") * col("total_micros")).cast("double"))
          .as("gini"))
      .orderBy("event_type")
  }

  /** Top-k heavy hitters: users by exact event count, with rank. */
  def topUsers(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    counts.orderBy(col("n_events").desc, col("user_id")).limit(k)
  }

  /** Per-type value distribution: min/max plus exact lower-median (same
    * deterministic formulation as Queries.lowerMedian).
    */
  /** Sliding-frame moving aggregates per user (5-row trailing window):
    * the smoothing pass a metrics pipeline runs over an event stream.
    * Decimal-stabilized moving sum (frame adds are exact, single cast
    * back to double), deterministic tiebreak on event_id inside equal
    * timestamps. One user-keyed shuffle; frame state is 5 rows.
    */
  def movingStats(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("mov_sum",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .withColumn("mov_n", count(lit(1)).over(w))
      .withColumn("mov_max", max(col("value")).over(w))
      .orderBy("event_id")
  }

  /** Time-range moving window (the RANGE-frame twin of [[movingStats]]'s
    * ROWS frame): per user, sum/count of events in the trailing hour —
    * `RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW` over epoch seconds.
    * Range frames are tie-stable (all peer rows at the same timestamp
    * join the frame), so no event_id tiebreak is needed for
    * determinism, unlike the ROWS form. One user-keyed shuffle + sort;
    * the frame scan is the standard sliding accumulation. Decimal sum —
    * frame contents are engine-invariant, so the value is too.
    */
  def movingRange(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_sec"))
      .rangeBetween(-3600, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("ts").cast("long").as("ts_sec"))
      .withColumn("rng_sum",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .withColumn("rng_n", count(lit(1)).over(w))
      .drop("ts_sec")
      .orderBy("event_id")
  }

  def valueStatsByType(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d).select("event_type", "value")
    val med = Queries.lowerMedian(base, Seq("event_type"), "value", "median_value")
    base.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min("value").as("min_value"), max("value").as("max_value"))
      .join(med, Seq("event_type"))
      .orderBy("event_type")
  }

  /** Per-type exact quantile profile (p25/p50/p75/p95) via
    * [[graft.functions.ExactQuantile]] — one aggregation pass, count-map
    * state bounded by distinct values, the same contract as
    * [[graft.functions.ExactMedian]] but at arbitrary rational quantiles.
    * The rank rule is integer (`(p·n + 99) div 100`), so the chosen row
    * is engine-invariant even when `0.95·n` lands a hair off an integer
    * in doubles. Four quantiles share one shuffle (one groupBy, four
    * aggregate buffers) — against a 100 TB event table this is a single
    * map-side-combined pass, vs four full window sorts for the
    * ROW_NUMBER formulation the oracle uses. The four quantiles share
    * ONE count-map ([[graft.functions.ExactQuantiles]]) — four
    * independent aggregates would each shuffle their own identical map
    * (measured 4× the partial-state bytes at sf0.1).
    */
  def valueQuantilesByType(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(exactQuantiles(col("value"), Seq(25, 50, 75, 95), 100).as("qs"))
      .select(col("event_type"),
        col("qs").getItem(0).as("p25"),
        col("qs").getItem(1).as("p50"),
        col("qs").getItem(2).as("p75"),
        col("qs").getItem(3).as("p95"))
      .orderBy("event_type")
  }

  /** IQR outlier fences per event type — the standard data-quality gate
    * (flag values outside [p25 − 1.5·IQR, p75 + 1.5·IQR]). Two passes
    * over events: one aggregation for the quantiles (count-map state,
    * [[valueQuantilesByType]]'s shape), then a broadcast join-back — the
    * fence table is bounded by |event types|, so broadcasting it is safe
    * at any corpus size (unlike a per-row table, which must never carry
    * a broadcast hint). Fence arithmetic is plain IEEE double ops in the
    * same expression shape as the oracle, so the comparison boundary is
    * bit-identical across engines.
    */
  def valueOutliers(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    val ev = Tables.events(s, d).select("event_type", "value")
    val fences = ev.groupBy("event_type")
      .agg(exactQuantiles(col("value"), Seq(25, 75), 100).as("qs"))
      .select(col("event_type"),
        col("qs").getItem(0).as("p25"), col("qs").getItem(1).as("p75"))
      .select(col("event_type"),
        (col("p25") - (col("p75") - col("p25")) * 1.5).as("fence_lo"),
        (col("p75") + (col("p75") - col("p25")) * 1.5).as("fence_hi"))
    ev.join(broadcast(fences), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") < col("fence_lo") ||
          col("value") > col("fence_hi"), 1L).otherwise(0L)).as("n_outliers"),
        first("fence_lo").as("fence_lo"),
        first("fence_hi").as("fence_hi"))
      .orderBy("event_type")
  }

  /** Incremental aggregate maintenance: merge a new batch's partial
    * aggregates into stored aggregates WITHOUT re-reading history — the
    * daily-pipeline shape the reference's DAG implies (a @daily rerun
    * that recomputes everything is O(history); merging partials is
    * O(batch)). Partials must be decomposable: count→sum, sum→sum,
    * min/max→min/max (decimal sums, so the merge is exact and
    * order-independent — a double sum would drift per merge order).
    * `countDistinct` is deliberately absent: distinct state does not
    * merge from scalar partials; at scale you carry an HLL sketch per
    * group instead ([[Relational.approxDistinct]]).
    *
    * The oracle is the full recompute over all events — equality IS the
    * correctness statement (merge(partial(old), partial(new)) ≡
    * aggregate(old ∪ new)).
    */
  def incrementalHourly(s: SparkSession, d: String,
      cutoff: String = "2024-01-16 12:30:00"): DataFrame = {
    val ev = Tables.events(s, d)
    val cut = lit(cutoff).cast("timestamp")
    def partial(df: DataFrame): DataFrame = df
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"),
        min("value").as("min_value"), max("value").as("max_value"))
    // "stored": everything before the cutoff (stands in for yesterday's
    // materialized table); "batch": the new micro-batch / daily delta.
    val stored = partial(ev.filter(col("ts") < cut))
    val batch = partial(ev.filter(col("ts") >= cut))
    stored.unionByName(batch)
      .groupBy("hour", "event_type")
      .agg(sum("n_events").as("n_events"),
        sum("sum_dec").cast("double").as("total_value"),
        min("min_value").as("min_value"), max("max_value").as("max_value"))
      .orderBy("hour", "event_type")
  }

  /** Gap-filled hourly series per user: materialize every hour in each
    * user's [first, last] activity span (`sequence` + explode — the
    * generator runs rowwise, no driver loop), left-join the real hourly
    * aggregates, and forward-fill the running value with a
    * last-non-null window (`last(_, ignoreNulls)` over an unbounded
    * preceding frame). The standard densify-then-fill reshape feeding
    * time-series models from irregular event data.
    *
    * Scale: the grid is |users| × active-span-hours — generated, never
    * shuffled (explode is narrow); the only shuffle is the user-keyed
    * window, which any per-user series op needs. Money stays DECIMAL
    * until the final surface.
    */
  def gapFillHourly(s: SparkSession, d: String): DataFrame = {
    // Join-free densify: each present hour emits itself PLUS the gap
    // hours since the user's previous present hour (lag), so the dense
    // grid — |users| × span-hours, the biggest relation here — is
    // GENERATED narrow after the last algorithmic shuffle instead of
    // being shuffled through a grid⋈hourly equi-join (the form this
    // replaced; one full events scan and one join exchange cheaper).
    // Remaining shuffles: the map-combined hourly aggregation, one
    // hourly-sized user-keyed window, and the gate's deterministic
    // presentation sort of the dense OUTPUT — at sf0.1 that sort is
    // nearly all the bytes (grid ≈ 8.7M rows) and is the documented
    // accepted test-scale cost; a production consumer would
    // sortWithinPartitions or write partitioned instead. Forward-fill
    // falls out for free: gap rows carry the lagged value, present rows
    // their own — no ignoreNulls scan over the dense grid.
    val hourly = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("hour_dec"),
        count(lit(1)).as("n_events"))
    val w = Window.partitionBy("user_id").orderBy("hour")
    hourly
      .withColumn("prev_hour", lag("hour", 1).over(w))
      .withColumn("prev_dec", lag("hour_dec", 1).over(w))
      .withColumn("entries", expr(
        """concat(
          |  CASE WHEN prev_hour IS NULL
          |            OR prev_hour + INTERVAL 1 HOUR >= hour
          |       THEN array()
          |       ELSE transform(
          |         sequence(prev_hour + INTERVAL 1 HOUR,
          |                  hour - INTERVAL 1 HOUR, INTERVAL 1 HOUR),
          |         h -> struct(h AS hour, CAST(0 AS BIGINT) AS n_events,
          |                     CAST(NULL AS DECIMAL(18,2)) AS hour_dec,
          |                     prev_dec AS carried_dec))
          |  END,
          |  array(struct(hour AS hour, n_events AS n_events,
          |               hour_dec AS hour_dec, hour_dec AS carried_dec)))
          |""".stripMargin))
      .select(col("user_id"), explode(col("entries")).as("e"))
      .select(col("user_id"), col("e.hour").as("hour"),
        col("e.n_events").as("n_events"),
        coalesce(col("e.hour_dec").cast("double"), lit(0.0))
          .as("hour_value"),
        col("e.carried_dec").cast("double").as("carried_value"))
      .orderBy("user_id", "hour")
  }

  /** Robust anomaly profile per event type — median absolute deviation
    * (Hampel's MAD, the robust-statistics twin of [[valueOutliers]]'s
    * IQR fences; MAD survives up to 50 % contamination where IQR breaks
    * at 25 %): med = exact lower median of `value`, MAD = exact lower
    * median of |value − med|, anomaly iff |value − med| > 4.4478·MAD
    * (3σ under normality via the 1.4826 consistency constant — written
    * as ONE literal so both engines evaluate the identical product).
    *
    * Three passes over events (median → deviations' median → flag
    * count), each a count-map aggregate ([[graft.functions
    * .ExactQuantile]] state ∝ distinct values) with the tiny per-type
    * result broadcast back — the [[valueOutliers]] pattern, never a
    * window sort of the fact table. Deviations are single exact IEEE
    * subtract/abs ops, so the flag boundary is engine-identical.
    */
  def anomalyMad(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    // NULL values drop up front (as cusumChangepoint does): ExactQuantiles
    // ignores NULLs but count/flag aggregates would not, so a nullable
    // fixture would otherwise diverge from the oracle's ranked median.
    val ev = Tables.events(s, d).select("event_type", "value")
      .filter(col("value").isNotNull)
    val med = ev.groupBy("event_type")
      .agg(exactQuantiles(col("value"), Seq(50), 100).getItem(0).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(exactQuantiles(col("dev"), Seq(50), 100).getItem(0).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("med")).as("med"), min(col("mad")).as("mad"),
        sum(when(col("dev") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
          .as("n_anomalies"))
      .orderBy("event_type")
  }

  /** CUSUM changepoint per event type (Page 1954 — the sequential
    * drift detector behind most metric-regression alarms): running sum
    * of deviations from the type mean over time order; the row where
    * |CUSUM| peaks is the level-shift point. Mean comes from the
    * DECIMAL-stabilized sum (exact division); the running sum is a
    * sequential double accumulation over the SAME (ts, event_id) order
    * on both engines — but engines are free to GROUP the additions
    * differently (DuckDB's window aggregate is a segment tree), so each
    * deviation is first rounded onto DECIMAL(24,9): decimal addition is
    * associative, making every partial — and therefore the argmax row —
    * engine-identical regardless of evaluation shape (the lmScore
    * discipline).
    *
    * Scale: one stats aggregate + ONE time-sort per event type (the
    * window). A time-ordered scan is inherent to CUSUM; at 100 TB this
    * runs per day-partition with the carry-in offset of the previous
    * day (associativity of the running sum over concatenated runs), not
    * as one global sort — implemented as [[cusumChangepointPartitioned]]
    * and spec-proven equal to this global form.
    */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select("event_type", "event_id", "ts", "value")
      .filter(col("value").isNotNull)
    val stats = ev.groupBy("event_type").agg(
      (sum(col("value").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("mean"),
      count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cus = ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("cusum",
        sum((col("value") - col("mean")).cast("decimal(24,9)")).over(w))
    val pick = Window.partitionBy("event_type")
      .orderBy(abs(col("cusum")).desc, col("ts"), col("event_id"))
    cus.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_events"), col("ts").as("cp_ts"),
        abs(col("cusum")).cast("double").as("max_abs_cusum"))
      .orderBy("event_type")
  }

  /** [[cusumChangepoint]] in its 100 TB shape: the time-ordered running
    * sum evaluated PER BUCKET (default: per day) with the previous
    * buckets' carry-in offset added back — no window ever sorts more
    * than one bucket of one event type. Correct because every deviation
    * is rounded onto DECIMAL(24,9) before summation and decimal addition
    * is associative: cusum(row) = carry(bucket) + local_cusum(row) is
    * exactly the global running sum regardless of how the rows were
    * sliced, so the argmax row — and therefore the output — is
    * bit-identical to the global form (spec-proven across 1-day, 3-day,
    * and single-bucket slicings; the driver gates it against the SAME
    * DuckDB oracle as the global form).
    *
    * Stages, none fact-global: (1) per-type mean (one narrow agg),
    * (2) per-(type, bucket) local running sums — the only fact-sized
    * window, bucket-scoped, (3) per-(type, bucket) deviation totals (one
    * narrow agg) prefix-summed over the TINY (type, bucket) grid into
    * carry-in offsets, broadcast back, (4) a two-level argmax: bucket
    * winners first (bucket-scoped window), then the per-type winner over
    * |buckets| rows. `bucket` must be monotone non-decreasing in `ts`
    * (any truncation of it is) so bucket order extends time order.
    */
  def cusumChangepointPartitioned(s: SparkSession, d: String,
      bucket: Column = date_trunc("day", col("ts"))): DataFrame = {
    val ev = Tables.events(s, d)
      .select("event_type", "event_id", "ts", "value")
      .filter(col("value").isNotNull)
      .withColumn("bucket", bucket)
    val stats = ev.groupBy("event_type").agg(
      (sum(col("value").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("mean"),
      count(lit(1)).as("n_events"))
    val dev = ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("dev", (col("value") - col("mean")).cast("decimal(24,9)"))
    val localW = Window.partitionBy("event_type", "bucket")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = dev
      .withColumn("local_cusum", sum(col("dev")).over(localW))
    // carry-in per bucket: exclusive prefix sum of the bucket totals over
    // the (type, bucket) grid — |types|·|buckets| rows, broadcast back
    val carryW = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = dev.groupBy("event_type", "bucket")
      .agg(sum(col("dev")).as("btotal"))
      .withColumn("carry", sum(col("btotal")).over(carryW))
      .select("event_type", "bucket", "carry")
    // cast BOTH addends to decimal(28,9) before the carry-in add: the
    // raw sum types (local dec(34,9), carry dec(38,9)) would push the
    // result past precision 38 and Spark sheds SCALE (dec(38,8)) —
    // rounding the ninth decimal and breaking bit-equality with the
    // global form. dec(28,9)+dec(28,9) → dec(29,9), exact; 10^19
    // integral digits is ample for any real deviation mass.
    val cus = withLocal.join(broadcast(carry), Seq("event_type", "bucket"))
      .withColumn("cusum", col("local_cusum").cast("decimal(28,9)") +
        coalesce(col("carry").cast("decimal(28,9)"),
          lit(0).cast("decimal(28,9)")))
    // two-level argmax under ONE ordering (|CUSUM| desc, ts, event_id):
    // the per-type winner is necessarily its bucket's winner, so level 2
    // ranks only |buckets| candidate rows
    val pickLocal = Window.partitionBy("event_type", "bucket")
      .orderBy(abs(col("cusum")).desc, col("ts"), col("event_id"))
    val pickGlobal = Window.partitionBy("event_type")
      .orderBy(abs(col("cusum")).desc, col("ts"), col("event_id"))
    cus.withColumn("rn", row_number().over(pickLocal))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("rn", row_number().over(pickGlobal))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_events"), col("ts").as("cp_ts"),
        abs(col("cusum")).cast("double").as("max_abs_cusum"))
      .orderBy("event_type")
  }

  /** Lagged cross-correlation between two event streams (does `purchase`
    * volume follow `click` volume, and at what delay? — the lead/lag
    * diagnostic behind attribution and capacity models): hourly counts
    * per type, then for every lag in ±`maxLag` hours, the Pearson
    * correlation between the click series and the purchase series
    * shifted by that lag, over the hours both have data (inner join).
    *
    * Engine-exact by the [[graft.ops.Analytics.quantityDiscountCorr]]
    * discipline: the joined counts are INTEGERS, the five moment sums
    * accumulate in DECIMAL (exact/associative; scaled values far below
    * 2^53, so the double surfacing is exact-input), and the closed-form
    * r evaluates once in a fixed-order double expression. Hour keys are
    * epoch-hours (integer division — Spark truncates unix_timestamp to
    * seconds, DuckDB floors the fractional epoch; identical for any
    * positive timestamp).
    *
    * Scale: ONE fact aggregate to hour grain (conditional per-type
    * sums, checkpointed) — everything after operates on series tables
    * (|hours| rows), broadcast-joined per lag; maxLag bounds the
    * fan-out at 2·maxLag+1 tiny joins' worth of rows in one plan.
    */
  def crossCorrelation(s: SparkSession, d: String,
      typeA: String = "click", typeB: String = "purchase",
      maxLag: Int = 3): DataFrame = {
    import s.implicits._
    // ONE fact aggregate, conditional per-type counts: filtering the
    // aggregate by event_type afterwards would let Catalyst push each
    // filter below the groupBy and scan+shuffle the fact table twice.
    // The eager checkpoint pins the tiny (h, ca, cb) series so the two
    // join sides below consume one materialization, not two lineages.
    val hourly = Tables.events(s, d)
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(expr("unix_timestamp(ts) div 3600").as("h"))
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("cb"))
      .localCheckpoint()
    val a = hourly.filter(col("ca") > 0).select(col("h"), col("ca"))
    val b = hourly.filter(col("cb") > 0)
      .select(col("h").as("hb"), col("cb"))
    val lags = (-maxLag to maxLag).toDF("lag")
    val matched = a
      .join(broadcast(b.crossJoin(broadcast(lags))),
        col("h") === col("hb") + col("lag"))
      .select(col("lag"),
        col("ca").cast("decimal(14,0)").as("x"),
        col("cb").cast("decimal(14,0)").as("y"))
    matched.groupBy("lag")
      .agg(count(lit(1)).as("n_hours"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
      .select(col("lag"), col("n_hours"),
        ((col("n_hours") * col("sxy") - col("sx") * col("sy"))
          / sqrt((col("n_hours") * col("sxx") - col("sx") * col("sx"))
            * (col("n_hours") * col("syy") - col("sy") * col("sy"))))
          .as("xcorr"))
      .orderBy("lag")
  }

  /** Sliding-window distinct users via MERGEABLE HLL sketches (the
    * DataSketches functions Spark 4 ships): the STORED hourly partials
    * ([[sketchPartials]]) union per hour, and every `windowHours`-hour
    * sliding window then UNIONS the hourly sketches (`hll_union_agg`)
    * instead of
    * re-scanning events per window — the sketch-reuse pattern that
    * makes sliding distinct counts affordable at 100 TB (a window's
    * exact distinct cannot reuse another window's result; mergeable
    * sketch partials can, which is the entire point of sketches in a
    * rollup ladder). Sketch estimates are engine-specific, so the
    * driver-gated surface is the [[graft.ops.Relational
    * .approxDistinctBound]] bound contract: the EXACT per-window count
    * (integers, oracle-reproducible) plus a within-bound flag — the
    * estimate is deterministic for a fixed input set, making the flag
    * stable, and the spec pins the estimates themselves.
    *
    * The audit is SAMPLED (`auditEveryK`, default every 3rd window):
    * the exact twin explodes every event `windowHours`× and runs a
    * per-window `count_distinct` — exactly the cost the sketch path
    * exists to avoid, so running it on every window at 100 TB would
    * reintroduce it. The window filter is applied INSIDE the sequence
    * generation (array_filter before the explode), so the fact table
    * fans out only `⌈windowHours/k⌉`× on the audit branch; unaudited
    * windows surface NULL exact/bound columns (the sketch estimate is
    * still computed for every window — the audit is an assurance
    * sample, not the result). `auditEveryK = 1` recovers the full audit
    * (the spec's cross-check form at test SF).
    */
  /** Hour × event-type mergeable sketch partials over the events fact
    * table — ONE fact pass, persisted fingerprint-guarded
    * ([[graft.sources.Artifact]]), read by EVERY sketch consumer:
    * [[slidingDistinctUsers]] unions the HLL column per hour,
    * [[quantileRollupDaily]]/[[slidingQuantile]] merge the KLL column
    * per day/window, [[segmentOverlap]]/[[segmentExclusive]] union the
    * theta column per type. Build-once/serve-many is the entire
    * argument for mergeable partials: at 100 TB the fact table is
    * scanned once for the family, not once per operator (the blemish
    * round 7's prose claimed away). Sketch unions/merges are grouping-
    * agnostic (HLL/theta bit-stable set functions; KLL rank-bounded),
    * so the (h, event_type) grain serves every coarser grouping.
    */
  private[graft] def sketchPartials(s: SparkSession,
      d: String): DataFrame =
    graft.sources.Artifact.readOrCompute(s,
      // full-path-hashed key (Sinks.namespaced): two datasets sharing a
      // BASENAME (two checkouts' data/sf0_1) must not collide on one
      // artifact dir — basename-only keying forced rebuild thrash and
      // raced concurrent same-basename sessions on the part dirs
      graft.sources.Sinks.namespaced(
        s"${graft.sources.Artifact.stagingRoot(s)}/graft_sketch_stages/" +
          new java.io.File(d).getName, d),
      "sketch.fingerprint", Seq(s"$d/events.parquet"),
      Seq("hourly_partials")) { () =>
      Map("hourly_partials" -> Tables.events(s, d)
        .select(expr("unix_timestamp(ts) div 3600").as("h"),
          col("event_type"), col("user_id"), col("value"))
        .groupBy("h", "event_type")
        .agg(expr("hll_sketch_agg(user_id)").as("hll_sk"),
          expr("kll_sketch_agg_double(value)").as("kll_sk"),
          expr("theta_sketch_agg(user_id)").as("theta_sk")))
    }("hourly_partials")

  def slidingDistinctUsers(s: SparkSession, d: String,
      windowHours: Int = 6, maxRelErr: Double = 0.08,
      auditEveryK: Int = 3): DataFrame = {
    val ev = Tables.events(s, d)
      .select(expr("unix_timestamp(ts) div 3600").as("h"), col("user_id"))
    // per-hour sketches from the STORED partials (one more union level
    // over event_type — HLL union is a pure function of the input set,
    // so the estimates equal the direct per-hour sketch's)
    val hourly = sketchPartials(s, d).groupBy("h")
      .agg(expr("hll_union_agg(hll_sk)").as("sk"))
    val windows = hourly
      .select(col("h"), col("sk"),
        explode(sequence(lit(0), lit(windowHours - 1))).as("off"))
      .groupBy((col("h") + col("off")).as("wend"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"))
    val exact = ev
      .select(explode(filter(
        sequence(col("h"), col("h") + (windowHours - 1)),
        w => w % auditEveryK === 0)).as("wend"), col("user_id"))
      .groupBy("wend").agg(count_distinct(col("user_id")).as("exact_users"))
    windows.join(exact, Seq("wend"), "left")
      .select(col("wend"), col("exact_users"),
        when(col("exact_users").isNotNull,
          abs(col("approx") - col("exact_users")) <=
            col("exact_users") * maxRelErr).as("within_bound"))
      .orderBy("wend")
  }

  /** Daily quantiles via MERGEABLE KLL sketches (round 7 — the quantile
    * member of the sketch-rollup family beside [[slidingDistinctUsers]]'
    * HLL): the STORED hourly partials ([[sketchPartials]] — one fact
    * pass serving the whole family) merge per day via
    * `kll_merge_agg_double` instead of re-scanning events — and the
    * same stored partials answer ANY
    * coarser grain or sliding window (quantiles are non-decomposable as
    * scalars, which is exactly why the sketch rollup exists). Sketch
    * values are engine-specific, so the driver-gated surface is the
    * bound contract: exact per-day p50/p90 ([[graft.functions
    * .ExactQuantiles]], oracle-reproducible) plus RANK-domain flags —
    * the empirical rank of each estimate must sit within `rankTol` of
    * its target (KLL's guarantee is a rank guarantee; a value-domain
    * bound would be data-dependent). The rank audit joins the (tiny,
    * broadcast) day-estimate table back to facts — one extra day-keyed
    * pass, same cost class as the exact twin. `rankTol` = 0.05 ≈ 3×
    * KLL's k=200 single-sided rank error (~1.65%) — KLL compaction is
    * RANDOMIZED, so the flag must hold for every draw, not just the
    * observed one; a broken sketch misses by tens of rank points.
    */
  def quantileRollupDaily(s: SparkSession, d: String,
      rankTol: Double = 0.05): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    val ev = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day_ts"), col("value"))
    // day sketches merged from the STORED hourly partials (UTC session
    // ⇒ the unix-hour key truncates to the same day as the raw ts)
    val daily = sketchPartials(s, d)
      .groupBy(date_trunc("day",
        timestamp_seconds(col("h") * 3600)).as("day_ts"))
      .agg(expr("kll_merge_agg_double(kll_sk)").as("sk"))
      .select(col("day_ts"),
        expr("kll_sketch_get_quantile_double(sk, 0.5)").as("est50"),
        expr("kll_sketch_get_quantile_double(sk, 0.9)").as("est90"))
    val exact = ev.groupBy("day_ts")
      .agg(count(lit(1)).as("n_events"),
        exactQuantiles(col("value"), Seq(50, 90), 100).as("qs"))
      .select(col("day_ts"), col("n_events"),
        col("qs").getItem(0).as("exact_p50"),
        col("qs").getItem(1).as("exact_p90"))
    val ranks = ev.join(broadcast(daily), Seq("day_ts"))
      .groupBy("day_ts")
      .agg(
        (sum(when(col("value") <= col("est50"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("r50"),
        (sum(when(col("value") <= col("est90"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("r90"))
    exact.join(ranks, Seq("day_ts"))
      .select(col("day_ts"), col("n_events"),
        col("exact_p50"), col("exact_p90"),
        (abs(col("r50") - 0.5) <= rankTol).as("p50_within"),
        (abs(col("r90") - 0.9) <= rankTol).as("p90_within"))
      .orderBy("day_ts")
  }

  /** Sliding-window p50 via the SAME stored hourly KLL partials as
    * [[quantileRollupDaily]] ([[sketchPartials]]): every `windowHours`
    * sliding window merges its hourly sketches instead of re-scanning
    * events — the quantile twin of [[slidingDistinctUsers]], and the
    * payoff of MERGEABLE quantile state (an exact window quantile can
    * reuse nothing from the neighboring window; sketch partials can).
    * Audit discipline is the sliding-distinct one: exact p50 + rank
    * flag on every `auditEveryK`-th window only (the exact twin
    * explodes facts windowHours×), filter applied inside the sequence
    * generation, NULL columns elsewhere.
    */
  def slidingQuantile(s: SparkSession, d: String, windowHours: Int = 6,
      rankTol: Double = 0.05, auditEveryK: Int = 3): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    val ev = Tables.events(s, d)
      .select(expr("unix_timestamp(ts) div 3600").as("h"), col("value"))
    val hourly = sketchPartials(s, d).groupBy("h")
      .agg(expr("kll_merge_agg_double(kll_sk)").as("sk"))
    val windows = hourly
      .select(col("h"), col("sk"),
        explode(sequence(lit(0), lit(windowHours - 1))).as("off"))
      .groupBy((col("h") + col("off")).as("wend"))
      .agg(expr(
        "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5)")
        .as("est50"))
    val sampled = ev
      .select(explode(filter(
        sequence(col("h"), col("h") + (windowHours - 1)),
        w => w % auditEveryK === 0)).as("wend"), col("value"))
    val exact = sampled.groupBy("wend")
      .agg(count(lit(1)).as("n_values"),
        exactQuantiles(col("value"), Seq(50), 100).as("qs"))
      .select(col("wend"), col("n_values"),
        col("qs").getItem(0).as("exact_p50"))
    val ranks = sampled.join(broadcast(windows), Seq("wend"))
      .groupBy("wend")
      .agg((sum(when(col("value") <= col("est50"), 1L).otherwise(0L))
        .cast("double") / count(lit(1))).as("r50"))
    windows
      .join(exact, Seq("wend"), "left")
      .join(ranks, Seq("wend"), "left")
      .select(col("wend"), col("n_values"), col("exact_p50"),
        when(col("exact_p50").isNotNull,
          abs(col("r50") - 0.5) <= rankTol).as("p50_within"))
      .orderBy("wend")
  }

  /** Audience overlap between event-type segments via THETA sketches
    * (round 7 — the set-operation sketch family: HLL unions,
    * theta INTERSECTS): distinct users per type as `theta_sketch_agg`
    * partials, every type pair's shared-user count from
    * `theta_intersection` of two partials — no fact re-scan per pair,
    * which is the entire point at 100 TB where the pairwise exact
    * computation re-shuffles the fact table per segment pair. Estimates
    * are engine-specific ⇒ the driver surface is the exact pairwise
    * count (one distinct-pair self-join, oracle-reproducible) plus the
    * within-bound flag; at fixture cardinality theta is in its exact
    * regime so the flag doubles as an equality check.
    */
  def segmentOverlap(s: SparkSession, d: String,
      maxRelErr: Double = 0.05): DataFrame = {
    // per-type sketches unioned from the STORED hourly partials (theta
    // union is a pure set function — same sketch as the direct build)
    val sk = sketchPartials(s, d)
      .groupBy("event_type")
      .agg(expr("theta_union_agg(theta_sk)").as("sk"))
    // |types|² bounded pair frame — the broadcast-crossJoin contract
    val pairs = sk.select(col("event_type").as("type_a"),
        col("sk").as("sk_a"))
      .join(broadcast(sk.select(col("event_type").as("type_b"),
        col("sk").as("sk_b"))),
        col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))")
          .as("est"))
    val ut = Tables.events(s, d)
      .select("user_id", "event_type").distinct()
    val exact = ut.as("x")
      .join(ut.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("exact_both"))
    pairs.join(exact, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        coalesce(col("exact_both"), lit(0L)).as("exact_both"),
        (abs(col("est") - coalesce(col("exact_both"), lit(0L))) <=
          greatest(lit(2.0),
            coalesce(col("exact_both"), lit(0L)) * maxRelErr))
          .as("within_bound"))
      .orderBy("type_a", "type_b")
  }

  /** Exclusive audiences via `theta_difference` — the third theta set
    * operation (union backs the sink, intersection backs
    * [[segmentOverlap]]): for every ORDERED type pair, how many users
    * are in A but not B, from the same |types| stored partials. Exact
    * truth is |A| − |A∩B| (two quantities the overlap op already
    * gates); the flag checks the difference-sketch estimate against it.
    */
  def segmentExclusive(s: SparkSession, d: String,
      maxRelErr: Double = 0.05): DataFrame = {
    val ut = Tables.events(s, d)
      .select("user_id", "event_type").distinct()
    // sketch side from the STORED partials; the exact per-type distinct
    // (part of the gated exact surface) reuses the ut frame the exact
    // pairwise count below already builds
    val sk = sketchPartials(s, d)
      .groupBy("event_type")
      .agg(expr("theta_union_agg(theta_sk)").as("sk"))
      .join(ut.groupBy("event_type").agg(count(lit(1)).as("nd")),
        Seq("event_type"))
    val pairs = sk.select(col("event_type").as("type_a"),
        col("sk").as("sk_a"), col("nd").as("nd_a"))
      .join(broadcast(sk.select(col("event_type").as("type_b"),
        col("sk").as("sk_b"))),
        col("type_a") =!= col("type_b"))
      .select(col("type_a"), col("type_b"), col("nd_a"),
        expr("theta_sketch_estimate(theta_difference(sk_a, sk_b))")
          .as("est"))
    val both = ut.as("x")
      .join(ut.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") =!= col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs.join(both, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"), col("est"),
        (col("nd_a") - coalesce(col("n_both"), lit(0L)))
          .as("exact_only_a"))
      .select(col("type_a"), col("type_b"), col("exact_only_a"),
        (abs(col("est") - col("exact_only_a")) <=
          greatest(lit(2.0), col("exact_only_a") * maxRelErr))
          .as("within_bound"))
      .orderBy("type_a", "type_b")
  }

  /** Hierarchical grain rollup with partial reuse — the materialized-view
    * ladder every streaming-OLAP store keeps (minute → hour → day):
    * events aggregate ONCE to minute grain, hours re-aggregate the
    * MINUTE partials, days re-aggregate the HOUR partials. At 100 TB the
    * raw fact scan happens exactly once; each higher grain reads the
    * previous grain's (tiny) output, so the ladder costs three
    * progressively smaller shuffles instead of three fact scans. Sums
    * ride a decimal(18,2) through every level (associative ⇒ the re-
    * aggregation is exact and engine-reproducible), cast to double only
    * at the edge. Output: all three grains unioned with a `grain` tag —
    * the serving table a dashboard range-scans by (grain, bucket_ts).
    */
  def grainRollup(s: SparkSession, d: String): DataFrame = {
    val minute = Tables.events(s, d)
      .groupBy(date_trunc("minute", col("ts")).as("bucket_ts"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("dec_v"))
    val hour = minute
      .groupBy(date_trunc("hour", col("bucket_ts")).as("bucket_ts"))
      .agg(sum(col("n_events")).as("n_events"), sum(col("dec_v")).as("dec_v"))
    val day = hour
      .groupBy(date_trunc("day", col("bucket_ts")).as("bucket_ts"))
      .agg(sum(col("n_events")).as("n_events"), sum(col("dec_v")).as("dec_v"))
    def tag(df: DataFrame, g: String): DataFrame =
      df.select(lit(g).as("grain"), col("bucket_ts"), col("n_events"),
        col("dec_v").cast("double").as("sum_value"))
    tag(minute, "minute").unionByName(tag(hour, "hour"))
      .unionByName(tag(day, "day"))
      .orderBy("grain", "bucket_ts")
  }

  /** Additive seasonal (hour-of-day) profile of event volume — the
    * classical-decomposition first pass (trend + seasonal + remainder,
    * Cleveland et al.'s STL ancestor) monitoring and forecasting
    * pipelines run before any model: per hour-of-day, the mean
    * deviation of that hour's event count from its OWN DAY's mean,
    * i.e. the seasonal component under a day-level trend. A positive
    * `seasonal` is an hour that reliably runs hot relative to its day.
    *
    * Engine-exactness: hourly counts and per-day sums are exact
    * integers; the day mean is one int→double conversion + division
    * (correctly rounded, engine-identical), each residual rounds onto
    * DECIMAL(24,9) so the per-hour-of-day sum is associative, and the
    * final mean is one decimal→double cast + division. Scale shape:
    * one fact-sized (day, hod) aggregate, then day-sized and 24-row
    * frames — the fact table is touched once; the residual join keys
    * on day (day-count-sized broadcast at any realistic retention).
    */
  def seasonalProfile(s: SparkSession, d: String): DataFrame =
    detrendedHourly(s, d).groupBy("hod")
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("n_events"),
        (sum(col("r")).cast("double") / count(lit(1))).as("seasonal"))
      .orderBy("hod")

  /** (day, hod, count, day-detrended residual) cells —
    * [[seasonalProfile]] and [[seasonalAnomaly]] share this frame: one
    * fact pass to hourly counts, the day-sized trend broadcast back.
    */
  private def detrendedHourly(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"),
        hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("c"))
    val trend = hourly.groupBy("day")
      .agg(sum("c").as("dsum"), count(lit(1)).as("dcnt"))
    hourly.join(broadcast(trend), Seq("day"))
      .withColumn("r",
        (col("c") - col("dsum").cast("double") / col("dcnt"))
          .cast("decimal(24,9)"))
  }

  /** Seasonally-adjusted volume anomalies — the composition monitoring
    * actually runs (STL-style: remove trend AND seasonality, THEN
    * flag): the remainder after subtracting both the day trend and the
    * [[seasonalProfile]] hour-of-day component, flagged by the robust
    * [[anomalyMad]] fence (exact lower medians, 4.4478·MAD ≈ 3σ under
    * normality, one literal so both engines evaluate the identical
    * product). A raw-count fence would page on every busy evening;
    * deseasonalizing first is what makes the alarm mean something.
    *
    * Determinism: residuals are the [[seasonalProfile]] decimal-exact
    * chain extended by one identical double subtraction; medians are
    * exact count-map aggregates ([[graft.functions.ExactQuantiles]]),
    * broadcast back; the flag boundary is a single engine-identical
    * product compare. Scale: the one fact pass builds the cell frame;
    * everything after is (days×24)-sized.
    */
  def seasonalAnomaly(s: SparkSession, d: String,
      kMad: Double = 4.4478): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    val wt = detrendedHourly(s, d)
    val seas = wt.groupBy("hod")
      .agg((sum(col("r")).cast("double") / count(lit(1)))
        .as("seasonal"))
    val resid = wt.join(broadcast(seas), Seq("hod"))
      .withColumn("resid", col("r").cast("double") - col("seasonal"))
    val med = resid.agg(
      exactQuantiles(col("resid"), Seq(50), 100).getItem(0).as("med"))
    val dev = resid.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("resid") - col("med")))
    val mad = dev.agg(
      exactQuantiles(col("dev"), Seq(50), 100).getItem(0).as("mad"))
    dev.crossJoin(broadcast(mad))
      .filter(col("dev") > lit(kMad) * col("mad"))
      .select(col("day"), col("hod"), col("c").as("n_events"),
        col("resid"))
      .orderBy("day", "hod")
  }

  /** Last-touch marketing attribution: every `purchase` is credited to
    * the most recent preceding NON-purchase event by the same user
    * within a 24 h lookback, or to the synthetic `direct` channel when
    * no touch qualifies. This is the conversion-credit aggregation the
    * reference's event pipeline feeds downstream dashboards with —
    * the batch form of "which activity drove the sale".
    *
    * Determinism: "most recent preceding" is defined on the total
    * per-user order (ts, event_id) — a dense per-user `row_number`
    * makes the predecessor unique even under timestamp ties, and the
    * touch row is re-fetched by that ordinal (an equi-join), never by
    * a float comparison. The 24 h cutoff compares `ts` cast to double
    * seconds (exact micros→double conversion, identical in both
    * engines); revenue sums ride the DECIMAL(18,2) money discipline.
    *
    * Scale: ONE shuffle on `user_id` serves both the ordinal window
    * and the touch-back join (co-partitioned self-join on the window's
    * own partitioning); everything after is channel-count-sized.
    */
  def attributionLastTouch(s: SparkSession, d: String,
      lookbackSec: Double = 86400d): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    val ord = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val withRn = ev.withColumn("rn", row_number().over(ord))
    val pred = Window.partitionBy("user_id").orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tagged = withRn.withColumn("touch_rn",
      max(when(col("event_type") =!= "purchase", col("rn"))).over(pred))
    val touches = withRn.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("rn").as("touch_rn"),
        col("event_type").as("touch_type"), col("ts").as("touch_ts"))
    tagged.filter(col("event_type") === "purchase")
      .join(touches, Seq("user_id", "touch_rn"), "left")
      .withColumn("channel",
        when(col("touch_ts").isNotNull &&
            col("ts").cast("double") - col("touch_ts").cast("double")
              <= lit(lookbackSec),
          col("touch_type")).otherwise(lit("direct")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("attributed_revenue"))
      .orderBy("channel")
  }

  /** Per-user event-type transition matrix (first-order Markov chain
    * over the session stream): consecutive-event bigrams on the same
    * total (ts, event_id) order [[attributionLastTouch]] uses, counted
    * by (prev, next) with the row-conditional probability
    * P(next | prev). The sequential-pattern summary behind "what do
    * users do after an error?" — and the transition table a
    * next-event-prediction baseline reads directly.
    *
    * Exactness: counts are integers; the probability is ONE int/int
    * division (double in both engines). Scale: one fact shuffle on
    * `user_id` for the lag window, then a |types|²-bounded aggregate;
    * the per-prev totals come from a window over that tiny frame, not
    * a second fact pass.
    */
  def markovTransitions(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val bigrams = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(ord))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    bigrams
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("prev_type")))
      .orderBy("prev_type", "next_type")
  }

  /** Power-law fit of the pooled DAILY retention curve — the decay
    * exponent growth models project from (retention curves are
    * famously power-shaped, not exponential): per day-offset k ≥ 1,
    * the share of ELIGIBLE users (first seen ≥ k days before the data
    * edge — right-censoring handled, the [[timeToConvert]] discipline)
    * still active at offset k, then OLS of ln(share) on ln(k) — slope
    * is the decay exponent, intercept the day-1 anchor. A flattening
    * slope across rounds is the habit signal; steepening is churn.
    * Day grain, not week: the fixture (like any high-frequency
    * product) saturates weekly retention at 1.0 — a constant-y fit is
    * vacuous, the vacuity discipline that set timeToConvert's
    * threshold.
    *
    * Exactness: retained/eligible are integer counts (eligible via a
    * calendar-bounded `explode(sequence)` suffix count — the
    * [[dauWauMau]] map-side idiom, never a range join); each OLS
    * factor is quantized onto DECIMAL(24,9) before the sums (the
    * zipfFit discipline — StrictMath vs libm `ln` differ by an ulp);
    * the closed form runs on exact decimal-summed moments. Scale: one
    * distinct (user, day) pass, a user-keyed min join-back, then
    * everything lives on the DAYS-sized (calendar-bounded) offset
    * domain.
    */
  def retentionFit(s: SparkSession, d: String): DataFrame = {
    val uw = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("wk"))
      .distinct().localCheckpoint() // feeds first-seen AND activity
    val first = uw.groupBy("user_id").agg(min(col("wk")).as("w0"))
    val offs = uw.join(first, Seq("user_id"))
      .select(col("user_id"), (col("wk") - col("w0")).as("k"))
      .filter(col("k") >= 1)
      .groupBy("k").agg(countDistinct(col("user_id")).as("retained"))
    val elig = first.crossJoin(broadcast(uw.agg(max(col("wk"))
        .as("wmax"))))
      .select((col("wmax") - col("w0")).as("horizon"))
      .groupBy("horizon").agg(count(lit(1)).as("nh"))
      .filter(col("horizon") >= 1)
      .select(explode(expr("sequence(1L, horizon)")).as("k"), col("nh"))
      .groupBy("k").agg(sum(col("nh")).as("eligible"))
    val pts = offs.join(elig, Seq("k"))
      .filter(col("retained") > 0)
      .select(
        log(col("k").cast("double")).cast("decimal(24,9)").as("x"),
        log(col("retained").cast("double") / col("eligible")
          .cast("double")).cast("decimal(24,9)").as("y"),
        (log(col("k").cast("double")) * log(col("retained")
          .cast("double") / col("eligible").cast("double")))
          .cast("decimal(24,9)").as("xy"),
        (log(col("k").cast("double")) * log(col("k").cast("double")))
          .cast("decimal(24,9)").as("xx"))
    pts.agg(count(lit(1)).as("n_points"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("xy")).cast("double").as("sxy"),
        sum(col("xx")).cast("double").as("sxx"))
      .select(col("n_points"),
        ((col("n_points") * col("sxy") - col("sx") * col("sy"))
          / (col("n_points") * col("sxx") - col("sx") * col("sx")))
          .as("slope"),
        ((col("sy") - ((col("n_points") * col("sxy")
              - col("sx") * col("sy"))
            / (col("n_points") * col("sxx") - col("sx") * col("sx")))
            * col("sx")) / col("n_points"))
          .as("intercept"))
  }

  /** Stationary distribution of the event-type Markov chain — where
    * [[markovTransitions]]' one-step matrix settles: π with π = πP,
    * computed by `iters` power-iteration steps from the uniform start.
    * The long-run behavioral mix a next-event model converges to,
    * reported next to the EMPIRICAL type share so the gap (stationary
    * − empirical) reads as "which types are transient vs sticky".
    *
    * Exactness: the chain state is DECIMAL(24,12) end to end — each
    * step's term is (π_i as double) · (n_ij / n_i as double), one IEEE
    * product of two determinate doubles, quantized onto the decimal
    * grain BEFORE the per-column sum (≤ |types| associative decimal
    * adds), so every iterate is bit-identical across engines and the
    * oracle unrolls the same `iters` steps as CTEs (the
    * [[graft.ops.GraphOps]] superstep discipline). States are the
    * types with ≥ 1 outgoing bigram; transitions into a state with no
    * outgoing edges would strand mass, so both engines drop them and
    * renormalize the row totals over what is kept (a no-op on this
    * fixture — every type both enters and leaves).
    *
    * Scale: ONE fact pass (the per-user lag window [[markovTransitions]]
    * uses — per-user-bounded groups); everything after lives on the
    * |types|²-bounded matrix, which is COLLECTED and power-iterated on
    * the driver (the [[graft.ops.SimilarityOps.pcaPower]] bounded-state
    * class: |types|² is a constant of the event-type alphabet, never of
    * the data) — the superstep form costs one scheduled Spark job per
    * round over a ≤|types|-row frame, pure scheduler overhead.
    */
  def markovStationary(s: SparkSession, d: String,
      iters: Int = 20): DataFrame = {
    import s.implicits._
    val ord = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    val c = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(ord))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // |types|² rows; feeds states, totals, and P
    val states = c.select(col("prev_type").as("state")).distinct()
      .localCheckpoint()
    val kept = c.join(states.withColumnRenamed("state", "next_type"),
      Seq("next_type"), "left_semi")
    val tot = kept.groupBy("prev_type").agg(sum(col("n")).as("ni"))
    val p = kept.join(tot, Seq("prev_type"))
      .select(col("prev_type"), col("next_type"),
        (col("n").cast("double") / col("ni").cast("double")).as("p"))
    // |types|² transition entries + the |types| state list — bounded
    // driver state (a constant of the event-type alphabet, like
    // pcaPower's d² covariance matrix). The iteration runs HERE: the
    // DataFrame-superstep form costs one scheduled job per round over
    // a ≤|types|-row frame — measured ~2.4 s of pure scheduler
    // overhead for 20 rounds vs ~0 ms of driver math.
    val stateArr = states.as[String].collect().sorted
    val pRows = p.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // q replicates Spark's double→DECIMAL(24,12) cast bit-for-bit
    // (shortest-repr BigDecimal + HALF_UP — the pcaPower shim), so
    // this loop IS the oracle's unrolled-CTE iteration: each term is
    // one IEEE product quantized onto the 1e-12 grain, and the
    // per-state sum is associative decimal addition (order-free).
    def q(x: Double): BigDecimal = BigDecimal.decimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val byNext = pRows.groupBy(_._2)
    var v: Map[String, BigDecimal] =
      stateArr.map(_ -> q(1.0 / stateArr.length)).toMap
    for (_ <- 1 to iters) {
      val cur = v
      // join-then-groupBy semantics verbatim: a state with no
      // surviving incoming term is ABSENT (not zero), as the
      // superstep's inner join + groupBy produced
      v = byNext.flatMap { case (next, rows) =>
        val terms = rows.flatMap { case (prev, _, pij) =>
          cur.get(prev).map(vp => q(vp.toDouble * pij)) }
        if (terms.isEmpty) None else Some(next -> terms.sum)
      }
    }
    val stat = v.toSeq.map { case (st, vv) => (st, vv.toDouble) }
      .toDF("state", "stationary")
    val emp = Tables.events(s, d)
      .groupBy(col("event_type").as("state"))
      .agg(count(lit(1)).as("n_events"))
    val empTot = emp.agg(sum(col("n_events")).as("total"))
    stat.join(emp, Seq("state"))
      .crossJoin(broadcast(empTot))
      .select(col("state").as("event_type"),
        col("stationary"),
        (col("n_events").cast("double") / col("total").cast("double"))
          .as("empirical"))
      .withColumn("gap", col("stationary") - col("empirical"))
      .orderBy("event_type")
  }

  /** Population-stability-index drift monitor over the event `value`
    * distribution: the first 7 days of the stream are the baseline,
    * the last 7 days the current window; baseline deciles (exact, via
    * [[graft.functions.ExactQuantiles]]'s integer rank rule) bin both
    * sides, and PSI = Σ (p−q)·ln(p/q) over the 10 bins with the
    * standard 1e-4 floor on empty-bin shares. The model-monitoring
    * number ops teams page on: PSI < 0.1 stable, > 0.25 shifted.
    *
    * Determinism: bin edges are exact order statistics; bin shares are
    * int/int divisions; each bin's contribution is quantized onto
    * DECIMAL(24,9) (the [[seasonalProfile]] discipline — StrictMath vs
    * libm `ln` differ by an ulp, the 1e-9 grain absorbs it) so the
    * cross-bin total is an associative decimal sum. Scale: two
    * filtered fact passes (each pushdown-prunable to its 7-day range
    * at the scan), one count-map quantile aggregate, then 10-row math.
    */
  def psiValueDrift(s: SparkSession, d: String,
      windowSec: Long = 604800L): DataFrame = {
    import graft.functions.ExactQuantiles.exactQuantiles
    val ev = Tables.events(s, d)
      .select(col("ts").cast("double").as("sec"), col("value"))
    val span = ev.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi"))
    val base = ev.crossJoin(broadcast(span))
      .filter(col("sec") < col("lo") + lit(windowSec.toDouble))
    val cur = ev.crossJoin(broadcast(span))
      .filter(col("sec") >= col("hi") - lit(windowSec.toDouble))
    val bp = base.agg(
      exactQuantiles(col("value"), (1 to 9).map(_ * 10), 100).as("bp"))
    def binned(df: DataFrame, cName: String): DataFrame =
      df.crossJoin(broadcast(bp))
        .withColumn("bin",
          (0 until 9).foldRight(lit(9)) { (i, acc) =>
            when(col("value") <= col("bp").getItem(i), lit(i))
              .otherwise(acc)
          }.cast(LongType))
        .groupBy("bin").agg(count(lit(1)).as(cName))
    val bins = s.range(0, 10).select(col("id").as("bin"))
    val joined = bins
      .join(binned(base, "n_base"), Seq("bin"), "left")
      .join(binned(cur, "n_cur"), Seq("bin"), "left")
      .withColumn("n_base", coalesce(col("n_base"), lit(0L)))
      .withColumn("n_cur", coalesce(col("n_cur"), lit(0L)))
    val tots = joined.agg(sum(col("n_base")).as("tb"),
      sum(col("n_cur")).as("tc"))
    val terms = joined.crossJoin(broadcast(tots))
      .withColumn("p",
        greatest(col("n_base").cast("double") / col("tb"), lit(1e-4)))
      .withColumn("q",
        greatest(col("n_cur").cast("double") / col("tc"), lit(1e-4)))
      .withColumn("contrib_dec",
        ((col("p") - col("q")) * log(col("p") / col("q")))
          .cast("decimal(24,9)"))
    terms.withColumn("psi",
        sum(col("contrib_dec")).over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))
          .cast("double"))
      .select(col("bin"), col("n_base"), col("n_cur"), col("p"),
        col("q"), col("contrib_dec").cast("double").as("contrib"),
        col("psi"))
      .orderBy("bin")
  }

  /** Autocorrelation function of the hourly event-count series at lags
    * 1..24 — the periodicity fingerprint (a daily cycle shows as a
    * peak at lag 24) that seasonal jobs like [[seasonalProfile]] assume
    * and this operator verifies. Pearson r at each lag over the pairs
    * (count(h), count(h+lag)) that BOTH exist — no gap imputation, so
    * the estimate is the standard jagged-series ACF.
    *
    * Exactness: the five moment sums (Σx, Σy, Σxy, Σx², Σy², n) are
    * all BIGINT — integer arithmetic end to end; the final r is two
    * correctly-rounded sqrts and one division, bit-identical across
    * engines, NULL when a side is constant (zero variance). Scale:
    * one fact pass to hourly counts; the lag fanout multiplies an
    * hours-sized frame by 24, never the fact table.
    */
  def acfHourly(s: SparkSession, d: String, maxLag: Int = 24): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy((floor(col("ts").cast("double") / 3600))
        .cast("long").as("h"))
      .agg(count(lit(1)).as("c"))
    val lags = s.range(1, maxLag + 1).select(col("id").as("lag"))
    val pairs = hourly.select(col("h"), col("c").as("x"))
      .crossJoin(broadcast(lags))
      .join(hourly.select(col("h").as("h2"), col("c").as("y")),
        col("h") + col("lag") === col("h2"))
    val m = pairs.groupBy("lag").agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    m.select(col("lag"), col("n_pairs"),
        (when(
          (col("n_pairs") * col("sxx") - col("sx") * col("sx")) > 0 &&
          (col("n_pairs") * col("syy") - col("sy") * col("sy")) > 0,
          (col("n_pairs") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
                .cast("double"))
              * sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy"))
                .cast("double")))))
          .as("acf"))
      .orderBy("lag")
  }

  /** Two-arm A/B experiment readout: per event type, a Welch z-test on
    * the mean event `value` between deterministic assignment arms
    * (arm = user_id mod 2 here; production swaps in a salted hash —
    * the statistics are assignment-agnostic). The classic
    * experimentation-analytics primitive: mean_A, mean_B, and
    * z = (m_A − m_B) / √(s²_A/n_A + s²_B/n_B), flagged significant at
    * |z| > 1.96 (two-sided 5%, normal approximation — valid at the
    * n ≫ 30 scales this targets).
    *
    * Exactness contract: `value` is quantized to DECIMAL(18,2) (the
    * [[movingStats]] discipline), so per-arm Σv and Σv² are EXACT
    * decimals — associative, engine- and partitioning-invariant. The
    * handful of double ops that follow (means, variances, z) are
    * correctly-rounded IEEE ops applied in the same expression shape
    * as the oracle, so even the z-score is bit-identical.
    *
    * Scale shape: ONE map-side-combined shuffle on (event_type, arm)
    * reduces the fact table to |types|·2 rows; everything after is
    * driver-trivial. No distinct, no window, no second fact pass.
    */
  def abTestZ(s: SparkSession, d: String): DataFrame = {
    val q = col("value").cast("decimal(18,2)")
    val g = Tables.events(s, d)
      .select(col("event_type"), pmod(col("user_id"), lit(2)).as("arm"),
        q.as("q"))
      .groupBy("event_type", "arm")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sv"),
        sum(col("q") * col("q")).as("svv"))
    def side(a: Int, c: String) = max(when(col("arm") === a, col(c)))
    val wide = g.groupBy("event_type").agg(
      side(0, "n").as("n_a"), side(0, "sv").as("sv_a"),
      side(0, "svv").as("svv_a"),
      side(1, "n").as("n_b"), side(1, "sv").as("sv_b"),
      side(1, "svv").as("svv_b"))
    def mean(sv: String, n: String) =
      col(sv).cast("double") / col(n).cast("double")
    def variance(svv: String, sv: String, n: String) = {
      val sd = col(sv).cast("double")
      (col(svv).cast("double") - sd * sd / col(n).cast("double")) /
        (col(n) - lit(1)).cast("double")
    }
    val z = (mean("sv_a", "n_a") - mean("sv_b", "n_b")) /
      sqrt(variance("svv_a", "sv_a", "n_a") / col("n_a").cast("double") +
        variance("svv_b", "sv_b", "n_b") / col("n_b").cast("double"))
    wide.select(col("event_type"), col("n_a"),
        mean("sv_a", "n_a").as("mean_a"), col("n_b"),
        mean("sv_b", "n_b").as("mean_b"), z.as("z"),
        (abs(z) > 1.96).as("significant"))
      .orderBy("event_type")
  }

  /** Experiment sensitivity readout: per event type, the minimum
    * detectable effect of the [[abTestZ]] design at 5% two-sided
    * significance and 80% power — MDE = (z_{α/2} + z_β)·√(s²_p·(1/n_a
    * + 1/n_b)) with the pooled variance s²_p = ((n_a−1)s²_a +
    * (n_b−1)s²_b)/(n_a+n_b−2) and the universal constants 1.96 and
    * 0.8416 hardcoded (no data-dependent quantile inversion).
    * Completes the experimentation suite: [[abSrmCheck]] validates the
    * assignment, [[abTestZ]] reads the effect, [[abCuped]] shrinks the
    * variance, and this op says what effect size the traffic can even
    * see — the go/no-go number experiment sizing runs on (Kohavi,
    * Tang & Xu 2020, ch. 17).
    *
    * Exactness: the [[abTestZ]] discipline verbatim — DECIMAL(18,2)-
    * quantized Σv/Σv² are exact, and MDE/mean are one double
    * expression chain each over those scalars, identical shape to the
    * oracle. Scale shape: ONE map-side-combined (type, arm) shuffle,
    * then |types|-row algebra.
    */
  def abPowerMde(s: SparkSession, d: String): DataFrame = {
    val q = col("value").cast("decimal(18,2)")
    val g = Tables.events(s, d)
      .select(col("event_type"), pmod(col("user_id"), lit(2)).as("arm"),
        q.as("q"))
      .groupBy("event_type", "arm")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sv"),
        sum(col("q") * col("q")).as("svv"))
    def side(a: Int, c: String) = max(when(col("arm") === a, col(c)))
    val wide = g.groupBy("event_type").agg(
      side(0, "n").as("n_a"), side(0, "sv").as("sv_a"),
      side(0, "svv").as("svv_a"),
      side(1, "n").as("n_b"), side(1, "sv").as("sv_b"),
      side(1, "svv").as("svv_b"))
    def ss(svv: String, sv: String, n: String) =
      col(svv).cast("double") -
        col(sv).cast("double") * col(sv).cast("double") /
          col(n).cast("double")
    val pooledVar = (ss("svv_a", "sv_a", "n_a") + ss("svv_b", "sv_b", "n_b")) /
      (col("n_a") + col("n_b") - lit(2)).cast("double")
    val mde = lit(2.8016) *
      sqrt(pooledVar * (lit(1.0) / col("n_a").cast("double")
        + lit(1.0) / col("n_b").cast("double")))
    val grandMean = (col("sv_a") + col("sv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    wide.select(col("event_type"), col("n_a"), col("n_b"),
        pooledVar.as("pooled_var"), mde.as("mde_abs"),
        (mde / grandMean).as("mde_rel"))
      .orderBy("event_type")
  }

  /** Sample-ratio-mismatch (SRM) guardrail for the A/B readout: per
    * event type, the count of DISTINCT users landing in each arm and
    * the one-degree-of-freedom chi-square against the designed 50/50
    * split — `(n_a − n_b)² / (n_a + n_b)`, flagged at the 5% critical
    * value 3.841. SRM is the standard pre-test validity check run
    * before any experiment readout is trusted (Fabijan et al., KDD'19
    * "Diagnosing Sample Ratio Mismatch"): a triggered flag means the
    * assignment itself is broken, not the metric.
    *
    * Exactness: everything up to the chi-square is exact integer
    * counting; the chi-square is three IEEE double ops on exact
    * integers, identical expression shape to the oracle — bit-exact.
    *
    * Scale shape: one map-side-partial DISTINCT shuffle on
    * (event_type, user_id) reduces the fact table to the distinct
    * frame, then a |types|-row aggregate. No joins, no windows, no
    * second fact pass.
    */
  def abSrmCheck(s: SparkSession, d: String): DataFrame = {
    val u = Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), pmod(col("user_id"), lit(2)).as("arm"))
    val w = u.groupBy("event_type").agg(
      count(when(col("arm") === 0, lit(1))).as("users_a"),
      count(when(col("arm") === 1, lit(1))).as("users_b"))
    val diff = (col("users_a") - col("users_b")).cast("double")
    val chi = diff * diff / (col("users_a") + col("users_b")).cast("double")
    w.select(col("event_type"), col("users_a"), col("users_b"),
        chi.as("chi_sq"), (chi > 3.841).as("srm"))
      .orderBy("event_type")
  }

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM'13
    * "Improving the Sensitivity of Online Controlled Experiments by
    * Utilizing Pre-Experiment Data"). The observation window is split
    * at its midpoint (computed from the data — no fixture dates): the
    * first half is the pre-experiment covariate period, the second the
    * experiment. Per user, X = pre-period value total and Y =
    * experiment total; θ = cov(X,Y)/var(X) pooled over all users; the
    * adjusted metric is Y − θ·(X − mean(X)). Output per arm
    * (user_id mod 2, as [[abTestZ]]): user count, raw mean, CUPED
    * mean, and θ. The adjusted means estimate the same treatment
    * effect with variance shrunk by the X↔Y correlation.
    *
    * Exactness: X and Y are DECIMAL(18,2) totals (exact), so n, ΣX,
    * ΣY, ΣXY, ΣX² are exact decimals; θ and mean(X) are single double
    * expressions over those scalars (same shape as the oracle); each
    * user's adjusted Y is a few IEEE ops then quantized onto
    * DECIMAL(20,8) so the per-arm sum is associative — bit-exact end
    * to end.
    *
    * Scale shape: one fact shuffle to user grain; the scalar stats
    * row and the midpoint are single-row broadcasts joined back; the
    * final aggregate is two rows. No re-scan of the fact table — the
    * user-grain frame feeds both the stats pass and the readout.
    */
  def abCuped(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("us"),
      col("value").cast("decimal(18,2)").as("q"))
    val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    // materialized ONCE (eager localCheckpoint): both the stats pass
    // and the per-arm readout consume this user-grain frame — without
    // it each branch would re-scan and re-shuffle the fact table
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(col("us") < col("mid"), col("q"))), lit(0))
          .cast("decimal(18,2)").as("x"),
        coalesce(sum(when(col("us") >= col("mid"), col("q"))), lit(0))
          .cast("decimal(18,2)").as("y"))
      .localCheckpoint()
    val st = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    def dbl(c: String) = col(c).cast("double")
    val theta = (dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")) /
      (dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))
    val stats = st.select(theta.as("theta"), (dbl("sx") / dbl("n")).as("mean_x"))
    val adj = perUser.crossJoin(broadcast(stats))
      .select(pmod(col("user_id"), lit(2)).as("arm"), col("y"), col("theta"),
        (col("y").cast("double") - col("theta")
          * (col("x").cast("double") - col("mean_x")))
          .cast("decimal(20,8)").as("y_adj"))
    adj.groupBy("arm").agg(
        count(lit(1)).as("n_users"),
        (sum(col("y")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_y"),
        (sum(col("y_adj")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_y_cuped"),
        max(col("theta")).as("theta"))
      .orderBy("arm")
  }

  /** Right-censored survival analysis of time-to-first BIG-TICKET
    * purchase (value > 180 — a conversion definition rare enough that
    * a majority of users are genuinely censored): the Nelson–Aalen
    * cumulative-hazard estimator (Nelson 1972, Aalen 1978) —
    * Ĥ(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ over event days tᵢ, with dᵢ the users
    * whose first qualifying purchase lands dᵢ days after their first
    * event and nᵢ the at-risk count (users whose event OR censoring
    * time is ≥ tᵢ; users who never convert are censored at the global
    * observation end). Chosen over Kaplan–Meier deliberately: KM's
    * survival curve is a sequential PRODUCT (only expressible
    * cross-engine through ln/exp, which is 1-ulp unstable between
    * StrictMath and glibc), while the N–A hazard is a cumulative SUM —
    * quantized per-day onto DECIMAL(20,10) it is associative and
    * bit-exact. S(t) ≈ exp(−Ĥ(t)) when a curve is needed downstream.
    *
    * Scale shape: one fact shuffle to user grain (min / conditional
    * min / broadcast observation end), then everything lives at DAY
    * grain — the two unpartitioned windows (reverse-cumulative risk
    * set, running hazard) run over ≤ observation-window-days rows
    * regardless of fact size.
    */
  def survivalHazard(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
    val end = ev.agg(max("us").as("tend"))
    val pu = ev.crossJoin(broadcast(end))
      .groupBy("user_id")
      .agg(min(col("us")).as("t0"),
        min(when(col("event_type") === "purchase" && col("value") > 180,
          col("us"))).as("tp"),
        max(col("tend")).as("tend"))
      .select(
        when(col("tp").isNotNull, expr("(tp - t0) div 86400000000"))
          .otherwise(expr("(tend - t0) div 86400000000")).as("day"),
        col("tp").isNotNull.as("observed"))
    val byDay = pu.groupBy("day").agg(
      count(lit(1)).as("exits"),
      count(when(col("observed"), lit(1))).as("events"))
    val risk = byDay.withColumn("n_risk",
      sum(col("exits")).over(Window.orderBy(col("day").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val haz = risk.filter(col("events") > 0)
      .withColumn("hazard",
        col("events").cast("double") / col("n_risk").cast("double"))
    haz.select(col("day"), col("n_risk"), col("events"), col("hazard"),
        sum(col("hazard").cast("decimal(20,10)"))
          .over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("cum_hazard"))
      .orderBy("day")
  }

  /** Robust per-type trend of daily value totals: the Theil–Sen
    * estimator (Theil 1950, Sen 1968) — slope = the LOWER MEDIAN of
    * all pairwise slopes (y_j − y_i)/(d_j − d_i), intercept = the
    * lower median of y_i − slope·d_i. Unlike the OLS trend
    * (`r_forecast_revenue`), Theil–Sen has a 29% breakdown point: one
    * corrupted day cannot move it, which is the property a pipeline
    * health monitor needs.
    *
    * Exactness: daily totals are DECIMAL(18,2) (exact → exact doubles
    * ≤ 15 significant digits); each pairwise slope is one subtraction
    * + one division of exact inputs (deterministic IEEE); the medians
    * are RANK selections under the fully deterministic order
    * (slope, d_i, d_j) — no float accumulation anywhere, so both the
    * values and the selection are engine-exact.
    *
    * Scale shape: one fact shuffle to (type, day) grain, then the
    * pair frame is |days|²/2 per type — DAY-grain quadratic, never
    * fact-sized (a year is ~66k pairs/type). The rank windows
    * partition by type. At multi-year horizons the documented
    * alternative is Theil–Sen over a bounded day sample or per-window
    * slopes merged by median-of-medians.
    */
  def theilSenTrend(s: SparkSession, d: String): DataFrame = {
    val dd = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("dref"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("xd"))
    val m = dd.agg(min("dref").as("d0"))
    // day-grain frame, materialized once: pair join (both sides) and
    // the intercept residuals all consume it
    val x = dd.crossJoin(broadcast(m))
      .select(col("event_type"), (col("dref") - col("d0")).as("day"),
        col("xd").cast("decimal(18,2)").cast("double").as("y"))
      .localCheckpoint()
    val pairs = x.as("a").join(x.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        col("a.day").as("di"), col("b.day").as("dj"),
        ((col("b.y") - col("a.y")) /
          (col("b.day") - col("a.day")).cast("double")).as("slope"))
    val wS = Window.partitionBy("event_type")
      .orderBy(col("slope"), col("di"), col("dj"))
    val slope = pairs
      .withColumn("rn", row_number().over(wS))
      .withColumn("n_pairs",
        count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("event_type"), col("n_pairs"), col("slope"))
    val resid = x.join(slope, Seq("event_type"))
      .select(col("event_type"), col("n_pairs"), col("slope"),
        col("day"), (col("y") - col("slope") * col("day").cast("double"))
          .as("r"))
    val wI = Window.partitionBy("event_type").orderBy(col("r"), col("day"))
    resid.withColumn("rn", row_number().over(wI))
      .withColumn("n_days",
        count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rn") === expr("(n_days + 1) div 2"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("slope"), col("r").as("intercept"))
      .orderBy("event_type")
  }

  /** Exponentially-weighted daily value smoothing per event type
    * (Brown 1956 simple exponential smoothing, α = 1/2, S₀ = 0):
    * S_t = α·x_t + (1−α)·S_{t−1}. The recurrence is SEQUENTIAL, which
    * no engine reproduces bit-stably via fold order — so it is
    * re-expressed exactly as the geometric weighted sum
    * S_t = Σ_{i≤t} 2^−(t−i+1) · x_i, and the weights are RENORMALIZED
    * to integers: S_t = (Σ x_i · 2^(H−1−(t−i))) / 2^H with horizon
    * H = 40. Every term is then a DECIMAL(18,2) × power-of-two-BIGINT
    * product — EXACT decimal arithmetic, associative under any
    * partitioning — and the single final division by 2⁴⁰ is a pure
    * exponent shift on the correctly-rounded double of an exact sum:
    * bit-identical in any engine, with NO per-term float rounding at
    * all (a per-term double-quantize design was measurably 1-ulp
    * engine-divergent on half-way values; this one cannot diverge).
    * Terms older than H days are dropped in BOTH engines (identical
    * join predicate): their weight is < 2⁻⁴⁰ ≈ 10⁻¹² of the newest
    * day's.
    *
    * Scale shape: one fact shuffle to (type, day) grain; the
    * horizon-capped pair join is |days|·min(|days|, 40) per type —
    * day-grain work regardless of fact size. For multi-year horizons
    * the chunked carry discipline ([[cusumChangepointPartitioned]])
    * is the linear alternative; here the windowed closed form is the
    * simpler exact shape.
    */
  /** Expanding-window OLS backtest of daily purchase revenue — the
    * eval twin of a point forecast: for every day t with ≥ 2 prior
    * days, fit ordinary least squares on ALL days before t and emit
    * (actual, predicted, residual). The walk-forward residual curve is
    * how a forecast earns trust (a model judged only on its full-sample
    * fit is judged on data it already saw); a drifting residual flags
    * the regime change before the dashboard does.
    *
    * Exactness: revenue is integer micros (`floor(value·1e6)`, the
    * [[giniUserValue]] quantization); all five expanding moments (n,
    * Σx, Σy, Σxy, Σx²) are DECIMAL(38,0) window sums over the
    * DAYS-sized frame (associative — segment-tree vs sequential
    * agree; decimal rather than BIGINT because the DuckDB oracle's
    * sum() is HUGEINT-exact and a 64-bit Spark side would silently
    * wrap at ~10-100× the fixture's magnitudes); the normal-equation
    * numerator/denominator stay exact integers and exactly ONE
    * division chain in doubles (written with the identical expression
    * shape in the oracle) produces the prediction.
    *
    * Scale: one fact pass to (day, revenue); everything after runs on
    * the calendar-bounded day frame.
    */
  def forecastBacktest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("y"))
    val prior = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // Moments in DECIMAL(38,0), not LONG: the DuckDB oracle's sum()
    // promotes to HUGEINT (int128), so a 64-bit Spark side would
    // silently WRAP at ~10-100× the gate fixture's day-index × daily-
    // revenue-micros magnitudes while the oracle stays exact — the
    // decimal path keeps both engines on the same exact integers up to
    // 38 digits (headroom ~1e14× over the worst-case product here).
    // The per-term product widens each factor first (day × y can
    // itself exceed LONG at large SF); day² fits LONG trivially.
    val m = daily
      .withColumn("n", count(lit(1)).over(prior))
      .withColumn("sx", sum(col("day").cast("decimal(38,0)")).over(prior))
      .withColumn("sy", sum(col("y").cast("decimal(38,0)")).over(prior))
      .withColumn("sxy", sum((col("day").cast("decimal(19,0)")
        * col("y").cast("decimal(19,0)")).cast("decimal(38,0)"))
        .over(prior))
      .withColumn("sxx", sum((col("day") * col("day"))
        .cast("decimal(38,0)")).over(prior))
      .filter(col("n") >= 2)
    val nD = col("n").cast("decimal(38,0)")
    val num = (nD * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val den = (nD * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val beta = num / den
    val alpha = (col("sy").cast("double")
      - beta * col("sx").cast("double")) / col("n").cast("double")
    val pred = alpha + beta * col("day").cast("double")
    m.select(col("day"), col("n").as("n_prior"),
        (col("y").cast("double") / 1e6).as("actual"),
        (pred / 1e6).as("predicted"),
        (col("y").cast("double") / 1e6 - pred / 1e6).as("residual"))
      .orderBy("day")
  }

  def ewmaDaily(s: SparkSession, d: String): DataFrame = {
    val dd = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("dref"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("xd"))
    val m = dd.agg(min("dref").as("d0"))
    // day-grain frame, materialized once: it is BOTH sides of the
    // pair join (and tiny — one row per (type, day))
    val x = dd.crossJoin(broadcast(m))
      .select(col("event_type"), (col("dref") - col("d0")).as("day"),
        col("xd").cast("decimal(18,2)").as("xq"))
      .localCheckpoint()
    val pairs = x.as("a").join(x.as("b"),
      col("a.event_type") === col("b.event_type") &&
        col("b.day") <= col("a.day") &&
        col("a.day") - col("b.day") < lit(40L))
    val terms = pairs.select(
        col("a.event_type").as("event_type"), col("a.day").as("day"),
        col("a.xq").as("xq"), col("b.xq").as("xb"),
        (col("a.day") - col("b.day")).cast("int").as("dk"))
      .select(col("event_type"), col("day"), col("xq"),
        (col("xb") *
          expr("cast(shiftleft(cast(1 as bigint), 39 - dk)" +
            " as decimal(12,0))")).as("term"))
    terms.groupBy("event_type", "day", "xq")
      .agg(sum(col("term")).as("ew"))
      .select(col("event_type"), col("day"),
        col("xq").cast("double").as("x_day"),
        (col("ew").cast("double") / lit(1099511627776.0)).as("ewma"))
      .orderBy("event_type", "day")
  }

  /** Top in-session event-type paths (the behavioral n-gram census):
    * the most frequent runs of three CONSECUTIVE events inside one
    * session ([[sessionize]]'s 30-minute-gap rule), with occurrence and
    * distinct-user counts — "what do people actually do in sequence?",
    * the path-analysis readout funnel design and next-action models
    * both start from, and [[markovTransitions]]' higher-order sibling
    * (a first-order chain cannot see that view>click>purchase and
    * click>view>purchase differ).
    *
    * Exactness: the per-user order is the total (ts, event_id) —
    * [[sessionize]]'s own tiebreak — so both engines see identical
    * neighbor pairs; the in-session test is the second-truncated
    * 30-minute gap, also verbatim from [[sessionize]]; counts are
    * integers and the top-k order (count desc, path) is total. Scale:
    * ONE window pass partitioned by user_id — per-user-bounded groups,
    * exactly where the plain hash-partitioned window is the right plan
    * (the [[Ranks]] boundary) — then a paths-domain aggregate
    * (≤ |types|³ groups) and a bounded top-k. Nothing data-sized in
    * one task.
    */
  def pathTopK(s: SparkSession, d: String, k: Int = 25): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"), unix_timestamp(col("ts")).as("sec"))
      .withColumn("t1", lag("event_type", 2).over(w))
      .withColumn("t2", lag("event_type", 1).over(w))
      .withColumn("s1", lag("sec", 2).over(w))
      .withColumn("s2", lag("sec", 1).over(w))
      .filter(col("t1").isNotNull &&
        col("s2") - col("s1") < 1800 && col("sec") - col("s2") < 1800)
    e.select(concat_ws(">", col("t1"), col("t2"), col("event_type"))
          .as("path"),
        col("user_id"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_occurrences").desc, col("path"))
      .limit(k)
  }

  /** Lorenz curve of purchase revenue over user deciles — the curve
    * [[giniUserValue]] integrates and the concentration readout next to
    * [[paretoCover]]'s "how many users cover X%": per revenue-ranked
    * user decile (poorest first), the user count, the decile's revenue,
    * and the CUMULATIVE revenue share. The bottom deciles flatlining at
    * ~0 while the top holds ~everything is the whale-economy shape
    * monetization planning starts from.
    *
    * Exactness: revenue is the DECIMAL(18,2) money discipline; the
    * decile is exact integer NTILE math ([[Ranks.ntileOfRank]]) over a
    * total (rev, user_id) rank; the cumulative sum is decimal over ten
    * rows; ONE double division per output row at the surface. Scale:
    * the per-user rollup is a fact aggregate; the rank is
    * [[Ranks.globalRank]] — the user frame is itself data-sized at
    * 100 TB (billions of purchasers), so a plain global NTILE window
    * would plan the "one task sorts every user" shape; the only window
    * here runs over the 10-row decile frame (bounded domain, lint-
    * whitelisted like [[psiValueDrift]]'s deciles).
    */
  def lorenzDeciles(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      .localCheckpoint()
    val ranked = Ranks.globalRank(rev,
        Seq(col("rev").asc, col("user_id").asc), "rank")
      .crossJoin(broadcast(rev.agg(count(lit(1)).as("n"))))
      .withColumn("decile", Ranks.ntileOfRank("rank", "n", 10))
    val dec = ranked.groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("rev")).as("drev"))
    dec.crossJoin(broadcast(rev.agg(sum(col("rev")).as("total"))))
      .withColumn("cum",
        sum(col("drev")).over(Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("decile"), col("n_users"),
        col("drev").cast("double").as("decile_value"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("cum_share"))
      .orderBy("decile")
  }
}
