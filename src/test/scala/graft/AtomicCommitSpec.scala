package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamPipeline, TableSink}
import graft.streaming.StreamPipeline.Rollup

/** The foreachBatch exactly-once contract on plain parquet: table content
  * and batch ledger commit as ONE atomic swap ([[TableSink.commit]] — the
  * `_graft_batch` marker travels INSIDE the swapped directory), so no
  * crash point can double-merge a batch. Round-6 verdict item #3: the
  * old record-after-overwrite pattern had a window between the table
  * overwrite and the ledger write where a replay re-merged the batch.
  */
class AtomicCommitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def tmpDir(): String =
    Files.createTempDirectory("atomic_commit").toString

  private def eventsBatch(n: Int) = {
    import spark.implicits._
    (1 to n).map(i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 3}%02d:0${i % 6}:00"),
        s"type_${i % 2}", i.toDouble, i.toLong))
      .toDF("ts", "event_type", "value", "user_id")
  }

  test("commit + alreadyApplied round trip: marker rides inside the " +
      "directory (invisible to the parquet scan), stage is consumed, " +
      "replay gate answers per batch id") {
    val path = tmpDir() + "/t"
    import spark.implicits._
    TableSink.commit(spark, path, 0, Seq((1L, "a")).toDF("k", "v"))
    assert(TableSink.alreadyApplied(spark, path, 0))
    assert(!TableSink.alreadyApplied(spark, path, 1))
    assert(spark.read.parquet(path).collect().map(_.getLong(0)).toSeq
      == Seq(1L))
    assert(!new java.io.File(path + "__stage").exists(),
      "stage directory must be consumed by the swap")
    assert(new java.io.File(path, "_graft_batch").exists(),
      "the ledger marker must live inside the table directory")
    TableSink.commit(spark, path, 1, Seq((2L, "b")).toDF("k", "v"))
    assert(TableSink.alreadyApplied(spark, path, 1))
    assert(spark.read.parquet(path).collect().map(_.getLong(0)).toSeq
      == Seq(2L))
  }

  test("versioned reads (time travel): an as-of read reproduces the " +
      "exact pre-batch table, a replayed batch leaves history " +
      "unchanged, vacuum respects the retention bound while current " +
      "reads stay intact, and a vacuumed version throws with the " +
      "available ids") {
    val path = tmpDir() + "/t"
    import spark.implicits._
    def table(vals: Long*) = vals.map(v => (v, s"r$v")).toDF("k", "v")
    def kset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    // keepVersions = 2: after four commits versions {1, 2} survive
    (0L to 3L).foreach(b =>
      TableSink.commit(spark, path, b, table(0L to b: _*)))
    // as-of reads reproduce each retained pre-batch table exactly
    assert(kset(TableSink.readTableAsOf(spark, path, 2)) === Set(0L, 1L, 2L))
    assert(kset(TableSink.readTableAsOf(spark, path, 1)) === Set(0L, 1L))
    // the live table is also addressable by its own id
    assert(kset(TableSink.readTableAsOf(spark, path, 3))
      === Set(0L, 1L, 2L, 3L))
    assert(TableSink.listVersions(spark, path) === Seq(1L, 2L, 3L))
    // version 0 fell past the retention horizon during commit-time GC
    val ex = intercept[IllegalArgumentException](
      TableSink.readTableAsOf(spark, path, 0))
    assert(ex.getMessage.contains("available"))
    // a REPLAYED batch must leave history unchanged: the sink's gate
    // (alreadyApplied) skips the commit, so no version is archived
    // twice and the live read is untouched
    assert(TableSink.alreadyApplied(spark, path, 3))
    assert(TableSink.listVersions(spark, path) === Seq(1L, 2L, 3L))
    assert(kset(spark.read.parquet(path)) === Set(0L, 1L, 2L, 3L))
    // explicit vacuum tightens the horizon; current reads stay intact
    TableSink.vacuumVersions(spark, path, keepLast = 1)
    assert(TableSink.listVersions(spark, path) === Seq(2L, 3L))
    assert(kset(TableSink.readTableAsOf(spark, path, 2)) === Set(0L, 1L, 2L))
    assert(kset(spark.read.parquet(path)) === Set(0L, 1L, 2L, 3L))
    // the as-of frame is a real table: schema and row content match the
    // committed frame bit-for-bit, not just the key set
    val v2 = TableSink.readTableAsOf(spark, path, 2)
    assert(v2.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(v2.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((0L, "r0"), (1L, "r1"), (2L, "r2")))
  }

  test("crash mid-swap (live dir renamed aside, staged commit pending): " +
      "recovery promotes the complete stage, the batch reads as applied, " +
      "and a replay is a no-op — the formerly-open double-merge window") {
    val path = tmpDir() + "/hourly"
    val b = eventsBatch(12)
    StreamPipeline.applyRollupBatch(b, path, 0, Rollup.hourlyAgg)
    StreamPipeline.applyRollupBatch(b, path, 1, Rollup.hourlyAgg)
    val committed = spark.read.parquet(path)
      .agg(sum("n_events")).collect()(0).getLong(0)
    // reproduce the exact crash state between the aside-rename and the
    // promote-rename: stage complete (marker present), live dir absent
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__stage")))
    // recovery is lazy — the next ledger probe finishes the swap
    assert(TableSink.alreadyApplied(spark, path, 1),
      "a complete stage must recover as the committed table")
    assert(spark.read.parquet(path)
      .agg(sum("n_events")).collect()(0).getLong(0) == committed)
    // the replay the checkpoint would drive after the crash: no-op
    StreamPipeline.applyRollupBatch(b, path, 1, Rollup.hourlyAgg)
    assert(spark.read.parquet(path)
      .agg(sum("n_events")).collect()(0).getLong(0) == committed,
      "replay after recovery double-merged the batch")
  }

  test("crash in the ARCHIVE window (previous live already renamed into " +
      "the versions dir, staged commit pending): recovery promotes the " +
      "stage, the archived version serves as-of reads, a replay is a " +
      "no-op, and no version is archived twice") {
    val path = tmpDir() + "/t"
    import spark.implicits._
    def table(vals: Long*) = vals.map(v => (v, s"r$v")).toDF("k", "v")
    TableSink.commit(spark, path, 0, table(0L))
    TableSink.commit(spark, path, 1, table(0L, 1L))
    // reproduce batch 2's crash state between the archive-rename and
    // the promote-rename: v1 archived, stage complete, live absent
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    table(0L, 1L, 2L).write.parquet(path + "__stage_crash")
    // build the stage the way commit does (data + marker last)
    assert(f.rename(new org.apache.hadoop.fs.Path(path + "__stage_crash"),
      new org.apache.hadoop.fs.Path(path + "__stage")))
    val mk = f.create(new org.apache.hadoop.fs.Path(
      path + "__stage/_graft_batch"), true)
    mk.write("2".getBytes); mk.close()
    assert(f.mkdirs(new org.apache.hadoop.fs.Path(path + "__versions")))
    assert(f.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__versions/v1")))
    // recovery is lazy — any ledger/read probe finishes the swap
    assert(TableSink.alreadyApplied(spark, path, 2),
      "a complete stage must recover as the committed table")
    // v0 was archived by commit 1 (inside keepVersions), v1 by the
    // simulated crash — recovery itself never vacuums
    assert(TableSink.listVersions(spark, path) === Seq(0L, 1L, 2L))
    assert(TableSink.readTableAsOf(spark, path, 1).count() === 2L)
    assert(spark.read.parquet(path).count() === 3L)
    // the replay the checkpoint would drive is gated by alreadyApplied
    // (commit's caller contract) — the recovered marker answers it, so
    // the batch never re-runs and no version is archived twice
    assert(TableSink.alreadyApplied(spark, path, 2))
    assert(TableSink.listVersions(spark, path) === Seq(0L, 1L, 2L) &&
      spark.read.parquet(path).count() === 3L,
      "recovery must leave exactly the committed history")
  }

  test("an INCOMPLETE stage (no marker — crash during the staged write) " +
      "is never promoted: the live table and its ledger stay the truth " +
      "and the batch re-applies in full") {
    val path = tmpDir() + "/hourly"
    val b = eventsBatch(12)
    StreamPipeline.applyRollupBatch(b, path, 0, Rollup.hourlyAgg)
    val committed = spark.read.parquet(path)
      .agg(sum("n_events")).collect()(0).getLong(0)
    // crash during batch 1's stage write: stage exists, no marker yet
    import spark.implicits._
    Seq((999L, 999L)).toDF("x", "y").write.parquet(path + "__stage")
    assert(!TableSink.alreadyApplied(spark, path, 1))
    StreamPipeline.applyRollupBatch(b, path, 1, Rollup.hourlyAgg)
    assert(TableSink.alreadyApplied(spark, path, 1))
    assert(spark.read.parquet(path)
      .agg(sum("n_events")).collect()(0).getLong(0) == 2 * committed,
      "batch 1 must merge exactly once over the batch-0 table")
    assert(spark.read.parquet(path).columns.toSet
      == Set("hour", "event_type", "n_events", "sum_dec", "min_value",
        "max_value"), "the abandoned stage must not leak into the table")
  }

  test("replay idempotence across all three atomic sinks: same batchId " +
      "twice changes nothing; a new batchId merges exactly once") {
    import spark.implicits._
    val base = tmpDir()
    // every ledger-guarded table: the six rollups, the grain ladder's
    // minute table, the funnel state and (below) the keyed upsert. One
    // frame carries all their input columns; the second batch brings new
    // hours, users, values and terms, so every table must move.
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def batch(from: Int) = (from until from + 18).map(i =>
      (new java.sql.Timestamp(t0 + i * 7 * 60000L),
        Seq("view", "click", "purchase")(i % 3), i + 0.25,
        (i / 3 % 4 + from).toLong, s"lang_${i % 2}", s"alpha beta word$i"))
      .toDF("ts", "event_type", "value", "user_id", "lang", "text")
    // the stored table as sorted rows, sketch columns as hex
    def snapshot(path: String): Seq[String] = {
      val t = spark.read.parquet(path)
      t.select(t.schema.fields.toSeq.map(f =>
          if (f.dataType == org.apache.spark.sql.types.BinaryType)
            hex(col(f.name))
          else col(f.name).cast("string")): _*)
        .collect().map(_.mkString("|")).toSeq.sorted
    }
    def replayCheck(path: String)(
        apply: (org.apache.spark.sql.DataFrame, Long) => Any): Unit = {
      apply(batch(0), 0L)
      val v0 = snapshot(path)
      apply(batch(0), 0L)
      assert(snapshot(path) === v0, s"$path: a replayed batchId moved it")
      apply(batch(100), 1L)
      assert(snapshot(path) !== v0, s"$path: the next batchId did not")
    }
    Seq("agg" -> Rollup.hourlyAgg, "hll_hour" -> Rollup.hourlyHll,
      "hll_day" -> Rollup.dailyHll, "kll" -> Rollup.hourlyKll,
      "theta" -> Rollup.segmentTheta, "cms" -> Rollup.langCms).foreach {
      case (name, r) => replayCheck(s"$base/$name")(
        StreamPipeline.applyRollupBatch(_, s"$base/$name", _, r))
    }
    replayCheck(s"$base/grain/minute")(
      StreamPipeline.applyGrainRollupBatch(_, s"$base/grain", _))
    replayCheck(s"$base/funnel")(
      StreamPipeline.applyFunnelBatch(_, s"$base/funnel", _))
    // exactly once: each event counted once across the two batch ids
    Seq("agg", "grain/minute").foreach(t =>
      assert(spark.read.parquet(s"$base/$t").agg(sum("n_events"))
        .collect()(0).getLong(0) == 36L, t))
    assert(spark.read.parquet(s"$base/kll")
      .agg(sum(expr("kll_sketch_get_n_double(sk)"))).collect()(0)
      .getLong(0) == 36L)
    // the keyed upsert has no per-batch entry point: replay it the way
    // the engine does, by restarting its query after dropping the last
    // commit-log entry (the offset log keeps the batch's files)
    val up = s"$base/upsert"
    val in = new java.io.File(s"$base/upsert_in")
    val ckpt = s"$base/upsert_ckpt"
    in.mkdirs()
    def put(name: String, rows: (Long, Long, String)*): Unit =
      Files.write(new java.io.File(in, name).toPath, rows.map {
        case (k, v, p) => s"""{"k":$k,"ver":$v,"payload":"$p"}"""
      }.mkString("\n").getBytes("UTF-8"))
    def drain(): Unit = {
      val q = StreamPipeline.startMergeSink(
        spark.readStream.schema("k LONG, ver LONG, payload STRING")
          .json(in.toString), up, ckpt, keys = Seq("k"), orderCol = "ver")
      try q.processAllAvailable() finally q.stop()
    }
    put("0.json", (1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "c"))
    drain()
    val u0 = snapshot(up)
    val commit0 = new java.io.File(s"$ckpt/commits/0")
    assert(commit0.delete())
    new java.io.File(s"$ckpt/commits/.0.crc").delete()
    drain()
    assert(commit0.exists(), "the restarted query must re-run batch 0")
    assert(snapshot(up) === u0, "a replayed batchId moved the upsert table")
    assert(TableSink.listVersions(spark, up) === Seq(0L))
    put("1.json", (2L, 5L, "d"), (3L, 1L, "e"))
    drain()
    assert(snapshot(up) !== u0)
    assert(TableSink.listVersions(spark, up) === Seq(0L, 1L))
  }

  test("KLL quantile sketch sink: uneven batch slicing converges in the " +
      "RANK domain (every raw value enters exactly one batch sketch; " +
      "merge guarantees are rank guarantees, not bit equality), and a " +
      "replayed batch leaves the stored sketches byte-identical") {
    val base = tmpDir() + "/kll"
    val all = eventsBatch(60)
    // three uneven slices — the stream's arbitrary batch boundaries
    val slices = Seq(all.limit(7),
      all.exceptAll(all.limit(7)).limit(38),
      all.exceptAll(all.limit(7)).exceptAll(
        all.exceptAll(all.limit(7)).limit(38)))
    slices.zipWithIndex.foreach { case (b, i) =>
      StreamPipeline.applyRollupBatch(b, base, i.toLong, Rollup.hourlyKll)
    }
    val est = spark.read.parquet(base)
      .selectExpr("h", "kll_sketch_get_quantile_double(sk, 0.5) AS p50",
        "kll_sketch_get_n_double(sk) AS n")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    // exact per-hour medians and counts from the unsliced frame
    val exact = all
      .selectExpr("unix_timestamp(ts) div 3600 AS h", "value")
      .collect().groupBy(_.getLong(0))
      .map { case (h, rs) =>
        val vs = rs.map(_.getDouble(1)).sorted
        h -> (vs, vs.length.toLong)
      }
    assert(est.keySet == exact.keySet)
    exact.foreach { case (h, (vs, n)) =>
      assert(est(h)._2 == n,
        s"hour $h: sketch saw ${est(h)._2} values, expected $n — a raw " +
          "value entered zero or two batch sketches")
      // rank-domain convergence: the estimate's empirical rank within
      // 0.5 ± tolerance (generous — tiny hours are exact in KLL anyway)
      val rank = vs.count(_ <= est(h)._1).toDouble / n
      assert(math.abs(rank - 0.5) <= 0.5 / n + 0.05,
        s"hour $h: p50 estimate ${est(h)._1} has rank $rank")
    }
    // replay: alreadyApplied short-circuits, bytes untouched
    val before = spark.read.parquet(base)
      .selectExpr("h", "hex(sk) AS x").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    StreamPipeline.applyRollupBatch(slices.last, base, 2L, Rollup.hourlyKll)
    val after = spark.read.parquet(base)
      .selectExpr("h", "hex(sk) AS x").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == before, "replayed batch mutated the sketch table")
  }

  test("theta segment sketch sink: uneven slicing converges to the " +
      "exact per-type distinct counts AND answers pairwise overlaps " +
      "from stored partials alone (the set-operation capability HLL " +
      "unions lack)") {
    val base = tmpDir() + "/theta"
    val all = eventsBatch(60)
    val slices = Seq(all.limit(13),
      all.exceptAll(all.limit(13)).limit(29),
      all.exceptAll(all.limit(13)).exceptAll(
        all.exceptAll(all.limit(13)).limit(29)))
    slices.zipWithIndex.foreach { case (b, i) =>
      StreamPipeline.applyRollupBatch(b, base, i.toLong, Rollup.segmentTheta)
    }
    // per-type estimates == exact distinct (exact regime)
    val est = spark.read.parquet(base)
      .selectExpr("event_type", "theta_sketch_estimate(sk) AS e")
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val exact = all.select("event_type", "user_id").distinct()
      .collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(1)).toSet }
    assert(est.keySet == exact.keySet)
    exact.foreach { case (t, us) => assert(est(t) == us.size.toLong, t) }
    // pairwise overlap from stored partials only — no event re-read
    val sk = spark.read.parquet(base)
    val overlap = sk.as("a")
      .join(sk.as("b"), col("a.event_type") < col("b.event_type"))
      .selectExpr("a.event_type AS ta", "b.event_type AS tb",
        "theta_sketch_estimate(theta_intersection(a.sk, b.sk)) AS e")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    overlap.foreach { case ((ta, tb), e) =>
      assert(e == exact(ta).intersect(exact(tb)).size.toLong,
        s"overlap($ta,$tb)")
    }
  }

  test("CMS frequency sketch sink: uneven batch slicing yields stored " +
      "sketches BYTE-identical to the direct single-pass build (counter " +
      "addition is deterministic — the strongest convergence contract " +
      "of the sketch-family sinks), and a replayed batch is a no-op") {
    val base = tmpDir() + "/cms"
    import spark.implicits._
    val all = (1 to 40).map(i =>
      (i.toLong, s"alpha beta word$i gamma delta", s"lang_${i % 2}"))
      .toDF("doc_id", "text", "lang")
    val slices = Seq(all.limit(9),
      all.exceptAll(all.limit(9)).limit(21),
      all.exceptAll(all.limit(9)).exceptAll(
        all.exceptAll(all.limit(9)).limit(21)))
    slices.zipWithIndex.foreach { case (b, i) =>
      StreamPipeline.applyRollupBatch(b, base, i.toLong, Rollup.langCms)
    }
    def hexes(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      df.selectExpr("lang", "hex(cms) AS x").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val stored = hexes(spark.read.parquet(base))
    val direct = hexes(all
      .select(col("lang"),
        explode(graft.ops.TextOps.tokens(lower(col("text")))).as("term"))
      .groupBy("lang")
      .agg(expr("count_min_sketch(term, 0.001D, 0.99D, 42)").as("cms")))
    assert(stored.keySet == direct.keySet)
    assert(stored == direct,
      "any batch slicing must union to the direct sketch's bytes")
    StreamPipeline.applyRollupBatch(slices.last, base, 2L, Rollup.langCms)
    assert(hexes(spark.read.parquet(base)) == stored,
      "replayed batch mutated the CMS table")
  }

  test("grain rollup heals derived grains on replay: a crash after the " +
      "minute commit but before the hour/day rewrites leaves stale " +
      "derived tables, and the checkpoint-driven replay re-derives them " +
      "even though the minute merge is skipped") {
    val base = tmpDir()
    StreamPipeline.applyGrainRollupBatch(eventsBatch(12), base, 0)
    val hour0 = spark.read.parquet(base + "/hour")
      .agg(sum("n_events")).collect()(0).getLong(0)
    // crash window: derived tables lost after the minute commit
    TableSink.delete(spark, base + "/hour")
    TableSink.delete(spark, base + "/day")
    StreamPipeline.applyGrainRollupBatch(eventsBatch(12), base, 0)
    assert(spark.read.parquet(base + "/hour")
      .agg(sum("n_events")).collect()(0).getLong(0) == hour0,
      "replay must re-derive the hour grain from the committed minutes")
    assert(spark.read.parquet(base + "/day").count() > 0)
  }
}
