package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamPipeline
import graft.streaming.StreamPipeline.{Rollup, SessionEvent}

/** Specs for the arbitrary-state and stream-stream-join extensions. */
class AdvancedStreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def t(h: Int, m: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("streaming corpus cleaning: quality gate drops junk, PII is " +
      "redacted in-flight, stateless across batches") {
    import spark.implicits._
    val mem = MemoryStream[(Long, String)](spark)
    val out = StreamPipeline.cleanDocsStream(
      mem.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("docs_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "please contact alice@example.com about the quarterly report"),
        (2L, "x"), // fails quality: < 5 tokens
        (3L, "!!! ??? ... --- %%%"), // fails quality: alpha ratio
        (4L, "a perfectly ordinary document with enough plain words here"))
      q.processAllAvailable()
      // second batch exercises batch-boundary statelessness
      mem.addData((5L, "server logs show 10.0.0.1 hitting the endpoint often"))
      q.processAllAvailable()
      val rows = spark.table("docs_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.keySet === Set(1L, 4L, 5L))
      assert(rows(1L) ===
        "please contact <EMAIL> about the quarterly report")
      assert(rows(5L) === "server logs show <IP> hitting the endpoint often")
    } finally q.stop()
  }

  test("streaming near-dup gate: within-batch dups and cross-batch dups " +
      "against the persisted index are rejected; uniques admitted") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("neardup-gate").toString
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamPipeline.startNearDupGate(
      mem.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/out", s"$base/ckpt")
    try {
      val dupText = "the quick brown fox jumps over the lazy dog again"
      mem.addData(
        (0L, dupText),
        (1L, dupText), // within-batch dup of 0 -> rejected
        (2L, "completely different words arranged in another order here"))
      q.processAllAvailable()
      mem.addData(
        (3L, dupText), // cross-batch dup of indexed 0 -> rejected
        (4L, "yet another entirely novel document with fresh content words"))
      q.processAllAvailable()
      val admitted = StreamPipeline
        .readGateAdmitted(spark, s"$base/out", s"$base/index")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(admitted === Set(0L, 2L, 4L))
      // the index holds shingles for exactly the admitted docs — rejected
      // docs must not poison future admission decisions
      val indexed = StreamPipeline.readGateIndex(spark, s"$base/index")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(indexed === Set(0L, 2L, 4L))
    } finally q.stop()
  }

  test("near-dup gate manifest atomicity: a crash between the segment " +
      "writes and the manifest swap leaves both tables unchanged (the " +
      "orphaned segments are invisible), the replay heals them, and a " +
      "replayed batch id is a no-op") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("neardup-manifest").toString
    val (index, out) = (s"$base/index", s"$base/out")
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamPipeline.applyNearDupGateBatch(
      batch((0L, "the quick brown fox jumps over the lazy dog again"),
        (1L, "completely different words arranged in another order here")),
      index, out, 0L)
    val afterB0 = StreamPipeline.readGateAdmitted(spark, out, index)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterB0 === Set(0L, 1L))
    // simulate the crash window: batch 1's segments land but the
    // manifest swap never happens (write orphan segment dirs directly)
    batch((2L, "novel content that would have been admitted by batch one"))
      .write.parquet(s"$out/seg_1")
    StreamPipeline.readGateIndex(spark, index)
      .limit(0).write.parquet(s"$index/seg_1")
    assert(StreamPipeline.readGateAdmitted(spark, out, index)
      .select("doc_id").collect().map(_.getLong(0)).toSet === afterB0,
      "unlisted segments must be invisible to readers")
    // the checkpoint replays batch 1: segments overwritten, manifest
    // swapped — now visible, exactly once
    StreamPipeline.applyNearDupGateBatch(
      batch((2L, "novel content that would have been admitted by batch one")),
      index, out, 1L)
    val healed = StreamPipeline.readGateAdmitted(spark, out, index)
    assert(healed.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(0L, 1L, 2L))
    // replay of an applied id changes nothing — the manifest IS the ledger
    StreamPipeline.applyNearDupGateBatch(
      batch((2L, "novel content that would have been admitted by batch one")),
      index, out, 1L)
    assert(StreamPipeline.readGateAdmitted(spark, out, index).count()
      === 3L)
    assert(StreamPipeline.readGateIndex(spark, index)
      .select("doc_id").distinct().count() === 3L)
  }

  test("Bloom-indexed near-dup gate: admission decisions BIT-IDENTICAL " +
      "to the plain gate over the same slicings, a novel batch takes " +
      "the index-free fast path, and a deleted Bloom sidecar is " +
      "rebuilt from the listed segments") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("neardup-bloom").toString
    val (pIdx, pOut) = (s"$base/p_index", s"$base/p_out")
    val (bIdx, bOut) = (s"$base/b_index", s"$base/b_out")
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val dupText = "the quick brown fox jumps over the lazy dog again"
    val b0 = batch(
      (0L, dupText),
      (1L, dupText), // within-batch dup of 0 → rejected by BOTH gates
      (2L, "completely different words arranged in another order here"))
    val b1 = batch(
      (3L, dupText), // cross-batch dup of indexed 0 → rejected
      (4L, "yet another entirely novel document with fresh content words"))
    val b2 = batch( // fully novel batch → Bloom fast path (0 candidates)
      (5L, "nothing in this sentence resembles anything admitted before"),
      (6L, "grapes ferment slowly under the autumn moonlight tonight"))
    StreamPipeline.applyExactGateBatch(b0, pIdx, pOut, 0L)
    StreamPipeline.applyExactGateBatch(b1, pIdx, pOut, 1L)
    StreamPipeline.applyExactGateBatch(b2, pIdx, pOut, 2L)
    // batch 0 probes an EMPTY bloom: index-free fast path
    assert(StreamPipeline.applyNearDupGateBatch(b0, bIdx, bOut, 0L)
      === 0L, "empty-gate batch must skip the index read")
    // batch 1 shares doc 0's shingles: the probe must surface them
    assert(StreamPipeline.applyNearDupGateBatch(b1, bIdx, bOut, 1L)
      > 0L, "a true cross-batch dup must produce Bloom candidates")
    // sidecar recovery: delete the Bloom; batch 2 must rebuild it from
    // the listed segments and still decide identically
    val fs = new org.apache.hadoop.fs.Path(bIdx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(bIdx, "_gate_bloom_all_gen_0"), false),
      "bloom sidecar must exist after batch 1")
    StreamPipeline.applyNearDupGateBatch(b2, bIdx, bOut, 2L)
    def admitted(out: String, idx: String) =
      StreamPipeline.readGateAdmitted(spark, out, idx)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted(pOut, pIdx) === Set(0L, 2L, 4L, 5L, 6L))
    assert(admitted(bOut, bIdx) === admitted(pOut, pIdx),
      "Bloom gate diverged from the plain gate")
    // index parity too: both gates indexed exactly the admitted docs
    def indexed(idx: String) =
      StreamPipeline.readGateIndex(spark, idx)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed(bIdx) === indexed(pIdx))
    // replayed id is a no-op
    assert(StreamPipeline.applyNearDupGateBatch(b1, bIdx, bOut, 1L)
      === -1L)
  }

  test("Bloom gate crash window: segments + size sidecar + a MERGED " +
      "bloom land but the manifest swap never happens — readers " +
      "unchanged, the polluted bloom is false-positive-only (safe), " +
      "and the replay heals to the same decisions") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("neardup-bloom-crash").toString
    val (idx, out) = (s"$base/index", s"$base/out")
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val dupText = "the quick brown fox jumps over the lazy dog again"
    StreamPipeline.applyNearDupGateBatch(
      batch((0L, dupText),
        (1L, "completely different words arranged in another order here")),
      idx, out, 0L)
    val afterB0 = StreamPipeline.readGateAdmitted(spark, out, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterB0 === Set(0L, 1L))
    // simulate the crash: batch 1's THREE artifacts land (segment, size
    // sidecar, bloom already merged with batch 1's hashes) but the
    // manifest swap never runs
    val b1 = batch(
      (2L, "novel content that would have been admitted by batch one"))
    val b1sh = b1.select(col("doc_id"),
      explode(graft.functions.ShingleHashes.shingleHashes(
        graft.ops.TextOps.tokens(lower(col("text"))), 3)).as("h"))
    b1.write.parquet(s"$out/seg_1")
    b1sh.write.parquet(s"$idx/seg_1")
    b1sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      .write.parquet(s"$idx/szseg_1")
    val polluted = StreamPipeline.readGenBloom(spark, idx, Long.MaxValue,
      0L, Seq(0L), 1L << 22, 0.01)
    polluted.mergeInPlace(b1sh.stat.bloomFilter("h", 1L << 22, 0.01))
    StreamPipeline.writeGenBloom(spark, idx, Long.MaxValue, 0L, polluted)
    // unlisted artifacts are invisible; the early bloom entries can only
    // ADD candidate probes (false positives), never change decisions
    assert(StreamPipeline.readGateAdmitted(spark, out, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet === afterB0)
    // replay heals: same decisions, batch now visible exactly once
    StreamPipeline.applyNearDupGateBatch(b1, idx, out, 1L)
    assert(StreamPipeline.readGateAdmitted(spark, out, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(0L, 1L, 2L))
    // a later cross-batch dup of doc 0 is still rejected through the
    // healed bloom+index state
    StreamPipeline.applyNearDupGateBatch(
      batch((3L, dupText),
        (4L, "grapes ferment slowly under the autumn moonlight tonight")),
      idx, out, 2L)
    assert(StreamPipeline.readGateAdmitted(spark, out, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(0L, 1L, 2L, 4L))
  }

  test("Bloom gate parameter change mid-stream: a sidecar written under " +
      "different capacity/fpp is rebuilt (not merged — the old behavior " +
      "threw IncompatibleMergeException and wedged every replay), and a " +
      "plain-gate-built index (no size sidecars) is healed by " +
      "rebuilding szseg from the shingle segments — decisions still " +
      "bit-identical to the plain gate") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("neardup-bloom-compat").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val dupText = "the quick brown fox jumps over the lazy dog again"
    val b0 = batch(
      (0L, dupText),
      (1L, "completely different words arranged in another order here"))
    val b1 = batch(
      (2L, dupText), // cross-batch dup of 0 → must still be rejected
      (3L, "yet another entirely novel document with fresh content words"))
    // plain-gate twin for decision parity
    val (pIdx, pOut) = (s"$base/p_index", s"$base/p_out")
    StreamPipeline.applyExactGateBatch(b0, pIdx, pOut, 0L)
    StreamPipeline.applyExactGateBatch(b1, pIdx, pOut, 1L)
    // (a) capacity change between batches: batch 0 writes a 2^22 bloom,
    // batch 1 runs with 2^20 — readGenBloom must detect the
    // incompatible sidecar and rebuild at the CURRENT parameters
    val (aIdx, aOut) = (s"$base/a_index", s"$base/a_out")
    StreamPipeline.applyNearDupGateBatch(b0, aIdx, aOut, 0L,
      bloomCapacity = 1L << 22)
    StreamPipeline.applyNearDupGateBatch(b1, aIdx, aOut, 1L,
      bloomCapacity = 1L << 20) // would throw IncompatibleMergeException
    def admitted(out: String, idx: String) =
      StreamPipeline.readGateAdmitted(spark, out, idx)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted(aOut, aIdx) === admitted(pOut, pIdx),
      "parameter-change recovery diverged from the plain gate")
    // (b) gate-variant migration: an index built by the PLAIN gate has
    // segments + manifest but no szseg size sidecars; pointing the
    // Bloom gate at it must heal the sidecars from seg_<b> and decide
    // identically (previously failed the batch unrecoverably)
    val (mIdx, mOut) = (s"$base/m_index", s"$base/m_out")
    StreamPipeline.applyExactGateBatch(b0, mIdx, mOut, 0L)
    val fs = new org.apache.hadoop.fs.Path(mIdx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$mIdx/szseg_0")),
      "sanity: the plain gate writes no size sidecars")
    StreamPipeline.applyNearDupGateBatch(b1, mIdx, mOut, 1L)
    assert(admitted(mOut, mIdx) === admitted(pOut, pIdx),
      "plain→Bloom index migration diverged from the plain gate")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$mIdx/szseg_0")),
      "the missing size sidecar must be healed in place")
  }

  test("rotating (TTL'd) Bloom-generation gate: a recent dup is " +
      "rejected, the same content RE-ADMITS once its source batch " +
      "falls out of the window, expired segments and wholly-expired " +
      "generation Blooms are deleted (bounded state on an unbounded " +
      "stream), and with the window covering the whole stream the " +
      "decisions equal the plain gate's") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("neardup-rotating").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val dupText = "the quick brown fox jumps over the lazy dog again"
    val fresh = Seq(
      "completely different words arranged in another order here",
      "yet another entirely novel document with fresh content words",
      "grapes ferment slowly under the autumn moonlight tonight",
      "nothing in this sentence resembles anything admitted before")
    // window=1 (so one batch per generation): batch b dedups against
    // batch b-1 only
    val (idx, out) = (s"$base/index", s"$base/out")
    def apply(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamPipeline.applyNearDupGateBatch(b, idx, out, id,
        windowBatches = 1)
    apply(batch((0L, dupText), (1L, fresh(0))), 0L)
    apply(batch((2L, dupText), (3L, fresh(1))), 1L) // dup of 0 → reject
    apply(batch((4L, fresh(2))), 2L) // batch 0 expires here
    apply(batch((5L, dupText), (6L, fresh(3))), 3L) // TTL'd → re-admit
    val admitted = StreamPipeline.readGateAdmitted(spark, out, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(0L, 1L, 3L, 4L, 5L, 6L),
      "recent dup must reject; expired dup must re-admit")
    // bounded state: only the window's segments + generations survive
    val files = new java.io.File(idx).listFiles().map(_.getName).toSet
    assert(!files.contains("seg_0") && !files.contains("szseg_0"),
      s"expired segment not GC'd: $files")
    assert(!files.contains("_gate_bloom_1_gen_0"),
      s"expired generation Bloom not GC'd: $files")
    assert(files.contains("seg_3") && files.contains("_gate_bloom_1_gen_3"))
    // replayed id is a no-op — including an id already PRUNED from the
    // manifest tail (round-13: replay detection is the monotonic
    // high-water mark, not list membership)
    assert(apply(batch((9L, dupText)), 3L) === -1L)
    assert(apply(batch((9L, dupText)), 0L) === -1L,
      "a pruned-from-tail id must still be detected as replayed")
    // bounded metadata: the manifest carries only the in-window tail
    // plus the hwm header, never the full id history (ADVICE round 12:
    // O(stream) manifest rewrite per commit)
    val manifestLines = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$idx/_gate_manifest")), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    assert(manifestLines.count(!_.startsWith("#")) <= 2,
      s"manifest must hold only the window tail: ${manifestLines.toSeq}")
    assert(manifestLines.exists(_.startsWith("#hwm 3")),
      s"manifest must carry the high-water mark: ${manifestLines.toSeq}")
    // parity: window covering the whole stream ≡ the plain gate
    val (pIdx, pOut) = (s"$base/p_index", s"$base/p_out")
    val (rIdx, rOut) = (s"$base/r_index", s"$base/r_out")
    val batches = Seq(
      batch((0L, dupText), (1L, fresh(0))),
      batch((2L, dupText), (3L, fresh(1))),
      batch((4L, dupText), (5L, fresh(2))))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamPipeline.applyExactGateBatch(b, pIdx, pOut, i.toLong)
      StreamPipeline.applyNearDupGateBatch(b, rIdx, rOut,
        i.toLong, windowBatches = 100)
    }
    def got(o: String, i: String) =
      StreamPipeline.readGateAdmitted(spark, o, i)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got(rOut, rIdx) === got(pOut, pIdx),
      "full-window rotating gate diverged from the plain gate")
  }

  test("near-dup gate keeps no per-JVM state that grows with the " +
      "stream: 12 batches with windowBatches = 2 leave at most window + 1 " +
      "segments and two generation filters on disk, and no in-memory " +
      "cache of checked segments") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("neardup-bounded").toString
    val (idx, out) = (s"$base/index", s"$base/out")
    val window = 2
    (0L until 12L).foreach { i =>
      StreamPipeline.applyNearDupGateBatch(
        Seq((i, s"document number $i talks about topic $i in its own words"))
          .toDF("doc_id", "text"),
        idx, out, i, windowBatches = window)
    }
    // no cache at all: the pipeline object holds no collection-valued
    // field (a per-JVM set of checked segments grew one key per batch)
    val caches = StreamPipeline.getClass.getDeclaredFields.filter { f =>
      Seq(classOf[java.util.Collection[_]], classOf[java.util.Map[_, _]],
        classOf[scala.collection.Iterable[_]])
        .exists(_.isAssignableFrom(f.getType))
    }
    assert(caches.isEmpty, s"per-JVM caches: ${caches.map(_.getName).toSeq}")
    val files = new java.io.File(idx).listFiles().map(_.getName).toSeq
    assert(files.count(_.startsWith("seg_")) <= window + 1, files)
    assert(files.count(_.startsWith("szseg_")) <= window + 1, files)
    assert(files.count(_.startsWith("_gate_bloom")) <= 2, files)
    assert(StreamPipeline.readGateIndex(spark, idx)
      .select("doc_id").distinct().count() <= window + 1)
    assert(StreamPipeline.readGateAdmitted(spark, out, idx).count() === 12L,
      "the window bounds dedup state, not the admitted output")
  }

  test("near-dup gate reads an index in the single-filter layout (no " +
      "#hwm header, one merged _gate_bloom file): that file is never " +
      "trusted, the generation-0 filter is rebuilt from the listed " +
      "segments, and decisions equal the full-index reference") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("neardup-legacy").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val dupText = "the quick brown fox jumps over the lazy dog again"
    val b0 = batch(
      (0L, dupText),
      (1L, "completely different words arranged in another order here"))
    val b1 = batch(
      (2L, dupText), // cross-batch dup of 0 → must be rejected
      (3L, "yet another entirely novel document with fresh content words"))
    val (pIdx, pOut) = (s"$base/p_index", s"$base/p_out")
    StreamPipeline.applyExactGateBatch(b0, pIdx, pOut, 0L)
    StreamPipeline.applyExactGateBatch(b1, pIdx, pOut, 1L)
    // the single-filter layout: segments, size files, a header-less
    // manifest and a merged filter — here an EMPTY one, which would hide
    // every cross-batch dup if the gate read it
    val (lIdx, lOut) = (s"$base/l_index", s"$base/l_out")
    StreamPipeline.applyExactGateBatch(b0, lIdx, lOut, 0L)
    spark.read.parquet(s"$lIdx/seg_0").groupBy("doc_id")
      .agg(count(lit(1)).as("sz")).write.parquet(s"$lIdx/szseg_0")
    val o = new java.io.FileOutputStream(s"$lIdx/_gate_bloom")
    try org.apache.spark.util.sketch.BloomFilter.create(1L << 22, 0.01)
      .writeTo(o) finally o.close()
    StreamPipeline.applyNearDupGateBatch(b1, lIdx, lOut, 1L)
    def admitted(out: String, idx: String) =
      StreamPipeline.readGateAdmitted(spark, out, idx)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted(lOut, lIdx) === Set(0L, 1L, 3L))
    assert(admitted(lOut, lIdx) === admitted(pOut, pIdx))
    assert(new java.io.File(s"$lIdx/_gate_bloom_all_gen_0").exists(),
      "the generation-0 filter must be written back")
    // the commit adds the #hwm header, so the rebuild runs only once
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$lIdx/_gate_manifest")), "UTF-8")
    assert(manifest.startsWith("#hwm 1"), manifest)
  }

  test("flatMapGroupsWithState sessionization: gap closes a session, " +
      "emitted once in append mode") {
    import spark.implicits._
    val mem = MemoryStream[SessionEvent](spark)
    val out = StreamPipeline.sessionizeStream(mem.toDS(), gapMin = 30)
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: three events 10 min apart -> one open session
      mem.addData(SessionEvent(1, t(0, 0), 1.0),
        SessionEvent(1, t(0, 10), 1.0), SessionEvent(1, t(0, 20), 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() === 0) // still open
      // a later event 2h on closes the first session and opens a second
      mem.addData(SessionEvent(1, t(2, 30), 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
      assert(rows.length === 1)
      val r = rows.head
      assert(r.getAs[Long]("user_id") === 1L)
      assert(r.getAs[Timestamp]("session_start") === t(0, 0))
      assert(r.getAs[Long]("n_events") === 3L)
      assert(r.getAs[Long]("duration_sec") === 1200L)
    } finally q.stop()
  }

  test("native session_window streaming agg: session emits once the " +
      "watermark passes its gap-extended end; bounds match the batch twin") {
    import spark.implicits._
    val mem = MemoryStream[SessionEvent](spark)
    val out = StreamPipeline.sessionizeStreamNative(mem.toDS(), gapMin = 30)
    val q = out.writeStream.format("memory").queryName("sess_native_out")
      .outputMode("append").start()
    try {
      mem.addData(SessionEvent(1, t(0, 0), 1.0),
        SessionEvent(1, t(0, 10), 1.0), SessionEvent(1, t(0, 20), 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_native_out").count() === 0,
        "session must not emit before the watermark passes its end")
      // watermark = max event − 1h; t(3,0) puts it at t(2,0), past the
      // session end t(0,50) = last event t(0,20) + 30 min gap
      mem.addData(SessionEvent(1, t(3, 0), 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_native_out").collect()
      assert(rows.length === 1, rows.mkString("; "))
      val r = rows.head
      assert(r.getAs[Long]("user_id") === 1L)
      assert(r.getAs[Timestamp]("session_start") === t(0, 0))
      assert(r.getAs[Timestamp]("session_end") === t(0, 50))
      assert(r.getAs[Long]("n_events") === 3L)
    } finally q.stop()
  }

  test("transformWithState sessionizer (RocksDB state store) closes the " +
      "same sessions as the flatMapGroupsWithState twin") {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[SessionEvent](spark)
    val out = StreamPipeline.sessionizeStreamTws(mem.toDS(), gapMin = 30)
    val q = out.writeStream.format("memory").queryName("sess_tws_out")
      .outputMode("append").start()
    try {
      mem.addData(SessionEvent(1, t(0, 0), 1.0),
        SessionEvent(1, t(0, 10), 1.0), SessionEvent(1, t(0, 20), 1.0),
        SessionEvent(2, t(0, 5), 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_tws_out").count() === 0) // all still open
      // 2h later: user 1's first session closes (in-row gap), and the
      // advancing watermark expires user 2's timer (handleExpiredTimer)
      mem.addData(SessionEvent(1, t(2, 30), 1.0))
      q.processAllAvailable()
      mem.addData(SessionEvent(1, t(5, 0), 1.0)) // push watermark past timers
      q.processAllAvailable()
      val rows = spark.table("sess_tws_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
          r.getAs[Long]("n_events"), r.getAs[Long]("duration_sec"))).toSet
      assert(rows.contains((1L, t(0, 0), 3L, 1200L)),
        s"user 1 first session wrong: $rows")
      assert(rows.contains((2L, t(0, 5), 1L, 0L)),
        s"user 2 timer-closed session missing: $rows")
    } finally {
      q.stop()
      oldProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming ingest: quality-gated, redacted, content-deduped " +
      "within the watermark horizon") {
    import spark.implicits._
    val mem = MemoryStream[(Long, Timestamp, String)](spark)
    val out = StreamPipeline.ingestDocsStream(
      mem.toDF().toDF("doc_id", "ts", "text"))
    val q = out.writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, t(0, 0), "a perfectly ordinary document with enough plain words"),
        (2L, t(0, 1), "a perfectly ordinary document with enough plain words"),
        (3L, t(0, 2), "junk"), // quality-dropped
        (4L, t(0, 3), "please email alice@example.com for more details soon"))
      q.processAllAvailable()
      val rows = spark.table("ingest_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      // duplicate content (1,2): exactly one survives; junk dropped
      assert(rows.size === 2)
      assert(rows.keySet.intersect(Set(1L, 2L)).size === 1)
      assert(rows(4L) ===
        "please email <EMAIL> for more details soon")
    } finally q.stop()
  }

  test("native session_window agrees with the flatMapGroupsWithState " +
      "sessionizer on counts") {
    import spark.implicits._
    val mem = MemoryStream[SessionEvent](spark)
    val out = StreamPipeline.sessionizeStreamNative(mem.toDS(), gapMin = 30)
    val q = out.writeStream.format("memory").queryName("sw_out")
      .outputMode("append").start()
    try {
      mem.addData(SessionEvent(1, t(0, 0), 2.0),
        SessionEvent(1, t(0, 10), 3.0), SessionEvent(1, t(0, 20), 5.0),
        SessionEvent(2, t(0, 5), 1.0))
      q.processAllAvailable()
      // advance the watermark far enough to close all sessions
      mem.addData(SessionEvent(9, t(5, 0), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sw_out").collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"),
            r.getAs[Timestamp]("session_start"))).toMap
      assert(rows(1L) === ((3L, 10.0, t(0, 0))))
      assert(rows(2L) === ((1L, 1.0, t(0, 5))))
    } finally q.stop()
  }

  test("streaming contamination quarantine: overlapping docs surface " +
      "exactly once; clean docs and re-sends never do") {
    import spark.implicits._
    val benchmark = Seq("alpha beta gamma delta epsilon")
      .toDF("gram")
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val out = StreamPipeline.contaminationQuarantine(
      docs.toDF().toDF("doc_id", "ts", "text"), benchmark)
    val q = out.writeStream.format("memory").queryName("quarantine_out")
      .outputMode("append").start()
    try {
      docs.addData(
        (1L, t(1, 0), "intro words then alpha beta gamma delta epsilon tail"),
        (2L, t(1, 0), "a perfectly clean document with no benchmark overlap"),
        (3L, t(1, 1), "too short"))
      q.processAllAvailable()
      // re-send doc 1 within the watermark horizon: must not re-emit
      docs.addData((1L, t(1, 30),
        "intro words then alpha beta gamma delta epsilon tail"))
      q.processAllAvailable()
      val ids = spark.table("quarantine_out").collect().map(_.getLong(0))
      assert(ids.toSeq == Seq(1L))
    } finally q.stop()
  }

  test("chunking runs unchanged on an unbounded stream and matches the " +
      "batch chunker row-for-row") {
    import spark.implicits._
    val docs = MemoryStream[(Long, String)](spark)
    val out = graft.ops.CorpusOps.chunkWindowsStream(
      docs.toDF().toDF("doc_id", "text"), window = 8, stride = 6)
    val q = out.writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    val fixtures = Seq(
      1L -> (1 to 20).map(i => s"w$i").mkString(" "), // 3 chunks
      2L -> "a b c",                                   // 1 chunk
      3L -> "")                                        // filtered out
    try {
      docs.addData(fixtures: _*)
      q.processAllAvailable()
      val streamed = spark.table("chunk_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val batch = graft.ops.CorpusOps.chunkWindowsFrom(
        fixtures.toDF("doc_id", "text"), window = 8, stride = 6).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
      assert(streamed == batch)
      assert(streamed.count(_._1 == 1L) == 3)
    } finally q.stop()
  }

  test("stream-stream join matches purchases within an hour of a click") {
    import spark.implicits._
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    val purchases = MemoryStream[(Long, Timestamp, Double)](spark)
    val joined = StreamPipeline.streamStreamJoin(
      clicks.toDF().toDF("user_id", "ts"),
      purchases.toDF().toDF("user_id", "ts", "value"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      clicks.addData((1L, t(1, 0)), (2L, t(1, 0)))
      purchases.addData((1L, t(1, 30), 9.99),  // within the hour -> match
        (2L, t(3, 0), 5.0))                    // 2h later -> no match
      q.processAllAvailable()
      // advance both watermarks so results finalize
      clicks.addData((9L, t(8, 0)))
      purchases.addData((9L, t(8, 0), 0.0))
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
      val matches = rows.map(r => (r.getAs[Long]("user_id"),
        r.getAs[Double]("value")))
      assert(matches.contains((1L, 9.99)))
      assert(!matches.exists(_._1 == 2L))
    } finally q.stop()
  }

  test("streaming merge sink: later batches upsert by key, within-batch " +
      "ties resolve by orderCol, state survives across batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("merge_sink").toString
    val table = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    val mem = MemoryStream[(Long, Long, String)](spark)
    val q = StreamPipeline.startMergeSink(
      mem.toDF().toDF("k", "ver", "payload"), table, ckpt,
      keys = Seq("k"), orderCol = "ver")
    try {
      // batch 1: two keys; key 1 appears twice — ver 3 must win
      mem.addData((1L, 1L, "one-v1"), (1L, 3L, "one-v3"), (2L, 1L, "two-v1"))
      q.processAllAvailable()
      val after1 = spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(after1 === Map(1L -> ((3L, "one-v3")), 2L -> ((1L, "two-v1"))))
      // batch 2: update key 2, insert key 5; key 1 untouched
      mem.addData((2L, 7L, "two-v7"), (5L, 1L, "five-v1"))
      q.processAllAvailable()
      val after2 = spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(after2 === Map(1L -> ((3L, "one-v3")), 2L -> ((7L, "two-v7")),
        5L -> ((1L, "five-v1"))))
    } finally q.stop()
  }

  test("streaming hourly-agg sink: any batch slicing converges to the " +
      "full-recompute aggregate table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("agg_sink").toString
    val table = s"$dir/table"
    val events = Seq( // (ts, event_type, value) across two hours
      (t(1, 5), "click", 1.5), (t(1, 10), "click", 2.5),
      (t(1, 40), "buy", 10.0), (t(1, 59), "click", 0.25),
      (t(2, 0), "click", 4.0), (t(2, 30), "buy", 20.0),
      (t(2, 31), "buy", 0.5))
    val mem = MemoryStream[(Timestamp, String, Double)](spark)
    val q = StreamPipeline.startRollupSink(
      mem.toDF().toDF("ts", "event_type", "value"), table, s"$dir/ckpt",
      Rollup.hourlyAgg)
    try {
      // uneven slicing, hour 1 and hour 2 both split across batches
      mem.addData(events(0), events(1))
      q.processAllAvailable()
      mem.addData(events(2), events(3), events(4))
      q.processAllAvailable()
      mem.addData(events(5), events(6))
      q.processAllAvailable()
      val got = spark.read.parquet(table)
        .select(col("hour"), col("event_type"), col("n_events"),
          col("sum_dec").cast("double").as("total"),
          col("min_value"), col("max_value"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
        .toMap
      val expected = events.toDF("ts", "event_type", "value")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("tot"),
          min("value").as("mn"), max("value").as("mx"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
        .toMap
      assert(got === expected)
    } finally q.stop()
  }

  test("streaming grain-rollup ladder: uneven batch slicing converges " +
      "every grain (minute/hour/day) to the batch operator's table; " +
      "raw events are aggregated exactly once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("grain_sink").toString
    val base = s"$dir/grains"
    val events = Seq( // same minute split across batches; two hours
      (t(1, 5), 1.5), (t(1, 5), 2.5), (t(1, 40), 10.0),
      (t(2, 0), 4.0), (t(2, 0), 0.5), (t(2, 30), 20.0))
    val mem = MemoryStream[(Timestamp, Double)](spark)
    val q = StreamPipeline.startGrainRollupSink(
      mem.toDF().toDF("ts", "value"), base, s"$dir/ckpt")
    try {
      mem.addData(events(0)); q.processAllAvailable()
      mem.addData(events(1), events(2), events(3)); q.processAllAvailable()
      mem.addData(events(4), events(5)); q.processAllAvailable()
      def table(g: String): Map[Timestamp, (Long, Double)] =
        spark.read.parquet(s"$base/$g")
          .select(col("bucket_ts"), col("n_events"),
            col("dec_v").cast("double").as("v"))
          .collect()
          .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2))))
          .toMap
      def expected(grain: String): Map[Timestamp, (Long, Double)] =
        events.toDF("ts", "value")
          .groupBy(date_trunc(grain, col("ts")).as("b"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
          .collect()
          .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2))))
          .toMap
      assert(table("minute") === expected("minute"))
      assert(table("hour") === expected("hour"))
      assert(table("day") === expected("day"))
      // grain conservation: every level carries all 6 events
      Seq("minute", "hour", "day").foreach(g =>
        assert(table(g).values.map(_._1).sum === events.size.toLong,
          s"grain $g lost events"))
    } finally q.stop()
  }

  test("streaming hourly HLL sketch table: uneven batch slicing (and a " +
      "replayed batch) converges every hour's sketch estimate to the " +
      "batch operator's — sketch union is the decimal-sum associativity " +
      "of the approximate world") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hll_sink").toString
    val path = s"$dir/hourly_sk"
    val events = Seq( // duplicate users within and ACROSS batches
      (t(1, 5), 100L), (t(1, 10), 101L), (t(1, 20), 100L),
      (t(2, 0), 100L), (t(2, 30), 102L), (t(2, 45), 103L),
      (t(2, 50), 101L))
    val mem = MemoryStream[(Timestamp, Long)](spark)
    val q = StreamPipeline.startRollupSink(
      mem.toDF().toDF("ts", "user_id"), path, s"$dir/ckpt",
      Rollup.hourlyHll)
    try {
      mem.addData(events(0), events(1)); q.processAllAvailable()
      mem.addData(events(2), events(3), events(4)); q.processAllAvailable()
      mem.addData(events(5), events(6)); q.processAllAvailable()
      def estimates(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.groupBy("h")
          .agg(expr("hll_union_agg(sk)").as("u"))
          .select(col("h"), expr("hll_sketch_estimate(u)").as("est"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val streamed = estimates(spark.read.parquet(path))
      val batch = estimates(events.toDF("ts", "user_id")
        .groupBy(expr("unix_timestamp(ts) div 3600").as("h"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk")))
      assert(streamed === batch,
        "streamed sketch table diverged from the batch sketches")
      // tiny cardinalities: HLL is exact here — pin the true counts
      assert(streamed.values.toSeq.sorted === Seq(2L, 4L))
    } finally q.stop()
  }

  test("streaming daily DAU HLL sketch table: uneven batch slicing (incl. " +
      "a day split across batches) converges byte-for-byte to the batch " +
      "daily sketches, and the trailing-window union over the STORED " +
      "table answers WAU without re-reading events") {
    import spark.implicits._
    def day(dd: Int, h: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-$dd%02d $h%02d:00:00")
    val dir = java.nio.file.Files.createTempDirectory("dau_sink").toString
    val path = s"$dir/daily_sk"
    val events = Seq( // users repeating within and ACROSS days
      (day(1, 5), 100L), (day(1, 10), 101L), (day(1, 20), 100L),
      (day(2, 0), 100L), (day(2, 9), 102L),
      (day(3, 3), 103L), (day(3, 4), 101L), (day(3, 5), 100L))
    val mem = MemoryStream[(Timestamp, Long)](spark)
    val q = StreamPipeline.startRollupSink(
      mem.toDF().toDF("ts", "user_id"), path, s"$dir/ckpt",
      Rollup.dailyHll)
    try {
      // uneven slicing: day 1 split across batches, day 2+3 mixed
      mem.addData(events(0), events(1)); q.processAllAvailable()
      mem.addData(events(2), events(3)); q.processAllAvailable()
      mem.addData(events(4), events(5), events(6), events(7))
      q.processAllAvailable()
      val stored = spark.read.parquet(path)
      val batchSk = events.toDF("ts", "user_id")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      // HLL union is a pure function of the input set: byte equality
      def bytes(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Byte]] =
        df.collect()
          .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      assert(bytes(stored) === bytes(batchSk),
        "streamed daily sketch table diverged from the batch sketches")
      // the dauWauMauSketch consumption shape: trailing 7-day WAU for
      // the last day from the STORED table alone (exact at these
      // cardinalities: users {100,101,102,103})
      val lastDay = stored.agg(max("day")).collect()(0).getLong(0)
      val wauEst = stored.where(col("day") > lastDay - 7)
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).collect()(0)
        .getLong(0)
      assert(wauEst === 4L)
    } finally q.stop()
  }

  test("KLL, theta and CMS rollups run as streams: startRollupSink on a " +
      "MemoryStream stores the tables applyRollupBatch builds over the " +
      "same slices") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rollup_sinks").toString
    val rows = (1 to 30).map(i => (t(i % 3, i % 60), s"type_${i % 2}",
      i * 1.5, (i % 7).toLong, s"lang_${i % 2}", s"alpha beta word${i % 5}"))
    val cols = Seq("ts", "event_type", "value", "user_id", "lang", "text")
    val slices = Seq(rows.take(4), rows.slice(4, 19), rows.drop(19))
    val rollups = Seq("kll" -> Rollup.hourlyKll,
      "theta" -> Rollup.segmentTheta, "cms" -> Rollup.langCms)
    // one source per query: a MemoryStream drops data its reader commits
    val streams = rollups.map { case (name, r) =>
      val mem = MemoryStream[(Timestamp, String, Double, Long, String,
        String)](spark)
      mem -> StreamPipeline.startRollupSink(mem.toDF().toDF(cols: _*),
        s"$dir/stream_$name", s"$dir/ckpt_$name", r)
    }
    try slices.foreach { sl =>
      streams.foreach { case (mem, q) =>
        mem.addData(sl)
        q.processAllAvailable()
      }
    } finally streams.foreach(_._2.stop())
    slices.zipWithIndex.foreach { case (sl, i) =>
      rollups.foreach { case (name, r) =>
        StreamPipeline.applyRollupBatch(sl.toDF(cols: _*),
          s"$dir/batch_$name", i.toLong, r)
      }
    }
    // theta and CMS bytes are order-free; KLL's level-0 bytes keep merge
    // order, so compare what a KLL sketch answers: its count and, below
    // its compaction size, exact quantiles at every probed rank
    def contents(path: String, name: String): Seq[String] = {
      val t = spark.read.parquet(path)
      val (key, sk) = (t.columns(0), t.columns(1))
      val shown =
        if (name == "kll") s"kll_sketch_get_n_double($sk)" +:
          Seq(0.1, 0.3, 0.5, 0.7, 0.9, 1.0)
            .map(r => s"kll_sketch_get_quantile_double($sk, $r)")
        else Seq(s"hex($sk)")
      t.selectExpr(key +: shown: _*).collect().map(_.mkString("|"))
        .toSeq.sorted
    }
    rollups.foreach { case (name, _) =>
      assert(graft.streaming.TableSink.listVersions(spark,
        s"$dir/stream_$name") === Seq(0L, 1L, 2L),
        s"$name: each slice must be one micro-batch")
      val streamed = contents(s"$dir/stream_$name", name)
      assert(streamed.nonEmpty)
      assert(streamed === contents(s"$dir/batch_$name", name),
        s"$name: the streamed table diverged from the batch-driven one")
    }
  }

  test("fMGWS sessionization and a LATE group: with EventTimeTimeout the " +
      "engine drops below-watermark rows before the function — the query " +
      "survives and no phantom session is created") {
    import spark.implicits._
    val mem = MemoryStream[SessionEvent](spark)
    val out = StreamPipeline.sessionizeStream(mem.toDS(), gapMin = 30)
    val q = out.writeStream.format("memory").queryName("sess_late_out")
      .outputMode("append").start()
    try {
      // batch 1: user 9 far in the future — advances the watermark hours
      // past t(0,*) once the batch commits
      mem.addData(SessionEvent(9, t(9, 0), 1.0))
      q.processAllAvailable()
      // batch 2: user 1 arrives entirely BEHIND the watermark. Spark
      // filters it before fn() (so no state, no below-watermark timeout);
      // the clamp in sessionizeStream guards the residual paths
      mem.addData(SessionEvent(1, t(0, 0), 1.0))
      q.processAllAvailable()
      mem.addData(SessionEvent(9, t(9, 10), 1.0))
      q.processAllAvailable()
      mem.addData(SessionEvent(9, t(9, 20), 1.0))
      q.processAllAvailable()
      assert(q.isActive, "query died on the late group")
      // dropped means dropped: the late event creates no session, closed
      // or open — matching the native session_window twin's late policy
      val users = spark.table("sess_late_out")
        .select("user_id").collect().map(_.getLong(0)).toSet
      assert(!users.contains(1L),
        s"late event must be dropped, not sessionized: $users")
    } finally q.stop()
  }

  test("streaming funnel state table: uneven ORDERED batch slicing of " +
      "the real fixture converges EXACTLY to the batch funnelWindowed " +
      "readout, and a replayed batch is a no-op") {
    val d = TestSpark.sf0001
    val dir = java.nio.file.Files
      .createTempDirectory("funnel_sink").toString
    val path = s"$dir/state"
    val ev = Tables.events(spark, d)
      .select("user_id", "event_type", "ts")
    val mm = ev.agg(
        min(expr("unix_micros(ts) div 86400000000")),
        max(expr("unix_micros(ts) div 86400000000")))
      .collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val c1 = lo + (hi - lo) / 3
    val c2 = lo + 2 * (hi - lo) / 3
    def slice(cond: String) =
      ev.filter(expr(s"unix_micros(ts) div 86400000000 $cond"))
    assert(StreamPipeline.applyFunnelBatch(slice(s"< $c1"), path, 0) === 0L,
      "ordered batch flagged as out-of-order")
    assert(StreamPipeline.applyFunnelBatch(
      slice(s">= $c1 AND unix_micros(ts) div 86400000000 < $c2"),
      path, 1) === 0L, "ordered batch flagged as out-of-order")
    // replayed batch id: the ledger short-circuits the merge
    assert(StreamPipeline.applyFunnelBatch(slice(s"< $c1"), path, 1) === 0L)
    assert(StreamPipeline.applyFunnelBatch(slice(s">= $c2"), path, 2) === 0L,
      "ordered batch flagged as out-of-order")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    val got = rows(StreamPipeline.funnelStateReadout(spark, path))
    val want = rows(graft.ops.EventOps.funnelWindowed(spark, d))
    assert(got === want,
      "streamed funnel state diverged from the batch operator")
    assert(got.head._2 > 0, "fixture must enter the funnel")
  }

  test("streaming funnel state table: an out-of-event-time-order batch " +
      "is DETECTED (per-user max-seen watermark), not silently merged") {
    val d = TestSpark.sf0001
    val dir = java.nio.file.Files
      .createTempDirectory("funnel_ooo").toString
    val path = s"$dir/state"
    val ev = Tables.events(spark, d)
      .select("user_id", "event_type", "ts")
    val mid = ev.agg(expr(
      "cast(avg(unix_micros(ts)) as bigint)")).collect()(0).getLong(0)
    def slice(cond: String) =
      ev.filter(expr(s"unix_micros(ts) $cond"))
    // deliver the LATE half first, then the early half: every user
    // active in both halves arrives behind their stored max-seen time
    assert(StreamPipeline.applyFunnelBatch(
      slice(s">= $mid"), path, 0) === 0L)
    val nOoo = StreamPipeline.applyFunnelBatch(slice(s"< $mid"), path, 1)
    val straddlers = slice(s">= $mid").select("user_id").distinct()
      .intersect(slice(s"< $mid").select("user_id").distinct()).count()
    assert(straddlers > 0, "fixture must have users on both sides")
    assert(nOoo === straddlers,
      s"expected every straddling user flagged: $nOoo vs $straddlers")
    // the violation is QUERYABLE, not just logged (round-11 verdict #4):
    // the state table carries per-user cumulative ooo counts and the
    // monitoring readout reports exactly the straddling users
    val m = StreamPipeline.funnelOooReadout(spark, path).collect()(0)
    assert(m.getLong(1) === straddlers,
      s"persisted ooo-user count must match: ${m.getLong(1)}")
    assert(m.getLong(2) === straddlers,
      "each straddler arrived out of order exactly once here")
    // an ordered stream leaves the counter at zero end to end (the
    // converging-slicing spec above writes its own table; assert on a
    // fresh ordered rebuild so the zero is earned, not vacuous)
    val p2 = s"$dir/state_ordered"
    StreamPipeline.applyFunnelBatch(slice(s"< $mid"), p2, 0)
    StreamPipeline.applyFunnelBatch(slice(s">= $mid"), p2, 1)
    val m2 = StreamPipeline.funnelOooReadout(spark, p2).collect()(0)
    assert(m2.getLong(1) === 0L && m2.getLong(2) === 0L,
      "ordered delivery must leave a zero persisted ooo count")
  }

  test("TableSink ledger: replayed batch ids read as applied, later ids " +
      "do not — the foreachBatch idempotence gate") {
    val base = java.nio.file.Files
      .createTempDirectory("ledger_spec").toString + "/table"
    assert(!graft.streaming.TableSink.alreadyApplied(spark, base, 0L))
    graft.streaming.TableSink.record(spark, base, 3L)
    assert(graft.streaming.TableSink.alreadyApplied(spark, base, 3L))
    assert(graft.streaming.TableSink.alreadyApplied(spark, base, 2L))
    assert(!graft.streaming.TableSink.alreadyApplied(spark, base, 4L))
    graft.streaming.TableSink.record(spark, base, 4L)
    assert(graft.streaming.TableSink.alreadyApplied(spark, base, 4L))
  }
}
