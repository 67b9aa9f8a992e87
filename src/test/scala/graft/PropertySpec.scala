package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Cleaners

/** Property-style specs (SURVEY.md §5.3) — ScalaCheck generators drive
  * batch DataFrames compared against a driver-side model implementation
  * (one Spark job per property, not per case).
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i =>
      g.apply(params, rng.Seed(i.toLong)))
  }

  /** Driver-side model of the reference's follower-count rule:
    * k->000, M->000000 textual substitution, then int-or-null.
    */
  private def model(s: String): Option[Int] = {
    val sub = s.replace("k", "000").replace("M", "000000")
    try Some(sub.trim.toInt)
    catch { case _: NumberFormatException => None }
  }

  test("parseFollowerCount ≡ model over generated suffixed strings") {
    val genCount: Gen[String] = Gen.oneOf(
      Gen.choose(0, 999999).map(_.toString),
      Gen.choose(1, 999).map(n => s"${n}k"),
      Gen.choose(1, 99).map(n => s"${n}M"),
      Gen.choose(1, 99).map(n => s"$n.5k"),       // lossy rule -> null
      Gen.oneOf("User Info Error", "", "12abc", "k", "M", "-42", "7k7"))
    val inputs = sample(genCount, 400).distinct
    val got = inputs.toDF("s")
      .select($"s", Cleaners.parseFollowerCount($"s").as("v"))
      .collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    inputs.foreach { s =>
      assert(got(s) === model(s), s"mismatch for input '$s'")
    }
  }

  test("ageBucket: total over all ints in range, exactly one bucket each") {
    val ages = (-5 to 120).toDF("age")
      .select($"age", Cleaners.ageBucket($"age").as("b")).collect()
    val valid = Set("18-24", "25-35", "36-50", "+50")
    ages.foreach { r =>
      val (age, b) = (r.getInt(0), r.getString(1))
      assert(valid.contains(b))
      val expected =
        if (age >= 18 && age <= 24) "18-24"
        else if (age >= 25 && age <= 35) "25-35"
        else if (age >= 36 && age <= 50) "36-50"
        else "+50"
      assert(b === expected, s"age $age")
    }
  }

  test("sentinel nullification is idempotent and only hits exact matches") {
    val genStr: Gen[String] = Gen.oneOf(
      Gen.oneOf(Cleaners.sentinels),
      Gen.alphaNumStr.map(_.take(12)),
      Gen.const("User Info Error "), // near-miss: trailing space survives
      Gen.const("untitled"))         // case-sensitive: survives
    val inputs = sample(genStr, 300).distinct
    val df = inputs.toDF("s")
    val once = Cleaners.nullifySentinels(df)
    val twice = Cleaners.nullifySentinels(once)
    val a = once.collect().map(r => Option(r.getString(0))).toSeq
    val b = twice.collect().map(r => Option(r.getString(0))).toSeq
    assert(a.sortBy(_.getOrElse("")) === b.sortBy(_.getOrElse("")))
    val kept = a.flatten.toSet
    Cleaners.sentinels.foreach(s => assert(!kept.contains(s)))
    assert(kept.contains("User Info Error ") || !inputs.contains("User Info Error "))
    assert(kept.contains("untitled") || !inputs.contains("untitled"))
  }

  test("lower-median: member of group, >= half of group is >= it") {
    val gen = Gen.listOfN(50, Gen.choose(-1000, 1000))
    val groups = sample(gen, 8).zipWithIndex
      .flatMap { case (vs, g) => vs.map(v => (s"g$g", v.toDouble)) }
    val df = groups.toDF("g", "v")
    val med = ops.Queries.lowerMedian(df, Seq("g"), "v", "m")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    groups.groupBy(_._1).foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      assert(med(g) === sorted((sorted.size - 1) / 2), s"group $g")
    }
  }

  test("native as-of join ≡ composed union+window as-of ≡ driver-side " +
      "model over generated keyed event streams (dup timestamps included)") {
    import java.sql.Timestamp
    val genRow = for {
      k <- Gen.choose(1, 6)
      m <- Gen.choose(0, 59)
    } yield (k.toLong, Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"))
    val leftRows = sample(genRow, 120).distinct
    // right side unique per (key, ts) — the operator's documented contract
    val rightRows = sample(genRow, 80).distinct
      .zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toDouble) }
    val left = leftRows.toDF("k", "ts").repartition(5)
    val right = rightRows.toDF("k", "ts", "v").repartition(3)
    val native = graft.plans.AsOfJoinNative.join(left, right, "k", "ts")
      .select("k", "ts", "asof_ts", "asof_v").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)) ->
        (Option(r.getTimestamp(2)), Option(r.get(3)))).toMap
    val composed = ops.EventOps.asOfJoin(left, right, "k", "ts", Seq("v"))
      .select("k", "ts", "asof_ts", "asof_v").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)) ->
        (Option(r.getTimestamp(2)), Option(r.get(3)))).toMap
    assert(native.keySet == leftRows.toSet.map(
      (p: (Long, Timestamp)) => p))
    leftRows.foreach { case (k, ts) =>
      val expect = rightRows.filter(r => r._1 == k && !r._2.after(ts))
        .sortBy(_._2.getTime).lastOption
        .map(r => (Some(r._2), Some(r._3)))
        .getOrElse((None, None))
      assert(native((k, ts)) == expect, s"native vs model at ($k, $ts)")
      assert(composed((k, ts)) == expect, s"composed vs model at ($k, $ts)")
    }
  }

  test("connected components ≡ union-find model over generated edge sets") {
    val genEdge = for {
      a <- Gen.choose(0L, 40L)
      b <- Gen.choose(0L, 40L)
      if a != b
    } yield (math.min(a, b), math.max(a, b))
    val edges = sample(genEdge, 60).distinct
    val got = ops.DedupOps.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // model labels: min node id of each component
    val byRoot = nodes.groupBy(find)
    val label = byRoot.flatMap { case (_, ns) =>
      val m = ns.min; ns.map(_ -> m)
    }
    assert(got == label)
    graft.Caches.releaseAll()
  }

  test("ExactMedian aggregate ≡ sorted lower-median model over generated " +
      "groups (with heavy duplicates to stress the count-map)") {
    val gen = Gen.listOfN(80, Gen.choose(-20, 20)) // narrow domain -> dups
    val groups = sample(gen, 6).zipWithIndex
      .flatMap { case (vs, g) => vs.map(v => (s"g$g", v.toDouble)) }
    val df = groups.toDF("g", "v").repartition(8)
    val agg = df.groupBy("g")
      .agg(graft.functions.ExactMedian.exactMedian(col("v")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    groups.groupBy(_._1).foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      assert(agg(g) === sorted((sorted.size - 1) / 2), s"group $g")
    }
  }

  test("segmentDedup: identity when no segment is shared across docs " +
      "(globally unique words ⇒ untouched verbatim round-trip)") {
    import graft.ops.CorpusOps
    // words unique across the whole corpus: no 10-word segment can repeat
    val docs = (0 until 40).map { d =>
      val n = 5 + (d * 7) % 40
      (d.toLong, (0 until n).map(i => s"w${d}_$i").mkString(" "))
    }
    val out = CorpusOps.segmentDedupFrom(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    docs.foreach { case (id, text) =>
      assert(out(id).getString(1) === text, s"doc $id must round-trip")
      assert(out(id).getLong(3) === 0L, s"doc $id must drop nothing")
    }
  }

  test("segmentDedup: duplicating any document hollows both copies; " +
      "unrelated docs stay untouched") {
    import graft.ops.CorpusOps
    val base = (0 until 20).map { d =>
      val n = 12 + (d * 5) % 30
      (d.toLong, (0 until n).map(i => s"u${d}_$i").mkString(" "))
    }
    val dup = Seq((100L, base(3)._2), (101L, base(7)._2))
    val out = CorpusOps.segmentDedupFrom((base ++ dup).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(3L, 7L, 100L, 101L).foreach { id =>
      assert(out(id).getLong(2) === 0L, s"doc $id must be hollowed")
      assert(out(id).getString(1) === "", s"doc $id must come back empty")
    }
    (base.map(_._1).toSet -- Set(3L, 7L)).foreach { id =>
      assert(out(id).getLong(3) === 0L, s"doc $id must be untouched")
    }
  }

  test("near-dup gate ≡ full-index reference over random batch splits: " +
      "1–5 batches, window unbounded and window ≥ the batch count admit " +
      "and index exactly the reference's doc ids") {
    import graft.streaming.StreamPipeline
    // 6 unrelated 20-word docs plus 4 planted near-dups (an exact copy or
    // one word swapped: Jaccard ≥ 71% on trigrams), under shuffled ids —
    // a dup may carry the smaller id — split into k batches whose ids
    // start at an offset, so a window of k still spans two generations
    val vocab = Gen.oneOf((0 until 300).map(i => s"w$i"))
    val genCase = for {
      bases <- Gen.listOfN(6, Gen.listOfN(20, vocab))
      dups <- Gen.listOfN(4, for {
        b <- Gen.oneOf(bases)
        pos <- Gen.choose(0, 19)
        w <- Gen.oneOf(Gen.const(b(pos)), vocab)
      } yield b.updated(pos, w))
      keys <- Gen.listOfN(10, Gen.choose(0.0, 1.0))
      k <- Gen.choose(1, 5)
      assign <- Gen.listOfN(10, Gen.choose(0, k - 1))
      offset <- Gen.choose(0L, 6L)
      extra <- Gen.choose(0, 2)
    } yield ((bases ++ dups).map(_.mkString(" ")),
      (0L until 10L).sortBy(i => keys(i.toInt)), k, assign, offset, k + extra)
    sample(genCase, 4).foreach { case (texts, ids, k, assign, offset, w) =>
      val docs = ids.zip(texts)
      val batches = (0 until k).map(b =>
        docs.zip(assign).collect { case (d, a) if a == b => d }
          .toDF("doc_id", "text"))
      val base = java.nio.file.Files
        .createTempDirectory("neardup-prop").toString
      def run(name: String)(apply: (org.apache.spark.sql.DataFrame,
          String, String, Long) => Unit): (Set[Long], Set[Long]) = {
        val (idx, out) = (s"$base/${name}_index", s"$base/${name}_out")
        batches.zipWithIndex.foreach { case (b, i) =>
          apply(b, idx, out, offset + i) }
        (StreamPipeline.readGateAdmitted(spark, out, idx)
            .select("doc_id").as[Long].collect().toSet,
          StreamPipeline.readGateIndex(spark, idx)
            .select("doc_id").distinct().as[Long].collect().toSet)
      }
      val exact = run("exact")(StreamPipeline.applyExactGateBatch(_, _, _, _))
      val unbounded = run("unbounded")(
        StreamPipeline.applyNearDupGateBatch(_, _, _, _))
      val windowed = run("windowed")(
        StreamPipeline.applyNearDupGateBatch(_, _, _, _, windowBatches = w))
      val ctx = s"k=$k offset=$offset window=$w ids=$ids assign=$assign"
      assert(exact._1.size < docs.size, s"no near-dup rejected: $ctx")
      assert(unbounded === exact, s"unbounded gate diverged: $ctx")
      assert(windowed === exact, s"windowed gate diverged: $ctx")
    }
  }
}
