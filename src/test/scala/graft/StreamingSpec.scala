package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamPipeline

/** End-to-end streaming specs (SURVEY.md §5.4): MemoryStream of raw JSON →
  * deserialize → clean → memory sink, driven synchronously with
  * processAllAvailable. Includes the statefulness proof: duplicates arriving
  * in *different* micro-batches are still deduplicated
  * (`(Clone) Kinesis Data Stream.py:131,145,156` semantics).
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def pinJson(index: Int, desc: String, followers: String): String =
    s"""{"index": $index, "unique_id": "u$index", "title": "t",
       |"description": "$desc", "poster_name": "p",
       |"follower_count": "$followers", "tag_list": "a,b",
       |"is_image_or_video": "image", "image_src": "http://x",
       |"downloaded": "1", "save_location": "Local save in /data/art",
       |"category": "art"}""".stripMargin.replaceAll("\n", " ")

  test("pin stream: clean + stateful dedup across micro-batches") {
    import spark.implicits._
    val mem = MemoryStream[String](spark)
    val cleaned = StreamPipeline.pinStream(mem.toDF().toDF("data"))
    val q = cleaned.writeStream.format("memory").queryName("pin_out")
      .outputMode("append").start()
    try {
      mem.addData(pinJson(1, "first", "25k"), pinJson(2, "dup", "1M"))
      q.processAllAvailable()
      mem.addData(pinJson(3, "dup", "9"), pinJson(4, "fresh", "2.5k"))
      q.processAllAvailable()
      val rows = spark.table("pin_out").collect()
      // 'dup' arrived in batch 1 (ind 2) and batch 2 (ind 3): state dedup
      // must keep only the first.
      assert(rows.map(_.getAs[Int]("ind")).toSet === Set(1, 2, 4))
      val byInd = rows.map(r => r.getAs[Int]("ind") -> r).toMap
      assert(byInd(1).getAs[Int]("follower_count") === 25000)
      assert(byInd(2).getAs[Int]("follower_count") === 1000000)
      assert(byInd(4).isNullAt(byInd(4).fieldIndex("follower_count")))
      assert(byInd(1).getAs[String]("save_location") === " /data/art")
    } finally q.stop()
  }

  test("pin stream observed: per-batch quality counters ride the " +
      "micro-batch (no second aggregation) and flag parse failures") {
    import spark.implicits._
    val mem = MemoryStream[String](spark)
    val observed = StreamPipeline.pinStreamObserved(mem.toDF().toDF("data"))
    val q = observed.writeStream.format("memory").queryName("pin_obs_out")
      .outputMode("append").start()
    try {
      // "2.5k" is the reference's unparseable-suffix quirk -> NULL
      mem.addData(pinJson(1, "a", "25k"), pinJson(2, "b", "2.5k"),
        pinJson(3, "c", "1M"))
      q.processAllAvailable()
      val metrics = q.recentProgress
        .flatMap(p => Option(p.observedMetrics.get("pin_quality")))
      assert(metrics.nonEmpty, "no pin_quality observation in progress")
      val m = metrics.last
      assert(m.getAs[Long]("n_rows") === 3L)
      assert(m.getAs[Long]("n_null_follower") === 1L)
      assert(m.getAs[Long]("n_null_category") === 0L)
    } finally q.stop()
  }

  test("geo stream observed: bad timestamp and missing coordinate are " +
      "counted per batch") {
    import spark.implicits._
    val mem = MemoryStream[String](spark)
    val observed = StreamPipeline.geoStreamObserved(mem.toDF().toDF("data"))
    val q = observed.writeStream.format("memory").queryName("geo_obs_out")
      .outputMode("append").start()
    try {
      mem.addData(
        """{"ind": 1, "country": "US", "latitude": 1.5, "longitude": -2.5,
          |"timestamp": "2021-03-04T05:06:07"}""".stripMargin
          .replaceAll("\n", " "),
        """{"ind": 2, "country": "DE", "latitude": null, "longitude": -2.5,
          |"timestamp": "not-a-time"}""".stripMargin.replaceAll("\n", " "))
      q.processAllAvailable()
      val m = q.recentProgress
        .flatMap(p => Option(p.observedMetrics.get("geo_quality"))).last
      assert(m.getAs[Long]("n_rows") === 2L)
      assert(m.getAs[Long]("n_null_timestamp") === 1L)
      assert(m.getAs[Long]("n_null_coord") === 1L)
    } finally q.stop()
  }

  test("user stream observed: bad date and missing name component are " +
      "counted per batch") {
    import spark.implicits._
    val mem = MemoryStream[String](spark)
    val observed = StreamPipeline.userStreamObserved(mem.toDF().toDF("data"))
    val q = observed.writeStream.format("memory").queryName("user_obs_out")
      .outputMode("append").start()
    try {
      mem.addData(
        """{"ind": 1, "first_name": "Ada", "last_name": "L",
          |"age": 30, "date_joined": "2020-01-02T03:04:05"}""".stripMargin
          .replaceAll("\n", " "),
        """{"ind": 2, "first_name": null, "last_name": "X",
          |"age": 40, "date_joined": "nope"}""".stripMargin
          .replaceAll("\n", " "))
      q.processAllAvailable()
      val m = q.recentProgress
        .flatMap(p => Option(p.observedMetrics.get("user_quality"))).last
      assert(m.getAs[Long]("n_rows") === 2L)
      assert(m.getAs[Long]("n_null_date") === 1L)
      assert(m.getAs[Long]("n_null_name") === 1L)
    } finally q.stop()
  }

  test("geo stream: coordinates packed, dedup on ind across batches") {
    import spark.implicits._
    val mem = MemoryStream[String](spark)
    def geoJson(ind: Int, country: String): String =
      s"""{"ind": $ind, "country": "$country", "latitude": 1.5,
         |"longitude": -2.5, "timestamp": "2021-03-04T05:06:07"}"""
        .stripMargin.replaceAll("\n", " ")
    val cleaned = StreamPipeline.geoStream(mem.toDF().toDF("data"))
    val q = cleaned.writeStream.format("memory").queryName("geo_out")
      .outputMode("append").start()
    try {
      mem.addData(geoJson(1, "US"))
      q.processAllAvailable()
      mem.addData(geoJson(1, "US"), geoJson(2, "DE"))
      q.processAllAvailable()
      val rows = spark.table("geo_out").collect()
      assert(rows.map(_.getAs[Int]("ind")).toSet === Set(1, 2))
      val c = rows.find(_.getAs[Int]("ind") == 1).get
        .getAs[scala.collection.Seq[Float]]("coordinates")
      assert(c === Seq(1.5f, -2.5f))
    } finally q.stop()
  }

  test("windowed counts with watermark over a file-backed event stream") {
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamPipeline.windowedCounts(events, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      def t(h: Int, m: Int) =
        java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      mem.addData((t(0, 10), "click", 1.5), (t(0, 40), "click", 2.5),
        (t(1, 10), "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first windows
      mem.addData((t(9, 0), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      val clickH0 = rows.find(r => r.getAs[String]("event_type") == "click" &&
        r.getAs[java.sql.Timestamp]("window_start") == t(0, 0))
      assert(clickH0.isDefined, s"hour-0 click window missing: ${rows.toSeq}")
      assert(clickH0.get.getAs[Long]("n_events") === 2)
      assert(clickH0.get.getAs[Double]("total_value") === 4.0)
    } finally q.stop()
  }

  test("parquet append sink with checkpoint recovers exactly-once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val mem = MemoryStream[String](spark)
    val cleaned = StreamPipeline.userStream(mem.toDF().toDF("data"))
    def userJson(ind: Int): String =
      s"""{"ind": $ind, "first_name": "A", "last_name": "B", "age": 30,
         |"date_joined": "2017-05-01T10:00:00"}"""
        .stripMargin.replaceAll("\n", " ")
    val q = StreamPipeline.startParquetSink(cleaned, s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData(userJson(1), userJson(2), userJson(1))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() === 2)
    assert(out.columns.toSeq === Seq("ind", "user_name", "age", "date_joined"))
    assert(out.filter(col("user_name") === "A B").count() === 2)
  }

  test("self-compacting append sink: file count stays bounded across " +
      "many micro-batches and no rows are lost or duplicated") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("compact-sink").toString
    // the plain local path and its file: URI form must both compact
    Seq("plain", "uri").foreach { form =>
      val dir = new java.io.File(base, form)
      val local = new java.io.File(dir, "out")
      val out = if (form == "uri") local.toURI.toString else local.toString
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)](spark)
      val q = StreamPipeline.startCompactingSink(
        mem.toDF().toDF("id", "payload"),
        out, s"$dir/ckpt", maxFiles = 6, targetRecordsPerFile = 100)
      try {
        (0 until 12).foreach { b =>
          mem.addData((0 until 5).map(i => (b * 5L + i, s"row-$b-$i")): _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      val files = Option(local.listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
      // 12 appends would leave ≥12 files (one per batch per partition)
      // without compaction; the sink must keep folding them back down
      assert(files <= 8, s"$out: compaction did not bound file count: $files")
      val rows = spark.read.parquet(out)
      assert(rows.count() === 60)
      assert(rows.select("id").distinct().count() === 60)
    }
  }

  test("runAvailableNow: drains what exists, stops, and a second run is " +
      "incremental and exactly-once across the shared checkpoint") {
    val root = java.nio.file.Files.createTempDirectory("avail-now").toString
    val src = new java.io.File(s"$root/src"); src.mkdirs()
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/src/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    writeFile("batch1.json",
      Seq(pinJson(1, "one", "1k"), pinJson(2, "two", "2k")))
    val stream1 = StreamPipeline.pinStream(
      StreamPipeline.rawTextDir(spark, s"$root/src"))
    assert(StreamPipeline.runAvailableNow(
      stream1, s"$root/out", s"$root/ckpt"), "first drain must finish")
    val after1 = spark.read.parquet(s"$root/out")
    assert(after1.count() === 2)
    // second run: one new file; the checkpoint must skip the old one
    writeFile("batch2.json", Seq(pinJson(3, "three", "3k")))
    val stream2 = StreamPipeline.pinStream(
      StreamPipeline.rawTextDir(spark, s"$root/src"))
    assert(StreamPipeline.runAvailableNow(
      stream2, s"$root/out", s"$root/ckpt"), "second drain must finish")
    val after2 = spark.read.parquet(s"$root/out")
    assert(after2.count() === 3, "incremental: only the new file's rows")
    assert(after2.select("ind").as[Int](org.apache.spark.sql.Encoders.scalaInt)
      .collect().toSet === Set(1, 2, 3))
  }
}
