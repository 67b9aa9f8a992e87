package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * main with `key=value` arguments, and reads back `result.json` (and, in a
  * traced run, `spans.jsonl`) from the run directory.
  *
  * Untraced run: session start, [[SetupReps]] set-ups (by default each one
  * warm-up iteration), then timed iterations for
  * `seconds`, then the correctness outputs. Traced run: the same untraced
  * loop for half the time, then traced iterations of the workload; then
  * one traced iteration of every other workload, so that the run reports
  * every layer. The traced/untraced wall-time ratio is the tracing
  * overhead.
  */
object Main {
  /** Set-ups per untraced run; `setup_s` reports their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val conf = argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val launchMs = conf("launchEpochMs").toLong
    val runDir = conf("runDir")
    val cores = conf("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.graft.staging.root", s"$runDir/staging")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.EngineConf(spark)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3

    val ctx = new Ctx(spark, conf, runDir, counters, conf.get("failOp"))
    val traced = conf("trace") == "1"
    val primary = Workload(conf("workload"), ctx)
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("session_s") = sessionS
    try {
      val untracedSecs = if (traced) conf("seconds").toDouble / 2
        else conf("seconds").toDouble
      // a traced run reports no end-to-end metric, so it sets up once
      val reps = if (traced) 1 else SetupReps
      val setups = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        primary.setUp(r)
        (System.nanoTime() - t0) / 1e9
      }
      out("setup_reps_s") = setups
      out("setup_s") = sessionS + Stats.median(setups)
      val untraced = primary.measure(untracedSecs,
        new Tracer(spark, counters, false))
      out ++= untraced.summary
      out ++= primary.checks()
      if (traced) {
        val tracer = new Tracer(spark, counters, true)
        val t0 = System.nanoTime()
        val c0 = counters.snapshot()
        val tracedRes = primary.measure(conf("seconds").toDouble / 2, tracer)
        val c1 = counters.snapshot()
        val busy = (System.nanoTime() - t0) / 1e9
        out("trace.overhead_ratio") =
          tracedRes.wallMedian / untraced.wallMedian - 1.0
        out ++= sparkLayer(c1.zip(c0).map { case (a, b) => a - b }, busy,
          cores)
        val layers = mutable.LinkedHashMap.empty[String, Double]
        layers ++= primary.layers(tracer)
        Workload.names.filterNot(_ == primary.name).foreach { n =>
          val w = Workload(n, ctx)
          w.setUp(1)
          w.measure(0.0, tracer)
          layers ++= w.layers(tracer)
        }
        out ++= layers
        tracer.writeJsonLines(s"$runDir/spans.jsonl")
      }
      out("peak_rss_mb") = peakRssMb()
    } catch {
      case e: Throwable =>
        out("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    out("op_ms") = ctx.opMs.map { case (k, v) => k -> v.reverse }
    out("attempted") = ctx.attempted
    out("failed") = ctx.failed
    Json.write(s"$runDir/result.json", out)
    spark.stop()
    System.exit(0)
  }

  /** The `spark.*` layer: listener counters over the traced loop. */
  def sparkLayer(d: Vector[Long], wallS: Double,
      cores: Int): Seq[(String, Double)] = {
    val m = SparkCounters.names.zip(d).toMap
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.task_s" -> m("task_ms") / 1e3,
      "spark.busy_share" -> m("task_ms") / 1e3 / (wallS * cores),
      "spark.shuffle_read_mb" -> m("shuffle_read_bytes") / mb,
      "spark.shuffle_write_mb" -> m("shuffle_write_bytes") / mb,
      "spark.spill_mb" -> m("spill_bytes") / mb,
      "spark.gc_s" -> m("gc_ms") / 1e3,
      "spark.jobs" -> m("jobs").toDouble,
      "spark.stages" -> m("stages").toDouble,
      "spark.tasks" -> m("tasks").toDouble)
  }

  /** The process's resident-set high-water mark (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** What every workload shares: the session, the arguments, the run
  * directory, and the failure accounting.
  */
final class Ctx(val spark: SparkSession, val conf: Map[String, String],
    val runDir: String, val counters: SparkCounters,
    failOp: Option[String]) {
  private var forcedFailureDone = false
  var attempted = 0L
  var failed = 0L
  /** Wall ms of every successful operation, by name, for the run record. */
  val opMs = mutable.LinkedHashMap.empty[String, List[Double]]

  /** True while [[Workload.measure]] runs its timed iterations. */
  var timing = false

  /** One counted operation. A failure is counted and returns None, so its
    * time never enters a latency sample. `failOp` makes the first timed
    * run of the named operation fail (the self-test's forced failure).
    */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try {
      if (timing && failOp.contains(name) && !forcedFailureDone) {
        forcedFailureDone = true
        throw new RuntimeException(s"forced failure of $name")
      }
      val t0 = System.nanoTime()
      val r = body
      opMs(name) = (System.nanoTime() - t0) / 1e6 :: opMs.getOrElse(name, Nil)
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] operation $name failed: $e")
        None
    }
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def path(p: String): String = s"$runDir/$p"
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => dirBytes(x.getPath)).sum)
      .getOrElse(0L)
  }

  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.listFiles).foreach(_.foreach(x => deleteTree(x.getPath)))
    f.delete()
  }
}

object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}
