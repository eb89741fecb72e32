package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** Thread-safe record of timed operations in the measured window. */
final class Recorder {
  private val lat = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private var nAttempted = 0L
  private var nFailed = 0L
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def ok(kind: String, ms: Double): Unit = synchronized {
    lat += ((kind, ms)); nAttempted += 1
  }
  def fail(kind: String, why: String): Unit = synchronized {
    nAttempted += 1; nFailed += 1
    if (failures.length < 20) failures += s"$kind: $why"
  }
  /** A completed operation whose output check failed later. */
  def wrong(kind: String, why: String): Unit = synchronized {
    nFailed += 1
    if (failures.length < 20) failures += s"$kind: $why"
  }
  def latencies: Seq[Double] = synchronized(lat.map(_._2).toSeq)
  def all: Seq[(String, Double)] = synchronized(lat.toSeq)
  def attempted: Long = synchronized(nAttempted)
  def failed: Long = synchronized(nFailed)
  def failureSamples: Seq[String] = synchronized(failures.toSeq)
}

object Stats {
  /** Nearest-rank percentile (p in 0..100) of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s((math.ceil(p / 100.0 * s.length).toInt - 1).max(0).min(s.length - 1))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Latency of a unit of work made of several operation kinds: the sum
    * over kinds of weight × that kind's median latency (weights of kinds
    * without samples are spread over the others). Per-kind medians keep
    * the figure off the gap between cheap and costly kinds, where a plain
    * median of the pooled sample jumps with a request or two. */
  def mixMedian(ops: Seq[(String, Double)], weights: Map[String, Double])
      : Double = {
    val byKind = ops.groupBy(_._1).filter { case (k, _) => weights.contains(k) }
    val present = byKind.keys.toSeq.map(weights).sum
    if (present == 0) 0.0
    else byKind.map { case (k, v) => weights(k) * median(v.map(_._2)) }.sum *
      weights.values.sum / present
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def metrics(ms: Seq[(String, M)]): String =
    ms.map { case (k, m) =>
      s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}"
    }.mkString("{", ", ", "}")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** What every workload provides to the run loop in [[Main]]. */
trait Workload {
  /** Generate the inputs and build the collection and its layouts under
    * `dir`. Called [[setupReps]] times per run (each into a fresh dir);
    * the last call's state is what the window measures. Returns
    * per-layout build seconds. */
  def setup(dir: String): Map[String, Double]
  /** Set-ups per run; setup_s is their median. The first is cold (JIT,
    * codegen), so it needs at least two warm ones beside it. */
  def setupReps: Int
  /** Untimed requests that let JIT, codegen and lazy caches settle. */
  def warmup(): Unit
  /** Run the closed-loop clients until `deadlineNs`. */
  def run(deadlineNs: Long): Unit
  /** Output checks for the operations of the window (after it closed). */
  def check(): Unit
  def recorder: Recorder
  /** Content hash of every generated input of the kept setup. */
  def inputHash: String
  /** Wall seconds of the measured window. */
  def windowS: Double
  /** The end-to-end metrics of BENCHMARK.json, in this workload's
    * meaning of each (see WORKLOADS.md); setup_s is filled in by
    * [[Main]]. */
  def endToEnd: Seq[(String, M)]
  /** Every end-to-end metric the workload defines, by its own name. */
  def detail: Seq[(String, M)]
  /** Per-layer metrics from the traced run's spans. */
  def perLayer(tr: Tracer): Seq[(String, M)]
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, out: String)


  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--work"), get("--out"))
  }

  def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq(-1.0) }

  /** Peak resident set of this process in MB (VmHWM). */
  def rssPeakMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.replaceAll("[^0-9]", "").toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally w.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try {
        var n = 0L
        w.forEach(x => if (Files.isRegularFile(x)) n += Files.size(x))
        n
      } finally w.close()
    }

  /** Drain a DataFrame the way graft.Bench does (its declared physical
    * plan, all columns) and keep the rows, copied. */
  def drain(df: DataFrame): Array[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).collect()

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(args.work)
    rmTree(work)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, args.trace)
    val wl: Workload = args.workload match {
      case "serve" => new Serve(spark, args.seed, tracer)
      case "curate" => new Curate(spark, args.seed, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up is repeated into fresh directories and its median reported:
    // one set-up is too noisy a sample to bound a regression by
    val reps = (1 to wl.setupReps).map { i =>
      val dir = work.resolve(s"setup$i")
      val t0 = System.nanoTime()
      val builds = tracer.span(s"setup$i")(_ => wl.setup(dir.toString))
      val s = (System.nanoTime() - t0) / 1e9
      if (i < wl.setupReps) rmTree(dir)
      (s, builds, wl.inputHash)
    }
    // every repetition regenerates the inputs from the seed: they must
    // hash alike
    require(reps.map(_._3).distinct.length == 1,
      s"inputs differ between set-ups of one seed: ${reps.map(_._3)}")
    val setupS = Stats.median(reps.map(_._1))
    val buildS = reps.flatMap(_._2).groupBy(_._1).map { case (k, v) =>
      k -> Stats.median(v.map(_._2)) }
    val tw = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - tw) / 1e9
    tracer.drain()
    tracer.spans.clear()
    tracer.acc.clear()
    tracer.stageTasks.clear()

    wl.run(System.nanoTime() + args.seconds * 1000000000L)
    tracer.close()
    wl.check()
    val loadAfter = loadavg()
    val rss = rssPeakMb()

    val rec = wl.recorder
    val e2e = wl.endToEnd.map {
      case ("setup_s", _) => "setup_s" -> M(setupS, "s")
      case x => x
    }
    val attempted = rec.attempted
    val failed = rec.failed
    val errorRate = if (attempted == 0) 1.0 else failed.toDouble / attempted
    val reportMetrics = Seq(
      "setup_s" -> M(setupS, "s"),
      "error_rate" -> M(errorRate, "ratio"),
      "rss_peak_mb" -> M(rss, "MB")) ++ wl.detail
    val layer =
      if (args.trace)
        wl.perLayer(tracer) ++
          buildS.toSeq.sortBy(_._1).map { case (k, v) =>
            s"setup.build_s.$k" -> M(v, "s") } ++
          // traced end-to-end values, for the tracing overhead
          e2e.map { case (k, m) => s"traced.$k" -> m }
      else Nil
    val sparkVersion = spark.version
    val xmx = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val context = Json.obj(Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "input_sha256" -> Json.str(wl.inputHash),
      "seconds" -> args.seconds.toString,
      "window_s" -> Json.num(wl.windowS),
      "trace" -> (if (args.trace) "1" else "0"),
      "nproc" -> cpus.toString,
      "xmx_mb" -> xmx.toString,
      "spark_version" -> Json.str(sparkVersion),
      "git_commit" -> Json.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "source_sha256" -> Json.str(
        sys.env.getOrElse("PERFBENCH_SOURCE_SHA256", "unknown")),
      "load_before" -> loadBefore.map(Json.num).mkString("[", ", ", "]"),
      "load_after" -> loadAfter.map(Json.num).mkString("[", ", ", "]"),
      "session_start_s" -> Json.num(sessionS),
      "setup_reps_s" -> reps.map(r => Json.num(r._1)).mkString("[", ", ", "]"),
      "warmup_s" -> Json.num(warmupS),
      "failures" -> rec.failureSamples.map(Json.str).mkString("[", ", ", "]"),
      "ops" -> rec.all.map { case (k, ms) => s"[${Json.str(k)}, ${Json.num(ms)}]" }
        .mkString("[", ", ", "]")))
    val correct = failed == 0
    val full = Json.obj(Seq(
      "context" -> context,
      "end_to_end" -> Json.metrics(reportMetrics),
      "per_layer" -> Json.metrics(layer)))
    Files.createDirectories(Paths.get(args.out).getParent)
    Files.write(Paths.get(args.out), (full + "\n").getBytes(StandardCharsets.UTF_8))
    if (args.trace) {
      val sp = tracer.all.sortBy(_.id).map(s => Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "req" -> s.req.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "dur_ns" -> s.durNs.toString)))
      Files.write(Paths.get(args.out.stripSuffix(".json") + ".spans.jsonl"),
        sp.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    println(full)
    val shown = if (args.trace) layer else e2e
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${Json.metrics(shown)}}""")
    spark.stop()
    rmTree(work)
  }
}
