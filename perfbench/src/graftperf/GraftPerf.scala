package graftperf

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. One process = one workload, one seed: set up
 * (session, inputs, warm-up), then a closed loop of operations for the
 * given seconds, each followed by an output check outside its timing.
 * The last stdout line is the result object; run.py wraps the launch. */
object GraftPerf {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        convs: Option[Long], out: String, work: String, t0Ms: Long)

  /** Default input size per workload. */
  val DefaultSize: Map[String, Size] = Map("traversal" -> Size(600, 12), "session" -> Size(600, 12))
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  /** Input materializations whose median counts towards set-up. */
  val InputReps = 3
  /** Untimed operations before the measured loop. */
  val Warmups = 1

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      kv.get("convs").map(_.toLong), get("out"), get("work"), get("t0-ms").toLong)
  }

  /** The benchmark's own copy of the session settings (graft.Bench's,
   * with local storage inside the work directory). */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftperf")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.shuffle.compress", "true")
      .config("spark.shuffle.spill.compress", "true")
      .config("spark.rdd.compress", "true")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def write(path: String, text: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.write(text) finally w.close()
  }

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[graftperf ${(System.nanoTime() - started) / 1e9}%7.2fs] $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val size = {
      val d = DefaultSize(a.workload)
      a.convs.fold(d)(c => d.copy(convs = c))
    }
    new File(a.out).mkdirs()
    val spark = session(a)
    val launchS = (System.currentTimeMillis() - a.t0Ms) / 1e3
    val tracer = new Tracer
    val h = new Harness(spark, tracer)
    val w = Workload(a.workload, h, size, a.seed)
    var attempted = 0
    var failed = 0

    // Set-up, part 1: inputs generated and written several times; the
    // median is the figure, the last copy is the one the runs read.
    val inputTimes = (1 to InputReps).map { i =>
      val dir = Paths.get(a.work, s"inputs-$i")
      val t0 = System.nanoTime()
      w.prepare(dir.toString)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"inputs $i: $s%.2fs")
      if (i > 1) deleteTree(Paths.get(a.work, s"inputs-${i - 1}"))
      s
    }

    // One operation: the timed call, then the check and the release of
    // everything it pinned. Returns the record when both succeeded.
    var runId = 0
    def operation(traced: Boolean): Option[OpRecord] = {
      runId += 1
      attempted += 1
      val rec = new OpRecord(traced, runId)
      tracer.enabled = traced
      tracer.run = runId
      if (traced) spark.sparkContext.addSparkListener(h.tasks)
      val storeBefore = h.storageMb
      try {
        val t0 = System.nanoTime()
        val out = tracer("run")(w.run(rec))
        rec.seconds = (System.nanoTime() - t0) / 1e9
        log(f"run $runId${if (traced) " (traced)" else ""}: ${rec.seconds}%.2fs, calls " +
          rec.calls.map(c => f"${c.seconds}%.2fs/${c.steps.size}").mkString(" "))
        val bad = tracer("check")(w.check(out))
        h.releaseAll()
        rec.retainedMb = h.storageMb - storeBefore
        if (bad == 0) Some(rec)
        else {
          failed += 1
          log(s"run $runId: output check found $bad violations")
          None
        }
      } catch {
        case NonFatal(e) =>
          failed += 1
          log(s"run $runId failed: $e")
          e.printStackTrace()
          h.releaseAll()
          None
      } finally {
        if (traced) spark.sparkContext.removeSparkListener(h.tasks)
        tracer.enabled = false
      }
    }

    // The checks' references are built before the first operation and
    // are not part of set-up: they cost the benchmark, not the engine.
    val refT0 = System.nanoTime()
    w.buildReferences()
    val refS = (System.nanoTime() - refT0) / 1e9
    log(f"references: $refS%.2fs")

    // Set-up, part 2: warm-up runs, not results but part of set-up (their
    // timed calls only; checks are the benchmark's cost).
    val warmupS = (1 to Warmups).flatMap(_ => operation(traced = false)).map(_.seconds).sum
    val setupS = launchS + Stats.median(inputTimes) + warmupS
    val fingerprints = w.fingerprints
    fingerprints.foreach(f => println("fingerprint " + Json(f)))

    // Measurement: a closed loop for the given seconds. Traced runs
    // alternate with untraced ones, so the overhead is measured in the
    // same window.
    val records = ArrayBuffer[OpRecord]()
    val untraced = ArrayBuffer[Double]()
    val m0 = System.nanoTime()
    var i = 0
    def enough = records.nonEmpty && (!a.trace || untraced.nonEmpty)
    while ((System.nanoTime() - m0) / 1e9 < a.seconds || !enough && i < 8) {
      val traced = a.trace && i % 2 == 0
      operation(traced).foreach { r => if (traced) records += r else { untraced += r.seconds; if (!a.trace) records += r } }
      i += 1
    }
    val measureS = (System.nanoTime() - m0) / 1e9

    val runS = records.map(_.seconds).toSeq
    val ok = failed == 0 && runS.nonEmpty
    val e2e: Seq[(String, Double, String)] =
      if (runS.isEmpty) Nil
      else Seq(
        ("run_s", Stats.median(runS), "s"),
        ("edge_steps_per_s", Stats.median(records.map(r => r.edgeSteps / r.seconds).toSeq), "1/s"),
        ("setup_s", setupS, "s"),
        ("ok_rate", 1.0 - failed.toDouble / attempted, "ratio"))
    val layers: Seq[(String, Double, String)] =
      if (!a.trace || runS.isEmpty) Nil
      else Layers(records.toSeq, tracer) ++ Seq(
        ("fail_rate", failed.toDouble / attempted, "ratio"),
        ("peak_rss_mb", peakRssMb(), "MB"),
        ("trace.overhead_s", if (untraced.isEmpty) 0.0 else Stats.median(runS) - Stats.median(untraced.toSeq), "s"))
    val metrics = Obj((if (a.trace) layers else e2e).map { case (n, v, u) => n -> Obj("value" -> v, "unit" -> u) }: _*)

    val stem = s"${a.out}/${a.workload}-seed${a.seed}"
    val timing = Obj("median_s" -> (if (runS.isEmpty) None else Some(Stats.median(runS))),
      "tail" -> Stats.tailPercentile(runS).map { case (p, v) => Obj("percentile" -> p, "value_s" -> v) },
      "samples" -> runS.size, "runs_s" -> runS)
    val summary = Obj(
      "workload" -> a.workload, "seed" -> a.seed, "convs" -> size.convs, "turns" -> size.turns, "traced" -> a.trace,
      "cores" -> Cores, "fingerprints" -> fingerprints, "run_s" -> timing,
      "setup" -> Obj("launch_s" -> launchS, "inputs_s" -> inputTimes, "warmup_s" -> warmupS, "setup_s" -> setupS),
      "reference_s" -> refS, "measure_s" -> measureS, "attempted" -> attempted, "failed" -> failed,
      "untraced_run_s" -> untraced.toSeq,
      "metrics" -> metrics)
    if (a.trace) {
      write(s"$stem-spans.jsonl", tracer.spans.map(s => Json(Obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> tracer.selfSeconds(s)))).mkString("", "\n", "\n"))
      write(s"$stem-layers.json", Json(summary) + "\n")
    } else write(s"$stem-e2e.json", Json(summary) + "\n")

    println("run_s " + Json(timing))
    spark.stop()
    println(Json(Obj("correct" -> ok, "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)))
  }
}

/** Per-layer figures of the traced runs: each is computed per run, then
 * the median over runs is reported. Layers a workload does not call
 * read 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "graph.derive_s" -> "s", "graph.vertices" -> "count", "graph.edges" -> "count", "graph.cached_mb" -> "MB",
    "pregel.run_s" -> "s", "pregel.loop_s" -> "s", "pregel.setup_s" -> "s", "pregel.supersteps" -> "count",
    "pregel.step_ms_p50" -> "ms", "pregel.step_ms_p90" -> "ms", "pregel.push_steps" -> "count",
    "pregel.pull_steps" -> "count", "pregel.pull_shuffle_steps" -> "count", "pregel.delta_steps" -> "count",
    "pregel.msgs" -> "count", "pregel.respond" -> "count", "pregel.jobs" -> "count", "pregel.tasks" -> "count",
    "pregel.shuffle_write_mb" -> "MB", "pregel.shuffle_read_mb" -> "MB", "pregel.shuffle_records" -> "count",
    "pregel.task_ms_max" -> "ms", "pregel.task_ms_p50" -> "ms", "pregel.spill_mb" -> "MB", "pregel.gc_s" -> "s",
    "pregel.retained_storage_mb" -> "MB",
    "algos.pagerank_s" -> "s", "algos.cc_s" -> "s", "algos.lpa_s" -> "s", "algos.sssp_s" -> "s",
    "algos.triangles_s" -> "s", "algos.triangles_shuffle_mb" -> "MB")

  def perRun(r: OpRecord, tracer: Tracer): Map[String, Double] = {
    def spanS(name: String): Double =
      tracer.spans.iterator.filter(s => s.run == r.run && s.name == name).map(_.seconds).sum
    val steps = r.calls.flatMap(_.steps).toSeq
    val stepMs = steps.map(_.wallMs.toDouble)
    val agg = new TaskAgg
    r.calls.flatMap(_.tasks).foreach(agg.add)
    def styled(tag: String): Double = steps.count(_.style == tag).toDouble
    val runS = r.calls.map(_.seconds).sum
    val loopS = stepMs.sum / 1e3
    Map(
      "graph.derive_s" -> (spanS("graph.derive") + spanS("graph.load")),
      "graph.vertices" -> r.gauges("graph.vertices"),
      "graph.edges" -> r.gauges("graph.edges"),
      "graph.cached_mb" -> r.gauges("graph.cached_mb"),
      "pregel.run_s" -> runS,
      "pregel.loop_s" -> loopS,
      "pregel.setup_s" -> (runS - loopS),
      "pregel.supersteps" -> steps.size.toDouble,
      "pregel.step_ms_p50" -> (if (stepMs.isEmpty) 0.0 else Stats.quantile(stepMs, 0.5)),
      "pregel.step_ms_p90" -> (if (stepMs.isEmpty) 0.0 else Stats.quantile(stepMs, 0.9)),
      "pregel.push_steps" -> styled("push"),
      "pregel.pull_steps" -> styled("pull"),
      "pregel.pull_shuffle_steps" -> styled("pull_shuffle"),
      "pregel.delta_steps" -> steps.count(_.delta).toDouble,
      "pregel.msgs" -> steps.map(_.estMsgs).sum.toDouble,
      "pregel.respond" -> steps.map(_.respondCount).sum.toDouble,
      "pregel.jobs" -> agg.jobs.toDouble,
      "pregel.tasks" -> agg.tasks.toDouble,
      "pregel.shuffle_write_mb" -> agg.shuffleWriteBytes / 1e6,
      "pregel.shuffle_read_mb" -> agg.shuffleReadBytes / 1e6,
      "pregel.shuffle_records" -> agg.shuffleRecords.toDouble,
      "pregel.task_ms_max" -> (if (agg.taskMs.isEmpty) 0.0 else agg.taskMs.max),
      "pregel.task_ms_p50" -> (if (agg.taskMs.isEmpty) 0.0 else Stats.quantile(agg.taskMs.toSeq, 0.5)),
      "pregel.spill_mb" -> agg.spillBytes / 1e6,
      "pregel.gc_s" -> agg.gcMs / 1e3,
      "pregel.retained_storage_mb" -> r.retainedMb,
      "algos.pagerank_s" -> spanS("algos.pagerank"),
      "algos.cc_s" -> spanS("algos.cc"),
      "algos.lpa_s" -> spanS("algos.lpa"),
      "algos.sssp_s" -> spanS("algos.sssp"),
      "algos.triangles_s" -> spanS("algos.triangles"),
      "algos.triangles_shuffle_mb" -> r.scoped.get("algos.triangles").map(_.shuffleWriteBytes / 1e6).getOrElse(0.0))
  }

  def apply(records: Seq[OpRecord], tracer: Tracer): Seq[(String, Double, String)] = {
    val runs = records.map(perRun(_, tracer))
    Units.map { case (name, unit) => (name, Stats.median(runs.map(_(name))), unit) }
  }
}
