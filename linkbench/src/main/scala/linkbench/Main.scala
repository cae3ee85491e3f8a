package linkbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics, one `metric <name> <value> <unit>` line
  * each, then one JSON record as the last stdout line. Progress goes to stderr.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--workdir <dir>]`. `--trace 0` prints the end-to-end metrics, `--trace 1` the
  * per-layer ones; see the README beside this benchmark.
  */
object Main {

  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3
  /** Timed calls a run makes even when `--seconds` has run out. */
  val MinTimedCalls = 2
  /** Untimed calls after the cold one, before timing (README, "Warm-up"). */
  val WarmupCalls: Map[String, Int] =
    Map("dedupe_people" -> 0, "link_many_trials" -> 0, "near_dup_docs" -> 5)

  val SpanNames: Seq[String] = Seq("clean", "rulegen", "max_distinct", "u_pairs", "train",
    "pairs", "predict", "cluster", "ig", "schemamatch", "minhash", "dedupe", "driver_gap")
  val CountNames: Seq[String] = Seq("rulegen.rules", "pairs.candidates", "predict.pairs",
    "cluster.edges", "cluster.max_size", "cluster.clusters", "minhash.pairs",
    "dedupe.keepers")

  private final case class Sample(wall: Double, taskS: Double, shuffleMb: Double,
      heapMb: Double, out: CallOut)

  private var attempted = 0
  private var failed = 0
  private val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = Workload.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val workDir = opts.getOrElse("workdir", ".bench_build")
    val cpus = Runtime.getRuntime.availableProcessors()

    println(s"environment ${environment(cpus)}")
    val ticksAtStart = cpuTicks()
    if (trace) traced(workload, seed, cpus, workDir) else untraced(workload, seed, seconds, cpus, workDir)
    for ((steal0, total0) <- ticksAtStart; (steal1, total1) <- cpuTicks())
      println(f"environment steal=${100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)}%.1f%% " +
        "of cpu time during the run")
    metrics.foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
    println(s"calls attempted=$attempted failed=$failed " +
      f"error_rate=${failed.toDouble / math.max(1, attempted)}%.4f")
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) { failed += 1; "0" } else java.lang.Double.toString(v)

  private def environment(cpus: Int): String = {
    val load = scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ").take(3).mkString(",")).getOrElse("?")
    val self = ProcessHandle.current().pid()
    val jvms = ProcessHandle.allProcesses().filter(p => p.pid() != self &&
      p.info().command().orElse("").endsWith("java")).count()
    s"cpus=$cpus loadavg=$load other_jvms=$jvms"
  }

  /** (steal, total) jiffies of all cpus from /proc/stat: time a virtual machine's
    * host ran something else shows as steal and slows every timing in the run.
    */
  private def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)
    (f(7), f.sum)
  }.toOption

  private def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("linkbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Live heap: full GC, a pause for Spark's ContextCleaner to drop the blocks of
    * the unreachable RDDs/broadcasts that GC found, then another full GC.
    */
  private def usedHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One checked call: a failed or wrong call is counted and yields no sample. */
  private def checkedCall(p: Prepared, rec: Recorder, label: String)(run: => CallOut)
      : Option[Sample] = {
    attempted += 1
    rec.take()
    val t0 = System.nanoTime()
    val out = try Right(run) catch { case e: Exception => Left(e.toString) }
    val wall = secs(t0)
    val cost = rec.takeTotal()
    val heap = usedHeapMb()
    val errors = out.fold(e => Seq(e), p.check)
    System.err.println(f"[linkbench] $label%-10s $wall%8.3f s  jobs=${cost.jobs}%d " +
      f"task_s=${cost.taskMs / 1e3}%.3f heap=$heap%.1f MB" +
      (if (errors.isEmpty) "" else s"  FAILED: ${errors.mkString("; ")}"))
    if (errors.nonEmpty) { failed += 1; None }
    else Some(Sample(wall, cost.taskMs / 1e3, cost.shuffleBytes / 1048576.0, heap,
      out.toOption.get))
  }

  private def untraced(w: Workload, seed: Long, seconds: Double, cpus: Int,
      workDir: String): Unit = {
    var spark: SparkSession = null
    var rec: Recorder = null
    var prepared: Prepared = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, workDir)
      rec = new Recorder(spark.sparkContext)
      prepared = w.prepare(spark, seed)
      secs(t0)
    }
    println(s"input workload=${w.name} seed=$seed fingerprint=${prepared.fingerprint}")
    val p = prepared
    val cold = checkedCall(p, rec, "cold")(p.call())
    (1 to WarmupCalls(w.name)).foreach(i => checkedCall(p, rec, s"warmup$i")(p.call()))
    val timed = scala.collection.mutable.ArrayBuffer[Sample]()
    val start = System.nanoTime()
    // at least MinTimedCalls, so a slow host cannot shrink the median to the single
    // first call, which is the slowest of the window
    var calls = 0
    while (secs(start) < seconds || calls < MinTimedCalls) {
      calls += 1
      checkedCall(p, rec, s"timed$calls")(p.call()).foreach(timed += _)
    }
    if (cold.isEmpty || timed.isEmpty) return // counted in `failed` by checkedCall
    metrics("setup_s") = median(setups) -> "s"
    metrics("wall_s") = median(timed.map(_.wall).toSeq) -> "s"
    metrics("task_s") = median(timed.map(_.taskS).toSeq) -> "s"
    metrics("shuffle_mb") = median(timed.map(_.shuffleMb).toSeq) -> "MB"
    metrics("retained_heap_mb") = median(timed.map(_.heapMb).toSeq) -> "MB"
  }

  private def traced(w: Workload, seed: Long, cpus: Int, workDir: String): Unit = {
    val spark = session(cpus, workDir)
    val sc = spark.sparkContext
    val rec = new Recorder(sc)
    val p = w.prepare(spark, seed)
    println(s"input workload=${w.name} seed=$seed fingerprint=${p.fingerprint}")
    val reference = checkedCall(p, rec, "cold")(p.call())
    (1 to WarmupCalls(w.name)).foreach(i => checkedCall(p, rec, s"warmup$i")(p.call()))
    // the whole-call span: the same call, tagged, between two untagged ones so a
    // linear warm-up trend cancels out of the ratio
    val plain = () => checkedCall(p, rec, "plain")(p.call())
    val overhead = Seq(plain(),
      checkedCall(p, rec, "tagged")(new Spans(sc)("autolink")(p.call())), plain())
    if (reference.isEmpty || overhead.exists(_.isEmpty)) return // counted in `failed`

    val spans = new Spans(sc)
    attempted += 1
    rec.take()
    val t0 = System.nanoTime()
    val errors = try p.replay(spans, reference.get.out)
      catch { case e: Exception => Seq(e.toString) }
    val replayS = secs(t0)
    val layers = rec.take()
    val spanSum = spans.selfNs.values.sum / 1e9
    val gap = math.abs(replayS - spanSum)
    val allErrors = errors ++
      (if (gap > 0.01) Seq(f"span self times sum to $spanSum%.4f s of a $replayS%.4f s replay")
      else Nil)
    System.err.println(f"[linkbench] replay     $replayS%8.3f s" +
      (if (allErrors.isEmpty) "" else s"  FAILED: ${allErrors.mkString("; ")}"))
    if (allErrors.nonEmpty) failed += 1

    SpanNames.foreach { name =>
      val s = spans.selfNs.getOrElse(name, 0L) / 1e9
      val st = layers.getOrElse(name, new LayerStats)
      val taskS = st.taskMs / 1e3
      metrics(s"$name.s") = s -> "s"
      metrics(s"$name.jobs") = st.jobs.toDouble -> "count"
      metrics(s"$name.tasks") = st.tasks.toDouble -> "count"
      metrics(s"$name.task_s") = taskS -> "s"
      metrics(s"$name.util") = (if (s > 0) taskS / (s * cpus) else 0.0) -> "ratio"
      metrics(s"$name.shuffle_mb") = st.shuffleBytes / 1048576.0 -> "MB"
      metrics(s"$name.spill_mb") = st.spillBytes / 1048576.0 -> "MB"
    }
    CountNames.foreach(c => metrics(c) = spans.counts.getOrElse(c, 0L).toDouble -> "count")
    val candidates = spans.counts.getOrElse("pairs.candidates", 0L)
    metrics("predict.match_ratio") = (if (candidates > 0)
      spans.counts("cluster.edges").toDouble / candidates else 0.0) -> "ratio"
    metrics("replay_s") = replayS -> "s"
    metrics("cold_s") = reference.get.wall -> "s"
    metrics("pair_f1") = p.pairF1(reference.get.out) -> "ratio"
    val walls = overhead.map(_.get.wall)
    metrics("tracing_overhead") = 2 * walls(1) / (walls(0) + walls(2)) -> "ratio"
  }
}
