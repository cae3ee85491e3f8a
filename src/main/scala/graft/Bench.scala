package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against SPARK_GRAFT_SF_DIR and prints
  * one JSON line with per-query wall seconds. Optional first arg = regex filter over
  * query names (local profiling); driver runs it with no args.
  */
object Bench {
  /** Run-condition snapshot: other JVMs alive and the 1-min load average. A
    * bench record produced next to a concurrent sbt/driver JVM is not comparable
    * to a quiet-machine run (round 7's 310.9 vs 406.7 s ambiguity) — stamping
    * both into the artifact makes every record self-describe its conditions.
    */
  private def otherJvms(): Int = {
    val self = ProcessHandle.current().pid()
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self &&
        p.info().command().map[Boolean](_.contains("java")).orElse(false)
    }
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Committed per-query seconds from a prior record (for outlier re-timing).
    * The record is the one-line JSON this main writes; query names are plain
    * `[a-z0-9_]+` identifiers, so a regex scan of the "queries" object is exact.
    */
  private def priorTimings(path: String): Map[String, Double] =
    try {
      val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      val qobj = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(text).map(_.group(1))
      qobj.map { body =>
        """"([A-Za-z0-9_]+)":([0-9][0-9.eE+-]*)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }

  /** Load gate (r8 verdict #1): a canonical record produced at load 6/32 read 2×
    * slower than the same code at load 1.3 — and three sort/exchange-heavy queries
    * amplified the background load 11–18×. Rather than silently benchmarking a
    * busy machine, wait (bounded) for the 1-min load to drop below the gate; if it
    * never does, proceed but stamp `"contaminated": true` into the record so the
    * number can never be mistaken for a quiet-machine measurement.
    */
  private def awaitQuietMachine(gate: Double, maxWaitMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    var load = loadAvg()
    while (load > gate && System.currentTimeMillis() < deadline) {
      System.err.println(f"[bench] load $load%.2f > gate $gate%.1f — waiting for quiet machine")
      Thread.sleep(15000)
      load = loadAvg()
    }
    load <= gate
  }

  // ---- calibration probes (r9 verdict #1) ----------------------------------
  // Fixed work, timed and stamped into the record, so cross-round per-query
  // ratios can be normalized: a fleet-wide swing that shows up equally in the
  // probes is the HOST (different sandbox hardware/neighbors), a swing in
  // cal_cpu_end_s but not cal_cpu_s is in-session JVM degradation, and a
  // per-query swing the probes don't share is the code.

  /** Single-thread xorshift64 mix — pure register ALU work, no memory traffic. */
  private def xorshiftWork(iters: Long, seed: Long): Long = {
    var x = seed
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  /** Sink defeats dead-code elimination of the probe loops. */
  @volatile private var calSink = 0L

  private def timeIt(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** ~1–2 s of single-thread ALU work on 2025 hardware. */
  private val CalIters = 1200000000L

  private def calCpu(): Double =
    timeIt { calSink ^= xorshiftWork(CalIters, 0x9E3779B97F4A7C15L) }

  /** The same total work split across `threads` — measures effective parallel
    * throughput (fewer usable cores / noisy neighbors show up here first).
    */
  private def calMt(threads: Int): Double = timeIt {
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until threads).map { k =>
      new Thread(() => { acc.addAndGet(xorshiftWork(CalIters / threads, 0x1234 + k)) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    calSink ^= acc.get()
  }

  /** Fixed 10M-row hash-agg shuffle — exchange + agg machinery at suite settings. */
  private def calShuffle(spark: SparkSession): Double = timeIt {
    spark.range(10000000L)
      .selectExpr("id % 1024 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"),
        org.apache.spark.sql.functions.count("*"))
      .count()
  }

  /** Fixed-work disk I/O probe (r10 verdict #2): write 256 MB to the shuffle/temp
    * filesystem in 1 MB chunks with an fsync, read it back, delete. The r10 driver
    * run showed the memory/disk-contention-sensitive queries (j6_one_to_one, the
    * prefix/minhash expansion joins) spiking 1.5–6.3× while CPU probes stayed
    * flat — co-located page-cache/disk pressure is the one contention axis the
    * cpu/mt/shuffle probes cannot see. With cal_io_s stamped into the record, a
    * per-query spike that the I/O probe shares is attributable to the HOST's
    * disk/memory state, not the plan.
    */
  private def calIo(): Double = {
    // probe the filesystem Spark actually shuffles/spills on: spark.local.dir when
    // set, else java.io.tmpdir. Caveat (r11 advice): when that path is tmpfs the
    // fsync is a no-op and cal_io_s measures memory bandwidth, not disk — still the
    // right surface for attributing co-located page-cache pressure, but not a
    // spinning-disk number.
    val dir = sys.props.get("spark.local.dir")
      .orElse(sys.env.get("SPARK_LOCAL_DIRS").map(_.split(",")(0)))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val tmp = java.nio.file.Paths.get(
      dir, s"graft_cal_io_${ProcessHandle.current().pid()}.bin")
    val chunk = new Array[Byte](1 << 20)
    new java.util.Random(42).nextBytes(chunk)
    val chunks = 256
    try {
      timeIt {
        val ch = java.nio.channels.FileChannel.open(tmp,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          var i = 0
          while (i < chunks) { ch.write(java.nio.ByteBuffer.wrap(chunk)); i += 1 }
          ch.force(false)
        } finally ch.close()
        val in = java.nio.channels.FileChannel.open(tmp,
          java.nio.file.StandardOpenOption.READ)
        try {
          val buf = java.nio.ByteBuffer.allocate(1 << 20)
          var n = 0L
          var read = in.read(buf)
          while (read >= 0) {
            n += read; buf.clear()
            read = in.read(buf)
          }
          calSink ^= n
        } finally in.close()
      }
    } finally { try java.nio.file.Files.deleteIfExists(tmp) catch { case _: Throwable => () } }
  }

  def main(args: Array[String]): Unit = {
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "2.0").toDouble
    val quiet = awaitQuietMachine(loadGate, maxWaitMs = 120000L)
    val startedAtMs = System.currentTimeMillis()
    val loadAtStart = loadAvg()
    val jvmsAtStart = otherJvms()
    if (!quiet)
      System.err.println(f"[bench] WARNING: starting CONTAMINATED at load $loadAtStart%.2f " +
        f"(gate $loadGate%.1f) — record will be tagged contaminated")
    if (jvmsAtStart > 0)
      System.err.println(s"[bench] WARNING: $jvmsAtStart other JVM(s) running — " +
        s"timings will not be quiet-machine comparable (loadavg $loadAtStart)")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.util.Sessions.cpus
    val filter = args.headOption.map(_.r)
    val spark = graft.util.Sessions.local("graft-bench", cpus)
    // untimed JVM/codegen warm-up: without it the alphabetically-first query absorbs
    // classloading + whole-stage-codegen compiler start-up and reads several× slower
    // than steady state
    // best-effort: a bench dir without documents.parquet must not kill the harness
    try {
      import org.apache.spark.sql.functions._
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
      d.groupBy("lang").agg(count(lit(1))).count()
      val sm = d.limit(50).select(col("doc_id"), col("text"))
      d.join(broadcast(sm), Seq("doc_id"), "left_semi").count()
      spark.sqlContext.clearCache()
      System.gc()
    } catch { case _: Throwable => () }
    // calibration probes AFTER warm-up (codegen/classloading out of the way),
    // BEFORE the suite; CPU probe repeats at the end to expose in-session drift
    val calCpuS = calCpu()
    val calMtS = calMt(cpus)
    val calShuffleS = calShuffle(spark)
    val calIoS = calIo()
    System.err.println(
      f"[bench] calibration: cpu $calCpuS%.3f s, mt$cpus $calMtS%.3f s, " +
        f"shuffle $calShuffleS%.3f s, io $calIoS%.3f s")
    val selected = SparkEntry.queries
      .filter { case (name, _) => filter.forall(_.findFirstIn(name).isDefined) }
      .toSeq.sortBy(_._1)
    // the retime prior comes from this core count's record: BENCH_FULL.json holds
    // whichever core count ran last
    val (priorPath, priorNote) = sys.env.get("SPARK_GRAFT_BENCH_PRIOR")
      .map(_ -> "")
      .getOrElse {
        val perCpu = s"BENCH_FULL_c$cpus.json"
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(perCpu))) perCpu -> ""
        else "BENCH_FULL.json" ->
          s" (no $perCpu; its core count may differ from $cpus)"
      }
    System.err.println(s"[bench] retime prior: $priorPath$priorNote")
    val prior = priorTimings(priorPath)
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      // withCached frees the operator-internal persists right after the count —
      // the release is part of the timed work, as it would be in a real pipeline
      val err: Option[String] =
        try { graft.util.Caching.withCached { fn(spark, sfDir).count() }; None }
        catch { case e: Throwable =>
          // a swallowed failure once masqueraded as a 0.07 s timing in a committed
          // round artifact — record the error per query and fail the process below
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // drop cached plans and leftover localCheckpoint blocks — iterative operators
      // otherwise accumulate storage across queries and degrade later ones via GC churn
      // (releaseAll drains any unscoped operator persists the bracket didn't cover)
      graft.util.Caching.releaseAll()
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // ContextCleaner is GC-driven: with a large heap the JVM may not GC for the whole
      // suite, so unreferenced shuffle/broadcast state accumulates and later queries
      // degrade several-fold. Force a collection between queries to let it drain.
      System.gc()
      (sec, err)
    }
    var retimed = 0
    val retimedNames = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.map { case (name, fn) =>
      var (sec, err) = timeOne(fn)
      // outlier re-timing (r8 verdict #1b): a transient load spike can blow one
      // query up 10–18× without any code change. If this run exceeded 2× the
      // committed record (and isn't trivially small), measure once more and keep
      // the better of the two — a legitimate regression reproduces, a spike doesn't.
      // CAVEAT the retimed names record (r10): a same-JVM second run is also JIT-WARM,
      // so a retimed value is a warm measurement while everything else is cold —
      // j6_one_to_one measures 8–10 s cold vs ~3.4 s warm with zero code change
      // (SCALING.md round 10). Cross-round comparisons must compare like with like,
      // which requires knowing WHICH queries were retimed.
      val base = prior.get(name)
      if (err.isEmpty && base.exists(b => sec > 2 * b && sec > 2.0)) {
        System.err.println(
          f"[bench] $name%-28s $sec%8.2f s > 2x committed ${base.get}%.2f s — re-timing once")
        val (sec2, err2) = timeOne(fn)
        retimed += 1
        retimedNames += name
        if (err2.isEmpty && sec2 < sec) sec = sec2
      }
      err match {
        case None    => System.err.println(f"[bench] $name%-28s $sec%8.2f s")
        case Some(m) => System.err.println(f"[bench] $name%-28s FAILED after $sec%.2f s: $m")
      }
      (name, sec, err)
    }
    def jstr(s: String): String = graft.util.Render.jsonString(s)
    // "queries" keeps its flat name→seconds shape (the driver's contract) but now
    // holds ONLY genuinely-executed queries; failures land in "errors" with the
    // time-to-exception and message, so a crash can never pose as a fast timing
    val ok = results.filter(_._3.isEmpty)
    val failed = results.filter(_._3.nonEmpty)
    val qs = ok.map { case (k, v, _) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val errs = failed
      .map { case (k, v, e) => jstr(k) + s""":{"sec":$v,"err":${jstr(e.get)}}""" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val calCpuEndS = calCpu()
    val calIoEndS = calIo()
    val run = {
      val endMs = System.currentTimeMillis()
      val iso = java.time.format.DateTimeFormatter.ISO_INSTANT
      s"""{"started":${jstr(iso.format(java.time.Instant.ofEpochMilli(startedAtMs)))},""" +
        s""""ended":${jstr(iso.format(java.time.Instant.ofEpochMilli(endMs)))},""" +
        s""""load_at_start":$loadAtStart,"load_at_end":${loadAvg()},""" +
        s""""other_jvms_at_start":$jvmsAtStart,"other_jvms_at_end":${otherJvms()},""" +
        s""""contaminated":${!quiet},"load_gate":$loadGate,"retimed":$retimed,""" +
        s""""retimed_queries":${retimedNames.map(jstr).mkString("[", ",", "]")},""" +
        s""""cal_cpu_s":$calCpuS,"cal_mt_s":$calMtS,"cal_shuffle_s":$calShuffleS,""" +
        s""""cal_cpu_end_s":$calCpuEndS,"cal_io_s":$calIoS,"cal_io_end_s":$calIoEndS,""" +
        s""""cpus":${jstr(cpus.toString)}}"""
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"n_failed":${failed.size},"sf":"$sfDir","run":$run}"""
    println(line)
    // the driver's stdout capture has truncated mid-JSON before, losing per-query
    // timings from the round record — always ALSO write the full map to a file.
    // The default lives at the repo root (NOT under the gitignored target/) so the
    // end-of-round auto-commit preserves it with the round. A FILTERED profiling
    // run must not clobber the committed full record with a partial map, so it
    // diverts to a scratch file unless SPARK_GRAFT_BENCH_OUT overrides.
    // r11 verdict #2 (two rounds of driver per-query ground truth lost): the full
    // map additionally lands in a PER-CPU-COUNT file (BENCH_FULL_c$cpus.json) so a
    // scaling run at another core count can never clobber the 32-CPU record, and a
    // compact totals-only JSON line (with a pointer to the full map) is printed
    // LAST so a tail-truncated capture still parses. The full contract line above
    // is unchanged; the measurement itself is untouched.
    val defaultOut =
      if (filter.isEmpty) "BENCH_FULL.json" else "target/BENCH_FILTERED.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    val perCpuOut =
      if (filter.isEmpty && !sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
        Some(s"BENCH_FULL_c$cpus.json")
      else None
    (Seq(outPath) ++ perCpuOut).foreach { path =>
      try {
        val p = java.nio.file.Paths.get(path)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, line + "\n")
        System.err.println(s"[bench] full timing map written to $path")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    }
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},""" +
        s""""n_failed":${failed.size},"sf":"$sfDir","cpus":${jstr(cpus.toString)},""" +
        s""""contaminated":${!quiet},"retimed":$retimed,""" +
        s""""queries_file":${jstr(perCpuOut.getOrElse(outPath))}}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[bench] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: " +
          failed.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }
}
