package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-query profiler: where a declared query's seconds go when the data is small
  * and the cost is job-count-bound (scheduling + materialization overhead) rather
  * than data-bound.
  *
  * Usage: `sbt "runMain graft.tools.JobProfile <query_name>... [runs]"`; reads
  * SPARK_GRAFT_SF_DIR (default sf0.1) and SPARK_GRAFT_CPUS (default: every core).
  * For each query and run it prints one line per job (wall, summed task-s, tasks,
  * callsite) and a one-line summary (wall, rows, jobs, stages, task-s; the gap
  * between wall and task-s over cores is scheduler/launch overhead; `compiles` and
  * `compile-s` are the whole-stage codegen classes compiled during the run and their
  * compile seconds, JVM-wide; `cache_entries` is the codegen cache's entry count
  * after the run, out of `spark.sql.codegen.cache.maxEntries`); run 2+ is JIT-warm.
  */
object JobProfile {

  def main(args: Array[String]): Unit = {
    val (names, runs) = args.lastOption.filter(_.matches("\\d+")) match {
      case Some(n) => (args.init.toSeq, n.toInt)
      case None => (args.toSeq, 2)
    }
    require(names.nonEmpty, "usage: JobProfile <query_name>... [runs]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Sessions.local("graft-jobprofile")

    case class Job(id: Int, started: Long, site: String) {
      var ended: Long = 0L
      var taskMs: Long = 0L
      var tasks: Int = 0
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    // stage → job from SparkListenerJobStart.stageInfos: broadcast-exchange and AQE
    // subquery jobs overlap the main job even on a single-threaded driver, so the
    // former "most recent unfinished job" heuristic mis-binned their tasks (r11
    // advice) — exactly in the composed queries this tool profiles
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(e.jobId, Job(e.jobId, e.time, site))
        e.stageInfos.foreach(si => stageToJob.put(si.stageId, e.jobId))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.ended = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        if (e.taskMetrics != null) {
          val j = jobs.get(stageToJob.getOrDefault(e.stageId, -1))
          if (j != null) {
            j.taskMs += e.taskMetrics.executorRunTime
            j.tasks += 1
          }
        }
      }
    })

    for (name <- names; r <- 1 to runs) {
      val fn = graft.SparkEntry.queries(name)
      jobs.clear(); order.clear(); stageToJob.clear(); stages.set(0)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val rows = graft.util.Caching.withCached { fn(spark, sfDir).count() }
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
      val cacheEntries = org.apache.spark.sql.graftbridge.Bridge.codegenCacheEntries
      graft.util.Caching.releaseAll()
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      Thread.sleep(300) // let listener events drain
      val js = {
        val it = order.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Job]
        while (it.hasNext) { val j = jobs.get(it.next()); if (j != null) buf += j }
        buf
      }
      val taskS = js.map(_.taskMs).sum / 1000.0
      System.err.println(f"[jobprofile] $name run $r: $wall%.3f s wall, rows=$rows " +
        f"jobs=${js.size} stages=${stages.get} task-s=$taskS%.2f " +
        f"compiles=$compiles cache_entries=$cacheEntries compile-s=$compileS%.2f")
      js.foreach { j =>
        val w = (j.ended - j.started).toDouble / 1000
        System.err.println(f"[jobprofile]   job ${j.id}%4d ${w}%7.3f s wall ${j.taskMs / 1000.0}%8.2f task-s ${j.tasks}%5d tasks  ${j.site}")
      }
      val sumW = js.map(j => (j.ended - j.started).toDouble / 1000).sum
      System.err.println(f"[jobprofile]   sum job wall ${sumW}%.2f s; driver gaps ${wall - sumW}%.2f s")
    }
    spark.stop()
  }
}
