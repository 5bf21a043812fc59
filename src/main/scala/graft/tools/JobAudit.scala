package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-job breakdown of a registered query — the diagnostic behind the
  * driver's job-count gate. Bench records only the per-query TOTAL; when a
  * count moves, this main shows WHICH actions fired: one line per Spark
  * job with its call site and stage count.
  *
  * Usage: tools/run_main.sh graft.tools.JobAudit <queryName> [sfDir] [warm]
  */
object JobAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobAudit <queryName> [sfDir] [warm]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, String)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val durs = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time)
        val site = js.stageInfos.map(si => s"${si.name}(${si.numTasks}t)").mkString(" | ")
        jobs.add((js.jobId, js.stageInfos.size, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.getOrDefault(je.jobId, je.time)
        durs.put(je.jobId, (je.time - s) / 1e3)
      }
    })
    val registry = graft.SparkEntry.queries
    require(registry.contains(name), {
      val near = registry.keys.filter(_.contains(name.stripPrefix("q_"))).toSeq.sorted
      s"unknown query '$name'" +
        (if (near.nonEmpty) s"; did you mean: ${near.mkString(", ")}" else "")
    })
    val fn = registry(name)
    // Optional warm pass (arg 3 = "warm"): run once untimed first so the
    // per-job numbers measure the plan, not Janino/JIT compilation.
    // Listener events are delivered async — drain the bus by polling until
    // no new events arrive for a quiet period (ADVICE r13: a fixed sleep is
    // a race on a loaded host — late warm-run job-end events leaked into
    // the timed report this audit exists to keep clean). Both maps only
    // grow, so their summed size is stable exactly when each one is.
    def drainListenerBus(): Unit =
      graft.JobGate.settle(() => jobs.size + durs.size, quietMs = 500)
    if (args.length > 2 && args(2) == "warm") {
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      drainListenerBus()
      jobs.clear(); starts.clear(); durs.clear()
    }
    val t0 = System.nanoTime()
    fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
    val sec = (System.nanoTime() - t0) / 1e9
    drainListenerBus()
    println(f"== $name: ${jobs.size} jobs, $sec%.2f s ==")
    jobs.forEach { case (id, nStages, site) =>
      val d = durs.getOrDefault(id, -1.0)
      println(f"job $id%3d  $d%6.2f s  stages=$nStages%2d  $site")
    }
    spark.stop()
  }
}
