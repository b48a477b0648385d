package graft

/** Diagnostic: run a comma-separated list of registry queries IN ORDER in
  * one session, timing each (same toRdd.count action and cache/conf reset
  * discipline as Bench), to expose cross-query session-state accumulation
  * — the r16 investigation tool for the "streaming rows bench 10-20× their
  * isolated floors mid-sweep" effect. After each query it prints JVM vitals
  * (live threads, heap, cumulative GC ms, scheduler job count) so the
  * accumulating resource names itself.
  *
  * Usage: graft.SweepProbe q1,q2,q3 [sfDir]
  *   SPARK_GRAFT_PROBE_REPEAT=N   run the list N times (default 1)
  *   SPARK_GRAFT_PROBE_DUMP_S=S   watchdog: if any single query exceeds S
  *                                seconds, dump all JVM thread stacks to
  *                                stderr once (guide §7.3 — catches the
  *                                slow query IN THE ACT)
  */
object SweepProbe {
  def main(args: Array[String]): Unit = {
    if (args(0) == "@order") { // print Bench's run order (Map iteration order)
      SparkEntry.queries.keys.foreach(println); return
    }
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPEAT", "1").toInt
    val dumpAfterS = sys.env.get("SPARK_GRAFT_PROBE_DUMP_S").map(_.toDouble)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val baselineConf = spark.conf.getAll
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }
    def heapMb: Long = {
      val r = Runtime.getRuntime; (r.totalMemory - r.freeMemory) / 1048576
    }
    val dumped = new java.util.concurrent.atomic.AtomicBoolean(false)
    def dumpAllStacks(tag: String): Unit = {
      import scala.jdk.CollectionConverters._
      System.err.println(s"==== THREAD DUMP ($tag) ====")
      Thread.getAllStackTraces.asScala.toSeq.sortBy(_._1.getName).foreach { case (t, st) =>
        System.err.println(s"-- ${t.getName} state=${t.getState}")
        st.take(14).foreach(fr => System.err.println(s"   at $fr"))
      }
      System.err.println(s"==== END DUMP ($tag) ====")
    }
    for (pass <- 1 to repeat) names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))
      val t0 = System.nanoTime()
      // watchdog: fires once, mid-flight, on the first over-threshold query
      val watchdog = dumpAfterS.filter(_ => !dumped.get).map { s =>
        val th = new Thread(() => {
          try { Thread.sleep((s * 1000).toLong); if (dumped.compareAndSet(false, true)) dumpAllStacks(n) }
          catch { case _: InterruptedException => () }
        }, s"probe-watchdog-$n")
        th.setDaemon(true); th.start(); th
      }
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case e: Throwable => System.err.println(s"[probe] $n FAILED: ${e.getMessage}") }
      finally watchdog.foreach(_.interrupt())
      val dt = (System.nanoTime() - t0) / 1e9
      CacheRegistry.endQuery(spark, baselineConf)
      val sc = spark.sparkContext
      val nJobs = sc.statusTracker.getJobIdsForGroup(null).length
      println(f"[probe] p$pass $n%-28s ${dt}%8.2fs  cumJobs=$nJobs thr=${Thread.activeCount}%4d heapMB=$heapMb%5d gcMs=$gcMs%6d")
    }
    spark.stop()
  }
}
