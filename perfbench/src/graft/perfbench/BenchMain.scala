package graft.perfbench

import graft.{CacheRegistry, GraftSession}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark process: opens a `GraftSession`, runs one workload as a
  * closed loop with one client, checks every iteration's output digest
  * against the oracle digest, and writes a JSON result file.
  *
  * Usage: BenchMain --workload W --input DIR --work DIR --seconds S
  *   --trace 0|1 --t0-ns NANOS --oracle DIGEST --result FILE
  *   [--trace-file FILE] [--mode run|setup]
  *
  * `--t0-ns` is the launcher's epoch-nanosecond clock just before it
  * started this process, so `setup_s` covers JVM start too. Mode `setup`
  * stops once the session is ready and the inputs are opened. With
  * `--trace 1` the run adds traced iterations (listener on) and the
  * workload's ladder, and reports per-layer metrics. */
object BenchMain {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime
  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val Mb = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val w = Workloads.all(opt("workload"))
    val dir = opt("input")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val expected = opt.getOrElse("oracle", "")
    val fields = mutable.LinkedHashMap.empty[String, String]

    val s0 = Stats.nowMs()
    val spark = w.confs.foldLeft(GraftSession.builder()) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Stats.nowMs() - s0) / 1000.0
    w.open(spark, dir)
    fields("setup_s") = Json.num((epochNs() - opt("t0-ns").toLong) / 1e9)
    fields("session_start_s") = Json.num(sessionS)

    try {
      val r = new Runner(spark, w, dir, work, expected)
      if (opt.getOrElse("mode", "run") == "run") {
        r.iterate().foreach { case (wall, _) => fields("cold_run_s") = Json.num(wall) }
        // JIT and codegen keep settling for a few iterations after the cold
        // one: warm up for a third of the window, then measure the window
        val warmup = r.loop(seconds / 3, 1)
        val warm = r.loop(seconds, 2)
        fields("warmup_s") = warmup.map(x => Json.num(x._1)).mkString("[", ",", "]")
        fields("run_s") = warm.map(x => Json.num(x._1)).mkString("[", ",", "]")
        fields("cpu_s") = warm.map(x => Json.num(x._2)).mkString("[", ",", "]")
        if (trace) {
          val layers = new Tracer(spark, r, sessionS).run(seconds, opt("trace-file"))
          fields("layers") = Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
        }
      }
      fields("attempted") = r.attempted.toString
      fields("failed") = r.failed.toString
      fields("errors") = r.errors.map(Json.str).mkString("[", ",", "]")
      fields("peak_rss_mb") = Json.num(peakRssMb())
    } finally spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("result")),
      Json.obj(fields.toSeq).getBytes("UTF-8"))
  }

  /** VmHWM of this process (driver and executors share it in local mode). */
  private def peakRssMb(): Double = {
    val s = scala.io.Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally s.close()
  }

  /** The closed loop: one iteration at a time, each checked against the
    * oracle digest outside its timed span. A throw or a digest mismatch
    * counts as failed and the iteration is not timed as a success. */
  final class Runner(val spark: SparkSession, val w: Workload, val dir: String, val work: String,
                     val expected: String) {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    private var n = 0

    def root(): String = { n += 1; s"$work/out/it$n" }

    def fail(what: String): Unit = { failed += 1; if (errors.size < 20) errors += what }

    /** Checks a digest; records a failure on mismatch. */
    def check(label: String, got: String): Boolean =
      if (got == expected) true else { fail(s"$label: digest $got, oracle $expected"); false }

    /** Iterations until `seconds` have passed and at least `min` ran: the
      * (wall s, process cpu s) of those that succeeded. */
    def loop(seconds: Double, min: Int): Seq[(Double, Double)] = {
      val out = mutable.ArrayBuffer.empty[(Double, Double)]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var n = 0
      while (System.nanoTime() < deadline || n < min) { n += 1; iterate().foreach(out += _) }
      out.toSeq
    }

    /** One untraced iteration: (wall s, process cpu s) if it succeeded. */
    def iterate(): Option[(Double, Double)] = timed { (_, _) => () }.map(t => (t.wallS, t.cpuS))

    /** Runs build + action, with `mark(buildEndMs, actEndMs)` called
      * before the check runs. */
    def timed(mark: (Double, Double) => Unit): Option[Timed] = {
      val out = root()
      attempted += 1
      System.gc()
      try {
        val c0 = cpuNs()
        val t0 = System.nanoTime()
        val startMs = Stats.nowMs()
        val df = w.build(spark, dir)
        val buildMs = Stats.nowMs()
        val check = w.act(spark, df, out)
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (cpuNs() - c0) / 1e9
        val endMs = Stats.nowMs()
        mark(buildMs, endMs)
        if (this.check(s"iteration $attempted", check())) Some(Timed(wall, cpu, startMs, buildMs, endMs))
        else None
      } catch {
        case NonFatal(e) => fail(s"iteration $attempted: ${e.toString.take(300)}"); None
      } finally {
        CacheRegistry.releaseAll(spark)
        graft.Fs.rmTree(java.nio.file.Paths.get(out))
      }
    }
  }

  final case class Timed(wallS: Double, cpuS: Double, startMs: Double, buildMs: Double, endMs: Double)

  /** The traced run: iterations with the collector attached (spans, run
    * totals, Catalyst phases), then the workload's ladder. */
  final class Tracer(spark: SparkSession, r: Runner, sessionS: Double) {
    private val sc = spark.sparkContext
    private val collector = new Collector
    private val spans = new Spans
    private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    private val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    private val w = r.w
    private val cores = sc.defaultParallelism

    def run(seconds: Double, traceFile: String): Map[String, Double] = {
      // untraced and traced iterations alternate, so JIT drift between
      // them does not show up as tracing overhead
      val untraced = mutable.ArrayBuffer.empty[Double]
      val its = (1 to 3).flatMap { k =>
        r.iterate().foreach(untraced += _._1)
        sc.addSparkListener(collector)
        spark.listenerManager.register(qeListener)
        try tracedIteration(k)
        finally {
          spark.listenerManager.unregister(qeListener)
          sc.removeSparkListener(collector)
        }
      }
      sc.addSparkListener(collector)
      val ladder = runLadder(seconds)
      sc.removeSparkListener(collector)
      spans.write(traceFile)

      val m = mutable.Map.empty[String, Double]
      def med(xs: Seq[Map[String, Double]], k: String): Double =
        if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.getOrElse(k, 0.0)))
      its.headOption.foreach(_.keys.foreach(k => m(k) = med(its, k)))
      m("graft.session_start_s") = sessionS
      m("trace.overhead_frac") =
        if (its.isEmpty || untraced.isEmpty) 0.0
        else med(its, "iteration_s") / Stats.median(untraced.toSeq) - 1.0
      m.remove("iteration_s")
      m ++= ladder
      m.toMap
    }

    private def tracedIteration(k: Int): Option[Map[String, Double]] = {
      val group = s"${w.name}-traced-$k"
      qes.clear()
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val t = try r.timed((_, _) => { sc.clearJobGroup(); ListenerBridge.flush(sc) })
        finally sc.clearJobGroup()
      ListenerBridge.flush(sc)
      t.map { t =>
        val root = spans.add(group, null, s"iteration ${w.name}", t.startMs, t.endMs, "bench")
        spans.add(group, root, "build", t.startMs, t.buildMs, "queries")
        val act = spans.add(group, root, "action", t.buildMs, t.endMs, "bench")
        import scala.jdk.CollectionConverters._
        val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        qes.asScala.foreach { qe =>
          qe.tracker.phases.foreach { case (phase, p) =>
            phases(phase) += (p.endTimeMs - p.startTimeMs).toDouble
            spans.add(group, root, s"plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble, "queries")
          }
        }
        collector.spans(group, group, act, spans)
        val tot = collector.totals(group)
        val wallMs = t.endMs - t.startMs
        Map(
          "iteration_s" -> t.wallS,
          "graft.spread_exchanges" -> collector.roundRobinExchanges(group).toDouble,
          "queries.build_ms" -> (t.buildMs - t.startMs),
          "queries.build_jobs" -> collector.jobsBefore(group, t.buildMs).toDouble,
          "queries.plan_analysis_ms" -> phases("analysis"),
          "queries.plan_optimization_ms" -> phases("optimization"),
          "queries.plan_planning_ms" -> phases("planning"),
          "queries.driver_gap_ms" -> (wallMs - Stats.unionMs(tot.jobSpans)),
          "spark.jobs" -> tot.jobs.toDouble,
          "spark.stages" -> tot.stages.toDouble,
          "spark.tasks" -> tot.tasks.toDouble,
          "spark.task_ms" -> tot.taskMs,
          "spark.task_cpu_ms" -> tot.cpuMs,
          "spark.gc_ms" -> tot.gcMs,
          "spark.shuffle_read_mb" -> tot.shuffleRead / Mb,
          "spark.shuffle_write_mb" -> tot.shuffleWrite / Mb,
          "spark.spill_mb" -> tot.spill / Mb,
          "spark.core_busy" -> tot.taskMs / (wallMs * cores))
      }
    }

    /** Ladder reps until twice `seconds` have passed (at least one, at
      * most three): medians of each step's wall and of its marginal over the
      * previous step. */
    private def runLadder(seconds: Double): Map[String, Double] = {
      val work = s"${r.work}/ladder"
      val deadline = System.nanoTime() + (2 * seconds * 1e9).toLong
      val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      val totals = mutable.Map.empty[String, mutable.ArrayBuffer[Totals]]
      var rows = Map.empty[String, Long]
      var counts = Map.empty[String, Double]
      var keys = Seq.empty[String]
      var modules = Map.empty[String, String]
      var rep = 0
      var lastGroups = Map.empty[String, String]
      while (rep == 0 || (rep < 3 && System.nanoTime() < deadline)) {
        rep += 1
        r.attempted += 1
        val root = s"$work/rep$rep"
        val steps = w.ladder(spark, r.dir, root)
        keys = steps.map(_.key)
        modules = steps.map(s => s.key -> s.module).toMap
        val trace = s"${w.name}-ladder-$rep"
        val done = mutable.ArrayBuffer.empty[(Step, String, Double, Double)]
        try {
          steps.foreach { s =>
            val group = s"$trace-${s.key}"
            CacheRegistry.releaseAll(spark)
            System.gc()
            sc.setJobGroup(group, group, interruptOnCancel = false)
            val t0 = Stats.nowMs()
            val n = try s.run() finally sc.clearJobGroup()
            val t1 = Stats.nowMs()
            CacheRegistry.releaseAll(spark)
            ListenerBridge.flush(sc)
            done += ((s, group, t0, t1))
            rows += s.key -> n
          }
          if (r.check(s"ladder rep $rep", w.ladderDigest(spark, r.dir, root))) {
            counts = w.counts(spark, r.dir, root, rows)
            // only whole, checked reps count
            done.foreach { case (s, group, t0, t1) =>
              walls.getOrElseUpdate(s.key, mutable.ArrayBuffer.empty) += (t1 - t0)
              totals.getOrElseUpdate(s.key, mutable.ArrayBuffer.empty) += collector.totals(group)
              lastGroups += s.key -> group
            }
          }
        } catch {
          case NonFatal(e) => r.fail(s"ladder rep $rep: ${e.toString.take(300)}")
        } finally graft.Fs.rmTree(java.nio.file.Paths.get(root))
        if (done.nonEmpty) {
          val ladderSpan = spans.add(trace, null, s"ladder ${w.name}", done.head._3, done.last._4, "bench")
          done.foreach { case (s, group, t0, t1) =>
            collector.spans(group, trace, spans.add(trace, ladderSpan, s.key, t0, t1, s.module), spans)
          }
        }
      }
      if (walls.isEmpty) return Map.empty

      // per step <key>_ms, _task_ms, _shuffle_mb, _spill_mb: medians of the
      // marginal over the previous step (the launcher keeps the listed ones)
      val out = mutable.Map.empty[String, Double]
      val n = walls(keys.head).size
      keys.indices.foreach { i =>
        def diff(f: (String, Int) => Double): Double =
          Stats.median((0 until n).map(j => f(keys(i), j) - (if (i == 0) 0.0 else f(keys(i - 1), j))))
        val k = keys(i)
        out(s"${k}_ms") = diff((k, j) => walls(k)(j))
        out(s"${k}_task_ms") = diff((k, j) => totals(k)(j).taskMs)
        out(s"${k}_shuffle_mb") = diff((k, j) => totals(k)(j).shuffleWrite / Mb)
        out(s"${k}_spill_mb") = diff((k, j) => totals(k)(j).spill / Mb)
      }
      val totalMs = Stats.median(walls(keys.last).toSeq)
      Seq("kv", "functions", "operators", "sources", "queries", "dedup").foreach { mod =>
        val self = keys.filter(k => modules(k) == mod).map(k => out(s"${k}_ms")).sum
        out(s"$mod.self_ms") = self
        out(s"$mod.self_share") = if (totalMs > 0) self / totalMs else 0.0
      }
      if (keys.contains("kv.scan")) {
        val read = Stats.median(totals("kv.scan").map(_.inRecords).toSeq)
        out("kv.rows_read") = read
        out("kv.slice_yield") = if (read > 0) rows("kv.scan") / read else 0.0
      }
      lastGroups.get("queries.latest").foreach(g => out("queries.latest_reducer_skew") = collector.reducerSkew(g))
      lastGroups.get("sources.write").foreach { g =>
        out("sources.write_task_skew") = collector.heaviestStageSkew(g)
        out("sources.task_failures") = totals("sources.write").map(_.failedTasks).sum.toDouble
      }
      out ++= counts
      // the counts the oracle fixes: records out equals the oracle's rows
      val oracleRows = r.expected.takeWhile(_ != ':')
      counts.get("functions.records_out").foreach { n =>
        if (n.toLong.toString != oracleRows)
          r.fail(s"functions.records_out ${n.toLong} != oracle rows $oracleRows")
      }
      out.toMap
    }
  }
}
