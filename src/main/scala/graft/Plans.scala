package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import java.nio.file.{Files, Paths}

/** Plan-audit dump: `.explain("formatted")` for selected SparkEntry queries
  * to a markdown file — the artifact behind SURVEY §3a/§4's plan audits.
  *
  * Usage: graft.Plans [sfDir] [outFile] [name1,name2,...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val names: Set[String] =
      if (args.length > 2) args(2).split(",").toSet
      else Set("q1_agg", "q3_join", "export_records", "latest_cell", "knn_brute",
        "knn_ivf", "dedup_simhash", "dedup_ngram_jaccard", "sanitise",
        "chunk_batch", "export_completion", "jsonl_snapshot")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GraftSession.builder, NOT a hand-rolled one: the audit must capture
    // the plans the tuned sessions actually run (broadcast threshold, AQE
    // flags change join/exchange choices)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val baselineConf = spark.conf.getAll
    val sb = new StringBuilder
    sb.append(s"# Captured `.explain(\"formatted\")` plans ($sfDir)\n\n")
    sb.append("Generated by `graft.Plans`; audit narrative in SURVEY §3a/§4.\n")
    // Per-query capture cap (r13 advice: two uncapped multiprobe plans
    // alone contributed ~315k lines / tens of MB of committed markdown —
    // explain-formatting reprints cached InMemoryRelation subtrees at
    // every reference, so the text amplifies far past the real operator
    // count). 64 KB is plenty to audit exchanges/joins/pushdowns; the
    // truncation note records what was dropped (no silent caps).
    val CapBytes = 64 * 1024
    def cap(plan: String, capBytes: Int = CapBytes): String =
      if (plan.length <= capBytes) plan
      else plan.take(capBytes) +
        s"\n... <truncated: ${plan.length - capBytes} of ${plan.length} chars dropped (cap $capBytes)>\n"
    // EXECUTED-stage capture for drill rows (r14 verdict item 4): a
    // multi-stage lifecycle drill assembles its driver frame from
    // collected rows, so its final plan is a LocalTableScan — useless for
    // a 100×-scale review. For those rows the audit EXECUTES the query
    // under a QueryExecutionListener and appends the heaviest executed
    // stage plans (ClusterDrill's discipline, brought to the per-round
    // artifact). Detection is structural: no file scan in the final plan.
    // caps sized to hold the committed artifact near the r14 line
    // (~360 KB): 2 stages × 12 KB × ~15 drill rows ≈ 360 KB of executed
    // plans on top of the capped logical section
    val ExecTopN = 2
    val ExecCapBytes = 12 * 1024
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.add((durationNs,
          try qe.executedPlan.toString catch { case e: Throwable => s"<unavailable: ${e.getMessage}>" }))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names(name)) {
        val plan = try fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
          catch { case e: Throwable => s"<failed: ${e.getMessage}>" }
        sb.append(s"\n## $name\n\n```\n${cap(plan)}```\n")
        CacheRegistry.endQuery(spark, baselineConf)
        val driverAssembled = !plan.contains("Scan parquet") && plan.contains("LocalTableScan")
        if (driverAssembled) {
          captured.clear()
          spark.listenerManager.register(listener)
          val ran = try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
            catch { case e: Throwable =>
              sb.append(s"\n### $name executed stages\n\n<execution failed: ${e.getMessage}>\n"); false }
          org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
          spark.listenerManager.unregister(listener)
          if (ran) {
            import scala.jdk.CollectionConverters._
            val heaviest = captured.asScala.toSeq.sortBy(-_._1).take(ExecTopN)
            sb.append(s"\n### $name executed stages (heaviest $ExecTopN of ${captured.size} actions, by duration)\n")
            heaviest.foreach { case (durNs, p) =>
              sb.append(f"\n#### ${durNs / 1e9}%.2fs\n\n```\n${cap(p, ExecCapBytes)}```\n")
            }
          }
          CacheRegistry.endQuery(spark, baselineConf)
        }
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    spark.stop()
  }
}
