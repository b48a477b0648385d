package graft

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Tracks what a query builder leaves behind — DataFrames it persisted
  * and [[GenStore]] roots it wrote — so long-lived sessions (bench loops,
  * notebooks, the Verify sweep) can release them once the consuming
  * action has run. A query builder cannot `unpersist()` itself or delete
  * its store: the plan it RETURNS may still read the cache or the store's
  * files, and releasing before the action would recompute the corpus once
  * per consumer (or fail on a missing file). The contract is: builders
  * `track` their persists and open their stores through `GenStore`; the
  * driver of the action calls `releaseAll(spark)` when the result is
  * materialized.
  */
object CacheRegistry {
  private val live = mutable.Map.empty[SparkSession, mutable.ArrayBuffer[DataFrame]]
  private val roots = mutable.Map.empty[SparkSession, mutable.ArrayBuffer[Path]]
  /** Every unreleased root in the JVM, for the shutdown hook — read
    * without the registry lock, so an exit from a thread holding it
    * cannot deadlock the hook. */
  private val pendingRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val shutdownHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    pendingRoots.forEach(r => try Fs.rmTree(r) catch { case NonFatal(_) => () })))

  def track(df: DataFrame): DataFrame = synchronized {
    live.getOrElseUpdate(df.sparkSession, mutable.ArrayBuffer.empty) += df; df
  }

  /** Register a store root `spark`'s queries write; deleted at
    * `releaseAll(spark)`, or at JVM exit if the session is never released. */
  private[graft] def trackRoot(spark: SparkSession, root: Path): Path = synchronized {
    shutdownHook
    pendingRoots.add(root)
    roots.getOrElseUpdate(spark, mutable.ArrayBuffer.empty) += root; root
  }

  /** The single end-of-query release for ONE session (idempotent, never
    * throws): unpersist the tracked frames first, then delete each
    * registered store root with [[Fs.rmTree]]. A second session or a
    * concurrent streaming job sharing the JVM keeps its caches and stores. */
  def releaseAll(spark: SparkSession): Unit = synchronized {
    live.remove(spark).foreach(_.foreach(df =>
      try df.unpersist() catch { case NonFatal(_) => () }))
    roots.remove(spark).foreach(_.foreach { r =>
      try Fs.rmTree(r) catch { case NonFatal(_) => () }
      pendingRoots.remove(r)
    })
  }

  /** How a harness main ends each query: [[releaseAll]], then force the
    * session's runtime confs back to `baseline` (a `spark.conf.getAll`
    * snapshot taken before the first query). Several queries tune session
    * confs for their own shape and restore in `finally`; one failed
    * restore would otherwise re-plan every later query in the run under
    * the wrong conf. Returns the keys that had drifted. */
  def endQuery(spark: SparkSession, baseline: Map[String, String]): Seq[String] = {
    releaseAll(spark)
    val cur = spark.conf.getAll
    val changed = baseline.collect { case (k, v) if !cur.get(k).contains(v) => k }.toSeq
    val added = (cur.keySet -- baseline.keySet).toSeq
    changed.foreach(k => try spark.conf.set(k, baseline(k)) catch { case NonFatal(_) => () })
    added.foreach(k => try spark.conf.unset(k) catch { case NonFatal(_) => () })
    changed ++ added
  }
}
