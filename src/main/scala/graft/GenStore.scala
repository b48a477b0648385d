package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** A generation store: the on-disk index a lifecycle drill lands
  * generations into, serves reads from, and ages out by dropping
  * generation directories (`<path>/gen=<g>/`).
  *
  * Every [[GenStore.open]] gets its OWN root under
  * `<java.io.tmpdir>/graft_stores/`, so two runs of the same drill (a
  * Verify beside a Bench, two test forks, two threads on two sessions)
  * never delete or double each other's store. The root is registered
  * with [[CacheRegistry]] against the opening session: a frame a drill
  * returns lazily over its store stays readable until
  * `CacheRegistry.releaseAll(spark)`, which deletes the root (a JVM
  * shutdown hook is the backstop for sessions never released). */
final class GenStore private (spark: SparkSession, val path: Path) {

  override def toString: String = path.toString

  /** The store at `<path>/<name>` — same root, same release. */
  def sub(name: String): GenStore = new GenStore(spark, path.resolve(name))

  /** Append `df` as generation `gen`, written as `nFiles` files. */
  def land(df: DataFrame, gen: Int, nFiles: Int): Unit =
    df.withColumn("gen", lit(gen)).repartition(nFiles)
      .write.partitionBy("gen").mode("append").parquet(path.toString)

  /** Drop generation `gen`'s directory (a metadata-priced age-out). */
  def drop(gen: Int): Unit = Fs.rmTree(path.resolve(s"gen=$gen"))

  /** The partition directory names on disk, sorted. */
  def generations(): Seq[String] = dirs().map(_.getFileName.toString)

  /** Parquet file count per partition directory. */
  def filesByGen(): Map[String, Int] = generations().map(d => d -> files(d).size).toMap

  /** The parquet files under `<path>/<partition>` (none if it is absent). */
  def files(partition: String): Seq[Path] =
    list(path.resolve(partition)).filter(_.getFileName.toString.endsWith(".parquet"))

  /** (name, size) of every parquet file under `<path>/<partition>`. */
  def fileEvidence(partition: String): Set[(String, Long)] =
    files(partition).map(p => (p.getFileName.toString, Files.size(p))).toSet

  /** Read the store's FILES back (a fresh listing on every call). */
  def readBack(cols: Column*): DataFrame = spark.read.parquet(path.toString).select(cols: _*)

  private def list(d: Path): Seq[Path] = {
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala.toVector
    finally s.close()
  }
  private def dirs(): Seq[Path] = list(path).filter(Files.isDirectory(_)).sortBy(_.getFileName.toString)
}

object GenStore {

  /** A fresh, empty store root `<java.io.tmpdir>/graft_stores/<name>_<unique>`,
    * deleted at `CacheRegistry.releaseAll(spark)`. */
  def open(spark: SparkSession, name: String): GenStore = {
    val parent = Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir"), "graft_stores"))
    new GenStore(spark, CacheRegistry.trackRoot(spark, Files.createTempDirectory(parent, name + "_")))
  }

  /** Persist `frames`, run `body`, and ALWAYS unpersist in `finally` — the
    * one place a serve caches its store read-back. A serve materializes
    * its read-back and candidates once and reads every census off them,
    * but the cache must not outlive the serve: the store's files mutate
    * between serves, and a live entry for this serve's read-back would be
    * plan-matched by CacheManager into the NEXT serve's identical read — a
    * stale file listing (seen as FILE_NOT_EXIST after a generation drop,
    * and as frozen censuses). An exception mid-serve must not leave that
    * entry behind either. Frames are persisted in order, so a later frame
    * built over an earlier one reads it from the cache. */
  def withPersisted[T](frames: DataFrame*)(body: => T): T =
    try { frames.foreach(_.persist()); body }
    finally frames.foreach(f => try f.unpersist() catch { case scala.util.control.NonFatal(_) => () })
}
