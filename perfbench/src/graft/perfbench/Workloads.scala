package graft.perfbench

import graft.CacheRegistry
import graft.kv.KvModel
import graft.operators.ExportOps._
import graft.queries.{ExportQueries, HashDedup, TextQueries}
import graft.sources.{GzipSnapshotCodec, JsonlSnapshotSink, KvSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One ladder step: a cumulative prefix of the shipped plan. `run`
  * materializes it and returns its row count; `key` names the per-layer
  * metric its marginal feeds, `module` the layer its self time belongs to. */
final case class Step(key: String, module: String, run: () => Long)

/** A benchmarked workload: its entry call split into build (until the
  * entry returns its DataFrame) and action (until the result is durable or
  * materialized), the output check, and the traced-run ladder. */
trait Workload {
  def name: String
  def confs: Seq[(String, String)] = Nil
  /** Opens the inputs: resolves the parquet listing and footers. */
  def open(spark: SparkSession, dir: String): Unit
  def build(spark: SparkSession, dir: String): DataFrame
  /** Runs the action; returns the check, to be called outside timing,
    * which yields the output digest. */
  def act(spark: SparkSession, df: DataFrame, root: String): () => String
  def ladder(spark: SparkSession, dir: String, root: String): Seq[Step]
  /** Digest of the last ladder step's output (must equal the oracle's). */
  def ladderDigest(spark: SparkSession, dir: String, root: String): String
  /** Per-layer counts read off the input and the ladder, outside timing. */
  def counts(spark: SparkSession, dir: String, root: String, stepRows: Map[String, Long]): Map[String, Double]
}

object Workloads {
  val all: Map[String, Workload] =
    Seq(SnapshotFull, IncrementalLatest, CurateDedup).map(w => w.name -> w).toMap

  /** Materializes `df` on the driver; the check digests the rows. */
  def collectDigestOf(df: DataFrame): () => String = {
    val rows = df.collect()
    () => Digest.ofRows(rows, df.columns.toSeq)
  }
}

/** Full snapshot export through the sink, reading stored cells. */
object SnapshotFull extends Workload {
  val name = "snapshot_full"
  override def confs: Seq[(String, String)] = Seq(KvSource.ConfKey -> classOf[StoredCellSource].getName)

  def open(spark: SparkSession, dir: String): Unit = { KvSource.envelopes(spark, dir).schema; () }

  def build(spark: SparkSession, dir: String): DataFrame = ExportQueries.pipelineRecords(spark, dir)

  def act(spark: SparkSession, df: DataFrame, root: String): () => String = {
    JsonlSnapshotSink.write(df, root)
    () => digestOf(spark, root)
  }

  /** readBack (object_key, record) pairs plus the manifest line count. */
  def digestOf(spark: SparkSession, root: String): String = {
    val pairs = Digest.ofFrame(JsonlSnapshotSink.readBack(spark, root), Seq("object_key", "record"))
    s"$pairs:manifest=${manifestLines(root)}"
  }

  private def files(root: String, sub: String): Seq[java.io.File] =
    Option(new java.io.File(s"$root/$sub").listFiles()).toSeq.flatten
      .flatMap(f => if (f.isDirectory) Option(f.listFiles()).toSeq.flatten else Seq(f))
      .filter(f => f.isFile && !f.getName.startsWith("."))

  private def manifestLines(root: String): Long =
    files(root, "manifests").map { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try s.getLines().size.toLong finally s.close()
    }.sum

  // the record pipeline of ExportQueries.recordsFromKv, one stage per step
  private def extracted(spark: SparkSession, dir: String) =
    extractEnvelope(KvSource.envelopes(spark, dir), col("envelope"), col("topic")).filter(mandatoryOk)
  private def decryptedFrame(spark: SparkSession, dir: String) =
    extracted(spark, dir).withColumn("payload_dec", decrypted)
      .withColumn("payload2", when(isBusinessAudit, auditPromote(col("payload_dec"), col("x_lm")))
        .otherwise(col("payload_dec")))
  private def validated(spark: SparkSession, dir: String) =
    decryptedFrame(spark, dir).withColumn("v", validate(col("payload2"), col("x_id")))
      .filter(col("v").isNotNull)
  private def sanitised(spark: SparkSession, dir: String) =
    validated(spark, dir).withColumn("sanitised", sanitise(col("v.record"), col("r_db"), col("r_coll")))
      .withColumn("record", when(col("topic") === KvModel.EqualityTopic,
        equalityWrap(col("sanitised"), col("x_inner"))).otherwise(col("sanitised")))
  private def withManifest(spark: SparkSession, dir: String) =
    sanitised(spark, dir).withColumn("manifest_line", manifestLine(col("v.manifest_id"), col("ms"),
      col("r_db"), col("r_coll"), col("x_outer"), col("v.original_id"), col("x_inner")))

  private def count(df: DataFrame): Long = df.queryExecution.toRdd.count()

  @volatile private var lastSummary: DataFrame = null

  def ladder(spark: SparkSession, dir: String, root: String): Seq[Step] = Seq(
    Step("kv.scan", "kv", () => count(KvSource.envelopes(spark, dir))),
    Step("functions.extract", "functions", () => count(extracted(spark, dir))),
    Step("functions.decrypt", "functions", () => count(decryptedFrame(spark, dir))),
    Step("functions.validate", "functions", () => count(validated(spark, dir))),
    Step("functions.sanitise", "functions", () => count(sanitised(spark, dir))),
    Step("functions.manifest", "functions", () => count(withManifest(spark, dir))),
    Step("operators.chunk", "operators", () => count(JsonlSnapshotSink.chunkedFrame(
      withManifest(spark, dir), JsonlSnapshotSink.Prefix, KvModel.ChunkMaxBytes, GzipSnapshotCodec))),
    Step("sources.write", "sources", () => {
      val s = JsonlSnapshotSink.write(withManifest(spark, dir), root)
      lastSummary = s
      s.collect().length.toLong // a local frame: no job
    }))

  def ladderDigest(spark: SparkSession, dir: String, root: String): String = digestOf(spark, root)

  def counts(spark: SparkSession, dir: String, root: String, rows: Map[String, Long]): Map[String, Double] = {
    val summary = lastSummary.collect()
    val jsonl = summary.map(_.getLong(2)).sum.toDouble
    val stored = (files(root, "data") ++ files(root, "manifests")).map(_.length).sum.toDouble
    Map(
      "functions.records_out" -> rows("functions.manifest").toDouble,
      "functions.rejected_mandatory" -> (rows("kv.scan") - rows("functions.extract")).toDouble,
      "functions.rejected_validate" -> (rows("functions.decrypt") - rows("functions.validate")).toDouble,
      "sources.objects" -> summary.length.toDouble,
      "sources.jsonl_mb" -> jsonl / (1024.0 * 1024.0),
      "sources.stored_mb" -> stored / (1024.0 * 1024.0),
      "sources.stored_per_jsonl" -> (if (jsonl > 0) stored / jsonl else 0.0))
  }
}

/** Daily time-range "latest" export over the synthetic KV source. */
object IncrementalLatest extends Workload {
  val name = "incremental_latest"

  def open(spark: SparkSession, dir: String): Unit = { KvSource.kv(spark, dir).schema; () }

  def build(spark: SparkSession, dir: String): DataFrame = ExportQueries.incrementalExport(spark, dir)

  def act(spark: SparkSession, df: DataFrame, root: String): () => String = Workloads.collectDigestOf(df)

  private def slice(spark: SparkSession, dir: String): DataFrame = {
    val kv0 = KvSource.kv(spark, dir)
    kv0.filter(ExportQueries.tsNsRange(kv0, ExportQueries.T1, ExportQueries.T2))
  }

  // incrementalExport's latest-cell aggregation, as written there
  private def latest(spark: SparkSession, dir: String): DataFrame = {
    val kv = slice(spark, dir)
    kv.groupBy(col("uid"))
      .agg(max_by(struct(kv.columns.map(col): _*), struct(col("ms"), col("eid"))).as("r"))
      .select(col("r.*"))
  }

  def ladder(spark: SparkSession, dir: String, root: String): Seq[Step] = Seq(
    Step("kv.scan", "kv", () => slice(spark, dir).queryExecution.toRdd.count()),
    Step("queries.latest", "queries", () => latest(spark, dir).queryExecution.toRdd.count()),
    Step("functions.records", "functions",
      () => ExportQueries.incrementalExport(spark, dir).queryExecution.toRdd.count()))

  def ladderDigest(spark: SparkSession, dir: String, root: String): String =
    Workloads.collectDigestOf(ExportQueries.incrementalExport(spark, dir))()

  def counts(spark: SparkSession, dir: String, root: String, rows: Map[String, Long]): Map[String, Double] =
    Map("functions.records_out" -> rows("functions.records").toDouble)
}

/** Training-data near-duplicate detection (MinHash LSH). */
object CurateDedup extends Workload {
  val name = "curate_dedup"

  def open(spark: SparkSession, dir: String): Unit = { graft.Tables(spark, dir).documents.schema; () }

  def build(spark: SparkSession, dir: String): DataFrame = HashDedup.dedupMinhash(spark, dir)

  def act(spark: SparkSession, df: DataFrame, root: String): () => String = {
    val check = Workloads.collectDigestOf(df)
    CacheRegistry.releaseAll(spark)
    check
  }

  private def sig(spark: SparkSession, dir: String): DataFrame =
    HashDedup.minhashSigFrom(TextQueries.dupCorpusTok(spark, dir))

  def ladder(spark: SparkSession, dir: String, root: String): Seq[Step] = Seq(
    Step("dedup.corpus", "dedup", () => TextQueries.dupCorpus(spark, dir).queryExecution.toRdd.count()),
    Step("dedup.tokenize", "dedup", () => TextQueries.dupCorpusTok(spark, dir).queryExecution.toRdd.count()),
    Step("dedup.signature", "dedup", () => sig(spark, dir).queryExecution.toRdd.count()),
    Step("dedup.bands", "dedup",
      () => HashDedup.bandRowsOf(sig(spark, dir), HashDedup.Bands).queryExecution.toRdd.count()),
    Step("dedup.band_join", "dedup", () => {
      try HashDedup.dedupMinhash(spark, dir).queryExecution.toRdd.count()
      finally CacheRegistry.releaseAll(spark)
    }))

  def ladderDigest(spark: SparkSession, dir: String, root: String): String = {
    try Workloads.collectDigestOf(HashDedup.dedupMinhash(spark, dir))()
    finally CacheRegistry.releaseAll(spark)
  }

  def counts(spark: SparkSession, dir: String, root: String, rows: Map[String, Long]): Map[String, Double] = {
    val tok = TextQueries.dupCorpusTok(spark, dir)
    val shingles = tok.filter(size(col("ws")) >= 3)
      .select(explode(expr(
        "array_distinct(transform(sequence(0, size(ws)-3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2])))")))
      .count()
    val buckets = HashDedup.bandRowsOf(sig(spark, dir), HashDedup.Bands)
      .groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) DIV 2")), max(col("n"))).head()
    val joinRows = buckets.getLong(0).toDouble
    val pairs = rows("dedup.band_join").toDouble
    Map("dedup.shingles" -> shingles.toDouble, "dedup.join_rows" -> joinRows,
      "dedup.pairs" -> pairs, "dedup.join_rows_per_pair" -> (if (pairs > 0) joinRows / pairs else 0.0),
      "dedup.largest_bucket" -> buckets.getLong(1).toDouble)
  }
}
