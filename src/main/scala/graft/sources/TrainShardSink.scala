package graft.sources

import graft.queries.PipelineQueries
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-shard sink (№68) — the LLM side's physical output, the
  * counterpart of [[JsonlSnapshotSink]] on the export side: materialize
  * the shuffled packed sequences ([[PipelineQueries.sequenceShuffle]] ×
  * [[PipelineQueries.sequenceManifest]]) as one compressed shard file per
  * data-parallel shard, lines in consumption order — exactly what a
  * training loader streams. Line format (pipe-separated, the manifest
  * style): `shard|pos|bin|seq_id|n_tokens|docs` with `docs` the
  * comma-joined doc ids in concatenation order.
  *
  * Spark-first shape: ONE shuffle on shard + within-partition sort on
  * (shard, pos); each task streams its shard groups through one open
  * compressor at a time with the dot-temp + atomic-rename task-commit
  * protocol (same rationale as JsonlSnapshotSink: speculative/zombie
  * attempts cannot interleave bytes; readers never see temps). Shard
  * count is the cluster's data-parallelism — a constant — so
  * file-create overhead is nil and per-file windows scale.
  *
  * The round trip is oracle-verified: [[readBack]] decompresses and
  * re-parses every line, and the driver's DuckDB oracle reconstructs the
  * identical rows relationally (packing CTEs + shuffle hash + manifest
  * string_agg). */
object TrainShardSink {

  def shardFile(shard: Int, of: Int): String = f"shard-$shard%04d-of-$of%04d.txt.gz"

  /** Test-only fault point (see [[JsonlSnapshotSink.faultInjector]]):
    * (shard, lines in current shard, shards committed so far by this
    * task). */
  @volatile private[graft] var faultInjector: (Int, Long, Int) => Unit = (_, _, _) => ()

  /** Write `lines` (shard, pos, line) as one gzip file per shard under
    * `root/shards/`; returns the per-file summary (shard_file, n_seqs,
    * txt_bytes). Eager — the files exist when this returns. */
  def write(lines: DataFrame, root: String,
            nShards: Int = PipelineQueries.NShards,
            codec: SnapshotCodec = GzipSnapshotCodec): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._

    val hc = spark.sparkContext.hadoopConfiguration
    val rootPath = new Path(root)
    val fs0 = rootPath.getFileSystem(hc)
    if (fs0.exists(rootPath)) fs0.delete(rootPath, true)
    val confEntries: Array[(String, String)] = {
      val it = hc.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
      buf.toArray
    }

    lines
      .repartition(math.min(nShards, spark.sparkContext.defaultParallelism), col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .select(col("shard"), col("line"))
      .as[(Int, String)]
      .mapPartitions(rows => writePartitionBody(rows, root, nShards, codec, confEntries))
      .collect() // eager: the side-effecting write must run exactly once
      .toSeq.toDF("shard_file", "n_seqs", "txt_bytes")
  }

  /** The per-task writer body: one streaming pass over (shard, line) rows
    * sorted by shard, dot-temp + rename-first commit per shard file.
    * Extracted (private[graft]) so SinkSpeculationSpec can race two live
    * attempt contexts against one root (the `spark.speculation` case). */
  private[graft] def writePartitionBody(
      rows: Iterator[(Int, String)], root: String, nShards: Int,
      codec: SnapshotCodec,
      confEntries: Array[(String, String)],
      nameOf: (Int, Int) => String = shardFile): Iterator[(String, Long, Long)] = {
        if (rows.isEmpty) Iterator.empty
        else {
          val conf = new org.apache.hadoop.conf.Configuration(false)
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          // PRIVATE FileSystem instance: the global cache is keyed by
          // (scheme, authority, ugi) — NOT conf — so mutating checksum
          // flags on the cached instance would disable .crc sidecars for
          // every other writer in this JVM for the session's remainder.
          // Closed in the finally below.
          // Path.toUri, not new URI(root): Path percent-encodes, so roots
          // that are valid Hadoop paths but invalid raw URIs (spaces, ...)
          // don't throw URISyntaxException inside every task
          val scheme = Option(new Path(root).toUri.getScheme).getOrElse("file")
          conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
          val fs = new Path(root).getFileSystem(conf)
          fs.setWriteChecksum(false)
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          def tmpOf(name: String) = s"$root/shards/.$name.a$attempt.tmp"
          def finalOf(name: String) = s"$root/shards/$name"
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]

          var cur = -1
          var gz: java.io.OutputStream = null
          var n = 0L; var bytes = 0L
          def closeCurrent(): Unit = if (cur >= 0) {
            gz.close()
            val name = nameOf(cur, nShards)
            val t = new Path(tmpOf(name)); val f = new Path(finalOf(name))
            if (!fs.rename(t, f)) {
              // duplicate attempt won with identical bytes — drop ours
              if (fs.exists(f)) fs.delete(t, false)
              else throw new java.io.IOException(s"commit rename failed: $name")
            }
            out += ((name, n, bytes)); cur = -1
          }
          try {
            rows.foreach { case (shard, line) =>
              if (shard != cur) {
                closeCurrent()
                gz = codec.compress(new java.io.BufferedOutputStream(
                  fs.create(new Path(tmpOf(nameOf(shard, nShards))), true), 65536))
                cur = shard; n = 0L; bytes = 0L
              }
              val b = (line + "\n").getBytes("UTF-8")
              gz.write(b); n += 1; bytes += b.length
              TrainShardSink.faultInjector(cur, n, out.size)
            }
            closeCurrent()
          } catch { case e: Throwable =>
            try { if (gz != null) gz.close() } catch { case _: Throwable => () }
            throw e
          } finally {
            // uncached instances leak connection/thread pools if not closed
            try fs.close() catch { case _: Throwable => () }
          }
          out.iterator
        }
  }

  /** Decompress + re-parse every shard file back to typed rows — the
    * round-trip proof. Distributed binaryFile read, one file per row. */
  def readBack(spark: SparkSession, root: String,
               codec: SnapshotCodec = GzipSnapshotCodec): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.gz")
      .load(s"$root/shards")
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap { bytes =>
        val text = new String(codec.decompress(new java.io.ByteArrayInputStream(bytes)).readAllBytes(), "UTF-8")
        text.split("\n", -1).iterator.filter(_.nonEmpty)
      }
      .select(split(col("value"), "\\|").as("f"))
      .select(
        element_at(col("f"), 1).cast("int").as("shard"),
        element_at(col("f"), 2).cast("long").as("pos"),
        element_at(col("f"), 3).cast("long").as("bin"),
        element_at(col("f"), 4).cast("long").as("seq_id"),
        element_at(col("f"), 5).cast("long").as("n_tokens"),
        element_at(col("f"), 6).as("docs"))
  }

  /** Verify-runnable form (№68 `train_shard_sink`): build the shard
    * lines from the SHARED shuffle + manifest frames, write to scratch,
    * and return the parsed read-back — the driver's oracle reconstructs
    * the same rows relationally, so a lost/reordered/corrupted line
    * anywhere in the write path fails the hash. */
  def shardQuery(spark: SparkSession, dir: String): DataFrame = shardQueryDetail(spark, dir)._1

  /** [[shardQuery]] plus the store root it wrote (the spec inspects the
    * shard files' physical order). */
  private[graft] def shardQueryDetail(spark: SparkSession, dir: String): (DataFrame, String) = {
    val shuffled = PipelineQueries.sequenceShuffle(spark, dir)
    val manifest = PipelineQueries.sequenceManifest(spark, dir)
      .select(col("bin"), col("seq_id"), col("docs"))
    val lines = shuffled.join(manifest, Seq("bin", "seq_id"))
      .select(col("shard"), col("pos"),
        concat_ws("|", col("shard"), col("pos"), col("bin"), col("seq_id"),
          col("n_tokens"), col("docs")).as("line"))
    val root = graft.GenStore.open(spark, "train_shards").toString
    write(lines, root)
    (readBack(spark, root).orderBy(col("shard"), col("pos")), root)
  }
}
