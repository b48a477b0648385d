package graft.sources

import graft.queries.{PipelineQueries, TextQueries}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SHARD INCREMENT, APPEND-ONLY (№220 `shard_increment`) — №219's
  * tail-append pack materialized into №68's shard FILES under the
  * object-store discipline: history files are NEVER rewritten. An object
  * store has no append — "append" means a new file — so the arrival
  * batch lands as a GENERATION: per shard, one `*.g1.txt.gz` file next
  * to the immobile gen-0 file. The one wrinkle №219 predicts is the
  * boundary sequence per bin whose accounting GREW (base tail + first
  * arrival tokens): its gen-0 line is stale, and instead of rewriting
  * that file the corrected line rides gen-1 at the SAME (shard, pos) —
  * the loader resolves LAST-WRITER-WINS per (bin, seq_id), the exact
  * max_by(version) discipline of the reference's latest-cell read
  * (app/batch/HBaseResultProcessor.kt — the newest cell wins, older
  * versions stay on disk). №218 forgets by rewriting touched files;
  * №220 shows the complementary lever: correcting by superseding.
  *
  * What is billed: `n_superseded` gen-0 lines remain on disk as dead
  * bytes the resolve pass must read and drop — the read amplification
  * an append-only store trades for zero history rewrites (reclaimed in
  * a №215-style compaction slot). New sequences take positions strictly
  * past their shard's gen-0 maximum, so gen-0 resume offsets stay valid.
  *
  * ShardIncrementSpec pins the theorem file-by-file: EVERY gen-0 file
  * (size, mtime)-identical after the increment (zero rewrites — №218's
  * census, now asserting emptiness of the touched set), the raw
  * read-back carrying exactly n_superseded duplicate keys, resolution
  * dropping exactly the gen-0 members, and new positions past the gen-0
  * maximum per shard.
  *
  * At 100 TB: the gen-1 write is batch-sized (extended lines ≤ bins, new
  * lines = the batch's sequences), the g0-max frame is shard-count-sized
  * (broadcast), and the resolve is one window over (bin, seq_id) at read
  * time — the increment costs O(batch), the history costs nothing.
  *
  * Output: the resolved loader view (shard, pos, bin, seq_id, n_tokens,
  * docs, gen) + the bill (n_files_gen0, n_files_gen1, n_superseded,
  * n_new_lines); the DuckDB oracle rebuilds both generations and the
  * last-writer-wins resolution closed-form, so a rewritten history file,
  * a lost supersede, a stale line surviving resolution or a position
  * collision all diverge the hash. */
object ShardIncrement {

  val Shards = 16

  def gen1File(shard: Int, of: Int): String =
    f"shard-$shard%04d-of-$of%04d.g1.txt.gz"

  /** Spec diagnostics: gen-0 metadata census before/after the gen-1
    * write (one listing each), and the raw (unresolved) line count. */
  private[graft] final case class IncrementDetail(
      g0Before: Map[String, (Long, Long)],
      g0After: Map[String, (Long, Long)],
      rawLines: Long)

  def shardIncrement(spark: SparkSession, dir: String): DataFrame =
    shardIncrementWithDetail(spark, dir)._1

  private[graft] def shardIncrementWithDetail(
      spark: SparkSession, dir: String): (DataFrame, IncrementDetail) = {
    import spark.implicits._
    val L = PipelineQueries.SeqLen
    val w = Window.partitionBy($"bin")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = graft.CacheRegistry.track(graft.Tables(spark, dir).documents
      .select($"doc_id", pmod($"doc_id", lit(PipelineQueries.PackBins)).as("bin"),
        size(TextQueries.words($"text")).cast("long").as("n_tok"),
        (pmod($"doc_id", lit(PipelineQueries.IncArrMod)) === PipelineQueries.IncArrRes).as("arr"))
      .persist())
    val baseOff = d.filter(!$"arr")
      .withColumn("start_off", sum($"n_tok").over(w) - $"n_tok")
    def seqsOf(off: DataFrame): DataFrame = off
      .withColumn("seq_id", expr(s"start_off DIV $L"))
      .groupBy($"bin", $"seq_id")
      .agg(sum($"n_tok").as("n_tokens"),
        concat_ws(",",
          transform(array_sort(collect_list(struct($"start_off", $"doc_id"))),
            s => s.getField("doc_id").cast("string"))).as("docs"),
        min($"arr").as("all_arr"), max($"arr").as("any_arr"))
    def hashed(s: DataFrame): DataFrame = s
      .withColumn("hk", md5(concat($"bin".cast("string"), lit(":"), $"seq_id".cast("string"))))
      .withColumn("shard",
        pmod(conv(substring($"hk", 1, 8), 16, 10).cast("long"), lit(Shards)).cast("int"))
    // gen 0: the base pack, №68's write
    val l0 = graft.CacheRegistry.track(hashed(seqsOf(baseOff))
      .withColumn("pos", row_number().over(
        Window.partitionBy($"shard").orderBy($"hk", $"bin", $"seq_id")).cast("long"))
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs")
      .persist())
    val root = graft.GenStore.open(spark, "shard_increment").toString
    def lineOf(f: DataFrame): DataFrame = f.select($"shard", $"pos",
      concat_ws("|", $"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs").as("line"))
    TrainShardSink.write(lineOf(l0), root, Shards)
    val g0Before = fileCensus(spark, root, gen1 = false)
    // the arrival batch under №219's tail-append (offsets continue from
    // each bin's base total — a bins-sized broadcast)
    val binTot = d.filter(!$"arr").groupBy($"bin").agg(sum($"n_tok").as("base_tot"))
    val arrOff = d.filter($"arr")
      .withColumn("boff", sum($"n_tok").over(w) - $"n_tok")
      .join(broadcast(binTot), Seq("bin"), "left")
      .withColumn("start_off", coalesce($"base_tot", lit(0L)) + $"boff")
      .select($"doc_id", $"bin", $"n_tok", $"arr", $"start_off")
    val inc = graft.CacheRegistry.track(
      seqsOf(baseOff.select($"doc_id", $"bin", $"n_tok", $"arr", $"start_off")
        .unionAll(arrOff)).persist())
    // gen-1 lines: extended sequences supersede AT THEIR ORIGINAL
    // (shard, pos); new sequences take positions past the shard's gen-0 max
    val ext = inc.filter(!$"all_arr" && $"any_arr")
      .join(l0.select($"shard", $"pos", $"bin", $"seq_id"), Seq("bin", "seq_id"))
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs")
    val g0max = l0.groupBy($"shard").agg(max($"pos").as("mx")) // ≤ Shards rows
    val lnew = hashed(inc.filter($"all_arr"))
      .join(broadcast(g0max), Seq("shard"), "left")
      .withColumn("pos", (coalesce($"mx", lit(0L)) + row_number().over(
        Window.partitionBy($"shard").orderBy($"hk", $"bin", $"seq_id"))).cast("long"))
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs")
    val l1 = graft.CacheRegistry.track(ext.unionAll(lnew).persist())
    writeGen1(lineOf(l1), root)
    val g0After = fileCensus(spark, root, gen1 = false)
    // the loader view: last writer wins per (bin, seq_id)
    val back = graft.CacheRegistry.track(readBackGen(spark, root).persist())
    val rawLines = back.count()
    val resolved = back
      .withColumn("rn", row_number().over(
        Window.partitionBy($"bin", $"seq_id").orderBy($"gen".desc)))
      .filter($"rn" === 1).drop("rn")
    // bill distributively: superseding lines are the l1 keys present in l0
    val billF = l1.join(l0.select($"bin", $"seq_id"), Seq("bin", "seq_id"), "left_semi")
      .agg(count(lit(1)).as("n_superseded"))
      .crossJoin(broadcast(l1.agg(count(lit(1)).as("g1_total"))))
      .crossJoin(broadcast(l1.select($"shard").distinct().agg(count(lit(1)).as("n_files_gen1"))))
      .select(lit(Shards.toLong).as("n_files_gen0"), $"n_files_gen1",
        $"n_superseded", ($"g1_total" - $"n_superseded").as("n_new_lines"))
    val out = resolved.crossJoin(broadcast(billF)).orderBy($"shard", $"pos")
    (out, IncrementDetail(g0Before, g0After, rawLines))
  }

  /** Write the gen-1 files (one per shard present in `lines`) with №68's
    * streaming tmp+rename task body — finals are NEW names, so the commit
    * is a plain first-writer rename. */
  private[graft] def writeGen1(lines: DataFrame, root: String,
                               nShards: Int = Shards,
                               nameOf: (Int, Int) => String = gen1File): Unit = {
    val spark = lines.sparkSession
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
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
      .mapPartitions(rows => TrainShardSink.writePartitionBody(
        rows, root, nShards, GzipSnapshotCodec, confEntries, nameOf))
      .collect() // eager: the side-effecting write must run exactly once
    ()
  }

  /** №68's read-back plus the generation parsed from the FILE NAME — the
    * loader's raw view before resolution. */
  private[graft] def readBackGen(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.gz")
      .load(s"$root/shards")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val gen = if (path.endsWith(".g1.txt.gz")) 1 else 0
        val text = new String(GzipSnapshotCodec.decompress(
          new java.io.ByteArrayInputStream(bytes)).readAllBytes(), "UTF-8")
        text.split("\n", -1).iterator.filter(_.nonEmpty).map(l => (gen, l))
      }
      .select(col("_1").as("gen"), split(col("_2"), "\\|").as("f"))
      .select(
        element_at(col("f"), 1).cast("int").as("shard"),
        element_at(col("f"), 2).cast("long").as("pos"),
        element_at(col("f"), 3).cast("long").as("bin"),
        element_at(col("f"), 4).cast("long").as("seq_id"),
        element_at(col("f"), 5).cast("long").as("n_tokens"),
        element_at(col("f"), 6).as("docs"),
        col("gen"))
  }

  /** Metadata census of gen-0 (or gen-1) files: name → (size, mtime). */
  private def fileCensus(spark: SparkSession, root: String,
                         gen1: Boolean): Map[String, (Long, Long)] = {
    val p = new Path(s"$root/shards")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).filter(_.isFile)
      .filterNot(_.getPath.getName.startsWith("."))
      .filter(_.getPath.getName.endsWith(".g1.txt.gz") == gen1)
      .map(s => s.getPath.getName -> (s.getLen, s.getModificationTime)).toMap
  }

  /** The DuckDB twin: both generations and the last-writer-wins
    * resolution, closed-form. */
  val shardIncrementSql: String = {
    val L = PipelineQueries.SeqLen
    val bins = PipelineQueries.PackBins
    val hex8 = "CAST(list_sum(list_transform(range(1, 9), i -> " +
      "CAST(strpos('0123456789abcdef', substr(hk, CAST(i AS INT), 1)) - 1 AS BIGINT) << (4 * (8 - CAST(i AS INT))))) AS BIGINT)"
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % $bins AS bin,
       |    CAST(len(${TextQueries.wordsSql("text")}) AS BIGINT) AS n_tok,
       |    doc_id % ${PipelineQueries.IncArrMod} = ${PipelineQueries.IncArrRes} AS arr
       |  FROM documents),
       |bo AS (
       |  SELECT doc_id, bin, n_tok, FALSE AS arr,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d WHERE NOT arr),
       |bt AS (SELECT bin, CAST(sum(n_tok) AS BIGINT) AS base_tot FROM d WHERE NOT arr GROUP BY bin),
       |ao AS (
       |  SELECT d.doc_id, d.bin, d.n_tok, TRUE AS arr,
       |    coalesce(bt.base_tot, 0) +
       |      CAST(sum(d.n_tok) OVER (PARTITION BY d.bin ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
       |                              ROWS UNBOUNDED PRECEDING) - d.n_tok AS BIGINT) AS start_off
       |  FROM d LEFT JOIN bt USING (bin) WHERE d.arr),
       |s0 AS (
       |  SELECT bin, start_off // $L AS seq_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY start_off, doc_id) AS docs
       |  FROM bo GROUP BY bin, start_off // $L),
       |h0 AS (SELECT *, md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)) AS hk FROM s0),
       |l0 AS (
       |  SELECT CAST($hex8 % $Shards AS INT) AS shard,
       |    CAST(row_number() OVER (PARTITION BY $hex8 % $Shards ORDER BY hk, bin, seq_id) AS BIGINT) AS pos,
       |    bin, seq_id, n_tokens, docs
       |  FROM h0),
       |u AS (SELECT * FROM bo UNION ALL SELECT * FROM ao),
       |inc AS (
       |  SELECT bin, start_off // $L AS seq_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY start_off, doc_id) AS docs,
       |    bool_and(arr) AS all_arr, bool_or(arr) AS any_arr
       |  FROM u GROUP BY bin, start_off // $L),
       |g0max AS (SELECT shard, max(pos) AS mx FROM l0 GROUP BY shard),
       |hn AS (
       |  SELECT inc.*, md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)) AS hk
       |  FROM inc WHERE all_arr),
       |l1 AS (
       |  SELECT l0.shard, l0.pos, i.bin, i.seq_id, i.n_tokens, i.docs
       |  FROM inc i JOIN l0 USING (bin, seq_id) WHERE NOT i.all_arr AND i.any_arr
       |  UNION ALL
       |  SELECT CAST($hex8 % $Shards AS INT) AS shard,
       |    coalesce(g0max.mx, 0) + CAST(row_number() OVER (
       |      PARTITION BY $hex8 % $Shards ORDER BY hk, bin, seq_id) AS BIGINT) AS pos,
       |    bin, seq_id, n_tokens, docs
       |  FROM hn LEFT JOIN g0max ON g0max.shard = CAST($hex8 % $Shards AS INT)),
       |resolved AS (
       |  SELECT l0.shard, l0.pos, l0.bin, l0.seq_id, l0.n_tokens, l0.docs, 0 AS gen
       |  FROM l0 ANTI JOIN l1 USING (bin, seq_id)
       |  UNION ALL
       |  SELECT shard, pos, bin, seq_id, n_tokens, docs, 1 AS gen FROM l1),
       |bill AS (
       |  SELECT CAST($Shards AS BIGINT) AS n_files_gen0,
       |    CAST((SELECT count(DISTINCT shard) FROM l1) AS BIGINT) AS n_files_gen1,
       |    CAST((SELECT count(*) FROM l1 SEMI JOIN l0 USING (bin, seq_id)) AS BIGINT) AS n_superseded,
       |    CAST((SELECT count(*) FROM l1 ANTI JOIN l0 USING (bin, seq_id)) AS BIGINT) AS n_new_lines)
       |SELECT r.shard, r.pos, r.bin, r.seq_id, r.n_tokens, r.docs, r.gen,
       |  bill.n_files_gen0, bill.n_files_gen1, bill.n_superseded, bill.n_new_lines
       |FROM resolved r CROSS JOIN bill
       |ORDER BY shard, pos""".stripMargin
  }
}
