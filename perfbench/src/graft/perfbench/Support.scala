package graft.perfbench

import graft.sources.KvSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** KvSource over a stored-cell table: `<dir>/cells` holds the KvSource
  * contract columns plus the encrypted `envelope`, written once by
  * [[Cells]]. The export reads the cells as a real connector would return
  * them, so no envelope is constructed (and nothing is encrypted) inside
  * the timed pipeline. Selected with `spark.graft.kvSource`. */
final class StoredCellSource extends KvSource {
  // a connector knows its table's schema: infer it once, not per scan
  override def envelopes(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(StoredCellSource.schema(spark, s"$dir/cells")).parquet(s"$dir/cells")
  override def kv(spark: SparkSession, dir: String): DataFrame =
    envelopes(spark, dir).drop("envelope")
}

object StoredCellSource {
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
  def schema(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    schemas.computeIfAbsent(path, p => spark.read.parquet(p).schema)
}

/** Order-independent output digest: row count plus the exact sum of the
  * first 64 bits of md5 over each rendered row. A row renders as its
  * columns in name order, each as its string form (`\N` for null), joined
  * by U+0001 — the same rendering `perfbench/oracle.py` applies to the
  * DuckDB oracle's rows. */
object Digest {
  private val Sep = "\u0001"

  def ofRows(rows: Array[org.apache.spark.sql.Row], columns: Seq[String]): String = {
    if (rows.isEmpty) return "0:0"
    val schema = rows.head.schema
    val idx = columns.sorted.map(schema.fieldIndex).toArray
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = BigInt(0)
    rows.foreach { r =>
      val s = idx.map(i => if (r.isNullAt(i)) "\\N" else r.get(i).toString).mkString(Sep)
      val h = md.digest(s.getBytes("UTF-8"))
      sum += BigInt(1, h.take(8))
    }
    s"${rows.length}:$sum"
  }

  /** Same digest computed inside Spark, for outputs too large to collect. */
  def ofFrame(df: DataFrame, columns: Seq[String]): String = {
    val rendered = concat_ws(Sep, columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\\N"))): _*)
    val r = df.select(substring(md5(rendered), 1, 16).as("h"))
      .agg(count(lit(1)), sum(conv(col("h"), 16, 10).cast("decimal(20,0)")))
      .head()
    val n = r.getLong(0)
    s"$n:${if (n == 0) "0" else r.getDecimal(1).toBigInteger.toString}"
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Input generator step that needs the program: builds the stored-cell
  * table for `snapshot_full` from the generated events with the program's
  * own `KvModel.kvFromEvents` + `withEnvelope`, as multi-file parquet.
  * Usage: Cells <input dir> <files> */
object Cells {
  val ContractColumns: Seq[String] = Seq("eid", "uid", "ms", "ts_ns", "id_json", "key_hash",
    "key_byte", "db", "coll", "topic", "lm_str", "envelope")

  def main(args: Array[String]): Unit = {
    val Array(dir, files) = args
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val kv = graft.kv.KvModel.kvFromEvents(graft.Tables(spark, dir).events)
      graft.kv.KvModel.withEnvelope(kv)
        .select(ContractColumns.map(col): _*)
        .repartition(files.toInt)
        .write.parquet(s"$dir/cells")
    } finally spark.stop()
  }
}

/** Writes the DuckDB oracle SQL of the named registry queries as one JSON
  * object. Usage: OracleSql <out file> <query>... */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val text = Json.obj(args.toSeq.tail.map(n => n -> Json.str(sql(n))))
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)), text.getBytes("UTF-8"))
  }
}
