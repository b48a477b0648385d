package graft.queries

import graft.{CacheRegistry, GenStore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared preamble and serve core of the text band-index drills
  * (dedup_index_×5, corpus_night / forget / retention / backfill,
  * stream_night): the dup corpus tokenized once, its 5-shingles, the
  * τ-pair truth, the banded signature rows tagged with each doc's night
  * class (doc_id mod [[HashDedup.IncCalMod]]) and, for the cross-family
  * drills, the №82 doc embeddings. Every persisted frame is tracked and
  * released with the query; each is built on first use. */
private[graft] final class BandIndex(spark: SparkSession, dir: String) {
  import BandIndex._

  val tok: DataFrame = CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
  lazy val sh5: DataFrame = TextQueries.shingleFrameOf(tok)
  lazy val truthAll: DataFrame = CacheRegistry.track(
    TextQueries.dedupNgramJaccardFrom(tok).select(col("doc_a"), col("doc_b")).persist())
  /** One signature pass over the WHOLE corpus; stage membership is a
    * filter on doc class (signatures are per-doc — no cross-doc state). */
  lazy val rows: DataFrame = CacheRegistry.track(HashDedup.mpBaseRows(HashDedup.mpSigFrom(tok))
    .withColumn("cls", clsOf(col("doc_id"))).persist())
  lazy val ve: DataFrame = CacheRegistry.track(
    PipelineQueries.docEmbedVectorsFrom(TextQueries.dupCorpus(spark, dir))
      .select(col("doc_id"), col("emb_arr"), col("norm_sq"))
      .withColumn("cls", clsOf(col("doc_id"))).persist())

  /** The band rows (doc_id, band, band_key) of the classes `p` admits. */
  def ofCls(p: Column => Column): DataFrame = rows.filter(p(col("cls"))).select(IdxCols: _*)

  /** The held-out query docs (every [[VectorQueries.EmbedQEvery]]-th),
    * minus the night classes `batch` — a batch doc is a probe key. */
  def queriesOutside(batch: Long*): DataFrame = CacheRegistry.track(
    ve.filter(col("doc_id") % VectorQueries.EmbedQEvery === 0 && !col("cls").isin(batch.map(Long.box): _*))
      .select(col("doc_id").as("q_id"), col("emb_arr").as("q_emb"), col("norm_sq").as("q_norm"))
      .persist())

  /** The candidates that pass the shared exact τ=3/5 test
    * ([[TextQueries.verifyPairsOf]] — the mode contract). */
  def verified(cand: DataFrame): DataFrame =
    TextQueries.verifyPairsOf(sh5, cand).select(col("doc_a"), col("doc_b"))

  /** One serve of `keys` against the store's FILES: `body` gets the
    * read-back (`cols`), its distinct probe candidates and their verified
    * subset. The read-back and candidates are materialized once for every
    * census the body takes, and only for the body's duration
    * ([[GenStore.withPersisted]]). */
  def serve[T](store: GenStore, keys: DataFrame, cols: Column*)(
      body: (DataFrame, DataFrame, DataFrame) => T): T = {
    val back = store.readBack(cols: _*)
    val cand = probe(keys, back)
    GenStore.withPersisted(back, cand)(body(back, cand, verified(cand)))
  }
}

private[graft] object BandIndex {
  def IdxCols: Seq[Column] = Seq(col("doc_id"), col("band"), col("band_key"))

  def clsOf(c: Column): Column = pmod(c, lit(HashDedup.IncCalMod.toLong))

  /** The band-key probe: distinct (doc_a < doc_b) pairs of a key row and
    * an index row that share a band key. */
  def probe(keys: DataFrame, index: DataFrame): DataFrame =
    keys.as("a").join(index.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b")).distinct()

  /** One row of serve censuses: n_candidates, the read-back aggregates,
    * n_lookups and n_true. */
  def census(cand: DataFrame, back: DataFrame, keys: DataFrame, truth: DataFrame,
             backAggs: Column*): DataFrame =
    cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(back.agg(backAggs.head, backAggs.tail: _*)))
      .crossJoin(broadcast(keys.agg(count(lit(1)).as("n_lookups"))))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))

  /** `num / max(den, 1)` to 6 places — the prec / rec columns. */
  def ratio(num: String, den: String): Column =
    round(col(num).cast("double") / greatest(col(den), lit(1L)) + 1e-9, 6)

  /** Exact-integer cosine of every stored vector against every query
    * (q_id, doc_id, cos). */
  def scored(vBack: DataFrame, queries: DataFrame): DataFrame =
    vBack.join(broadcast(queries))
      .select(col("q_id"), col("doc_id"),
        round(
          aggregate(zip_with(col("emb_arr"), col("q_emb"), (x, y) => x * y), lit(0L), (acc, p) => acc + p)
            .cast("double") /
            (sqrt(col("norm_sq").cast("double")) * sqrt(col("q_norm").cast("double"))), 6).as("cos"))
}
