package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Two runs of the same store-lifecycle drill at once, each on its own
  * session, must each equal a sequential run row for row: every run
  * lands into its own [[GenStore]] root, so neither deletes, doubles or
  * drops generations under the other. */
class GenStoreConcurrencySpec extends SparkSpec {

  private def runOn(s: SparkSession, fn: (SparkSession, String) => DataFrame): Seq[Row] =
    try fn(s, sf).collect().toSeq finally CacheRegistry.releaseAll(s)

  private def twiceAtOnce(name: String, fn: (SparkSession, String) => DataFrame): Unit = {
    val sequential = runOn(spark.newSession(), fn)
    assert(sequential.nonEmpty, s"$name: the sequential run produced no rows")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val runs = (1 to 2).map { _ =>
        val s = spark.newSession()
        pool.submit(new Callable[Seq[Row]] { def call(): Seq[Row] = runOn(s, fn) })
      }
      runs.zipWithIndex.foreach { case (f, i) =>
        assert(f.get(15, TimeUnit.MINUTES) == sequential,
          s"$name: concurrent run ${i + 1} diverged from the sequential run")
      }
    } finally { pool.shutdownNow(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  test("dedup_index_calendar twice at once equals the sequential run") {
    twiceAtOnce("dedup_index_calendar", queries.HashDedup.dedupIndexCalendar)
  }

  test("knn_store_compact twice at once equals the sequential run") {
    twiceAtOnce("knn_store_compact", queries.VectorQueries.knnStoreCompact)
  }
}
