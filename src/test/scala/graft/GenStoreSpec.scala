package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The generation store's lifecycle contracts: unique roots per open,
  * land / drop / generations round-trip, `withPersisted` never leaves a
  * cache entry behind (even when the serve throws), and
  * `CacheRegistry.releaseAll(spark)` deletes exactly that session's roots. */
class GenStoreSpec extends SparkSpec {

  test("two opens under one name get distinct, empty roots under graft_stores") {
    val s = spark.newSession()
    try {
      val a = GenStore.open(s, "spec_twice"); val b = GenStore.open(s, "spec_twice")
      assert(a.path != b.path)
      Seq(a, b).foreach { g =>
        assert(Files.isDirectory(g.path) && g.generations().isEmpty)
        assert(g.path.getParent.getFileName.toString == "graft_stores")
        assert(g.path.getFileName.toString.startsWith("spec_twice_"))
      }
    } finally CacheRegistry.releaseAll(s)
  }

  test("land / drop / generations / filesByGen / readBack round-trip") {
    val s = spark.newSession()
    try {
      val g = GenStore.open(s, "spec_roundtrip")
      val rows = s.range(0, 30).select(col("id").as("doc_id"))
      g.land(rows.filter(col("doc_id") < 10), 0, 2)
      g.land(rows.filter(col("doc_id") >= 10), 1, 1)
      g.land(rows.filter(col("doc_id") >= 20), 1, 1) // a second append into gen 1
      assert(g.generations() == Seq("gen=0", "gen=1"))
      assert(g.filesByGen() == Map("gen=0" -> 2, "gen=1" -> 2))
      assert(g.fileEvidence("gen=0").size == 2 && g.files("gen=9").isEmpty)
      assert(g.readBack(col("doc_id")).count() == 40L)
      g.drop(0)
      assert(g.generations() == Seq("gen=1"))
      val back = g.readBack(col("doc_id"), col("gen").cast("int").as("gen")).collect()
      assert(back.length == 30 && back.forall(_.getInt(1) == 1))
      assert(back.map(_.getLong(0)).min == 10L)
    } finally CacheRegistry.releaseAll(s)
  }

  test("withPersisted unpersists on success and when the body throws") {
    def cached(df: org.apache.spark.sql.DataFrame): Boolean = spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    val a = spark.range(0, 1000).select((col("id") * 7).as("v"))
    val b = a.filter(col("v") % 3 === 0)
    val n = GenStore.withPersisted(a, b) {
      assert(cached(a) && cached(b))
      b.count()
    }
    assert(n == 334L)
    assert(!cached(a) && !cached(b))
    val c = spark.range(0, 500).select((col("id") * 11).as("w"))
    val e = intercept[IllegalStateException] {
      GenStore.withPersisted(c) {
        c.count()
        throw new IllegalStateException("mid-serve failure")
      }
    }
    assert(e.getMessage == "mid-serve failure")
    assert(!cached(c), "a failed serve left its cache entry behind")
  }

  test("releaseAll(spark) deletes that session's roots and only those") {
    val s1 = spark.newSession(); val s2 = spark.newSession()
    try {
      val g1 = GenStore.open(s1, "spec_release"); val g2 = GenStore.open(s2, "spec_release")
      g1.land(s1.range(0, 5).toDF("doc_id"), 0, 1)
      g2.land(s2.range(0, 5).toDF("doc_id"), 0, 1)
      val sub = g1.sub("index"); sub.land(s1.range(0, 3).toDF("doc_id"), 0, 1)
      CacheRegistry.releaseAll(s1)
      assert(Files.notExists(g1.path) && Files.notExists(sub.path), "the released session's root survived")
      assert(Files.isDirectory(g2.path) && g2.readBack(col("doc_id")).count() == 5L,
        "another session's root was deleted")
      CacheRegistry.releaseAll(s1) // idempotent
      CacheRegistry.releaseAll(s2)
      assert(Files.notExists(g2.path))
    } finally { CacheRegistry.releaseAll(s1); CacheRegistry.releaseAll(s2) }
  }

  test("endQuery releases the session and reports and resets drifted confs") {
    val s = spark.newSession()
    val baseline = s.conf.getAll
    val g = GenStore.open(s, "spec_end_query")
    s.conf.set("spark.sql.shuffle.partitions", "7")
    s.conf.set("spark.graft.specOnly", "x")
    val drifted = CacheRegistry.endQuery(s, baseline)
    assert(drifted.toSet == Set("spark.sql.shuffle.partitions", "spark.graft.specOnly"))
    assert(s.conf.getAll == baseline)
    assert(Files.notExists(g.path))
    assert(CacheRegistry.endQuery(s, baseline).isEmpty)
  }
}
