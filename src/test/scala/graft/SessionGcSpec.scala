package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** No graft path pins a session: a session that ran a CacheScope'd
  * query, the view / index / table / model statements, a catalog read
  * and a streaming drain is collectable once its last reference is
  * gone. */
class SessionGcSpec extends AnyFunSuite {
  import TestSession._

  /** Runs the per-session paths in a new session; returns only a weak
    * reference to it, so no frame of this method keeps it alive. */
  private def exercise(layout: String): WeakReference[SparkSession] = {
    val s = spark.newSession()
    val t = Tables(s, sfDir)
    t.registerAll()
    t.events.limit(1).collect()
    // q205 persists its baskets through CacheScope.scoped
    assert(SparkEntry.queries("q205_basket_lift")(s, sfDir).count() > 0)
    s.sql("GRAFT CREATE VIEW gc_v AS SELECT * FROM region").collect()
    t.region.write.parquet(layout)
    s.sql(s"GRAFT CREATE INDEX gc_idx ON '$layout' (r_regionkey)")
      .collect()
    s.sql("GRAFT CREATE TABLE gc_t (k INT PRIMARY KEY, v STRING)")
      .collect()
    s.sql("GRAFT CREATE CLASSIFIER gc_m TARGET label ON embeddings")
      .collect()
    assert(SparkEntry.queries("q397_stream_dedup_final")(s, sfDir)
      .count() > 0)
    // a model is catalog state cached in the SparkContext-wide cache
    // until GRAFT DROP, and a declared table is a global location;
    // both are released as a user would release them
    s.sql("GRAFT DROP CLASSIFIER gc_m").collect()
    s.sql("GRAFT DROP TABLE gc_t").collect()
    new WeakReference(s)
  }

  test("a dropped session is collected after graft's per-session paths") {
    // Spark's lazily started daemon threads inherit the session active
    // when they start: start them from the shared session first
    assert(SparkEntry.queries("q205_basket_lift")(spark, sfDir).count() > 0)
    assert(SparkEntry.queries("q397_stream_dedup_final")(spark, sfDir)
      .count() > 0)
    val layout = java.nio.file.Files.createTempDirectory("graft_gc")
    try {
      val ref = exercise(layout.resolve("region").toString)
      // AQE's and the exchanges' cached pool threads started during
      // the session's queries inherit it too, until they idle out
      // (Spark's 60 s keep-alive)
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (ref.get != null && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(500)
      }
      assert(ref.get == null, "session still reachable after GC")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(layout.toFile)
  }
}
