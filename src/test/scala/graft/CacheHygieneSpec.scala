package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unpersist discipline: operator-path persist()s are scoped to the
  * consuming action (CacheScope), so a Verify/Bench-style run leaves
  * NOTHING in the cache store — across a 230-query session unscoped
  * caches would pile into the LRU store and evict each other. Models
  * are the deliberate exception: catalog state until GRAFT DROP,
  * which must release the cache entry too. */
class CacheHygieneSpec extends AnyFunSuite {
  import TestSession._

  /** Persistent-RDD ids added on top of `before`, after waiting out
    * the async unpersist drain. */
  private def newPersistent(before: Set[Int]): Set[Int] = {
    var left = Set.empty[Int]
    var tries = 0
    while (tries < 40) {
      left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      if (left.isEmpty) return left
      Thread.sleep(250)
      tries += 1
    }
    left
  }

  test("persisting queries leave no cache entries after their action") {
    val persistingQueries = Seq(
      "q49_dedup_minhash", "q50_dedup_simhash", "q51_ngram_jaccard",
      "q99_dedup_clusters", "q147_equidepth_hist", "q163_pagerank",
      "q199_ppjoin", "q205_basket_lift", "q218_item_cf",
      "q219_bm25", "q224_semdedup", "q225_dsir_weights")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for (name <- persistingQueries) {
      // Verify-style consume: build, run ONE action
      assert(SparkEntry.queries(name)(spark, sfDir).count() > 0, name)
    }
    val left = newPersistent(before)
    assert(left.isEmpty,
      s"cache entries leaked by operator paths: RDD ids $left")
    assert(graft.operators.CacheScope.pendingEmpty(spark))
  }

  test("GRAFT DROP releases the model's cache entry") {
    val t = Tables(spark, sfDir)
    t.embeddings.createOrReplaceTempView("hyg_emb")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    spark.sql(
      "GRAFT CREATE CLUSTERER hyg_m K 4 ITERS 2 ON hyg_emb").collect()
    // model is cached while registered (train once, score many)
    spark.sql("SELECT * FROM graft_model_hyg_m").count()
    spark.sql("GRAFT DROP CLUSTERER hyg_m").collect()
    val left = newPersistent(before)
    assert(left.isEmpty, s"model cache survived DROP: RDD ids $left")

    // re-create under the same name: the replaced view's cache entry
    // must go on replace, and the live one on DROP
    for (_ <- 1 to 2) spark.sql(
      "GRAFT CREATE CLASSIFIER hyg_c TARGET label ON hyg_emb").collect()
    spark.sql("SELECT * FROM graft_model_hyg_c").count()
    spark.sql("GRAFT DROP CLASSIFIER hyg_c").collect()
    val leftTwice = newPersistent(before)
    assert(leftTwice.isEmpty,
      s"re-created model cache survived DROP: RDD ids $leftTwice")
  }
}
