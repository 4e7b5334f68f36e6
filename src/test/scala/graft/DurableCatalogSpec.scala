package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Durable catalog (sources/DurableCatalog + GRAFT SAVE/LOAD CATALOG):
  * location definitions survive registry loss — the sclera
  * persistent-metadata-store behavior over embedded Derby. */
class DurableCatalogSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.types.StructType

  test("encode/decode round-trips every location variant") {
    val samples: Seq[ExternalLocation] = Seq(
      ParquetLocation("/tmp/p with space"),
      CsvLocation("/tmp/c.csv", header = false,
        Some(StructType.fromDDL("a INT, b STRING"))),
      CsvLocation("/tmp/c2.csv"),
      JsonLocation("/tmp/j", Some(StructType.fromDDL("x BIGINT"))),
      JsonLocation("/tmp/j2"),
      TextLocation("/tmp/t.txt"),
      JdbcLocation("jdbc:derby:/tmp/db;create=true", "tab",
        Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
          "fetchsize" -> "100")))
    for (loc <- samples) {
      assert(DurableCatalog.decode(DurableCatalog.encode(loc)) == loc,
        s"round-trip broke for $loc")
    }
  }

  test("save / registry loss / load restores a readable location") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat")
    val data = dir.resolve("pq").toString
    Tables(spark, sfDir).nation.write.mode("overwrite").parquet(data)
    ExternalLocations.register("cat_spec_loc", ParquetLocation(data))
    val saved = spark.sql("GRAFT SAVE CATALOG").head()
    assert(saved.getAs[String]("catalog") == "saved")
    // simulate a fresh process: the in-memory registry forgets
    ExternalLocations.remove("cat_spec_loc")
    assert(ExternalLocations.get("cat_spec_loc").isEmpty)
    val loaded = spark.sql("GRAFT LOAD CATALOG").head()
    assert(loaded.getAs[String]("catalog") == "loaded")
    assert(loaded.getAs[String]("n_locations").toInt >= 1)
    // the restored definition reads the same data
    assert(ExternalLocations.table(spark, "cat_spec_loc").count() ==
      Tables(spark, sfDir).nation.count())
  }

  test("non-TEMP views persist with the catalog; TEMP views do not") {
    Tables(spark, sfDir).registerAll()
    spark.sql("GRAFT CREATE VIEW dc_durable_v AS " +
      "SELECT n_regionkey, COUNT(*) AS n FROM nation " +
      "GROUP BY n_regionkey").collect()
    spark.sql("GRAFT CREATE TEMP VIEW dc_temp_v AS SELECT 1 AS x")
      .collect()
    val saved = spark.sql("GRAFT SAVE CATALOG").head()
    assert(saved.getAs[String]("n_views").toInt >= 1)
    // simulate a fresh process: the session forgets both views
    spark.sql("GRAFT DROP VIEW dc_durable_v").collect()
    spark.sql("GRAFT DROP VIEW dc_temp_v").collect()
    assert(spark.sql("GRAFT LIST VIEWS")
      .where(org.apache.spark.sql.functions.col("view")
        .startsWith("dc_")).count() == 0)
    val loaded = spark.sql("GRAFT LOAD CATALOG").head()
    assert(loaded.getAs[String]("n_views").toInt >= 1)
    // the durable view is back and queryable; the temp one is gone
    assert(spark.sql("SELECT SUM(n) FROM dc_durable_v").head()
      .getLong(0) == Tables(spark, sfDir).nation.count())
    assert(spark.sql("GRAFT LIST VIEWS")
      .where(org.apache.spark.sql.functions.col("view") === "dc_temp_v")
      .count() == 0)
    spark.sql("GRAFT DROP VIEW dc_durable_v").collect()
    spark.sql("GRAFT SAVE CATALOG").collect() // leave the store clean
  }

  test("named ML models persist with the catalog and score after load") {
    Tables(spark, sfDir).registerAll()
    spark.sql("GRAFT CREATE CLUSTERER dc_km K 2 ITERS 2 ON embeddings")
      .collect()
    val before = spark.table("graft_model_dc_km").collect()
      .map(_.toString).sorted.toSeq
    val saved = spark.sql("GRAFT SAVE CATALOG").head()
    assert(saved.getAs[String]("n_models").toInt >= 1)
    // simulate a fresh process: the session forgets the model
    spark.sql("GRAFT DROP CLUSTERER dc_km").collect()
    assert(spark.catalog.listTables().collect()
      .forall(_.name != "graft_model_dc_km"))
    val loaded = spark.sql("GRAFT LOAD CATALOG").head()
    assert(loaded.getAs[String]("n_models").toInt >= 1)
    // the restored model relation is identical and scoring works
    val after = spark.table("graft_model_dc_km").collect()
      .map(_.toString).sorted.toSeq
    assert(after == before)
    assert(spark.sql(
      "GRAFT CLASSIFIED embeddings WITH dc_km").count() ==
      Tables(spark, sfDir).embeddings.count())
    spark.sql("GRAFT DROP CLUSTERER dc_km").collect()
    spark.sql("GRAFT SAVE CATALOG").collect() // leave the store clean
  }

  test("LOAD CATALOG resolves view dependencies out of name order") {
    Tables(spark, sfDir).registerAll()
    // a_child sorts BEFORE z_base alphabetically, so the name-ordered
    // loader must defer it and retry after z_base registers
    spark.sql("GRAFT CREATE VIEW z_base_dc AS " +
      "SELECT n_regionkey, COUNT(*) AS n FROM nation " +
      "GROUP BY n_regionkey").collect()
    spark.sql("GRAFT CREATE VIEW a_child_dc AS " +
      "SELECT SUM(n) AS total FROM z_base_dc").collect()
    spark.sql("GRAFT SAVE CATALOG").collect()
    spark.sql("GRAFT DROP VIEW a_child_dc").collect()
    spark.sql("GRAFT DROP VIEW z_base_dc").collect()
    val loaded = spark.sql("GRAFT LOAD CATALOG").head()
    assert(loaded.getAs[String]("n_failed_views") == "0",
      s"dependent views failed to load: $loaded")
    assert(spark.sql("SELECT total FROM a_child_dc").head().getLong(0)
      == Tables(spark, sfDir).nation.count())
    // a genuinely dangling view (durable view over a TEMP view that
    // won't exist in the next process) reports, never aborts the load
    spark.sql("GRAFT CREATE TEMP VIEW ephemeral_dc AS SELECT 1 AS n")
      .collect()
    spark.sql("GRAFT CREATE VIEW dangling_dc AS " +
      "SELECT n AS total2 FROM ephemeral_dc").collect()
    spark.sql("GRAFT SAVE CATALOG").collect()
    spark.sql("GRAFT DROP VIEW dangling_dc").collect()
    spark.sql("GRAFT DROP VIEW ephemeral_dc").collect()
    spark.sql("GRAFT DROP VIEW a_child_dc").collect()
    spark.sql("GRAFT DROP VIEW z_base_dc").collect()
    val l2 = spark.sql("GRAFT LOAD CATALOG").head()
    assert(l2.getAs[String]("n_failed_views") == "1")
    assert(l2.getAs[String]("failed_views") == "dangling_dc")
    // the healthy views still landed
    assert(spark.sql("SELECT total FROM a_child_dc").count() == 1)
    Seq("a_child_dc", "z_base_dc", "dangling_dc").foreach(v =>
      spark.sql(s"GRAFT DROP VIEW $v").collect())
    spark.sql("GRAFT SAVE CATALOG").collect() // leave the store clean
  }

  test("repeated SAVE CATALOG garbage-collects orphaned model versions") {
    Tables(spark, sfDir).registerAll()
    spark.sql("GRAFT CREATE CLUSTERER dc_gc K 2 ITERS 1 ON embeddings")
      .collect()
    def versions(): Int = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_catalog_models/dc_gc")
      Option(d.listFiles()).map(_.count(f =>
        f.isDirectory && f.getName.startsWith("v-"))).getOrElse(0)
    }
    // default grace: a concurrent process serving a recently saved
    // frame keeps its files — young version dirs survive the GC
    for (_ <- 1 to 3) spark.sql("GRAFT SAVE CATALOG").collect()
    assert(versions() >= 3,
      s"grace window violated: young dirs deleted (${versions()})")
    // with the grace disabled (single-process), GC keeps current +
    // prior only
    sys.props("graft.catalog.modelGc.graceMs") = "0"
    try {
      for (_ <- 1 to 4) spark.sql("GRAFT SAVE CATALOG").collect()
      assert(versions() <= 2, s"model version dirs grew to ${versions()}")
    } finally sys.props.remove("graft.catalog.modelGc.graceMs")
    spark.sql("GRAFT DROP CLUSTERER dc_gc").collect()
    spark.sql("GRAFT SAVE CATALOG").collect() // leave the store clean
  }

  test("index metadata persists with the catalog") {
    val t = Tables(spark, sfDir)
    val tmp = graft.sources.ExternalStage.materialize(sfDir,
      "hashed_lineitem", t.lineitem) { (df, path) =>
      df.repartition(16, org.apache.spark.sql.functions.col("l_orderkey"))
        .write.mode("overwrite").parquet(path)
    }
    spark.sql("GRAFT DROP INDEX dc_idx").collect()
    spark.sql(s"GRAFT CREATE INDEX dc_idx ON '$tmp' (l_orderkey)")
      .collect()
    val saved = spark.sql("GRAFT SAVE CATALOG").head()
    assert(saved.getAs[String]("n_indexes").toInt >= 1)
    // simulate a fresh process: the session registry forgets, the
    // Bloom manifest on disk does not
    GraftSession(spark).indexes.drop("dc_idx")
    assert(spark.sql("GRAFT LIST INDEXES")
      .where(org.apache.spark.sql.functions.col("index_name") === "dc_idx")
      .count() == 0)
    val loaded = spark.sql("GRAFT LOAD CATALOG").head()
    assert(loaded.getAs[String]("n_indexes").toInt >= 1)
    // restored: listed again, DROP removes the artifact (no orphan)
    assert(spark.sql("GRAFT LIST INDEXES")
      .where(org.apache.spark.sql.functions.col("index_name") === "dc_idx")
      .count() == 1)
    val dr = spark.sql("GRAFT DROP INDEX dc_idx").collect().head
    assert(dr.getAs[String]("status") == "dropped")
    spark.sql("GRAFT SAVE CATALOG").collect() // leave the store clean
  }
}
