package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Explicit CREATE TABLE DDL (reference SqlCudParser.scala:137-175
  * tableExplicitDef / tableKeys + sql/objects/Table.scala key
  * metadata), the CREATE/DROP SCHEMA lifecycle (SqlStatement.scala
  * :46,183-185), and `<param> LOCATION = <loc>` config binding
  * (SqlStatement.scala:206 SqlConfigLocation). */
class TableDdlSpec extends AnyFunSuite {
  import TestSession._

  test("typed empty table: declared schema, keys, DML fill") {
    Tables(spark, sfDir).registerAll()
    val st = spark.sql("GRAFT CREATE TABLE ddl_t (" +
      "k INT PRIMARY KEY, name VARCHAR, bal DECIMAL(10,2), " +
      "rk INT REFERENCES region(r_regionkey))").collect().head
    assert(st.getAs[String]("status") == "created" &&
      st.getAs[String]("n_columns") == "4")
    val sch = spark.table("ddl_t").schema
    assert(sch.fieldNames.toSeq == Seq("k", "name", "bal", "rk"))
    assert(sch("k").dataType.sql == "INT" &&
      sch("bal").dataType.sql == "DECIMAL(10,2)")
    assert(spark.table("ddl_t").count() == 0)
    spark.sql("GRAFT INSERT INTO ddl_t VALUES (1, 'a', 1.25, 0)")
      .collect()
    assert(spark.table("ddl_t").count() == 1)
    // key metadata renders through DESCRIBE TABLE
    val desc = spark.sql("GRAFT DESCRIBE TABLE ddl_t").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(desc == Seq(
      ("k", "INT", "primary"),
      ("name", "STRING", ""),
      ("bal", "DECIMAL(10,2)", ""),
      ("rk", "INT", "references region(r_regionkey)")))
  }

  test("table-level PRIMARY KEY / FOREIGN KEY items") {
    Tables(spark, sfDir).registerAll()
    spark.sql("GRAFT CREATE TABLE ddl_t2 (" +
      "a INT, b INT, c VARCHAR, " +
      "PRIMARY KEY (a, b), " +
      "FOREIGN KEY (b) REFERENCES nation(n_nationkey))").collect()
    val desc = spark.sql("GRAFT DESCRIBE TABLE ddl_t2").collect()
      .map(r => (r.getString(0), r.getString(2))).toSeq
    assert(desc == Seq(("a", "primary"), ("b", "primary"),
      ("c", "")))
    // column-level key wins over the table-level FK on b? No — the
    // table-level PK covers b, and PK outranks FK in the rendering
  }

  test("CTAS with declared schema casts positionally") {
    Tables(spark, sfDir).registerAll()
    spark.sql("GRAFT CREATE TABLE ddl_ctas (" +
      "rk BIGINT PRIMARY KEY, rname VARCHAR) AS " +
      "SELECT r_regionkey, r_name FROM region").collect()
    val df = spark.table("ddl_ctas")
    assert(df.schema("rk").dataType.sql == "BIGINT")
    assert(df.count() == 5)
    // DROP TABLE clears the declared metadata too
    spark.sql("GRAFT DROP TABLE ddl_ctas").collect()
    assert(
      graft.GraftSession(spark).tableDefs.get("ddl_ctas").isEmpty)
  }

  test("re-creating a name via CTAS/VIEW clears declared metadata") {
    Tables(spark, sfDir).registerAll()
    spark.sql("GRAFT CREATE TABLE meta_t (k INT PRIMARY KEY)").collect()
    assert(graft.GraftSession(spark).tableDefs.get("meta_t").isDefined)
    // plain TEMP CTAS under the same name: the declared schema is gone
    spark.sql("GRAFT CREATE TEMP TABLE meta_t AS " +
      "SELECT r_regionkey AS a, r_name AS b FROM region").collect()
    assert(graft.GraftSession(spark).tableDefs.get("meta_t").isEmpty)
    // DESCRIBE TABLE now renders the LIVE schema, not the stale keys
    val desc = spark.sql("GRAFT DESCRIBE TABLE meta_t").collect()
      .map(r => (r.getString(0), r.getString(2))).toSeq
    assert(desc.map(_._1) == Seq("a", "b") &&
      desc.forall(_._2 == ""))
    spark.sql("GRAFT DROP TABLE meta_t").collect()
  }

  test("store-lane dedup tolerates duplicated ids") {
    val t = Tables(spark, sfDir)
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"sigstore_dupids_${Integer.toHexString(sfDir.hashCode)}").toString
    val oldDocs = t.documents.where(col("doc_id") % 5 =!= 0)
    graft.operators.DedupOps.buildSignatureStore(
      oldDocs, "doc_id", "text", 32, store)
    // the same shard APPENDED AGAIN: ids now duplicated in the store
    graft.operators.DedupOps.appendSignatureStore(
      oldDocs.limit(50), "doc_id", "text", 32, store)
    val shard = t.documents.where(col("doc_id") % 5 === 0)
    // every (doc_new, doc_old) pair must still appear exactly once
    val pairs = graft.operators.DedupOps.crossDedupAgainstStore(
        spark, shard.unionByName(shard.limit(10)), store,
        "doc_id", "text", 32, 8, 3, 5)
      .select(col("doc_new"), col("doc_old")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty && pairs.distinct.length == pairs.length,
      "duplicated ids inflated the verified pair set")
  }

  test("declared tables list through GRAFT LIST OBJECTS") {
    Tables(spark, sfDir).registerAll()
    spark.sql("GRAFT CREATE TABLE lobj_decl (k INT PRIMARY KEY)")
      .collect()
    assert(spark.sql("GRAFT LIST OBJECTS lobj_decl")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("table", "lobj_decl")))
    spark.sql("GRAFT DROP TABLE lobj_decl").collect()
    assert(spark.sql("GRAFT LIST OBJECTS lobj_decl").count() == 0)
  }

  test("malformed defs are rejected") {
    val e = intercept[Exception] {
      spark.sql("GRAFT CREATE TABLE bad_t (k INT,, name)").collect()
    }
    assert(e.getMessage.contains("GRAFT CREATE TABLE"))
    val e2 = intercept[Exception] {
      spark.sql("GRAFT CREATE TABLE bad_t2 (k INT) WITH junk").collect()
    }
    assert(e2.getMessage.contains("expected AS"))
  }

  test("CREATE/DROP SCHEMA lifecycle") {
    assert(spark.sql("GRAFT CREATE SCHEMA").collect().head
      .getAs[String]("status") == "created")
    val dropped = spark.sql("GRAFT DROP SCHEMA").collect().head
    assert(dropped.getAs[String]("status") == "dropped" &&
      dropped.getAs[String]("n_tables") == "5")
    assert(spark.sql("GRAFT DROP SCHEMA").collect().head
      .getAs[String]("status") == "absent")
    // re-create so later catalog saves in this JVM find the tables
    assert(spark.sql("GRAFT CREATE SCHEMA").collect().head
      .getAs[String]("n_tables") == "5")
  }

  test("extended DML: query INSERT, multi-SET UPDATE, bare DELETE") {
    Tables(spark, sfDir).registerAll()
    spark.sql("SELECT * FROM nation").createOrReplaceTempView("xdml_n")
    // INSERT from a query with a column list: n_name fills with NULL
    spark.sql("GRAFT INSERT INTO xdml_n (n_nationkey, n_regionkey) " +
      "SELECT n_nationkey + 500, n_regionkey FROM nation " +
      "WHERE n_regionkey = 0").collect()
    assert(spark.table("xdml_n")
      .where(col("n_nationkey") >= 500 && col("n_name").isNull)
      .count() > 0)
    // multi-assignment UPDATE evaluates against the PRE-image: the
    // n_name expression must see the OLD n_regionkey
    spark.sql("GRAFT UPDATE xdml_n SET " +
      "n_name = CAST(n_regionkey AS STRING), " +
      "n_regionkey = n_regionkey + 100 WHERE n_regionkey = 1")
      .collect()
    val r = spark.table("xdml_n")
      .where(col("n_regionkey") === 101).select("n_name")
      .distinct().collect().map(_.getString(0)).toSeq
    assert(r == Seq("1"), s"pre-image violated: $r")
    // WHERE-less DELETE empties the view
    spark.sql("GRAFT DELETE FROM xdml_n").collect()
    assert(spark.table("xdml_n").count() == 0)
  }

  test("DML leaves the declared schema invariant (no set-op widening)") {
    Tables(spark, sfDir).registerAll()
    spark.sql("GRAFT CREATE TABLE ddl_inv (k INT PRIMARY KEY, " +
      "v DECIMAL(10,2))").collect()
    val before = spark.table("ddl_inv").schema
    // query-INSERT with a WIDER source (BIGINT key, DOUBLE value):
    // without the pre-image cast, unionByName widens the post-image
    spark.sql("GRAFT INSERT INTO ddl_inv " +
      "SELECT r_regionkey, CAST(r_regionkey AS DOUBLE) / 4 FROM region")
      .collect()
    assert(spark.table("ddl_inv").schema == before,
      s"INSERT widened the schema: ${spark.table("ddl_inv").schema}")
    // MERGE with a wider-typed source: same invariant
    spark.sql("SELECT CAST(9 AS BIGINT) AS k, CAST(1.5 AS DOUBLE) AS v")
      .createOrReplaceTempView("ddl_inv_src")
    spark.sql("GRAFT MERGE INTO ddl_inv USING ddl_inv_src ON k").collect()
    assert(spark.table("ddl_inv").schema == before,
      s"MERGE widened the schema: ${spark.table("ddl_inv").schema}")
    assert(spark.table("ddl_inv").count() == 6)
    spark.sql("GRAFT DROP TABLE ddl_inv").collect()
  }

  test("UPDATE of a column with a keyword prefix ('where_flag')") {
    spark.sql("SELECT id AS k, CAST(0 AS INT) AS where_flag " +
      "FROM RANGE(5)").createOrReplaceTempView("kwcol_t")
    // 'where_flag' must NOT split at its 'where' prefix: the whole
    // assignment applies, and the real WHERE clause still filters
    spark.sql("GRAFT UPDATE kwcol_t SET where_flag = 1 WHERE k >= 3")
      .collect()
    assert(spark.table("kwcol_t").where(col("where_flag") === 1)
      .count() == 2)
    // same guard on the other side of '=': an expression mentioning
    // an 'and_x'-style column survives too
    spark.sql("GRAFT UPDATE kwcol_t SET where_flag = where_flag + 10")
      .collect()
    // flags were [0,0,0,1,1]; +10 everywhere -> [10,10,10,11,11]
    assert(spark.table("kwcol_t").agg(sum("where_flag")).head.getLong(0)
      == 52)
  }

  test("INSERT with an unknown listed column is a hard error") {
    spark.sql("SELECT id AS k, id AS v FROM RANGE(3)")
      .createOrReplaceTempView("inscol_t")
    val e = intercept[Exception] {
      spark.sql("GRAFT INSERT INTO inscol_t (k, typo_col) " +
        "SELECT 10, 11").collect()
    }
    assert(e.getMessage.contains("typo_col"))
    // nothing applied
    assert(spark.table("inscol_t").count() == 3)
  }

  test("declared tables survive SAVE/LOAD CATALOG") {
    Tables(spark, sfDir).registerAll()
    spark.sql("GRAFT CREATE TABLE ddl_dur (k INT PRIMARY KEY, " +
      "name VARCHAR) AS SELECT r_regionkey, r_name FROM region")
      .collect()
    val saved = spark.sql("GRAFT SAVE CATALOG").head()
    assert(saved.getAs[String]("n_tabledefs").toInt >= 1)
    // simulate a fresh process: drop the session registrations
    spark.catalog.dropTempView("ddl_dur")
    graft.GraftSession(spark).tableDefs.drop("ddl_dur")
    graft.sources.ExternalLocations.remove("ddl_dur")
    val loaded = spark.sql("GRAFT LOAD CATALOG").head()
    assert(loaded.getAs[String]("n_tabledefs").toInt >= 1)
    // content and key metadata both came back
    assert(spark.table("ddl_dur").count() == 5)
    val desc = spark.sql("GRAFT DESCRIBE TABLE ddl_dur").collect()
      .map(r => (r.getString(0), r.getString(2))).toSeq
    assert(desc == Seq(("k", "primary"), ("name", "")))
    spark.sql("GRAFT DROP TABLE ddl_dur").collect()
    spark.sql("GRAFT SAVE CATALOG").collect() // leave the store clean
  }

  test("concurrent SAVE CATALOG writers serialize (no merged set)") {
    Tables(spark, sfDir).registerAll()
    spark.sql(s"GRAFT ADD LOCATION conc_loc PARQUET " +
      s"'$sfDir/region.parquet'").collect()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // two sessions save at once; SERIALIZABLE isolation makes one
    // wait — both must complete and the final stored set must load
    val fs = (1 to 2).map { _ =>
      Future(spark.newSession().sql("GRAFT SAVE CATALOG").collect())
    }
    fs.foreach(f => Await.result(f, 120.seconds))
    val loaded = spark.sql("GRAFT LOAD CATALOG").head()
    assert(loaded.getAs[String]("n_locations").toInt >= 1)
  }

  test("CREATE VIEW with a column list renames positionally") {
    Tables(spark, sfDir).registerAll()
    spark.sql("GRAFT CREATE TEMP VIEW vcols (rk, rname) AS " +
      "SELECT r_regionkey, r_name FROM region").collect()
    assert(spark.table("vcols").columns.toSeq == Seq("rk", "rname"))
    assert(spark.table("vcols").count() == 5)
    val e = intercept[Exception] {
      spark.sql("GRAFT CREATE TEMP VIEW vbad (a, b, c) AS " +
        "SELECT r_regionkey, r_name FROM region").collect()
    }
    assert(e.getMessage.contains("column list") ||
      e.getMessage.contains("columns"))
    spark.sql("GRAFT DROP VIEW vcols").collect()
  }

  test("<param> LOCATION = <loc> binds a registered location") {
    spark.sql(s"GRAFT ADD LOCATION cfg_loc PARQUET " +
      s"'$sfDir/region.parquet'").collect()
    val st = spark.sql("GRAFT SET export_target LOCATION = cfg_loc")
      .collect().head
    assert(st.getAs[String]("status") == "set")
    assert(spark.conf.get("spark.graft.location.export_target") ==
      "cfg_loc")
    // surfaced by SHOW CONFIG like any graft knob
    assert(spark.sql("GRAFT SHOW CONFIG")
      .where(col("key") === "spark.graft.location.export_target")
      .count() == 1)
    // unknown locations are rejected at RUN time
    val e = intercept[Exception] {
      spark.sql("GRAFT SET p LOCATION = no_such_loc").collect()
    }
    assert(e.getMessage.contains("unknown location"))
  }
}
