package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** Everything graft keeps per SparkSession, in one place: the name
  * registries the view / table / index admin statements render, and
  * the frames `CacheScope` unpersists after the session's next action.
  *
  * Held weakly per session, so a dropped session is collectable: the
  * registries hold plain names and strings, and the scoped frames (the
  * one value that references its session) leave with the next action.
  * Concurrent sessions (JDBC driver, HTTP service) never see each
  * other's objects.
  */
final class GraftSession private {
  import GraftSession._

  /** GRAFT CREATE [TEMP] VIEW definitions. */
  val views = new Registry[ViewDef](_.name)
  /** GRAFT ADD TABLE registrations. */
  val addedTables = new Registry[AddedTable](_.name)
  /** GRAFT CREATE INDEX objects. */
  val indexes = new Registry[IndexDef](_.name)
  /** Column declarations of GRAFT CREATE TABLE with column defs. */
  val tableDefs = new Registry[TableDef](_.name)

  /** Frames persisted by `CacheScope.scoped`, awaiting the next action. */
  private[graft] val scoped = new ConcurrentLinkedQueue[DataFrame]()
  /** Whether `CacheScope`'s listener is registered on this session. */
  private[graft] val scopeListener = new AtomicBoolean(false)
}

object GraftSession {

  private val sessions =
    new java.util.WeakHashMap[SparkSession, GraftSession]()

  def apply(spark: SparkSession): GraftSession = sessions.synchronized {
    sessions.computeIfAbsent(spark, _ => new GraftSession)
  }

  /** Run `body` in a child session of `spark` holding `confs`. The
    * child starts from the caller's conf and temp views but owns its
    * conf, so the caller's conf is never written — the isolation
    * Structured Streaming gives each running query. */
  def isolated[T](spark: SparkSession, confs: (String, String)*)(
      body: SparkSession => T): T = {
    val child = GraftBridge.cloneSession(spark)
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    body(child)
  }

  /** Objects keyed by case-insensitive name, listed in name order. */
  final class Registry[A] private[GraftSession] (name: A => String) {
    private val byName = TrieMap.empty[String, A]
    def put(a: A): Unit = byName.put(name(a).toLowerCase, a)
    def get(key: String): Option[A] = byName.get(key.toLowerCase)
    def drop(key: String): Boolean = byName.remove(key.toLowerCase).isDefined
    def list: Seq[A] = byName.values.toSeq.sortBy(name)
  }

  /** A view created by GRAFT CREATE [TEMP] VIEW (reference:
    * sql/statements SqlCreateDbObject). `definition` is the original
    * statement text (any graft-dialect statement). */
  final case class ViewDef(name: String, definition: String,
      temp: Boolean)

  /** A remote table registered by GRAFT ADD TABLE under a local name
    * (reference: SqlAddTable / SqlRemoveTable,
    * sql/parser/SqlAdminParser.scala:62-113). `remote` is the fully
    * qualified catalog identifier. */
  final case class AddedTable(name: String, catalog: String,
      remote: String)

  /** An index object (reference: sql/statements/SqlStatement.scala
    * :164-175 — SqlCreateIndex routes index DDL per location). `kind`
    * is "bloom" (file layout; `detail` = manifest dir) or "remote"
    * (attached catalog; `detail` = catalog name). */
  final case class IndexDef(name: String, kind: String, target: String,
      keyCol: String, detail: String)

  /** One declared column (reference: sql/parser/SqlCudParser.scala
    * :137-175 tableExplicitDef / tableKeys): name, Spark DDL type
    * text, and its key role — "primary" for PRIMARY KEY members,
    * "references t(c)" for foreign keys, "" otherwise. Spark enforces
    * no key constraints, so the declarations are metadata that GRAFT
    * DESCRIBE TABLE renders. */
  final case class ColumnDef(name: String, typeDdl: String, key: String)

  final case class TableDef(name: String, columns: Seq[ColumnDef])
}
