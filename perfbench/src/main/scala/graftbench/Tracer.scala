package graftbench

import java.lang.management.ManagementFactory
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Milliseconds since the epoch with sub-millisecond resolution: the one
  * clock for benchmark spans and for the epoch times Spark's events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. All spans of one statement share `stmt`;
  * `parent` is the span that was open when this one started (0: none). */
final case class Span(id: Long, stmt: Long, parent: Long, name: String,
    layer: String, startMs: Double, var endMs: Double)

/** Counters the listeners attribute to one statement execution. */
final class StmtAcc {
  var jobs, buildJobs, stages, tasks = 0L
  var taskMs, gcMs = 0.0
  var taskCpuNs, shuffleW, shuffleR, spill, input, peakMem = 0L
  var stageSkew = 0.0
  var parseMs, analysisMs, optimizationMs, planningMs = 0.0
  var graftRulesNs, executions = 0L
  var streamQueries, batches, inputRows = 0L
  var triggerMs, addBatchMs, queryPlanningMs, walMs, commitOffsetsMs,
    offsetsMs, stateCommitMs = 0.0
  var stateRows, stateMem, stateStores = 0L
}

/** Process-wide counters read at window boundaries (GC, JIT, codegen,
  * allocation). Allocation is summed from GC notifications: heap used
  * just before each collection minus heap used just after the previous
  * one, plus the growth since the last collection. */
object JvmCounters {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private val mem = ManagementFactory.getMemoryMXBean
  private var allocated = 0L
  private var lastAfter = mem.getHeapMemoryUsage.getUsed

  gcBeans.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n, _) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[
              javax.management.openmbean.CompositeData]).getGcInfo
          def used(m: java.util.Map[String, java.lang.management.MemoryUsage]) =
            m.values.asScala.map(_.getUsed).sum
          JvmCounters.synchronized {
            allocated += math.max(0L, used(info.getMemoryUsageBeforeGc) - lastAfter)
            lastAfter = used(info.getMemoryUsageAfterGc)
          }
        }
      }, null, null)
    case _ => ()
  }

  final case class Snap(gcMs: Long, gcCount: Long, jitMs: Long,
      allocBytes: Long, codegenNs: Long, codegenCompiles: Long)

  def snap(): Snap = {
    val alloc = synchronized {
      allocated + math.max(0L, mem.getHeapMemoryUsage.getUsed - lastAfter)
    }
    Snap(gcBeans.map(_.getCollectionTime).sum,
      gcBeans.map(_.getCollectionCount).sum,
      if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime
      else 0L,
      alloc, CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount)
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use after full collections. */
  def liveHeapBytes(): Long = {
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed
  }
}

/** Span recorder. Benchmark spans (statement, closure call, materialising
  * action) are opened by the runner on its own thread; Spark job spans
  * and streaming micro-batch spans are closed by listeners and hang under
  * the benchmark span that was open when they started. Spans stay in
  * memory until `writeSpans`. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val accs = mutable.HashMap.empty[Long, StmtAcc]
  @volatile private var openSpan: Span = _
  // statement intervals for events that carry only a time (query
  // executions); closed-loop, so at most one statement is open
  private val stmtWindows = mutable.ArrayBuffer.empty[Span]

  private val StmtKey = "graftbench.stmt"
  private val SpanKey = "graftbench.span"

  def acc(stmt: Long): StmtAcc = synchronized(accs.getOrElseUpdate(stmt, new StmtAcc))

  def spanCount: Int = synchronized(spans.size)

  /** Statements opened after the first `n` spans were recorded. */
  def stmtsSince(n: Int): Set[Long] =
    synchronized(spans.drop(n).filter(_.layer == "bench").map(_.stmt).toSet)

  /** Run `body` inside a benchmark span. `stmt` 0 opens a new statement. */
  def span[T](spark: SparkSession, name: String, layer: String,
      stmt: Long = 0L)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val outer = openSpan
    val id = ids.incrementAndGet()
    val s = Span(id, if (stmt == 0L) id else stmt,
      if (outer == null) 0L else outer.id, name, layer, Clock.nowMs, Double.NaN)
    synchronized {
      spans += s
      if (stmt == 0L) stmtWindows += s
    }
    val prevStmt = sc.getLocalProperty(StmtKey)
    val prevSpan = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(StmtKey, s.stmt.toString)
    sc.setLocalProperty(SpanKey, id.toString)
    openSpan = s
    try body
    finally {
      s.endMs = Clock.nowMs
      openSpan = outer
      sc.setLocalProperty(StmtKey, prevStmt)
      sc.setLocalProperty(SpanKey, prevSpan)
    }
  }

  private def spanById(id: Long): Option[Span] =
    if (id == 0L) None else spans.find(_.id == id)

  private def stmtAt(ms: Double): Long = synchronized {
    stmtWindows.reverseIterator
      .find(w => w.startMs <= ms && (w.endMs.isNaN || ms <= w.endMs))
      .map(_.stmt).getOrElse(0L)
  }

  // ---- query executions (plans layer) ----
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  /** Add a query execution's planning phases to `stmt` (once per
    * execution: a closure may return a Dataset it has already run). */
  def notePlans(qe: QueryExecution, stmt: Long): Unit = synchronized {
    if (seenQe.add(qe)) {
      val a = acc(stmt)
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      a.parseMs += ms("parsing")
      a.analysisMs += ms("analysis")
      a.optimizationMs += ms("optimization")
      a.planningMs += ms("planning")
      a.graftRulesNs += qe.tracker.rules.collect {
        case (rule, sum) if rule.startsWith("graft.") => sum.totalTimeNs
      }.sum
      a.executions += 1
    }
  }

  /** Stmt id of the open benchmark span, for callers outside listeners. */
  def currentStmt: Long = Option(openSpan).map(_.stmt).getOrElse(0L)

  private val qeListener = new QueryExecutionListener {
    private def at(qe: QueryExecution): Long = {
      val starts = qe.tracker.phases.values.map(_.startTimeMs)
      if (starts.isEmpty) 0L else stmtAt(starts.min.toDouble)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      notePlans(qe, at(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      notePlans(qe, at(qe))
  }

  /** Attach the listeners; untraced passes run with none attached. */
  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach the listeners once every event posted so far is delivered. */
  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  private val jobStarts = mutable.HashMap.empty[Int, Span]
  private val stageStmt = mutable.HashMap.empty[Int, Long]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val stmt = prop(e.properties, StmtKey)
      val parent = prop(e.properties, SpanKey)
      val s = Span(ids.incrementAndGet(), stmt, parent, s"job ${e.jobId}",
        "exec", e.time.toDouble, Double.NaN)
      jobStarts(e.jobId) = s
      e.stageIds.foreach(id => stageStmt(id) = stmt)
      val a = acc(stmt)
      a.jobs += 1
      if (spanById(parent).exists(_.layer == "queries")) a.buildJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { s => s.endMs = e.time.toDouble; spans += s }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = acc(stageStmt.getOrElse(e.stageId, 0L))
      a.tasks += 1
      val d = e.taskInfo.duration
      a.taskMs += d
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += d
      Option(e.taskMetrics).foreach { m =>
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.shuffleR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val id = e.stageInfo.stageId
        val a = acc(stageStmt.getOrElse(id, 0L))
        a.stages += 1
        stageTasks.remove(id).filter(_.nonEmpty).foreach { ds =>
          val sorted = ds.sorted
          val median = sorted(sorted.size / 2)
          a.stageSkew = math.max(a.stageSkew, sorted.last.toDouble / math.max(1L, median))
        }
      }
  }

  // runId -> (stmt, parent span) captured when the query starts, which
  // Spark reports synchronously on the thread calling start()
  private val streamOwner = mutable.HashMap.empty[java.util.UUID, (Long, Long)]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val open = openSpan
      val owner = if (open == null) (0L, 0L) else (open.stmt, open.id)
      Tracer.this.synchronized {
        streamOwner(e.runId) = owner
        acc(owner._1).streamQueries += 1
      }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val (stmt, parent) = streamOwner.getOrElse(p.runId, (0L, 0L))
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        val trigger = d.getOrElse("triggerExecution", 0.0)
        val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
        spans += Span(ids.incrementAndGet(), stmt, parent,
          s"batch ${p.batchId}", "streaming", start, start + trigger)
        val a = acc(stmt)
        a.batches += 1
        a.inputRows += p.numInputRows
        a.triggerMs += trigger
        a.addBatchMs += d.getOrElse("addBatch", 0.0)
        a.queryPlanningMs += d.getOrElse("queryPlanning", 0.0)
        a.walMs += d.getOrElse("walCommit", 0.0)
        a.commitOffsetsMs += d.getOrElse("commitOffsets", 0.0)
        a.offsetsMs += d.getOrElse("latestOffset", 0.0) + d.getOrElse("getBatch", 0.0)
        p.stateOperators.foreach { op =>
          a.stateRows += op.numRowsTotal
          a.stateMem += op.memoryUsedBytes
          a.stateCommitMs += op.commitTimeMs
          a.stateStores += op.numStateStoreInstances
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Spans of the statements in `stmts`, in start order. */
  def spansOf(stmts: Set[Long]): Seq[Span] =
    synchronized(spans.filter(s => stmts.contains(s.stmt)).sortBy(_.startMs).toSeq)

  /** Write every span as one JSON line, with its self time: its length
    * minus the part of it its child spans cover. */
  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    val children = spans.groupBy(_.parent)
    val out = new StringBuilder
    spans.sortBy(_.startMs).foreach { s =>
      val end = if (s.endMs.isNaN) s.startMs else s.endMs
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var reach = s.startMs
      kids.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      out ++= s"""{"id":${s.id},"stmt":${s.stmt},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"layer":"${s.layer}",""" +
        Json.num("start_ms", s.startMs) + "," + Json.num("end_ms", end) + "," +
        Json.num("self_ms", end - s.startMs - covered) + "}\n"
    }
    java.nio.file.Files.writeString(path, out.toString)
  }
}
