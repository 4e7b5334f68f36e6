package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds this
  * package, lays out the run's temp root and starts it; see
  * `perfbench/README.md` for the workloads and metrics.
  *
  *   run      --workload W --seed N --seconds S --trace 0|1 ...
  *   record   --names a,b,c --passes P ...   (one traced window per statement)
  *   selftest                                 (every listed name is registered)
  */
object Main {
  final case class Conf(args: Map[String, String]) {
    def apply(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def root: Path = Paths.get(apply("root"))
    def sf: String = apply("sf")
    def cores: Int = int("cores")
  }

  def main(argv: Array[String]): Unit = {
    val conf = Conf(argv.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    Workloads.check()
    argv.headOption match {
      case Some("run") => new Run(conf).run()
      case Some("record") => new Run(conf).record()
      case Some("selftest") =>
        println(s"selftest ok: ${Workloads.all.map { case (w, l) => s"$w=${l.size}" }.mkString(" ")}")
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  /** Progress line in the run's log. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${Clock.nowMs / 1e3}%.3f $msg")

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Regular files under `dir` with their sizes. */
  def listFiles(dir: Path): Map[Path, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val st = Files.walk(dir)
      try st.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toMap
      finally st.close()
    }

  final case class Pass(wallS: Double, stmtS: Seq[Double],
      layers: Seq[(String, Double)])

  final class Run(conf: Conf) {
    private val root = conf.root
    private val cores = conf.cores
    private val sf = conf.sf
    private val resultsDir = root.resolve("results")
    private var spark: SparkSession = _
    private val noTrace = new Tracer(enabled = false)
    private var tracer = noTrace
    private var rootSeq = 0

    /** Point graft's durable state at fresh directories of this run: the
      * cache root, and the JVM temp dir, where streaming checkpoints and
      * some stores (q409's versioned table) keep their state. */
    private def freshDurableRoots(label: String): Unit = {
      rootSeq += 1
      val name = f"$rootSeq%03d-$label"
      val cache = Files.createDirectories(root.resolve("cache").resolve(name))
      val tmp = Files.createDirectories(root.resolve("tmp").resolve(name))
      spark.conf.set("spark.graft.cacheRoot", cache.toUri.toString)
      System.setProperty("java.io.tmpdir", tmp.toString)
    }

    private def newSession(): Unit = {
      if (spark != null) spark.stop()
      spark = graft.Engine.session(master = s"local[$cores]", shufflePartitions = cores)
      spark.sparkContext.setLogLevel("ERROR")
      freshDurableRoots("setup")
      new graft.Tables(spark, sf).registerAll()
    }

    private var attempted = 0
    private val errors = mutable.LinkedHashMap.empty[String, String]
    private var threw = 0

    /** One statement: the closure call, then materialise every output
      * column, through the `noop` sink or, with `result`, into parquet for
      * the oracle check. Seconds, or None if it threw. */
    private def statement(name: String, result: Option[Path] = None): Option[Double] = {
      spark.catalog.clearCache() // a previous statement's persist() must not serve this one
      val fn = graft.SparkEntry.queries(name)
      attempted += 1
      val t0 = System.nanoTime()
      try {
        tracer.span(spark, name, "bench") {
          val stmt = tracer.currentStmt
          val df = tracer.span(spark, "closure", "queries", stmt)(fn(spark, sf))
          if (tracer.enabled) tracer.notePlans(df.queryExecution, stmt)
          tracer.span(spark, "action", "exec", stmt) {
            result match {
              case None => df.write.format("noop").mode("overwrite").save()
              case Some(p) => df.coalesce(1).write.mode("overwrite").parquet(p.toString)
            }
          }
        }
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case NonFatal(e) =>
          threw += 1
          errors.getOrElseUpdate(name, s"${e.getClass.getName}: ${e.getMessage}".take(400))
          None
      }
    }

    private def workload: String = conf("workload")
    private def list: Seq[String] = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    private def streaming: Boolean = workload == "stream_drain"

    /** One pass over the list in `order`; per-layer numbers when traced. */
    private def pass(order: Seq[String], label: String): Pass = {
      // every drain really drains: no checkpoint or staged source survives
      if (streaming) freshDurableRoots(label)
      System.gc()
      val fs0 = writtenFiles()
      val j0 = JvmCounters.snap()
      val firstSpan = tracer.spanCount
      val cpu0 = JvmCounters.processCpuNs()
      val t0 = System.nanoTime()
      val timed = order.map(n => n -> statement(n))
      val times = timed.flatMap(_._2)
      val wall = (System.nanoTime() - t0) / 1e9
      val j1 = JvmCounters.snap()
      // process CPU less the JIT compiler's time: a fresh JVM is still
      // compiling during the timed passes, which a long-lived deployment
      // has long finished
      val cpu = (JvmCounters.processCpuNs() - cpu0) / 1e9 - (j1.jitMs - j0.jitMs) / 1e3
      note(f"$label: $wall%.3f s, cpu $cpu%.3f s, jit ${(j1.jitMs - j0.jitMs) / 1e3}%.3f s, " +
        timed.map { case (n, t) => f"$n=${t.getOrElse(Double.NaN)}%.3f" }.mkString(" "))
      val layers =
        if (!tracer.enabled) Nil
        else {
          org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
          Layers(tracer, tracer.stmtsSince(firstSpan), wall, cores,
            j0, j1, fs0, writtenFiles()) :+ ("jvm.cpu_s" -> cpu)
        }
      Pass(wall, times, layers)
    }

    /** Files graft can write durable state to (the cache roots, the
      * warehouse, the temp dirs and the working directory), keyed by their
      * path under the run's root. */
    private def writtenFiles(): Map[Path, Long] =
      Seq("cache", "warehouse", "tmp", "cwd").flatMap(d => listFiles(root.resolve(d)))
        .map { case (p, n) => root.relativize(p) -> n }.toMap

    /** Whole passes, each in a seeded order, until `seconds` have passed. */
    private def passes(seconds: Double, rng: scala.util.Random): Seq[Pass] = {
      val out = mutable.ArrayBuffer.empty[Pass]
      val t0 = System.nanoTime()
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
        out += pass(rng.shuffle(list), s"pass-${out.size + 1}")
      out.toSeq
    }

    /** Untraced and traced passes in turn, so both see the same JVM
      * warmth and their difference is the tracing overhead. The
      * listeners are attached only around the traced ones. */
    private def tracedPasses(seconds: Double, rng: scala.util.Random): (Seq[Pass], Seq[Pass]) = {
      val untraced, traced = mutable.ArrayBuffer.empty[Pass]
      val recorder = new Tracer(enabled = true)
      val t0 = System.nanoTime()
      while (traced.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        untraced += pass(rng.shuffle(list), s"pass-${untraced.size + 1}")
        tracer = recorder
        recorder.register(spark)
        try traced += pass(rng.shuffle(list), s"traced-${traced.size + 1}")
        finally { recorder.unregister(spark); tracer = noTrace }
      }
      recorder.writeSpans(root.resolve("spans.jsonl"))
      (untraced.toSeq, traced.toSeq)
    }

    def run(): Unit = {
      val trace = conf("trace") == "1"
      val seconds = conf("seconds").toDouble
      val rng = new scala.util.Random(conf("seed").toLong)
      // Set-up, from process start: session, tables, and a warm-up pass
      // that builds the durable caches.
      newSession()
      note("setup: session ready")
      list.sorted.foreach { n =>
        note(f"setup: $n ${statement(n).getOrElse(Double.NaN)}%.3f s")
      }
      val setupS = (Clock.nowMs -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      // Untimed: each result into parquet for the oracle check.
      if (streaming) freshDurableRoots("oracle")
      list.sorted.foreach { n =>
        note(f"oracle: $n ${statement(n, Some(resultsDir.resolve(n))).getOrElse(Double.NaN)}%.3f s")
      }
      val oracle = graft.SparkEntry.oracleSql
      Files.writeString(resultsDir.resolve("oracle_sql.json"),
        Json.obj(list.flatMap(n => oracle.get(n).map(q => s"${Json.str(n)}:${Json.str(q)}"))))

      val (untraced, traced) = if (trace) tracedPasses(seconds, rng) else (passes(seconds, rng), Nil)
      spark.catalog.clearCache()
      val liveHeapMb = JvmCounters.liveHeapBytes() / 1048576.0

      val metrics: Seq[(String, Double)] =
        if (!trace) {
          val samples = untraced.flatMap(_.stmtS)
          Seq(
            "setup_s" -> setupS,
            "pass_s" -> median(untraced.map(_.wallS)),
            "stmt_p50_s" -> quantile(samples, 0.5),
            "stmt_p90_s" -> quantile(samples, 0.9),
            "live_heap_mb" -> liveHeapMb)
        } else {
          val names = traced.head.layers.map(_._1)
          names.map(n => n -> traced.map(_.layers.toMap.apply(n)).sum / traced.size) ++ Seq(
            "trace.pass_s" -> median(traced.map(_.wallS)),
            "trace.overhead_s" ->
              (median(traced.map(_.wallS)) - median(untraced.map(_.wallS))))
        }
      val out = Json.obj(Seq(
        s""""workload":${Json.str(workload)}""",
        s""""passes":${untraced.size + traced.size}""",
        s""""samples":${untraced.flatMap(_.stmtS).size}""",
        s""""attempted":$attempted""",
        s""""threw":$threw""",
        s""""errors":${Json.obj(errors.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" })}""",
        Json.num("setup_s", setupS),
        s""""pass_runs_s":[${untraced.map(p => Json.value(p.wallS)).mkString(",")}]""",
        s""""metrics":${Json.numObj(metrics)}"""))
      Files.writeString(Paths.get(conf("out")), out + "\n")
      spark.stop()
    }

    /** One traced window per statement, `passes` times over `names` in
      * the given order, with no warm-up: the probe behind the frozen
      * lists, and the record of the left-out statements. */
    def record(): Unit = {
      val names = conf("names") match {
        case "registry" =>
          graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(Workloads.leftOut.contains)
        case list => list.split(",").toSeq
      }
      val streams = graft.queries.StreamingOracle.queries.keySet
      val interface = graft.queries.Interface.queries.keySet
      val out = Files.newBufferedWriter(Paths.get(conf("out")))
      newSession()
      tracer = new Tracer(enabled = true)
      tracer.register(spark)
      try for (p <- 1 to conf.int("passes"); name <- names) {
        if (streams(name)) freshDurableRoots(s"$name-$p")
        val fs0 = writtenFiles()
        val j0 = JvmCounters.snap()
        val firstSpan = tracer.spanCount
        val t0 = System.nanoTime()
        val ok = statement(name).isDefined
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
        val layers = Layers(tracer, tracer.stmtsSince(firstSpan), wall, cores,
          j0, JvmCounters.snap(), fs0, writtenFiles())
        val group = if (streams(name)) "streaming" else if (interface(name)) "interface" else "other"
        out.write(Json.obj(Seq(s""""name":${Json.str(name)}""", s""""pass":$p""",
          s""""group":"$group"""", s""""ok":$ok""", Json.num("stmt_s", wall),
          s""""error":${Json.str(errors.getOrElse(name, ""))}""",
          s""""layers":${Json.numObj(layers)}""")) + "\n")
        out.flush()
      } finally out.close()
      tracer.writeSpans(root.resolve("spans.jsonl"))
      spark.stop()
    }
  }
}

/** Per-layer metrics of one window (a pass, or one statement) from the
  * spans and counters of the statements it ran. */
object Layers {
  /** Spark's own entries in a temp dir (streaming checkpoints of queries
    * without a location, scratch dirs, the Derby log), and the native
    * libraries its compression codecs unpack there. */
  private def sparkTemp(entry: String): Boolean =
    Seq("spark-", "temporary-", "blockmgr-", "derby.log").exists(entry.startsWith) ||
      Seq(".so", ".so.lck").exists(entry.endsWith)

  /** A file graft wrote outside `spark.graft.cacheRoot` and the
    * warehouse, given by its path under the run's root: anything in the
    * working directory, and graft's entries in a temp dir (at the top of
    * `tmp/`, or of one of the per-pass temp dirs `tmp/NNN-label/`). */
  private def strayFile(p: Path): Boolean = p.getName(0).toString match {
    case "cwd" => true
    case "tmp" =>
      val perPass = p.getNameCount > 2 && p.getName(1).toString.matches("\\d{3}-.*")
      val entry = p.getName(if (perPass) 2 else 1).toString
      !sparkTemp(entry)
    case _ => false
  }

  def apply(t: Tracer, stmts: Set[Long], wallS: Double, cores: Int,
      j0: JvmCounters.Snap, j1: JvmCounters.Snap,
      fs0: Map[Path, Long], fs1: Map[Path, Long]): Seq[(String, Double)] = {
    val spans = t.spansOf(stmts)
    def dur(f: Span => Boolean) = spans.filter(f).map(s => s.endMs - s.startMs).sum / 1e3
    val accs = stmts.toSeq.map(t.acc)
    def sum(f: StmtAcc => Double) = accs.map(f).sum
    val buildS = dur(_.layer == "queries")
    val triggerS = sum(_.triggerMs) / 1e3
    val drainStmts = accs.zip(stmts.toSeq).collect { case (a, s) if a.streamQueries > 0 => s }.toSet
    val drainS = dur(s => s.layer == "queries" && drainStmts(s.stmt))
    val written = fs1.filter { case (p, n) => !fs0.get(p).contains(n) }
    val stray = written.keys.count(strayFile)
    // cache/<cache root>/<entry>/...: one entry per artifact
    val cacheBuilds = written.keys.collect {
      case p if p.getNameCount > 3 && p.getName(0).toString == "cache" => p.subpath(0, 3).toString
    }.filterNot(_.contains(".stage-")).toSet.size
    val mb = 1048576.0
    Seq(
      "queries.build_s" -> buildS,
      "queries.build_jobs" -> sum(_.buildJobs),
      "queries.build_share" -> buildS / wallS,
      "plans.parse_s" -> sum(_.parseMs) / 1e3,
      "plans.analysis_s" -> sum(_.analysisMs) / 1e3,
      "plans.optimization_s" -> sum(_.optimizationMs) / 1e3,
      "plans.planning_s" -> sum(_.planningMs) / 1e3,
      "plans.graft_rules_s" -> sum(_.graftRulesNs) / 1e9,
      "plans.executions" -> sum(_.executions),
      "plans.codegen_compiles" -> (j1.codegenCompiles - j0.codegenCompiles).toDouble,
      "plans.codegen_s" -> (j1.codegenNs - j0.codegenNs) / 1e9,
      "exec.action_s" -> dur(s => s.layer == "exec" && s.name == "action"),
      "exec.jobs" -> sum(_.jobs),
      "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks),
      "exec.task_s" -> sum(_.taskMs) / 1e3,
      "exec.task_cpu_s" -> sum(_.taskCpuNs) / 1e9,
      "exec.core_busy" -> sum(_.taskMs) / 1e3 / (wallS * cores),
      "exec.stage_skew" -> (if (accs.isEmpty) 0.0 else accs.map(_.stageSkew).max),
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.shuffle_write_mb" -> sum(_.shuffleW) / mb,
      "exec.shuffle_read_mb" -> sum(_.shuffleR) / mb,
      "exec.spill_mb" -> sum(_.spill) / mb,
      "exec.input_mb" -> sum(_.input) / mb,
      "exec.peak_mem_mb" -> (if (accs.isEmpty) 0.0 else accs.map(_.peakMem).max / mb),
      "streaming.queries" -> sum(_.streamQueries),
      "streaming.batches" -> sum(_.batches),
      "streaming.input_rows" -> sum(_.inputRows),
      "streaming.trigger_s" -> triggerS,
      "streaming.add_batch_s" -> sum(_.addBatchMs) / 1e3,
      "streaming.query_planning_s" -> sum(_.queryPlanningMs) / 1e3,
      "streaming.wal_commit_s" -> sum(_.walMs) / 1e3,
      "streaming.commit_offsets_s" -> sum(_.commitOffsetsMs) / 1e3,
      "streaming.offsets_s" -> sum(_.offsetsMs) / 1e3,
      "streaming.start_stop_s" -> (if (drainStmts.isEmpty) 0.0 else drainS - triggerS),
      "streaming.state_rows" -> sum(_.stateRows),
      "streaming.state_mem_mb" -> sum(_.stateMem) / mb,
      "streaming.state_commit_s" -> sum(_.stateCommitMs) / 1e3,
      "streaming.state_stores" -> sum(_.stateStores),
      "sources.cache_builds" -> cacheBuilds.toDouble,
      "sources.bytes_written_mb" -> written.values.sum / mb,
      "sources.files_written" -> written.size.toDouble,
      "sources.stray_files" -> stray.toDouble,
      "jvm.gc_s" -> (j1.gcMs - j0.gcMs) / 1e3,
      "jvm.gc_count" -> (j1.gcCount - j0.gcCount).toDouble,
      "jvm.alloc_mb" -> (j1.allocBytes - j0.allocBytes) / mb,
      "jvm.jit_s" -> (j1.jitMs - j0.jitMs) / 1e3,
      "trace.spans" -> spans.size.toDouble)
  }
}
