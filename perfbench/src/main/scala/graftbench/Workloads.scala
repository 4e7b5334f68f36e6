package graftbench

/** The frozen statement lists. Membership was decided once, from the
  * probe table in `perfbench/probe_seed.tsv`, and is never recomputed from
  * live job counts: an optimisation that removes a closure's jobs must not
  * move its statement to another workload. */
object Workloads {
  /** Pool: Interface entries whose closure starts at most one job, plus
    * the client-parity q446-q448 (75 statements, warm pass 49.6 s). Listed:
    * q446-q448 and the six nearest the pool's median warm time, 0.41 s. */
  val sqlFrontDoor: Seq[String] = Seq(
    "q446_jdbc_client_sql", "q447_http_client_sql", "q448_shell_client_sql",
    "q420_plot_ticker_sql", "q452_date_partstr_sql", "q157_band_sql",
    "q204_merge_sql", "q444_plot_stack_sql", "q455_plot_ortho_sql")

  /** Pool: entries outside StreamingOracle whose closure starts at least
    * 5 jobs (35 statements, warm pass 66.4 s, 80% inside closures).
    * Listed: most closure jobs per warm second among those with warm time
    * at most 1.25 s and a DuckDB oracle under 2 s: q245 (20 closure jobs
    * in 1.23 s), q450 (11 in 0.83 s). */
  val multiAction: Seq[String] = Seq("q245_communities", "q450_impute_multi_sql")

  /** Pool: the 18 heaviest single-action statements outside Interface
    * and StreamingOracle. Listed: the three lightest by warm time (0.66,
    * 1.66 and 1.84 s), each with no closure job. */
  val kernels: Seq[String] = Seq("q370_theta_rolling", "q136_robust_stats", "q267_bigram_ppl")

  /** Pool: every StreamingOracle lane (24, warm pass 50.9 s). Listed:
    * the three fastest on a fresh durable root: q398 0.84 s, q409 0.99 s,
    * q397 1.13 s. */
  val streamDrain: Seq[String] = Seq(
    "q397_stream_dedup_final", "q398_stream_matview_final", "q409_stream_snapshot_final")

  val all: Map[String, Seq[String]] = Map(
    "sql_front_door" -> sqlFrontDoor,
    "multi_action" -> multiAction,
    "kernels" -> kernels,
    "stream_drain" -> streamDrain)

  /** Each alone would set its workload's time; recorded once in
    * `perfbench/left_out_seed.jsonl` instead of timed. */
  val leftOut: Seq[String] =
    Seq("q69_range_frame", "q94_approx_stats", "q85_repetition")

  /** Fail loudly when a listed statement is not in the registry. */
  def check(): Unit = {
    val registry = graft.SparkEntry.queries.keySet
    val missing = (all.values.flatten ++ leftOut).filterNot(registry).toSeq
    require(missing.isEmpty,
      s"statements listed in the benchmark but missing from " +
        s"graft.SparkEntry.queries: ${missing.mkString(", ")}")
  }
}
