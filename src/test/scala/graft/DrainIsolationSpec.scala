package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Streaming drains run in a child session: the caller's conf is never
  * written, neither while a drain runs (a concurrent reader of the
  * caller's conf sees only its own values) nor after it (every
  * StreamingOracle lane leaves the caller's conf as it found it). The
  * two rewrite-pinned oracle queries, q435 and q436, keep a caller's
  * own value of the key they force. */
class DrainIsolationSpec extends AnyFunSuite {
  import TestSession._

  private val Shuffle = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"

  /** A session whose shuffle-partition count no drain would pick:
    * the byte hint is 1 at this scale and the CPU floor is 4. */
  private def caller() = {
    val s = spark.newSession()
    s.conf.set(Shuffle, "5")
    // Tables.events sets its own reader option on the session it
    // reads with; set it up front so the snapshots below compare
    // what the drains do
    Tables(s, sfDir).events
    s
  }

  test("a concurrent reader never sees a drain's conf") {
    val s = caller()
    val before = (s.conf.get(Shuffle), s.conf.getOption(Provider))
    val seen = new ConcurrentLinkedQueue[(String, Option[String])]()
    @volatile var done = false
    val reader = new Thread(() => {
      while (!done) {
        val now = (s.conf.get(Shuffle), s.conf.getOption(Provider))
        if (now != before) seen.add(now)
        Thread.sleep(2)
      }
    })
    reader.start()
    try {
      for (name <- Seq("q399_stream_seqpat_final",
          "q397_stream_dedup_final"))
        assert(SparkEntry.queries(name)(s, sfDir).count() > 0, name)
    } finally {
      done = true
      reader.join()
    }
    assert(seen.isEmpty,
      s"caller's conf changed during a drain: ${seen.asScala.toSet}")
  }

  test("every streaming lane leaves the caller's conf unchanged") {
    val s = caller()
    for (name <- graft.queries.StreamingOracle.queries.keys.toSeq.sorted) {
      val snapshot = s.conf.getAll
      SparkEntry.queries(name)(s, sfDir).count()
      assert(s.conf.getAll === snapshot, name)
    }
  }

  test("q435/q436 keep the caller's value of the key they force") {
    val s = caller()
    s.conf.set(graft.plans.RangeJoinRewrite.WidthKey, "30000.0")
    s.conf.set(graft.plans.BandJoinRewrite.EnabledKey, "true")
    for (name <- Seq("q435_range_rewrite_sql", "q436_band_rewrite_sql")) {
      val snapshot = s.conf.getAll
      assert(SparkEntry.queries(name)(s, sfDir).count() > 0, name)
      assert(s.conf.getAll === snapshot, name)
    }
  }
}
