package graftbench

import graft.changegen.{ChangeGen, FeedConfig}

/** Checks of the harness's own helpers, without Spark:
  * `graftbench.Main workload=selftest` prints `selftest ok` or throws.
  */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest: $what")

  def medians(): Unit = {
    check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd median")
    check(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "even median")
  }

  def oracle(): Unit = {
    val cfg = FeedConfig(numEvents = 20000, numKeys = 500, seed = 7, zipf = 1.1,
      deleteFraction = 0.05, dupFraction = 0.02, outOfOrderWindow = 300,
      eventsPerSegment = 1000)
    val events = ChangeGen.generateLocal(cfg)
    val want = ChangeGen.oracleFinalState(events)
    val got = Oracle.fold(cfg, cfg.numEvents)
    check(got.keySet == want.keySet, s"fold keys (${got.size} vs ${want.size})")
    want.foreach { case (k, e) =>
      val g = got(k)
      check(g.lsn == e.lsn && java.util.Arrays.equals(g.tokens, e.tokens) &&
        g.n_tok == e.n_tok && g.source == e.source, s"fold row $k")
    }
    // a prefix of segments folds to the oracle of exactly those events
    val upTo = 7L
    val wantPrefix = ChangeGen.oracleFinalState(events.filter(_.seg <= upTo))
    val gotPrefix = Oracle.fold(cfg, cfg.numEvents, _.seg <= upTo)
    check(gotPrefix.map { case (k, e) => k -> e.lsn } ==
      wantPrefix.map { case (k, e) => k -> e.lsn }, "fold of a segment prefix")
    // driver-rendered segments hold exactly the generator's events
    val cdf = ChangeGen.zipfCdf(cfg.numKeys, cfg.zipf)
    // disorder can push the last events past (numEvents - 1) / eventsPerSegment
    val lastSeg = events.map(_.seg).max
    val rendered = (0L to lastSeg).flatMap(k => Feed.segment(cfg, cdf, k).map(e => (e.lsn, k)))
    check(rendered.sorted == events.map(e => (e.lsn, e.seg)).sorted, "rendered segments")
  }

  def run(): Unit = {
    medians()
    oracle()
    println("selftest ok")
  }
}
