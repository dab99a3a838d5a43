package graft

import scala.concurrent.duration._

/** The gauge-harness contract (VERDICT r16 #1): gauge groups are
  * independently budgeted, and a pathological group — hung or throwing
  * — loses ONLY its own entries. r16 ran every gauge inside one shared
  * 90 s Await and a single straggler discarded the round's entire
  * quality record; these specs pin the restructured accumulator so
  * that failure mode cannot come back silently.
  */
class BenchGaugeSpec extends SparkSpec {
  test("a planted slow gauge group times out alone; every other group's " +
    "entries survive") {
    val defs: Seq[(String, () => Map[String, Double])] = Seq(
      "fast_a" -> (() => Map("a_one" -> 1.0, "a_two" -> 2.0)),
      "slow" -> (() => { Thread.sleep(30000); Map("never" -> 0.0) }),
      "fast_b" -> (() => Map("b_one" -> 3.0)))
    val out = Bench.runGauges(spark.sparkContext, defs, 2.seconds)
    out("a_one") shouldBe 1.0
    out("a_two") shouldBe 2.0
    out("b_one") shouldBe 3.0 // group AFTER the straggler still ran
    out("gauge_slow_error") shouldBe -2.0
    out.contains("never") shouldBe false
  }

  test("a throwing gauge group records -1 and keeps the rest") {
    val defs: Seq[(String, () => Map[String, Double])] = Seq(
      "boom" -> (() => throw new RuntimeException("planted")),
      "fast" -> (() => Map("ok" -> 7.0)))
    val out = Bench.runGauges(spark.sparkContext, defs, 10.seconds)
    out("gauge_boom_error") shouldBe -1.0
    out("ok") shouldBe 7.0
  }

  test("per-group budget overrides: a known-heavy group runs under its own " +
    "deadline while the default still bounds the rest") {
    val defs: Seq[(String, () => Map[String, Double])] = Seq(
      "heavy" -> (() => { Thread.sleep(3000); Map("h" -> 1.0) }),
      "fast" -> (() => Map("f" -> 2.0)))
    val out = Bench.runGauges(spark.sparkContext, defs, 1.second,
      budgetOverrides = Map("heavy" -> 15.seconds))
    out("h") shouldBe 1.0 // survived: its override outlasts the sleep
    out("f") shouldBe 2.0
    out.contains("gauge_heavy_error") shouldBe false
  }

  test("gauge defs cover the full per-round evidence surface (the r16 " +
    "lost record, re-landed as independently-budgeted groups)") {
    // names only — no thunk is invoked, so this stays a fast contract
    // check that the bench will ATTEMPT every evidence family
    val names = graft.queries.ScaleWorkloads
      .gaugeDefs(spark, sf).map(_._1).toSet
    Set("lsh", "ivf", "ivfpq", "ivfpq_nprobe", "pq", "opq_mean",
      "isotropy", "zorder", "minhash", "jaccard", "fuzzy",
      "adc_fixture", "adc_grid", "skew", "st5_overhead")
      .subsetOf(names) shouldBe true
  }

  test("SPARK_GRAFT_BENCH_ONLY selects gauge groups by the same prefixes as " +
    "queries; unset runs every group") {
    val names = graft.queries.ScaleWorkloads.gaugeDefs(spark, sf).map(_._1)
    def kept(only: Option[String]) = names.filter(Bench.selected(only)).toSet
    kept(None) shouldBe names.toSet
    kept(Some("ivf,lsh")) shouldBe Set("ivf", "ivfpq", "ivfpq_nprobe", "lsh")
    // a query-only filter (the index-workload A/B) runs no gauge group
    kept(Some("ann,dd,ret,hn,st12,sx14")) shouldBe empty
    kept(Some("st5")) shouldBe Set("st5_overhead")
    Bench.selected(Some("dd3,ann"))("dd3_minhash_lsh") shouldBe true
    Bench.selected(Some("dd3,ann"))("dd4_other") shouldBe false
  }

  test("sustained-contention heal decision: a planted steadily-loaded " +
    "window holds zero clean reps until quiet reps land (r21, VERDICT #4)") {
    // the r20 dd12 shape: every rep valid, every rep under the hard
    // 0.15 per-rep bar, yet the whole window carried ~7.6% foreign CPU
    // — the old heals saw nothing; the clean-rep count sees 0 < 2 and
    // keeps buying reps until the window quiets or the cap is spent
    val loadedTimes = Seq(13.05, 12.98, 13.11)
    val loadedExt = Seq(0.076, 0.074, 0.078)
    Bench.cleanRepCount(loadedTimes, loadedExt) shouldBe 0
    // two genuinely quiet reps close the query
    Bench.cleanRepCount(loadedTimes ++ Seq(5.71, 5.68),
      loadedExt ++ Seq(0.003, 0.001)) shouldBe 2
    // a failed rep (negative time) can never count as clean, nor can a
    // rep whose ext counter was unreadable (-1)
    Bench.cleanRepCount(Seq(-2.0, 4.0, 4.1), Seq(0.0, -1.0, 0.02)) shouldBe 1
    // threshold is the sustained bar, not the per-rep contended bar:
    // 0.06 of a 32-thread box (~2 cores) is already a dirty window
    Bench.cleanRepCount(Seq(4.0), Seq(0.06)) shouldBe 0
    Bench.cleanRepCount(Seq(4.0), Seq(0.05)) shouldBe 1
  }

  test("gauge defs construct without touching any table: a missing table " +
    "fails only the groups that need it, not the whole record") {
    // construction against a nonexistent sf dir must NOT throw — an
    // eager table read here would wipe every group in one shot (the
    // r16 all-or-nothing failure, through the construction door)
    noException should be thrownBy
      graft.queries.ScaleWorkloads.gaugeDefs(spark, "/nonexistent/sf-dir")
  }
}
