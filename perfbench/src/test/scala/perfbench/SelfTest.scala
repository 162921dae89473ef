package perfbench

/** Self-tests of the benchmark's own logic (no Spark session):
  *
  *     python3 perfbench/run.py --self-test
  *
  * Exits non-zero on the first failed expectation. */
object SelfTest {

  private var passed = 0

  private def expect(cond: Boolean, what: => String): Unit = {
    if (!cond) {
      System.err.println(s"SELF-TEST FAILED: $what")
      sys.exit(1)
    }
    passed += 1
  }

  def percentileRule(): Unit = {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    // p90 of 100 samples leaves exactly 10 beyond it
    val p100 = Stats.tail(xs(100), 90)
    expect(p100.used == 90 && p100.value == 90.0, s"p90 of 100: $p100")
    // 99 samples leave 9 beyond p90: fall back to p80 (19 beyond)
    val p99 = Stats.tail(xs(99), 90)
    expect(p99.used == 80 && p99.value == 80.0, s"p90 of 99: $p99")
    expect(p99.note.contains("reporting p80"), s"fallback is stated: ${p99.note}")
    // 40 samples: p75 leaves 10 beyond
    expect(Stats.tail(xs(40), 90).used == 75, "p90 of 40 falls back to p75")
    // too few for any tail: the median, always reported
    val p7 = Stats.tail(xs(7), 90)
    expect(p7.used == 50 && p7.value == 4.0, s"p90 of 7: $p7")
    expect(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "even-sized median")
    expect(Stats.beyond(99, 1000) == 10 && Stats.beyond(99, 999) == 9, "samples beyond p99")
  }

  def errorRate(): Unit = {
    val r = new Report
    (1 to 9).foreach(i => r.op(s"op $i")(i)(_ => None))
    expect(math.abs(r.errorRate - 0.1) < 1e-12, s"no failure in 9 ops: ${r.errorRate}")
    r.extra += 3
    (1 to 3).foreach(i => r.op(s"extra op $i")(i)(_ => None))
    expect(math.abs(r.errorRate - 0.1) < 1e-12, s"extra ops leave error_rate alone: ${r.errorRate}")
    r.op("wrong answer")(0)(_ => Some("planted fault"))
    expect(r.failed == 1 && math.abs(r.errorRate - 2.0 / 11) < 1e-12, s"one failure: ${r.errorRate}")
  }

  def attribution(): Unit = {
    val spans = Seq(
      Span(0, "a", 0, -1, 100, 200, 100000000L),
      Span(1, "b", 1, -1, 200, 300, 100000000L),
      Span(2, "a", 2, -1, 400, 500, 100000000L))
    expect(Attribution.openAt(spans.toIndexedSeq, 150) == 0, "inside the first span")
    expect(Attribution.openAt(spans.toIndexedSeq, 200) == 1, "a shared millisecond goes to the later span")
    expect(Attribution.openAt(spans.toIndexedSeq, 350) == -1, "between spans")
    expect(Attribution.openAt(spans.toIndexedSeq, 99) == -1, "before every span")
    val jobs = Seq(110L, 200L, 250L, 350L, 450L).map(JobEv)
    val stages = Seq(120L, 130L, 260L, 360L).map(StageEv)
    val tasks = Seq(
      TaskEv(120, 150, 2000000000L, 1000000L, 0L), // a: 30 ms
      TaskEv(140, 160, 1000000000L, 0L, 0L),       // a: overlaps, union 120..160
      TaskEv(260, 280, 500000000L, 3000000L, 0L),  // b: 20 ms
      TaskEv(360, 390, 700000000L, 0L, 0L),        // outside every span
      TaskEv(480, 520, 0L, 0L, 0L))                // a (second call), clipped at 500
    val c = Attribution.perSpan(spans, jobs, stages, tasks)
    val a = c("a")
    val b = c("b")
    expect(a.calls == 2 && b.calls == 1, s"calls $a $b")
    expect(a.jobs == 2 && b.jobs == 2, s"jobs a=${a.jobs} b=${b.jobs}")
    expect(a.stages == 2 && b.stages == 1, s"stages a=${a.stages} b=${b.stages}")
    expect(a.tasks == 3 && b.tasks == 1, s"tasks a=${a.tasks} b=${b.tasks}")
    expect(math.abs(a.cpuS - 3.0) < 1e-9 && math.abs(b.cpuS - 0.5) < 1e-9, s"cpu $a $b")
    expect(math.abs(a.shuffleMb - 1.0) < 1e-9 && math.abs(b.shuffleMb - 3.0) < 1e-9, s"shuffle $a $b")
    // a: 0.2 s of spans, tasks cover 40 ms + 20 ms
    expect(math.abs(a.driverS - 0.14) < 1e-9, s"driver_s a=${a.driverS}")
    expect(math.abs(b.driverS - 0.08) < 1e-9, s"driver_s b=${b.driverS}")
    expect(math.abs(a.busyS - 0.2) < 1e-9, s"busy_s a=${a.busyS}")
    val m = Attribution.metrics(Seq("a", "never"), c).map(x => x._1 -> x._2).toMap
    expect(m.size == 16 && m("never.jobs") == 0.0 && m("a.jobs") == 2.0, s"flattened $m")
  }

  def generatorDeterminism(): Unit = {
    def serve(seed: Long) = Gen.serve(seed, 60, 4, 8, 6, 12, 0.5, 14, 2, 4, 2, 7, 3).sha256
    def dedup(seed: Long) = Gen.dedup(seed, 200, 20, 5, 5, 3, 100, 8, 5, 2).sha256
    expect(serve(1) == serve(1), "serve: same seed, same hash")
    expect(serve(1) != serve(2), "serve: other seed, other hash")
    expect(dedup(1) == dedup(1), "dedup: same seed, same hash")
    expect(dedup(1) != dedup(2), "dedup: other seed, other hash")
    def hexOf(f: Gen.Digest => Unit) = { val d = new Gen.Digest; f(d); d.hex }
    expect(hexOf(_.floats(Array(1f, 2f))) != hexOf(_.floats(Array(1f, 3f))), "hash covers vectors")
    expect(hexOf(_.str("ab")) != hexOf(_.str("ac")), "hash covers text")
    val d = Gen.dedup(7, 200, 20, 5, 5, 3, 100, 8, 5, 2)
    expect(d.nearFamilies.forall(_.size == 3) && d.vecFamilies.forall(_.size == 2), "family sizes")
    val ids = d.nearFamilies.flatten ++ d.exactCopies
    expect(ids.distinct.size == ids.size, "planted docs are distinct")
  }

  def checksRejectWrongAnswers(): Unit = {
    val good = Seq(Hit(5, 0.9, 1), Hit(3, 0.8, 2), Hit(8, 0.8, 3))
    expect(Checks.topK(good, 3).isEmpty, "topK accepts a good list")
    expect(Checks.topK(good.take(2), 3).isDefined, "topK rejects a short list")
    expect(Checks.topK(Seq(Hit(5, 0.9, 1), Hit(3, 0.8, 3), Hit(8, 0.7, 4)), 3).isDefined,
      "topK rejects a rank gap")
    expect(Checks.topK(Seq(Hit(5, 0.7, 1), Hit(3, 0.8, 2), Hit(8, 0.6, 3)), 3).isDefined,
      "topK rejects a rising score")
    expect(Checks.allMatch(good, _ % 2 == 1, "odd").isDefined, "filter rejects doc 8")
    expect(Checks.allMatch(good.take(2), _ % 2 == 1, "odd").isEmpty, "filter accepts 5, 3")
    val terms = Map(5L -> Set("foo"), 3L -> Set("foo", "bar"), 8L -> Set("bar"))
    expect(Checks.keywordHits(good, terms, Seq("foo")).isDefined, "keyword rejects doc 8")
    expect(Checks.keywordHits(good, terms, Seq("foo", "bar")).isEmpty, "keyword accepts any term")
    expect(Checks.sameRanking(good, good).isEmpty, "same ranking")
    expect(Checks.sameRanking(good, Seq(good(1).copy(rank = 1), good(0).copy(rank = 2), good(2))).isDefined,
      "swapped ranking")
    expect(Checks.count(469, 470, "live").isDefined && Checks.count(470, 470, "live").isEmpty, "count")
    expect(Checks.noneDeleted(Seq("k1", "k2"), Set("k2")).isDefined, "deleted key returned")
    expect(Checks.noneDeleted(Seq("k1"), Set("k2")).isEmpty, "no deleted key")
    expect(Checks.removedExactly(Set(1L, 2L), Set(1L, 2L)).isEmpty, "exact removal")
    expect(Checks.removedExactly(Set(1L), Set(1L, 2L)).isDefined, "missed copy")
    expect(Checks.removedExactly(Set(1L, 2L, 3L), Set(1L, 2L)).isDefined, "extra removal")
    val clusters = Map(1L -> 1L, 2L -> 1L, 3L -> 3L)
    expect(Checks.oneClusterEach(clusters, Seq(Seq(1L, 2L))).isEmpty, "family in one cluster")
    expect(Checks.oneClusterEach(clusters, Seq(Seq(1L, 2L, 3L))).isDefined, "split family")
  }

  def main(args: Array[String]): Unit = {
    percentileRule()
    errorRate()
    attribution()
    generatorDeterminism()
    checksRejectWrongAnswers()
    println(s"perfbench self-test: $passed expectations passed")
  }
}
