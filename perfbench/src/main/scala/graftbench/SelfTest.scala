package graftbench

/** Checks of the benchmark's own helpers, no Spark needed:
  * `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; println(s"FAIL $what") }

  def main(args: Array[String]): Unit = {
    // tail: the highest percentile with at least ten samples beyond it,
    // and only when that is p90 or above
    val xs = (1 to 101).map(_.toDouble)
    expect("tail of 101 is p90", Stats.tail(xs).contains(Stats.Tail(90.0, 91.0, 101)))
    expect("tail of 201", Stats.tail((1 to 201).map(_.toDouble)).contains(Stats.Tail(95.0, 191.0, 201)))
    expect("no tail below p90", Seq(100, 15, 11, 10, 1).forall(n => Stats.tail((1 to n).map(_.toDouble)).isEmpty))
    expect("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // expected series, worked by hand: one_min at age 1 h -> step 60;
    // bucket 0 holds 10 and 20 (avg 15), bucket 1 is a gap, bucket 2
    // holds 7; start 30 aligns down to 0 and (210-30)/60 = 3 points
    val now = Gen.Anchor
    val t = now - 3600
    val data = Map("one_min.a.b" -> Map(t -> 10.0, t + 30 -> 20.0, t + 125 -> 7.0))
    val got = Expected.metricData(Seq("one_min.a.*", "one_min.x.unknown"), t + 30, t + 210, now,
      Seq("one_min.a.b", "one_min.a.no_data"), data.get)
    expect("expected names", got.keySet == Set("one_min.a.b", "one_min.a.no_data", "one_min.x.unknown"))
    expect("expected grid", got("one_min.a.b") == Expected.Series(t, t + 180, 60, IndexedSeq(Some(15.0), None, Some(7.0))))
    expect("unknown name is all null", got("one_min.x.unknown").points == IndexedSeq(None, None, None))
    // 8 days old: one_min steps to 300; five_min is 300 at any age here
    expect("7-day step", Expected.stepFor("one_min.a.b", 8 * Gen.Day) == 300 &&
      Expected.stepFor("one_min.a.b", 6 * Gen.Day) == 60 && Expected.stepFor("five_min.a.b", 60) == 300)
    expect("glob levels", Expected.globMatches("one_min.s0?.*", "one_min.s01.h000.") &&
      !Expected.globMatches("one_min.*", "one_min.s01.h000") &&
      Expected.globMatches("{one_min,five_min}.s01.h00?.{cpu,mem}", "five_min.s01.h003.mem"))
    expect("diff finds a wrong point", Expected.diff(got,
      got.updated("one_min.a.b", got("one_min.a.b").copy(points = IndexedSeq(Some(15.1), None, Some(7.0))))).nonEmpty)
    expect("diff tolerates summation order", Expected.diff(got,
      got.updated("one_min.a.b", got("one_min.a.b").copy(points = IndexedSeq(Some(15.0 + 1e-12), None, Some(7.0))))).isEmpty)

    // error counting: a throw and a wrong answer both fail, neither escapes
    val o = new Outcomes
    o.attempt("fine")(1)
    o.attempt("throws")(throw new IllegalStateException("boom"))
    o.check("wrong answer")(Some("2 != 3"))
    o.check("right answer")(None)
    expect("attempted", o.attempted == 4)
    expect("failed", o.failed == 2)
    expect("errors kept", o.errors.size == 2)

    // generator: same seed, same inputs; lines the parser must reject
    val a = new IngestGen(7, IngestSize(500, 50, 200, 3))
    val b = new IngestGen(7, IngestSize(500, 50, 200, 3))
    expect("seeded", a.batches == b.batches && a.setupBatches == b.setupBatches)
    expect("malformed rejected", Gen.Malformed.forall(l => Batch.parse(l).isEmpty))
    expect("self time", Tracer.selfMs(Span(1, 0, "p", 0, 0, 10000000),
      Seq(Span(2, 1, "c", 0, 1000000, 4000000), Span(3, 1, "c", 0, 3000000, 5000000))) == 6.0)

    if (failures > 0) { println(s"selftest: $failures failed"); sys.exit(1) }
    println("selftest: ok")
  }
}
