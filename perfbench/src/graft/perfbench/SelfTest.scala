package graft.perfbench

/** Self-tests of the benchmark's own helpers, no Spark needed:
  * `python3 perfbench/run.py --selftest`. Exits non-zero on a failure.
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def eq[T](what: String, got: T, want: T): Unit =
    if (got == want) passed += 1
    else { failures += 1; println(s"[selftest] FAIL $what: got $got, want $want") }

  def main(args: Array[String]): Unit = {
    percentiles()
    intervalUnion()
    selfTime()
    failedCycles()
    generator()
    println(s"[selftest] $passed passed, $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }

  private def percentiles(): Unit = {
    val xs = Seq(7.0, 1.0, 10.0, 3.0, 5.0, 2.0, 9.0, 4.0, 8.0, 6.0)
    eq("p50 of 1..10", Stats.percentile(xs, 50), 5.0)
    eq("p90 of 1..10", Stats.percentile(xs, 90), 9.0)
    eq("p100 of 1..10", Stats.percentile(xs, 100), 10.0)
    eq("p1 of 1..10", Stats.percentile(xs, 1), 1.0)
    eq("median of one", Stats.median(Seq(42.0)), 42.0)
    eq("median of three", Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    eq("median of none is NaN", Stats.median(Nil).isNaN, true)
    // 100 samples: p90 leaves exactly 10 above it
    val hundred = (1 to 100).map(_.toDouble)
    eq("p90 of 1..100", Stats.percentile(hundred, 90), 90.0)
    eq("samples above p90", hundred.count(_ > Stats.percentile(hundred, 90)), 10)
    eq("tail percentile, 100 samples", Stats.tailPercentile(100), 90)
    eq("tail percentile, 40 samples", Stats.tailPercentile(40), 75)
    eq("tail percentile, 20 samples", Stats.tailPercentile(20), 50)
  }

  private def intervalUnion(): Unit = {
    eq("empty union", Stats.unionLength(Nil), 0L)
    eq("disjoint", Stats.unionLength(Seq((0L, 10L), (20L, 25L))), 15L)
    eq("overlapping", Stats.unionLength(Seq((0L, 10L), (5L, 15L))), 15L)
    eq("nested", Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))), 100L)
    eq("touching", Stats.unionLength(Seq((0L, 10L), (10L, 20L))), 20L)
    eq("unsorted", Stats.unionLength(Seq((50L, 60L), (0L, 10L), (5L, 12L))), 22L)
    eq("empty intervals ignored", Stats.unionLength(Seq((5L, 5L), (9L, 3L))), 0L)
    eq("clip to window", Stats.clip(Seq((0L, 10L), (15L, 30L), (40L, 50L)), 5L, 20L),
      Seq((5L, 10L), (15L, 20L)))
    // the driver gap of an op: wall minus the union of its jobs in the op
    val (start, end) = (1000L, 1100L)
    val jobs = Seq((1010L, 1040L), (1030L, 1050L), (1080L, 1090L))
    val gap = (end - start) - Stats.unionLength(Stats.clip(jobs, start, end))
    eq("driver gap", gap, 50L)
  }

  private def selfTime(): Unit = {
    val spans = Seq(
      Span(0, -1, -1, "cycle", 0, 100),
      Span(1, 0, 1, "a", 10, 30),
      Span(2, 0, 2, "b", 20, 50), // overlaps a: covered once
      Span(3, 0, 3, "c", 90, 120), // reaches past its parent: clipped
      Span(4, 1, 1, "a.inner", 12, 18))
    val self = Spans.selfTimeNs(spans)
    eq("parent self time", self(0), 100L - 40L - 10L)
    eq("child self time", self(1), 20L - 6L)
    eq("leaf self time", self(4), 6L)
    eq("leaf beyond parent", self(3), 30L)
  }

  /** A cycle with a refused or failed call is never timed. */
  private def failedCycles(): Unit = {
    val r = new Recorder(null, traced = false) // untraced: no Spark session used
    r.measuring = true
    r.cycle(r.op("a", "a")(()))
    r.cycle { r.refuse("b"); r.op("a", "a")(()) }
    val threw = try { r.cycle(r.op("c", "c")(sys.error("boom"))); false }
      catch { case _: OpFailed => true }
    eq("a failed call is rethrown", threw, true)
    eq("only the clean cycle is timed", r.cycleMs.size, 1)
    eq("the refused call's cycle is dropped", r.cyclesDropped, 1)
    eq("attempted calls", r.attempted, 4L)
    eq("failed calls", r.failed, 2L)
    eq("failed calls are never timed", r.latencyMs.keySet.toSet, Set("a"))
  }

  private def generator(): Unit = {
    val a = new Corpus(7).batch(3, 100, 500, textDupShare = 0.1)
    val b = new Corpus(7).batch(3, 100, 500, textDupShare = 0.1)
    val c = new Corpus(8).batch(3, 100, 500, textDupShare = 0.1)
    eq("same seed, same rows", a.map(d => (d.id, d.text, d.emb.toSeq, d.ts, d.label)),
      b.map(d => (d.id, d.text, d.emb.toSeq, d.ts, d.label)))
    eq("other seed, other rows", a.map(_.text) == c.map(_.text), false)
    eq("ids", a.map(_.id), (100L until 600L).toIndexedSeq)
    eq("ts inside the batch slice", a.forall(d =>
      d.ts >= Corpus.TsBase + 3 * Corpus.TsSlice && d.ts < Corpus.TsBase + 4 * Corpus.TsSlice), true)
    eq("12 tokens", a.forall(_.text.split(" ").length == Corpus.Tokens), true)
    // planted text near-copies share at least 10 of 12 token positions
    // with some earlier row; fresh rows almost never do
    def samePositions(x: Doc, y: Doc) =
      x.text.split(" ").zip(y.text.split(" ")).count(p => p._1 == p._2)
    val near = a.indices.count(i => (0 until i).exists(j => samePositions(a(i), a(j)) >= 10))
    eq("planted near-copies near their share", near >= 30 && near <= 75, true)
    val hist = new Corpus(7).batch(0, 0, 200)
    val v = new Corpus(7).batch(4, 1000, 500, vecDupShare = 0.1, history = hist)
    def l2(x: Array[Float], y: Array[Float]) =
      x.indices.map(i => (x(i) - y(i)).toDouble * (x(i) - y(i))).sum
    val copies = v.count(d => hist.exists(h => l2(d.emb, h.emb) < 0.01))
    eq("vector near-copies of history near their share", copies >= 30 && copies <= 75, true)
    val q = Array.fill(Corpus.Dim)(0.5f)
    val top = Corpus.exactTopK(hist, q, 10)
    val all = hist.map(d => l2(d.emb, q)).sorted
    eq("exact top-10 is the 10 smallest", top.toSeq.zip(all.take(10))
      .forall(p => math.abs(p._1 - p._2) < 1e-6), true)
  }
}
