package perfbench

/** The benchmark's own checks of its arithmetic and failure counting.
  * Plain assertions in a main, so it builds with nothing beyond graft's
  * classes and the Spark jars; see perfbench/tests/run_tests.py. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"PASS $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    assert(got == want, s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    val xs = (1 to 100).map(_.toDouble)

    check("tail: 100 samples -> p90, the highest with >= 10 beyond") {
      eq(Stats.tail(xs), Some(90.0 -> 90.0))
    }
    check("tail: 1000 samples -> p99") {
      eq(Stats.tail((1 to 1000).map(_.toDouble)).map(_._1), Some(99.0))
    }
    check("tail: 40 samples -> p75 (10 beyond), not p90 (4 beyond)") {
      eq(Stats.tail((1 to 40).map(_.toDouble)), Some(75.0 -> 30.0))
    }
    check("tail: 19 samples -> none, the median has only 9 beyond") {
      eq(Stats.tail((1 to 19).map(_.toDouble)), None)
    }
    check("tail: 20 samples -> p50") {
      eq(Stats.tail((1 to 20).map(_.toDouble)), Some(50.0 -> 10.0))
    }
    check("tail: order of samples does not matter") {
      eq(Stats.tail(scala.util.Random.shuffle(xs)), Stats.tail(xs))
    }
    check("median: odd, even and empty") {
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      eq(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
      assert(Stats.median(Nil).isNaN)
    }
    check("busy union: overlapping, nested, touching and disjoint spans") {
      eq(Stats.unionLength(Seq((0L, 10L), (5L, 15L))), 15L)
      eq(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))), 100L)
      eq(Stats.unionLength(Seq((0L, 10L), (10L, 20L))), 20L)
      eq(Stats.unionLength(Seq((20L, 30L), (0L, 10L))), 20L)
      eq(Stats.unionLength(Nil), 0L)
      eq(Stats.unionLength(Seq((5L, 5L), (7L, 3L))), 0L)
    }
    check("fingerprint: order-free, multiplicity-sensitive") {
      eq(Fp.ofStrings(Seq("a", "b", "c")), Fp.ofStrings(Seq("c", "a", "b")))
      assert(Fp.ofStrings(Seq("a", "b")) != Fp.ofStrings(Seq("a", "b", "b")))
      assert(Fp.ofStrings(Seq("a", "b")) != Fp.ofStrings(Seq("a", "c")))
    }

    val spark = graft.Sessions.local("2", "perfbench-selftest")
    try {
      val r = new Runner(spark, None)
      check("an op that throws is counted as failed") {
        val boom = Op("boom", "test", "read", _ => throw new IllegalStateException("boom"))
        val ok = Op("ok", "test", "read", ph => Io.fingerprint(ph)(spark.range(10).toDF()))
        val warm = Seq(r.runOp(ok), r.runOp(boom))
        val timed = Seq(r.runOp(ok), r.runOp(boom), r.runOp(boom))
        assert(timed(1).error.exists(_.contains("boom")), timed(1).error)
        eq(timed.head.fp, Some(Fp(10L, timed.head.fp.get.hash)))
        eq(Harness.outcome(warm, timed), (2, Nil))
      }
      check("an op whose result changes between passes is counted as failed") {
        var n = 0L
        val drift = Op("drift", "test", "read", ph => { n += 1; Io.fingerprint(ph)(spark.range(n).toDF()) })
        val warm = Seq(r.runOp(drift))
        val timed = Seq(r.runOp(drift), r.runOp(drift))
        eq(Harness.outcome(warm, timed), (2, Seq("drift")))
      }
      check("traced phases attribute their Spark jobs to the phase span") {
        val tr = new Tracer(spark.sparkContext)
        val rt = new Runner(spark, Some(tr))
        val two = Op("two", "test", "read", ph => {
          ph("a")(spark.range(5).count())
          ph("b")(spark.range(5).count())
          ph("b2", "other")(spark.range(5).collect())
          Fp.Empty
        })
        val w = new Workload {
          def prepare(round: Int): Unit = ()
          def ops(pass: Int): Seq[Op] = Seq(two)
          def checks(w: Seq[Sample], s: Seq[Sample]) = Nil
          def probes(r: Runner) = Map.empty
          def storedBytes = (0L, 1L)
        }
        rt.runPass(w, 7)
        val m = Layers.ofPass(tr, 7, rt.lastPassSpan)
        // every job lands in exactly one phase, and in the op's layer
        assert(Seq("test.a_jobs", "test.b_jobs", "other.b2_jobs").forall(m(_) >= 1), m)
        eq(m("test.a_jobs") + m("test.b_jobs") + m("other.b2_jobs"), m("spark.jobs"))
        eq(m("test.jobs"), m("spark.jobs"))
        assert(m("spark.busy_ms") > 0 && m("spark.idle_ms") >= 0, m)
        val spans = tr.allSpans()
        val jobSpans = spans.map(_._1).filter(_.kind == "job")
        eq(jobSpans.size.toDouble, m("spark.jobs"))
        val phases = spans.map(_._1).filter(_.kind == "phase").map(_.id).toSet
        assert(jobSpans.forall(j => phases(j.parent)), "job spans must hang off phase spans")
        assert(spans.forall { case (s, self) => self >= 0 && self <= s.ms }, "self time within span")
      }
    } finally spark.stop()

    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
