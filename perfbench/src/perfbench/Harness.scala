package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs the phases of one op. In traced runs each phase gets its own
  * span and Spark job group ("pb/<pass>/<op>/<phase span id>"), so every
  * job the phase issues is attributed to it. */
final class Phases private[perfbench] (runner: Runner, opSpan: Long, opLayer: String) {
  def apply[T](name: String, layer: String = opLayer)(body: => T): T =
    runner.phase(opSpan, name, layer)(body)
}

/** One operation of a workload pass. `kind` is "read" (counted in the
  * op latency metrics) or "write" (counted in the write latency). */
final case class Op(name: String, layer: String, kind: String, run: Phases => Fp)

final case class Sample(pass: Int, op: String, kind: String, ms: Double,
                        fp: Option[Fp], error: Option[String])

/** A workload: set-up that can be repeated, a fixed per-pass op list,
  * and the checks and probes that run outside the timed passes. */
trait Workload {
  /** The workload's set-up; it runs `setupRounds` times and setup_s
    * takes the median round. */
  def prepare(round: Int): Unit
  def setupRounds: Int = 2
  /** What only the correctness checks need (reference results), built
    * after set-up and timed apart from it. */
  def reference(): Unit = ()
  def ops(pass: Int): Seq[Op]
  /** The one warm-up pass before the timed ones. Its ops carry the
    * names of timed ops, whose results are compared with theirs; a
    * workload may serve them from its reference results. */
  def warmupOps(pass: Int): Seq[Op] = ops(pass)
  def afterPass(pass: Int): Unit = ()
  /** Named correctness checks over the samples: (name, ok, detail). */
  def checks(warm: Seq[Sample], timed: Seq[Sample]): Seq[(String, Boolean, String)]
  /** Per-layer measurements that need their own calls (traced runs only). */
  def probes(runner: Runner): Map[String, Double]
  /** Bytes the workload left on disk and the input bytes they derive from. */
  def storedBytes: (Long, Long)
}

final class Runner(val spark: SparkSession, val tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  private var passSpan = 0L
  private var passId = 0
  var storagePeakBytes = 0L
  var persistedPeak = 0

  def phase[T](opSpan: Long, name: String, layer: String)(body: => T): T = tracer match {
    case None => body
    case Some(tr) =>
      val id = tr.nextId()
      sc.setJobGroup(s"pb/$passId/$opSpan/$id", name, interruptOnCancel = false)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        tr.record(Span(id, opSpan, "phase", name, t0, System.currentTimeMillis(),
          Map("layer" -> layer)))
        sc.clearJobGroup()
      }
  }

  def runOp(op: Op): Sample = {
    val id = tracer.map(_.nextId()).getOrElse(0L)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val res = try Right(op.run(new Phases(this, id, op.layer)))
    catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val ms = (System.nanoTime() - n0) / 1e6
    tracer.foreach(_.record(Span(id, passSpan, "op", op.name, t0, System.currentTimeMillis(),
      Map("layer" -> op.layer, "kind" -> op.kind))))
    val info = sc.getRDDStorageInfo
    storagePeakBytes = math.max(storagePeakBytes, info.map(i => i.memSize + i.diskSize).sum)
    persistedPeak = math.max(persistedPeak, sc.getPersistentRDDs.size)
    System.err.println(f"[perfbench] pass $passId ${op.name} $ms%.0f ms${res.left.toOption.fold("")(" " + _)}")
    Sample(passId, op.name, op.kind, ms, res.toOption, res.left.toOption)
  }

  /** One pass of the workload: its samples and wall seconds. */
  def runPass(w: Workload, pass: Int, warmup: Boolean = false): (Seq[Sample], Double) = {
    passId = pass
    passSpan = tracer.map(_.nextId()).getOrElse(0L)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val samples = (if (warmup) w.warmupOps(pass) else w.ops(pass)).map(runOp)
    val wall = (System.nanoTime() - n0) / 1e9
    tracer.foreach(_.record(Span(passSpan, 0L, "pass", s"pass$pass", t0, System.currentTimeMillis())))
    w.afterPass(pass)
    (samples, wall)
  }

  def lastPassSpan: Long = passSpan
}

/** Entry point: one workload, one session, one driver thread issuing
  * calls back to back (a closed loop with one client), on Spark
  * local[n] with n the machine's cores.
  *
  * {{{
  * java ... perfbench.Harness --workload analytics --data IN --work WORK \
  *   --seconds 20 --trace 0 --out result.json
  * }}}
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString,
      s"perfbench-$workload")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runner = new Runner(spark, None)
    val w: Workload = workload match {
      case "analytics" => new AnalyticsWorkload(spark, a("data"), a("work"))
      case "curate"    => new CurateWorkload(spark, a("data"), a("work"))
      case "serve"     => new ServeWorkload(spark, a("data"), a("work"))
      case other       => sys.error(s"unknown workload $other")
    }
    val prepareS = (1 to w.setupRounds).map { r =>
      val p0 = System.nanoTime()
      w.prepare(r)
      val s = (System.nanoTime() - p0) / 1e9
      System.err.println(f"[perfbench] set-up round $r $s%.2f s")
      s
    }
    val r0 = System.nanoTime()
    w.reference()
    val referenceS = (System.nanoTime() - r0) / 1e9
    // Warm-up: one whole, cold pass (JIT, codegen, first reads). Its
    // results join the cross-pass comparison.
    val (warmSamples, warmS) = runner.runPass(w, -1, warmup = true)
    val settleS = settleJit()
    // The JIT pause and the checks' reference work are context only.
    val setupS = sessionS + Stats.median(prepareS) + warmS
    val steal0 = stealMs()
    val gc0 = gcMs()

    // Timed passes: at least one, and another only while it should end
    // inside the window.
    def timedLoop(r: Runner, first: Int, budget: Double): (Seq[Sample], Seq[Double]) = {
      val samples = mutable.ArrayBuffer.empty[Sample]
      val walls = mutable.ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      while (walls.isEmpty || elapsed + Stats.median(walls.toSeq) <= budget) {
        val (s, wall) = r.runPass(w, first + walls.size)
        samples ++= s
        walls += wall
      }
      (samples.toSeq, walls.toSeq)
    }
    System.err.println(f"[perfbench] set-up done ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val (samples, walls) = timedLoop(runner, 0, seconds)
    System.err.println(f"[perfbench] timed passes done ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val stealRun = stealMs() - steal0
    val gcRun = gcMs() - gc0

    val reads = samples.filter(s => s.kind == "read" && s.error.isEmpty).map(_.ms)
    val writes = samples.filter(s => s.kind == "write" && s.error.isEmpty).map(_.ms)
    val (failed, wrong) = outcome(warmSamples, samples)
    val checks = Seq(("fingerprints_stable", wrong.isEmpty, wrong.mkString(","))) ++
      w.checks(warmSamples, samples)
    System.err.println(f"[perfbench] checks done ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val (stored, input) = w.storedBytes
    val tail = Stats.tail(reads)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "prepare_s" -> prepareS,
      "warmup_pass_s" -> warmS,
      "jit_settle_s" -> settleS,
      "reference_s" -> referenceS,
      "pass_s" -> Stats.median(walls),
      "pass_walls_s" -> walls,
      // Read ops per second of their own latency: one client's throughput.
      "ops_per_s" -> (if (reads.isEmpty) Double.NaN else reads.size / (reads.sum / 1000)),
      "op_p50_ms" -> Stats.median(reads),
      // Fewer than 20 samples leave no percentile with 10 beyond it; the
      // tail is then the slowest sample (reported as percentile 100).
      "op_tail_ms" -> tail.map(_._2).getOrElse(reads.maxOption.getOrElse(Double.NaN)),
      "op_tail_pct" -> tail.map(_._1).getOrElse(100.0),
      "op_samples" -> reads.size,
      "attempted" -> samples.size,
      "op_counts" -> samples.groupBy(_.op).map { case (k, v) => k -> v.size },
      "op_median_ms" -> samples.groupBy(_.op).map { case (k, v) => k -> Stats.median(v.map(_.ms)) },
      "failed" -> failed,
      "errors" -> samples.flatMap(s => s.error.map(e => s"${s.op}: $e")).distinct,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "context" -> context(spark, stealRun, gcRun))

    // Numbers that exist on some workloads only, and the per-op latency
    // percentiles, which one pass of a few unlike ops leaves unsteady:
    // per-layer, not gated.
    val partial = Map(
      "op_p50_ms" -> out("op_p50_ms").asInstanceOf[Double],
      "op_tail_ms" -> out("op_tail_ms").asInstanceOf[Double],
      "write_p50_ms" -> (if (writes.isEmpty) 0.0 else Stats.median(writes)),
      "bytes_stored_per_input_byte" -> stored.toDouble / input,
      "storage_peak_mb" -> runner.storagePeakBytes / 1048576.0,
      "failed_ops_frac" -> failed.toDouble / samples.size)
    out("partial") = partial
    if (traced) out("per_layer") = tracedRun(spark, w, seconds, Stats.median(walls), a("trace_out")) ++ partial
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
  }

  /** The traced half: the same passes with the listener and job groups
    * on, split into per-layer counts, plus the workload's probes. */
  private def tracedRun(spark: SparkSession, w: Workload, seconds: Double,
                        untracedPassS: Double, traceOut: String): Map[String, Any] = {
    val steal0 = stealMs()
    val tr = new Tracer(spark.sparkContext)
    val r = new Runner(spark, Some(tr))
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val walls = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (walls.isEmpty || (System.nanoTime() - start) / 1e9 + Stats.median(walls.toSeq) <= seconds) {
      val pass = 1000 + walls.size
      walls += r.runPass(w, pass)._2
      perPass += Layers.ofPass(tr, pass, r.lastPassSpan)
    }
    val keys = perPass.flatMap(_.keys).distinct
    val med = keys.map(k => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)).toSeq)).toMap
    val probes = w.probes(r) ++ Layers.probes(spark, steal0)
    val spans = tr.allSpans()
    Layers.writeSpans(traceOut, spans)
    med ++ probes ++ Map(
      "trace.overhead_ms" -> (Stats.median(walls.toSeq) - untracedPassS) * 1000,
      "storage.persisted_rdds_after_op" -> r.persistedPeak.toDouble)
  }

  /** Failed timed executions — those that threw plus those whose result
    * fingerprint differs from the op's first (warm-up) execution — and
    * the ops that returned a changed result. */
  def outcome(warm: Seq[Sample], timed: Seq[Sample]): (Int, Seq[String]) = {
    val first = (warm ++ timed).filter(_.error.isEmpty).groupBy(_.op).map { case (k, v) => k -> v.head.fp }
    val wrong = timed.filter(s => s.error.isEmpty && s.fp != first(s.op))
    (timed.count(_.error.nonEmpty) + wrong.size, wrong.map(_.op).distinct)
  }

  /** Idle until the JIT compiler's queue drains: the cold pass leaves
    * hot methods queued, and compiling them while a timed pass runs makes
    * that pass slower by a varying amount. Returns the seconds waited
    * (at most 10). */
  def settleJit(): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() - t0 < 10e9) {
      last = jit.getTotalCompilationTime
      Thread.sleep(300)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def stealMs(): Long =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong * 10
    catch { case _: Throwable => -1L }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  private def context(spark: SparkSession, steal: Long, gc: Long): Map[String, Any] = Map(
    "cpus" -> Runtime.getRuntime.availableProcessors(),
    "spark_cores" -> spark.sparkContext.defaultParallelism,
    "steal_ms" -> steal,
    "gc_ms" -> gc,
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("--add-opens")).mkString(" "),
    "spark_version" -> spark.version)
}

/** Minimal JSON writer for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
