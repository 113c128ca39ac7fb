package perfbench

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{avg, col, sum, xxhash64}

/** Per-layer numbers of a traced pass, named `<module>.<metric>` after
  * the graft module whose entry point the benchmark called. */
object Layers {

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** Min-of-3 wall ms after one untimed run. */
  def anchorMs(body: => Unit): Double = {
    body
    Seq.fill(3)(time(body)._2).min
  }

  /** Spark counters of one pass (jobs grouped "pb/<pass>/..."), split by
    * the layer and phase each job ran under. */
  def ofPass(tr: Tracer, pass: Int, passSpan: Long): Map[String, Double] = {
    val (jobs, stages) = tr.select(s"pb/$pass/")
    val spans = tr.spansSnapshot
    val passWin = spans.find(_.id == passSpan).map(s => (s.start, s.end)).getOrElse((0L, 0L))
    val phaseById = spans.filter(_.kind == "phase").map(s => s.id -> s).toMap
    val opById = spans.filter(_.kind == "op").map(s => s.id -> s).toMap
    val busy = Stats.unionLength(stages.map(s => (s.submitted, s.completed)))
    val slowest = if (stages.isEmpty) None else Some(stages.maxBy(s => s.completed - s.submitted))
    val skew = slowest.filter(_.taskMs.nonEmpty).map { s =>
      s.taskMs.max.toDouble / math.max(Stats.median(s.taskMs.map(_.toDouble)), 1.0)
    }.getOrElse(0.0)

    val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    m("spark.jobs") = jobs.size
    m("spark.stages") = stages.size
    m("spark.tasks") = stages.map(_.taskMs.size).sum
    m("spark.busy_ms") = busy
    m("spark.idle_ms") = (passWin._2 - passWin._1) - busy
    m("spark.task_cpu_ms") = stages.map(_.cpuNs).sum / 1e6
    m("spark.shuffle_write_bytes") = stages.map(_.shuffleWrite).sum
    m("spark.shuffle_read_bytes") = stages.map(_.shuffleRead).sum
    m("spark.spill_bytes") = stages.map(_.spill).sum
    m("spark.task_skew") = skew
    val wallMs = math.max(passWin._2 - passWin._1, 1L).toDouble
    m("spark.jobs_per_s") = jobs.size / (wallMs / 1000)
    m("spark.idle_share") = m("spark.idle_ms") / wallMs
    m("spark.cpu_per_wall") = m("spark.task_cpu_ms") / wallMs
    m("spark.shuffle_bytes_per_s") =
      (m("spark.shuffle_write_bytes") + m("spark.shuffle_read_bytes")) / (wallMs / 1000)
    // per phase: "<layer>.<phase>_ms" and "<layer>.<phase>_jobs"
    val passPhases = phaseById.values.filter(p => opById.get(p.parent).exists(_.parent == passSpan))
    passPhases.foreach { p =>
      val layer = p.attrs("layer")
      m(s"$layer.${p.name}_ms") += p.ms
    }
    jobs.foreach { j =>
      phaseById.get(j.group.split('/').last.toLong).foreach { p =>
        m(s"${p.attrs("layer")}.${p.name}_jobs") += 1
        opById.get(p.parent).foreach(o => m(s"${o.attrs("layer")}.jobs") += 1)
      }
    }
    // per op layer: "<layer>.ms", and by op kind "<layer>.search_ms" / ".write_ms"
    opById.values.filter(_.parent == passSpan).foreach { o =>
      val layer = o.attrs("layer")
      m(s"$layer.ms") += o.ms
      m(s"$layer.${if (o.attrs("kind") == "write") "write" else "search"}_ms") += o.ms
    }
    m.toMap
  }

  /** Probes every workload shares: the cost of an empty job and the
    * three calibration anchors the driver bench uses, so numbers from
    * different host windows can be normalised against each other. */
  def probes(spark: SparkSession, steal0: Long): Map[String, Double] = {
    val empty = Seq.fill(5)(time(spark.range(1).count())._2)
    Map(
      "spark.empty_job_ms" -> Stats.median(empty),
      "cal_shuffle_ms" -> anchorMs {
        spark.range(20000000L).selectExpr("id % 100000 AS k", "id")
          .groupBy("k").agg(sum(col("id"))).count()
      },
      "cal_hash_cpu_ms" -> anchorMs {
        spark.range(100000000L).agg(sum(xxhash64(col("id")))).count()
      },
      "host.cpus" -> Runtime.getRuntime.availableProcessors().toDouble,
      "host.steal_ms" -> (Harness.stealMs() - steal0).toDouble,
      "host.gc_ms" -> Harness.gcMs().toDouble)
  }

  /** The lineitem scan+agg anchor; needs a lineitem table. */
  def calScanAgg(spark: SparkSession, lineitemPath: String): Double = anchorMs {
    spark.read.parquet(lineitemPath)
      .agg(sum(col("l_quantity")), avg(col("l_extendedprice"))).count()
  }

  /** Direct loader calls: wall ms and jobs for opening `tables`. */
  def loaderCost(tr: Tracer, r: Runner, open: Seq[() => Unit]): Map[String, Double] = {
    val sc = r.spark.sparkContext
    sc.setJobGroup("probe/tables", "loader probe", interruptOnCancel = false)
    val (_, ms) = time(open.foreach(_()))
    sc.clearJobGroup()
    Map("Tables.read_ms" -> ms, "Tables.jobs" -> tr.select("probe/tables")._1.size.toDouble)
  }

  /** ns per row of a native expression: the aggregate over it minus
    * the same aggregate over its input alone, on a cached frame. */
  def exprNsPerRow(spark: SparkSession, hsTable: String, expr: String, rows: Long): Double = {
    val withExpr = anchorMs(spark.sql(s"SELECT sum(hash($expr)) FROM $hsTable").collect())
    val base = anchorMs(spark.sql(s"SELECT sum(hash(hs)) FROM $hsTable").collect())
    math.max(withExpr - base, 0.0) * 1e6 / math.max(rows, 1L)
  }

  def writeSpans(path: String, spans: Seq[(Span, Long)]): Unit = {
    val w = new PrintWriter(path)
    try spans.foreach { case (s, self) =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self, "attrs" -> s.attrs)))
    } finally w.close()
  }
}
