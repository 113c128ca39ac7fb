package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, Q, Tables}

/** Helpers the three workloads share. */
object Io {
  def bytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
      finally s.close()
    }
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  /** Construct, plan and collect a frame, each in its own phase. */
  def collect(ph: Phases)(build: => DataFrame): (DataFrame, Array[Row]) = {
    val df = ph("construct")(build)
    ph("plan")(df.queryExecution.executedPlan)
    (df, ph("execute")(df.collect()))
  }

  /** Construct a frame, then plan and run one aggregate over all of it:
    * the row count and the low 64 bits of the exact sum of a per-row
    * xxhash64 (maps go through to_json, which hashing does not accept).
    * Every column is computed; one row comes back to the driver. */
  def fingerprint(ph: Phases)(build: => DataFrame): Fp = {
    val df = ph("construct")(build)
    val agg = fingerprintFrame(df)
    ph("plan")(agg.queryExecution.executedPlan)
    val r = ph("execute")(agg.collect()).head
    Fp(r.getLong(0), if (r.isNullAt(1)) 0L else r.getDecimal(1).toBigInteger.longValue)
  }

  private def fingerprintFrame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    df.agg(count(lit(1)), sum(xxhash64(lit(1) +: cols: _*).cast("decimal(38,0)")))
  }

  /** The integer list stored under `key` in a flat JSON object. */
  def jsonLongs(json: String, key: String): Seq[Long] =
    ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(json)
      .map(_.group(1).split(',').map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq)
      .getOrElse(Nil)

  /** Per-row cost of the native MinHash and SimHash expressions over
    * each doc's token hashes, the docs repeated to ~200k rows so the
    * difference against the bare aggregate stands above timer noise. */
  def exprProbes(spark: SparkSession, docs: DataFrame): Map[String, Double] = {
    val hs = docs.select(transform(split(col("text"), " "), w => xxhash64(w)).as("hs"))
    val copies = math.max(1L, 200000L / math.max(hs.count(), 1L))
    hs.crossJoin(spark.range(copies)).select("hs").cache().createOrReplaceTempView("pb_hs")
    val rows = spark.table("pb_hs").count()
    val a = (1 to 16).map(i => s"${i * 7919L}L").mkString("array(", ",", ")")
    val b = (1 to 16).map(i => s"${i * 104729L}L").mkString("array(", ",", ")")
    val out = Map(
      "expressions.graft_minhash.ns_per_row" ->
        Layers.exprNsPerRow(spark, "pb_hs", s"graft_minhash(hs, $a, $b, 2147483647L)", rows),
      "expressions.graft_simhash48.ns_per_row" ->
        Layers.exprNsPerRow(spark, "pb_hs", "graft_simhash48(hs)", rows))
    spark.table("pb_hs").unpersist(blocking = true)
    out
  }
}

/** Analysts' short queries over the star schema: the registry queries
  * of the relational and analytic modules, each split into frame
  * construction (q.fn), planning (executedPlan) and the action. */
final class AnalyticsWorkload(spark: SparkSession, data: String, work: String) extends Workload {
  import graft.ops._
  /** One short query per relational/analytic module and W surface, in
    * module order: the module's first bench query, or for Quantiles and
    * Profile (whose first ones, q68 and q89, run 1.5-2 s at sf0.1 on
    * 4 cores) the first that runs under 1 s. restaurants.Recommend has
    * no entry: both its queries are ML fits. A pass over every query of
    * these modules takes about 100 s, beyond one run's budget. */
  val names: Seq[String] = Seq("q01_pricing_summary", "q48_na_drop", "q86_grouping_sets",
    "q66_asof_join", "q61_salted_agg", "q69_quantile_sketch", "q111_histogram",
    "q90_heavy_hitters", "q40_sample_fraction", "q103_merge_upsert", "q57_session_window",
    "q35_label_multiclass", "q64_recipe_format")
  private val modules: Seq[Q] = Relational.all ++ RelationalExt.all ++ Analytics.all ++
    AsOf.all ++ Skew.all ++ Quantiles.all ++ Profile.all ++ HeavyHitters.all ++ Sampling.all ++
    Merge.all ++ graft.streaming.Streaming.all ++ graft.allergen.Labels.all ++
    graft.recipes.Prep.all ++ graft.restaurants.Recommend.all
  val queries: Seq[Q] = names.map(n => modules.find(_.name == n)
    .getOrElse(sys.error(s"$n is not registered in the analytics modules")))

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  private def openAll(): Unit = tables.foreach { t =>
    (if (t == "events") Tables.events(spark, data) else Tables.table(spark, data, t)).schema
  }

  def prepare(round: Int): Unit = openAll()

  def ops(pass: Int): Seq[Op] = queries.map { q =>
    Op(q.name, "SparkEntry", "read", ph => Io.fingerprint(ph)(q.fn(spark, data)))
  }

  /** Writes each oracle-paired query's result to parquet for the DuckDB
    * comparison the launcher runs afterwards. */
  def checks(warm: Seq[Sample], timed: Seq[Sample]): Seq[(String, Boolean, String)] = {
    val paired = queries.filter(_.oracle.nonEmpty)
    paired.foreach(q => q.fn(spark, data).write.mode("overwrite").parquet(s"$work/oracle/${q.name}"))
    Files.writeString(Paths.get(s"$work/oracle/oracle_sql.json"),
      Json(paired.map(q => q.name -> q.oracle.get).toMap))
    Nil
  }

  def probes(r: Runner): Map[String, Double] =
    Layers.loaderCost(r.tracer.get, r, tables.map(t => () =>
      if (t == "events") Tables.events(spark, data).schema
      else Tables.table(spark, data, t).schema)) ++
      Io.exprProbes(spark, Tables.documents(spark, data)) ++
      Map("cal_scan_agg_ms" -> Layers.calScanAgg(spark, s"$data/cal_lineitem.parquet"))

  def storedBytes: (Long, Long) = (0L, Io.bytes(data))
}

/** One training-data pass through the facade: near-dup pairs, their
  * components, dedup survivors, quality and repetition signals,
  * decontamination against an eval set, BPE merges and the shard
  * manifest. Each stage reads the previous stage's collected result, as
  * a pipeline that materialises between stages. */
final class CurateWorkload(spark: SparkSession, data: String, work: String) extends Workload {
  private def corpus = spark.read.parquet(s"$data/corpus.parquet")
  private def evalSet = spark.read.parquet(s"$data/eval.parquet")
  private val hotIds: Set[Long] =
    Io.jsonLongs(Files.readString(Paths.get(s"$data/meta.json")), "hot_cluster_ids").toSet
  val Merges = 8
  val TargetTokens = 50000L
  @volatile private var survivorIds: Seq[Long] = Nil

  def prepare(round: Int): Unit = { corpus.schema; evalSet.schema }

  def ops(pass: Int): Seq[Op] = {
    var pairs: DataFrame = null
    var survivors: DataFrame = null
    var encoded: DataFrame = null
    def local(rows: Array[Row], like: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), like.schema)
    Seq(
      Op("near_dup_pairs", "ops.Dedup", "read", ph => {
        val (df, rows) = Io.collect(ph)(Graft.nearDupPairs(corpus))
        pairs = ph("materialize")(local(rows, df))
        Fp.of(rows)
      }),
      Op("components", "ops.Components", "read", ph =>
        Io.fingerprint(ph)(Graft.connectedComponents(pairs.select("i", "j")))),
      Op("dedup", "ops.Dedup", "read", ph => {
        val (df, rows) = Io.collect(ph)(Graft.dedup(corpus))
        survivors = ph("materialize")(local(rows, df))
        survivorIds = rows.map(_.getAs[Long]("doc_id")).toSeq
        Fp.of(rows)
      }),
      Op("text_quality", "ops.TextAnalysis", "read", ph =>
        Io.fingerprint(ph)(Graft.textQuality(survivors))),
      Op("gopher_repetition", "ops.TextAnalysis", "read", ph =>
        Io.fingerprint(ph)(Graft.gopherRepetition(survivors))),
      Op("decontaminate", "ops.Decontam", "read", ph =>
        Io.fingerprint(ph)(Graft.decontaminate(survivors, evalSet))),
      Op("bpe_merges", "ops.Bpe", "read", ph => {
        val (_, rows) = Io.collect(ph)(Graft.bpeMergesBatched(survivors, Merges))
        val merges = rows.sortBy(_.getAs[Number]("step").longValue)
          .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
        encoded = Graft.bpeEncode(survivors, merges)
        Fp.of(rows)
      }),
      Op("shard_manifest", "ops.Bpe", "read", ph =>
        Io.fingerprint(ph)(Graft.shardManifest(encoded, TargetTokens))))
  }

  def checks(warm: Seq[Sample], timed: Seq[Sample]): Seq[(String, Boolean, String)] = {
    val kept = survivorIds.filter(hotIds)
    Seq(("hot_cluster_one_survivor", hotIds.nonEmpty && kept.size == 1,
      s"${hotIds.size} planted, ${kept.size} survived"))
  }

  def probes(r: Runner): Map[String, Double] = {
    val lsh = Graft.lshRecall(corpus).collect().head
    Layers.loaderCost(r.tracer.get, r, Seq(
      () => Tables.table(spark, data, "corpus").schema,
      () => Tables.table(spark, data, "eval").schema)) ++
      Io.exprProbes(spark, corpus) ++
      Map("ops.Dedup.lsh_precision" -> lsh.getAs[Double]("precision"),
        "cal_scan_agg_ms" -> Layers.calScanAgg(spark, s"$data/cal_lineitem.parquet"))
  }

  def storedBytes: (Long, Long) = (0L, Io.bytes(s"$data/corpus.parquet"))
}

/** The stored-index lifecycle: four indexes (BM25, IVF-PQ, band, Bloom)
  * built at set-up, then per pass one refresh generation of all four,
  * fed by the seeded deltas, and a search batch against each refreshed
  * index (read:write = 4 search batches : 1 generation). Each pass
  * refreshes from the same base into a pass-local directory, so its
  * results repeat. */
final class ServeWorkload(spark: SparkSession, data: String, work: String) extends Workload {
  private def t(name: String) = spark.read.parquet(s"$data/$name.parquet")
  val Generations: Int = "\"generations\":\\s*(\\d+)".r
    .findFirstMatchIn(Files.readString(Paths.get(s"$data/meta.json"))).get.group(1).toInt
  val K = 10
  private val base = s"$work/base"
  private val rebuilt = s"$work/rebuilt"

  private def paths(root: String) = (s"$root/bm25", s"$root/ann", s"$root/band", s"$root/bloom")

  private def deltas(kind: String) = (1 to Generations).map(k => t(s"delta${k}_$kind"))

  /** Builds the base indexes the passes refresh, once: a second build
    * would not fit the run's time budget. */
  override def setupRounds: Int = 1

  def prepare(round: Int): Unit = {
    Io.delete(base)
    val (bm, an, bd, bl) = paths(base)
    Graft.writeBm25Index(t("corpus"), bm)
    Graft.writeAnnIndex(t("vectors"), an)
    Graft.writeBandIndex(t("corpus"), bd)
    Graft.writeBloomIndex(t("eval"), bl)
  }

  /** The reference indexes for the refreshed == rebuilt check, built
    * from scratch over the final state (base plus every delta). */
  override def reference(): Unit = {
    Io.delete(rebuilt)
    val (bm, an, bd, bl) = paths(rebuilt)
    Graft.writeBm25Index((t("corpus") +: deltas("docs")).reduce(_.unionByName(_)), bm)
    // IVF-PQ keeps its quantizers frozen across refreshes, so the
    // reference re-encodes the final vectors under the base quantizers.
    val (cents, cb, _) = Graft.readAnnIndex(spark, s"$base/ann")
    cents.write.parquet(s"$an/centroids")
    cb.write.parquet(s"$an/codebook")
    Graft.ivfPqEncodeStream(applyFeeds(t("vectors"), "vec_id", "v", deltas("vectors")), cents, cb)
      .write.parquet(s"$an/codes")
    Graft.writeBandIndex(applyFeeds(t("corpus"), "doc_id", "text", deltas("band")), bd)
    Graft.writeBloomIndex((t("eval") +: deltas("eval")).reduce(_.unionByName(_)), bl)
  }

  private def searches(root: String, g: Int): Seq[Op] = {
    val (bm, an, bd, bl) = paths(root)
    Seq(
      Op(s"bm25_search@g$g", "ops.Retrieval", "read", ph => {
        val idx = ph("open", "index")(Graft.readBm25Index(spark, bm))
        Io.fingerprint(ph)(Graft.bm25SearchStored(idx, t("bm25_queries"), K))
      }),
      Op(s"ann_search@g$g", "ops.Quantize", "read", ph => {
        val idx = ph("open", "index")(Graft.readAnnIndex(spark, an))
        Io.fingerprint(ph)(Graft.annSearchStored(idx, t("ann_queries"), 2, K))
      }),
      Op(s"neardup_serve@g$g", "streaming.Streaming", "read", ph => {
        val idx = ph("open", "index")(Graft.readBandIndex(spark, bd))
        Io.fingerprint(ph)(Graft.nearDupServeStored(t("incoming"), idx))
      }),
      Op(s"bloom_screen@g$g", "ops.Decontam", "read", ph => {
        val idx = ph("open", "index")(Graft.readBloomIndex(spark, bl))
        Io.fingerprint(ph)(Graft.bloomDecontaminateStored(t("screen"), idx))
      }))
  }

  def ops(pass: Int): Seq[Op] = {
    val roots = base +: (1 to Generations).map(g => s"$work/pass$pass/gen$g")
    (1 to Generations).flatMap { g =>
      Op(s"refresh@g$g", "index", "write", ph => {
        val (bm, an, bd, bl) = paths(roots(g - 1))
        val (bm2, an2, bd2, bl2) = paths(roots(g))
        ph("refresh", "ops.Retrieval")(
          Graft.refreshStoredBm25Index(spark, bm, t(s"delta${g}_docs"), bm2))
        ph("refresh", "ops.Quantize")(
          Graft.refreshStoredAnnIndex(spark, an, t(s"delta${g}_vectors"), an2))
        ph("refresh", "streaming.Streaming")(
          Graft.refreshStoredBandIndex(spark, bd, t(s"delta${g}_band"), bd2))
        ph("refresh", "ops.Decontam")(
          Graft.refreshStoredBloomIndex(spark, bl, t(s"delta${g}_eval"), bl2))
        Fp.Empty
      }) +: searches(roots(g), g)
    }
  }

  private var chainBytes = 0L
  private var genBytes = 0L
  private def inputBytes = Seq("corpus", "vectors", "eval").map(n => Io.bytes(s"$data/$n.parquet")).sum
  private def deltaBytes = (1 to Generations).flatMap(k => Seq("docs", "vectors", "band", "eval")
    .map(n => Io.bytes(s"$data/delta${k}_$n.parquet"))).sum

  override def afterPass(pass: Int): Unit = {
    genBytes = Io.bytes(s"$work/pass$pass")
    chainBytes = Io.bytes(base) + genBytes
    Io.delete(s"$work/pass$pass")
  }

  /** The corpus state after every change feed, for the rebuilds. */
  private def applyFeeds(start: DataFrame, id: String, value: String, feeds: Seq[DataFrame]) =
    feeds.foldLeft(start.select(col(id), col(value))) { (cur, d) =>
      cur.join(d.select(col(id)), Seq(id), "left_anti")
        .unionByName(d.filter(col("status") =!= "removed").select(col(id), col(value)))
    }

  /** The warm-up pass serves the searches from the reference indexes,
    * so the cross-pass comparison of each search is the refreshed ==
    * rebuilt check. The set-up and reference builds warm the write path. */
  override def warmupOps(pass: Int): Seq[Op] = searches(rebuilt, Generations)

  def checks(warm: Seq[Sample], timed: Seq[Sample]): Seq[(String, Boolean, String)] = {
    val rebuiltFp = warm.map(s => s.op -> s.fp).toMap
    timed.filter(_.kind == "read").map { s =>
      val want = rebuiltFp.get(s.op).flatten
      (s"refreshed_eq_rebuilt_${s.op}", want.nonEmpty && s.fp == want,
        s"refreshed=${s.fp.getOrElse("none")} rebuilt=${want.getOrElse("none")}")
    }
  }

  def probes(r: Runner): Map[String, Double] = {
    Layers.loaderCost(r.tracer.get, r, Seq("corpus", "vectors", "eval").map(n =>
      () => Tables.table(spark, data, n).schema)) ++
      Io.exprProbes(spark, t("corpus")) ++
      Map("index.bytes_written_per_delta_byte" -> genBytes.toDouble / deltaBytes,
        "cal_scan_agg_ms" -> Layers.calScanAgg(spark, s"$data/cal_lineitem.parquet"))
  }

  def storedBytes: (Long, Long) = (chainBytes, inputBytes + deltaBytes)
}
