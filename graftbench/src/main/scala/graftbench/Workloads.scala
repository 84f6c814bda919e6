package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.CachePins
import graft.Ckpt.CutOps
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.sources.Tables
import graft.streaming.WatchService
import graft.syncer.{BackupPipeline, FileInventory, FsInventory, SyncOps, Target}

/** What one measured op produced. `latencyS` is the timed part only;
  * `items` is the op's unit of work (files, queries or docs); `named`
  * holds the workload's own per-op figures and `layer` the per-layer
  * figures of a traced op.
  */
final case class OpResult(latencyS: Double, items: Double, ok: Boolean,
    named: Map[String, Double], layer: Map[String, Double] = Map.empty)

final case class Metric(name: String, value: Double, unit: String)

/** Shared state of one run: session, tracer, scratch root, seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path, val seed: Long) {
  val cores: Int = spark.sparkContext.defaultParallelism

  def dir(parts: String*): Path = {
    val p = parts.foldLeft(work)(_ resolve _)
    Files.createDirectories(p)
    p
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Time a call into a layer; under tracing it is also a span. */
  def timed[T](span: String)(body: => T): (T, Double) = time(tracer.span(span)(body))

  /** Drop every cache and checkpoint an op left behind (never timed). */
  def settle(): Unit = {
    CachePins.release()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Spark engine counters of the op span, per op. */
  def engineLayer(op: Int, opWallS: Double): Map[String, Double] = {
    def c(k: String) = tracer.count(op, "op", k)
    Map(
      "spark.jobs_per_op" -> c("spark.jobs"),
      "spark.stages_per_op" -> c("spark.stages"),
      "spark.tasks_per_op" -> c("spark.tasks"),
      "spark.task_busy_frac" -> c("spark.run_ms") / 1000.0 / (opWallS * cores),
      "spark.executor_cpu_s" -> c("spark.cpu_ns") / 1e9,
      "spark.gc_s" -> c("spark.gc_ms") / 1000.0,
      "spark.shuffle_write_mb" -> c("spark.shuffle_write_b") / 1e6,
      "spark.spill_mb" -> c("spark.spill_b") / 1e6,
      "spark.input_mb" -> c("spark.input_b") / 1e6,
      "spark.output_mb" -> c("spark.output_b") / 1e6)
  }

  /** Streaming progress counters of the pass spans of one op. */
  def streamingLayer(op: Int, passSpan: String): Map[String, Double] = {
    def c(k: String) = tracer.count(op, passSpan, k)
    Map(
      "streaming.latest_offset_ms" -> c("streaming.latest_offset_ms"),
      "streaming.commit_ms" -> c("streaming.commit_ms"),
      "streaming.add_batch_ms" -> c("streaming.add_batch_ms"),
      "streaming.query_lifecycle_s" ->
        (tracer.seconds(op, passSpan) - c("streaming.trigger_ms") / 1000.0),
      "streaming.batches_per_pass" -> c("streaming.batches"))
  }
}

object Stat {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

trait Workload {
  /** Inputs, bootstrap and warmup; billed to setup_s. */
  def setup(): Unit
  /** One measured op; `traced` ops also run the layer probes. */
  def op(i: Int, traced: Boolean): OpResult
  /** Per-op teardown, outside every timer. */
  def cleanup(i: Int): Unit
  /** The workload's own named end-to-end metrics. */
  def named(ok: Seq[OpResult]): Seq[Metric]
  /** Per-layer figures measured once, during setup. */
  def setupLayer: Map[String, Double] = Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("backup_bootstrap", "incremental_sync", "restore_plan",
    "corpus_dedup")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "backup_bootstrap" => new BackupBootstrap(ctx)
    case "incremental_sync" => new IncrementalSync(ctx)
    case "restore_plan" => new RestorePlan(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
  }

  /** Tiny instances of every workload, for the class-data training run. */
  def tiny(name: String, ctx: Ctx): Workload = name match {
    case "backup_bootstrap" => new BackupBootstrap(ctx, nFiles = 20, warmups = 1)
    case "incremental_sync" => new IncrementalSync(ctx, nFiles = 20, warmups = 0)
    case "restore_plan" => new RestorePlan(ctx, rows = 20000L)
    case "corpus_dedup" => new CorpusDedup(ctx, nDocs = 500)
  }

  /** Listing of a tree as the watch stream sees it, as a batch frame. */
  def listedBatch(spark: SparkSession, root: String): DataFrame =
    WatchService.durableArrivals(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*-Data.db")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(col("path"), col("length"), col("modificationTime")))

  /** `uploadBatch` timed directly on a listed batch, plus the listing
    * comparator `FsInventory.listFiles`; both into scratch targets.
    */
  def syncerProbe(ctx: Ctx, tree: String, batch: DataFrame, files: Int,
      scratch: Path): Map[String, Double] = {
    val url = "directory://" + scratch.resolve("probe_target")
    val (_, upS) = ctx.timed("syncer.upload_batch") {
      WatchService.uploadBatch(batch, Seq(tree), Target.parse(url), 0L)
    }
    val (_, listS) = ctx.timed("syncer.fs_list") {
      FsInventory.listFiles(ctx.spark, tree).count()
    }
    ctx.rm(scratch)
    Map("syncer.upload_batch_s" -> upS,
      "syncer.copy_ms_per_file" -> upS * 1000.0 / math.max(1, files),
      "syncer.fs_list_s" -> listS)
  }
}

/** Full backup pass over a fresh target and checkpoint, then fsck. */
final class BackupBootstrap(ctx: Ctx, nFiles: Int = 100, warmups: Int = 2)
    extends Workload {
  import ctx.spark
  private var tree: Gen.SsTree = _
  private def durable = tree.durable.toSeq

  def setup(): Unit = {
    tree = new Gen.SsTree(ctx.dir("tree"), ctx.seed, 100e3, 0.05)
    tree.populate(nFiles)
    (1 to warmups).foreach { w => op(-w, traced = false); cleanup(-w) }
  }

  def op(i: Int, traced: Boolean): OpResult = {
    val root = ctx.dir("ops", s"op$i")
    val url = s"directory://$root/target"
    val (((_, passS), (fsck, fsckS)), opS) = ctx.timed("op") {
      (ctx.timed("syncer.pass") {
        WatchService.runOnceAll(spark, Seq(tree.root.toString), url,
          Some(s"$root/checkpoint"))
      }, ctx.timed("syncer.fsck") {
        WatchService.fsckVerify(spark, url).select(col("path"), col("fsck_status")).collect()
      })
    }
    // output checks, untimed
    val manifest = WatchService.manifest(spark, url)
      .select(col("path"), col("status")).collect().map(r => (r.getString(0), r.getString(1)))
    val want = durable.map(_.rel).sorted
    val uploaded = manifest.filter(_._2 == "uploaded").map(_._1)
    val ok = uploaded.sorted.toSeq == want && manifest.forall(_._2 == "uploaded") &&
      !manifest.exists(_._1.contains("-tmp-")) &&
      fsck.length == want.size && fsck.forall(_.getString(1) == "ok")
    val bytes = durable.map(_.size).sum.toDouble
    val layer =
      if (!traced) Map.empty[String, Double]
      else ctx.engineLayer(i, opS) ++ ctx.streamingLayer(i, "syncer.pass") ++ Map(
        "syncer.files_uploaded" -> uploaded.length.toDouble,
        "syncer.files_skipped_vanished" -> manifest.count(_._2 == "skipped_vanished").toDouble,
        "syncer.tmp_uploaded" -> manifest.count(_._1.contains("-tmp-")).toDouble,
        "syncer.fsck_verify_s" -> fsckS) ++
        Workloads.syncerProbe(ctx, tree.root.toString,
          Workloads.listedBatch(spark, tree.root.toString), want.size, root.resolve("probe"))
    OpResult(opS, want.size, ok,
      Map("pass_s" -> passS, "fsck_s" -> fsckS, "files" -> want.size, "bytes" -> bytes), layer)
  }

  def cleanup(i: Int): Unit = { ctx.settle(); ctx.rm(ctx.work.resolve("ops").resolve(s"op$i")) }

  def named(ok: Seq[OpResult]): Seq[Metric] = Seq(
    Metric("backup_files_per_s",
      Stat.median(ok.map(r => r.named("files") / r.named("pass_s"))), "files/s"),
    Metric("fsck_mb_per_s",
      Stat.median(ok.map(r => r.named("bytes") / 1e6 / r.named("fsck_s"))), "MB/s"),
    Metric("backup_pass_p50_s", Stat.median(ok.map(_.named("pass_s"))), "s"))
}

/** Steady-state daemon: one drop lands, one pass on the shared
  * checkpoint uploads it.
  */
final class IncrementalSync(ctx: Ctx, nFiles: Int = 150, dropFiles: Int = 10,
    warmups: Int = 2) extends Workload {
  import ctx.spark
  private var tree: Gen.SsTree = _
  private var url: String = _
  private var ckpt: String = _
  private var firstPassS = 0.0

  private def pass(): Unit =
    WatchService.runOnceAll(spark, Seq(tree.root.toString), url, Some(ckpt))

  def setup(): Unit = {
    tree = new Gen.SsTree(ctx.dir("tree"), ctx.seed, 100e3, 0.05)
    tree.populate(nFiles)
    val root = ctx.dir("target")
    url = s"directory://$root/target"
    ckpt = s"$root/checkpoint"
    pass() // bootstrap
    ctx.settle()
    tree.drop(dropFiles)
    firstPassS = ctx.time(pass())._2
    ctx.settle()
    (1 to warmups).foreach { _ => tree.drop(dropFiles); pass(); ctx.settle() }
  }

  override def setupLayer: Map[String, Double] =
    Map("syncer.first_pass_after_bootstrap_s" -> firstPassS)

  def op(i: Int, traced: Boolean): OpResult = {
    val landed = tree.drop(dropFiles)
    val ((_, passS), opS) = ctx.timed("op")(ctx.timed("syncer.pass")(pass()))
    val want = landed.filterNot(_.temp).map(_.rel).toSet
    val seen = WatchService.manifest(spark, url)
      .filter(col("path").isin(landed.map(_.rel): _*))
      .select(col("path"), col("status")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ok = seen.length == want.size && seen.forall(s => want(s._1) && s._2 == "uploaded")
    val layer =
      if (!traced) Map.empty[String, Double]
      else {
        val batch = Workloads.listedBatch(spark, tree.root.toString)
          .filter(regexp_extract(col("path"), "ks1/.*$", 0).isin(want.toSeq: _*))
        ctx.engineLayer(i, opS) ++ ctx.streamingLayer(i, "syncer.pass") ++ Map(
          "syncer.files_uploaded" -> seen.count(_._2 == "uploaded").toDouble,
          "syncer.files_skipped_vanished" -> seen.count(_._2 == "skipped_vanished").toDouble,
          "syncer.tmp_uploaded" -> seen.count(_._1.contains("-tmp-")).toDouble) ++
          Workloads.syncerProbe(ctx, tree.root.toString, batch, want.size,
            ctx.dir("probe", s"op$i"))
      }
    OpResult(opS, want.size, ok, Map("pass_s" -> passS), layer)
  }

  def cleanup(i: Int): Unit = ctx.settle()

  def named(ok: Seq[OpResult]): Seq[Metric] = {
    val p = ok.map(_.named("pass_s"))
    Seq(Metric("sync_pass_p50_s", Stat.median(p), "s"),
      Metric("sync_pass_p90_s", Stat.quantile(p, 0.9), "s"),
      Metric("sync_pass_samples", p.size, "count"),
      Metric("first_pass_after_bootstrap_s", firstPassS, "s"))
  }
}

/** Order-free fingerprint of a file set: its size and two hash sums. */
final case class Fp(n: Long, h1: Long, h2: Long)

object Fp {
  def sum(fs: Seq[Fp]): Fp = Fp(fs.map(_.n).sum, fs.map(_.h1).sum, fs.map(_.h2).sum)
}

/** Read-side planning queries over a backed-up inventory, each checked
  * against a reference computed once in plain Spark SQL.
  */
final class RestorePlan(ctx: Ctx, rows: Long = 200000L, days: Int = 30) extends Workload {
  import ctx.spark
  private val invDir = ctx.dir("inventory").toString
  private val url = "directory://" + ctx.dir("backup")
  private val rng = new SplittableRandom(ctx.seed ^ 0x5eedL)
  private val kinds = Vector("restore_set", "prune_plan", "live_set", "diff_upload")
  private var dayList: Vector[String] = Vector.empty
  private val refs = scala.collection.mutable.HashMap.empty[(String, String), Fp]

  private val P = 1000000007L
  private def fpCols = Seq(count(lit(1)).as("n"),
    sum(pmod(xxhash64(col("path"), col("generation"), col("size_bytes")), lit(P))).as("h1"),
    sum(pmod(hash(col("path"), col("generation")), lit(P))).as("h2"))

  def setup(): Unit = {
    Gen.eventsInventory(spark, invDir, ctx.seed, rows, days, 8)
    Log("inventory generated")
    BackupPipeline.backup(spark, invDir, url)
    Log("backup done")
    computeReferences()
    Log("references computed")
    kinds.foreach { k => runKind(k, -1); Log(s"warm $k") }
  }

  /** The references: plain Spark SQL over the generated events table
    * (two scans), then per-day arithmetic on their small results.
    */
  private def computeReferences(): Unit = {
    spark.read.parquet(s"$invDir/events.parquet").createOrReplaceTempView("bench_events")
    spark.sql(
      s"""SELECT event_type AS cf, user_id % 10 AS node_id, event_id % 7 AS shard_id,
         |  event_id AS generation, CAST(floor(value * 1000) AS BIGINT) AS size_bytes,
         |  concat('ks1/', event_type, '/node', CAST(user_id % 10 AS STRING), '/na-',
         |    CAST(event_id AS STRING), '-Data.db') AS path,
         |  CAST(to_date(ts) AS STRING) AS d
         |FROM bench_events WHERE event_id % 20 != 0""".stripMargin)
      .createOrReplaceTempView("bench_durable")
    val hashes = s"pmod(xxhash64(path, generation, size_bytes), ${P}L) AS h1, " +
      s"pmod(hash(path, generation), ${P}L) AS h2"
    // newest file per (lineage, day)
    val newest = spark.sql(
      s"""SELECT cf, node_id, shard_id, d, $hashes FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cf, node_id, shard_id, d
         |    ORDER BY generation DESC) AS rn FROM bench_durable) WHERE rn = 1""".stripMargin)
      .collect().map(r => ((r.getString(0), r.getLong(1), r.getLong(2)), r.getString(3),
        Fp(1, r.getLong(4), r.getLong(5))))
    // per day: every durable file, and the files the modeled bucket lacks
    val perDay = spark.sql(
      s"""SELECT d, count(*), sum(h1), sum(h2), count_if(miss),
         |  coalesce(sum(if(miss, h1, 0)), 0), coalesce(sum(if(miss, h2, 0)), 0)
         |FROM (SELECT d, generation % 3 = 0 OR node_id = 3 AS miss, $hashes
         |  FROM bench_durable) GROUP BY d""".stripMargin)
      .collect().map(r => r.getString(0) ->
        (Fp(r.getLong(1), r.getLong(2), r.getLong(3)), Fp(r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    dayList = perDay.keys.toVector.sorted
    // restore set as of q: per lineage, the newest file of its latest day <= q
    def restoreAsOf(q: String) = newest.filter(_._2 <= q).groupBy(_._1).values
      .map(_.maxBy(_._2)).toSeq
    dayList.foreach(q => refs(("restore_set", q)) = Fp.sum(restoreAsOf(q).map(_._3)))
    val live = restoreAsOf(dayList.last)
    refs(("live_set", "")) = Fp.sum(live.map(_._3))
    // prune plan for cutoff c: files of days before c that the live set does not hold
    dayList.foreach { c =>
      val all = Fp.sum(perDay.collect { case (d, (f, _)) if d < c => f }.toSeq)
      val kept = Fp.sum(live.filter(_._2 < c).map(_._3))
      refs(("prune_plan", c)) = Fp(all.n - kept.n, all.h1 - kept.h1, all.h2 - kept.h2)
    }
    refs(("diff_upload", "")) = Fp.sum(perDay.values.map(_._2).toSeq)
  }

  private def frame(kind: String, arg: String): DataFrame = kind match {
    case "restore_set" => BackupPipeline.restoreSet(spark, url, arg)
    case "prune_plan" => BackupPipeline.prunePlan(spark, url, arg)
    case "live_set" => SyncOps.syncLiveSet(spark, invDir)
    case "diff_upload" => SyncOps.syncDiffUpload(spark, invDir)
  }

  /** Run one planning query through the noop sink; the fingerprint is
    * observed in the same execution. Returns (seconds, ok, rows).
    */
  private def runKind(kind: String, i: Int): (Double, Boolean, Long) = {
    val arg = kind match {
      case "restore_set" | "prune_plan" => dayList(rng.nextInt(dayList.size))
      case _ => ""
    }
    val obs = Observation(s"fp_${kind}_$i")
    val (_, s) = ctx.timed(s"syncer.$kind") {
      frame(kind, arg).observe(obs, fpCols.head, fpCols.tail: _*)
        .write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    def l(k: String) = Option(m.getOrElse(k, null)).map(_.asInstanceOf[Number].longValue)
      .getOrElse(0L)
    val got = Fp(l("n"), l("h1"), l("h2"))
    (s, refs.get((kind, arg)).contains(got), got.n)
  }

  def op(i: Int, traced: Boolean): OpResult = {
    val order = new scala.util.Random(rng.nextLong()).shuffle(kinds)
    val (res, opS) = ctx.timed("op")(order.map(k => k -> runKind(k, i)).toMap)
    val layer =
      if (!traced) Map.empty[String, Double]
      else {
        val (_, scanS) = ctx.timed("sources.inventory_scan") {
          FileInventory.durable(spark, invDir).write.format("noop").mode("overwrite").save()
        }
        ctx.engineLayer(i, opS) ++ Map("sources.inventory_scan_s" -> scanS,
          "syncer.restore_set_rows" -> res("restore_set")._3.toDouble,
          "syncer.prune_rows" -> res("prune_plan")._3.toDouble)
      }
    OpResult(opS, kinds.size, res.values.forall(_._2),
      kinds.map(k => s"${k}_s" -> res(k)._1).toMap, layer)
  }

  def cleanup(i: Int): Unit = ctx.settle()

  def named(ok: Seq[OpResult]): Seq[Metric] =
    kinds.map(k => Metric(s"${k}_p50_s", Stat.median(ok.map(_.named(s"${k}_s"))), "s")) :+
      Metric("inventory_entries", rows.toDouble, "count")
}

/** Dedup of one fresh corpus shard: exact, MinHash/LSH/CC, semantic. */
final class CorpusDedup(ctx: Ctx, nDocs: Int = 4000, recallFloor: Double = 0.9)
    extends Workload {
  import ctx.spark
  private def shardDir(i: Int) = ctx.work.resolve("shards").resolve(s"shard$i")

  /** Warm up on a quarter-size shard: same code paths, less set-up time. */
  def setup(): Unit = { run(-1, nDocs / 4, traced = false); cleanup(-1) }

  def op(i: Int, traced: Boolean): OpResult = run(i, nDocs, traced)

  private def run(i: Int, nDocs: Int, traced: Boolean): OpResult = {
    val dir = shardDir(i).toString
    val corpus = Gen.corpusShard(spark, dir, ctx.seed * 1000003L + i, nDocs)
    val (((exact, exactS), (pairs, sigS, pairS, ccS), (sem, semS)), opS) = ctx.timed("op") {
      val ex = ctx.timed("dedup.exact") {
        Dedup.dedupExact(spark, dir).select(col("n_docs"), col("keeper_doc_id")).collect()
      }
      val (sigs, sigS) = ctx.timed("dedup.minhash_sigs") {
        Dedup.minhashSignaturesOf(
          Tables.rebalanced(Tables.documents(spark, dir)).select(col("doc_id"), col("text")))
          .cutLineage(eager = true)
      }
      val (pairs, pairS) = ctx.timed("dedup.lsh_pairs") {
        Dedup.minhashCandidatePairsOf(sigs).cutLineage(eager = true)
      }
      val (_, ccS) = ctx.timed("dedup.cc") { Dedup.connectedComponents(pairs).collect() }
      val sem = ctx.timed("similarity.semantic") {
        Ann.dedupSemantic(spark, dir).select(col("is_kept")).collect()
      }
      (ex, (pairs, sigS, pairS, ccS), sem)
    }
    // output checks, untimed
    val clusters = exact.filter(_.getLong(0) > 1).map(r => (r.getLong(1), r.getLong(0))).toSet
    val cand = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = corpus.nearPairs.count(cand).toDouble / math.max(1, corpus.nearPairs.size)
    val ok = clusters == corpus.exactClusters && recall >= recallFloor
    val layer =
      if (!traced) Map.empty[String, Double]
      else ctx.engineLayer(i, opS) ++ Map(
        "dedup.exact_s" -> exactS, "dedup.minhash_sigs_s" -> sigS,
        "dedup.lsh_pairs_s" -> pairS, "dedup.cc_s" -> ccS,
        "dedup.candidate_pairs" -> cand.size.toDouble,
        "dedup.lsh_pair_precision" ->
          cand.count(corpus.relatedPairs).toDouble / math.max(1, cand.size),
        "dedup.lsh_pair_recall" -> recall,
        "similarity.semantic_s" -> semS,
        "similarity.semantic_pairs" -> sem.count(!_.getBoolean(0)).toDouble)
    OpResult(opS, nDocs, ok, Map("recall" -> recall), layer)
  }

  def cleanup(i: Int): Unit = { ctx.settle(); ctx.rm(shardDir(i)) }

  def named(ok: Seq[OpResult]): Seq[Metric] = Seq(
    Metric("dedup_docs_per_s", ok.map(_.items).sum / ok.map(_.latencyS).sum, "docs/s"),
    Metric("near_dup_recall", Stat.median(ok.map(_.named("recall"))), "fraction"),
    Metric("near_dup_recall_floor", recallFloor, "fraction"))
}
