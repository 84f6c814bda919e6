package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One per-layer metric: its unit, which way is better, and the
  * end-to-end metric (on which workload) it is predicted to move.
  */
final case class Layer(name: String, unit: String, better: String, moves: String)

object Layers {
  private val pass = "sync_pass_p50_s, sync_pass_p90_s on incremental_sync"
  private val backup = "backup_files_per_s on backup_bootstrap"
  private val dedup = "dedup_docs_per_s on corpus_dedup"
  private val plan = "live_set_p50_s, diff_upload_p50_s on restore_plan"
  private val any = "the op latency of whichever workload runs it"
  val all: Seq[Layer] = Seq(
    Layer("streaming.latest_offset_ms", "ms", "lower", pass),
    Layer("streaming.commit_ms", "ms", "lower", pass),
    Layer("streaming.add_batch_ms", "ms", "lower", backup),
    Layer("streaming.query_lifecycle_s", "s", "lower", pass),
    Layer("streaming.batches_per_pass", "count", "lower", pass),
    Layer("syncer.upload_batch_s", "s", "lower", backup),
    Layer("syncer.copy_ms_per_file", "ms", "lower", backup),
    Layer("syncer.files_uploaded", "count", "higher", backup),
    Layer("syncer.files_skipped_vanished", "count", "lower", backup),
    Layer("syncer.tmp_uploaded", "count", "lower", backup),
    Layer("syncer.fsck_verify_s", "s", "lower", "fsck_mb_per_s on backup_bootstrap"),
    Layer("syncer.fs_list_s", "s", "lower", pass),
    Layer("syncer.first_pass_after_bootstrap_s", "s", "lower", "setup_s on incremental_sync"),
    Layer("sources.inventory_scan_s", "s", "lower", plan),
    Layer("syncer.restore_set_rows", "count", "lower", "restore_set_p50_s on restore_plan"),
    Layer("syncer.prune_rows", "count", "lower", "prune_plan_p50_s on restore_plan"),
    Layer("dedup.exact_s", "s", "lower", dedup),
    Layer("dedup.minhash_sigs_s", "s", "lower", dedup),
    Layer("dedup.lsh_pairs_s", "s", "lower", dedup),
    Layer("dedup.cc_s", "s", "lower", dedup),
    Layer("dedup.candidate_pairs", "count", "lower", dedup),
    Layer("dedup.lsh_pair_precision", "fraction", "higher", dedup),
    Layer("dedup.lsh_pair_recall", "fraction", "higher", dedup),
    Layer("similarity.semantic_s", "s", "lower", dedup),
    Layer("similarity.semantic_pairs", "count", "higher", dedup),
    Layer("spark.jobs_per_op", "count", "lower", any),
    Layer("spark.stages_per_op", "count", "lower", any),
    Layer("spark.tasks_per_op", "count", "lower", any),
    Layer("spark.task_busy_frac", "fraction", "higher", any),
    Layer("spark.executor_cpu_s", "s", "lower", any),
    Layer("spark.gc_s", "s", "lower", any),
    Layer("spark.shuffle_write_mb", "MB", "lower", any),
    Layer("spark.spill_mb", "MB", "lower", any),
    Layer("spark.input_mb", "MB", "lower", any),
    Layer("spark.output_mb", "MB", "lower", any),
    Layer("trace.overhead_s", "s", "lower", "none: traced minus untraced op latency"),
    Layer("trace.overhead_frac", "fraction", "lower", "none: overhead over untraced op latency"))
}

/** Benchmark process: set up one workload, run its ops as a closed
  * loop with one client for the requested seconds, check every op's
  * output, and write the result JSON.
  *
  * Arguments: --workload --seed --seconds --trace 0|1 --work <scratch
  * dir> --out <result file> --trace-out <span file> --launch-epoch-s
  * <when the launcher started this JVM>.
  */
object Main {
  private val MinOps = 2
  /** No new op starts this long after launch, so a run ends in time. */
  private val StopLaunchingS = 120.0

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Class-data training: one tiny set-up and one traced op of every
    * workload, so the JVM's class archive covers what the runs load.
    */
  private def train(spark: SparkSession, tracer: Tracer, work: java.nio.file.Path): Unit = {
    Workloads.names.zipWithIndex.foreach { case (n, k) =>
      val ctx = new Ctx(spark, tracer, work.resolve(n), 1L)
      val wl = Workloads.tiny(n, ctx)
      wl.setup()
      tracer.beginOp(k, traced = true)
      try require(wl.op(k, traced = true).ok, s"$n: training op failed its check")
      finally tracer.endOp()
      wl.cleanup(k)
      Log(s"trained $n")
    }
    spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(workload == "train" || Workloads.names.contains(workload),
      s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val launch = a("launch-epoch-s").toDouble
    Log.launch = launch
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Log("session started")

    val tracer = new Tracer(spark)
    if (workload == "train") { train(spark, tracer, work); return }
    val ctx = new Ctx(spark, tracer, work, seed)
    val wl = Workloads(workload, ctx)
    wl.setup()
    ctx.settle()
    val setupS = Log.epochS() - launch
    Log("setup done")

    // closed loop, one client: the next op starts when the last ends
    val runs = mutable.ArrayBuffer.empty[(Boolean, Option[OpResult])]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minOps = if (trace) MinOps + 1 else MinOps
    var i = 0
    var more = true
    while (more) {
      val traced = trace && i % 2 == 0
      tracer.beginOp(i, traced)
      val r =
        try Some(wl.op(i, traced))
        catch { case e: Throwable =>
          System.err.println(s"[graftbench] op $i failed: $e"); e.printStackTrace(); None
        } finally tracer.endOp()
      if (r.exists(!_.ok)) System.err.println(s"[graftbench] op $i failed its output check")
      Log(f"op $i traced=$traced latency=${r.map(_.latencyS).getOrElse(-1.0)}%.3fs")
      runs += ((traced, r))
      i += 1
      more = (elapsed < seconds || i < minOps) && Log.epochS() - launch < StopLaunchingS
      wl.cleanup(i - 1)
    }
    val rss = peakRssMb()

    val ok = runs.flatMap(_._2).filter(_.ok).toSeq
    val failed = runs.count(_._2.forall(!_.ok))
    val lat = ok.map(_.latencyS)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_s", Stat.median(lat), "s"),
      Metric("work_per_s", ok.map(_.items).sum / math.max(1e-9, lat.sum), "items/s"))
    val named = wl.named(ok) ++ Seq(
      Metric("peak_rss_mb", rss, "MiB"),
      Metric("op_p90_s", Stat.quantile(lat, 0.9), "s"),
      Metric("ops_measured", runs.size, "count"),
      Metric("error_rate", failed.toDouble / math.max(1, runs.size), "fraction"))

    val tracedOk = runs.filter(_._1).flatMap(_._2).filter(_.ok).toSeq
    val untracedLat = runs.filterNot(_._1).flatMap(_._2).filter(_.ok).map(_.latencyS).toSeq
    val overhead = Stat.median(tracedOk.map(_.latencyS)) - Stat.median(untracedLat)
    val layerVals: Seq[(Layer, Double)] = Layers.all.map { l =>
      val v = l.name match {
        case "trace.overhead_s" => overhead
        case "trace.overhead_frac" => overhead / math.max(1e-9, Stat.median(untracedLat))
        case n => wl.setupLayer.getOrElse(n, Stat.median(tracedOk.flatMap(_.layer.get(n))))
      }
      (l, v)
    }

    def obj(ms: Seq[Metric]): String = ms.map(m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
      .mkString("{", ",", "}")
    val metrics =
      if (trace) obj(layerVals.map { case (l, v) => Metric(l.name, v, l.unit) })
      else obj(endToEnd)
    val detail =
      if (trace) layerVals.map { case (l, v) =>
        s"${Json.str(l.name)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(l.unit)}," +
          s"\"moves\":${Json.str(l.moves)}}"
      }.mkString("{", ",", "}")
      else obj(endToEnd ++ named)
    val result = s"""{"correct":${failed == 0 && runs.nonEmpty},"attempted":${runs.size},""" +
      s""""failed":$failed,"metrics":$metrics,"detail":{"workload":${Json.str(workload)},""" +
      s""""seed":$seed,"trace":$trace,"metrics":$detail}}"""
    if (trace) tracer.writeJsonl(Paths.get(a("trace-out")))
    Files.writeString(Paths.get(a("out")), result + "\n")
    spark.stop()
    sys.exit(0)
  }
}
