package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.sql.SparkSession

/** What a workload sees: the session, the seed, the measuring budget and
  * a private scratch directory. */
final case class Ctx(spark: SparkSession, seed: Long,
                     seconds: Int, cores: Int, work: String, progress: ProgressLog,
                     sessionSeconds: Double, opts: Map[String, String]) {
  def drainListeners(): Unit = ListenerBusBridge.drain(spark.sparkContext)
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** How one measured window is observed: untraced (a disabled tracer and
  * no listeners) or traced. */
final case class Probe(tracer: Tracer, listeners: Option[TraceListeners]) {
  def traced: Boolean = tracer.enabled
}

/** A workload sets up once, then measures one window per probe. */
trait Workload {
  def run(ctx: Ctx, probes: Seq[Probe]): Seq[Outcome]
}

/** One workload run: the end-to-end metrics (every one of
  * [[Main.EndToEnd]]), the per-layer metrics, the operation counts and
  * the description of every failed check. `detail` goes to the artifact. */
final case class Outcome(endToEnd: Map[String, Double], perLayer: Map[String, Double],
                         attempted: Long, failed: Long, misses: Seq[String],
                         detail: ListMap[String, Any])

/** Runs one workload and prints the result line:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  --out <file> --refs <dir> [--cores <n>] [--dump <dir>]`.
  *
  * Untraced, the run sets up, measures one window and prints the
  * end-to-end metrics. Traced, it measures two windows after the one
  * set-up, first untraced and then with spans and listeners, prints the
  * per-layer metrics of the traced window, and writes the spans, per-span
  * counts, layer self times and the tracing overhead (traced minus
  * untraced, per end-to-end metric) to the artifact. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rate_per_s" -> "1/s", "p50_ms" -> "ms",
    "p99_ms" -> "ms", "final_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "shardstore.put_us_p50" -> "us", "shardstore.put_us_p99" -> "us",
    "gen.late_ms_p99" -> "ms",
    "stream.batches" -> "count", "stream.rows_per_batch" -> "count",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms",
    "cdcstream.commit_batch_ms_p50" -> "ms", "cdcstream.commit_batch_ms_p99" -> "ms",
    "cdc.ok_rows" -> "count", "cdc.err_rows" -> "count",
    "txlog.generations" -> "count", "txlog.data_files" -> "count",
    "txlog.bytes_written" -> "bytes", "txlog.read_ms" -> "ms",
    "slake.textual_s" -> "s", "slake.semantic_s" -> "s",
    "slake.add_batch_ms" -> "ms", "slake.state_rows" -> "count",
    "slake.state_updates" -> "count", "slake.state_commit_ms" -> "ms",
    "slake.nodata_batch_ms" -> "ms", "slake.survivors" -> "count",
    "query.construct_s" -> "s", "query.plan_s" -> "s", "query.exec_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.util" -> "ratio", "spark.sched_delay_s" -> "s",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s",
    "compaction.s" -> "s", "compaction.files_in" -> "count",
    "compaction.files_out" -> "count", "compaction.rewrite_ratio" -> "ratio",
    "heap_peak_mb" -> "MB")

  val Workloads: Map[String, Workload] = Map(
    "cdc" -> CdcWorkload, "lake" -> LakeWorkload)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload' (known: ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    // a fixed core count keeps figures comparable across boxes; the
    // default is the 4-core box the bounds were set on
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(math.min(4, Runtime.getRuntime.availableProcessors()))
    val work = opts("work")

    val t0 = System.nanoTime()
    val spark = graft.GraftSession
      .builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerAll(spark)
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    val probes = Probe(new Tracer(s"$workload-$seed-untraced", enabled = false), None) +:
      (if (traced) Seq(Probe(new Tracer(s"$workload-$seed-traced", enabled = true),
        Some(new TraceListeners(spark)))) else Nil)
    val ctx = Ctx(spark, seed, seconds, cores, work, progress, sessionSeconds, opts)
    val outcomes = run.run(ctx, probes)
    val untraced = outcomes.head
    val traced1 = outcomes.lift(1).map { o =>
      val tracer = probes(1).tracer
      o.copy(detail = o.detail ++ ListMap(
        "span_counts" -> tracer.summary.map { case (n, c, tot, self) =>
          Json.obj("name" -> n, "count" -> c, "total_s" -> tot, "self_s" -> self) },
        "layer_self_s" -> ListMap(tracer.layerSelf: _*),
        "spans" -> tracer.toJson(t0)))
    }
    val shown = traced1.getOrElse(untraced)
    // the calibration job costs seconds per reading: traced runs only
    val calib = if (traced) Some(calibrate(spark)) else None
    val box = Json.obj(
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "calib_s" -> calib)

    val failed = untraced.failed + traced1.map(_.failed).getOrElse(0L)
    val attempted = untraced.attempted + traced1.map(_.attempted).getOrElse(0L)
    val misses = untraced.misses ++ traced1.toSeq.flatMap(_.misses)
    val metrics =
      if (traced) PerLayer.map { case (n, u) =>
        n -> Json.obj("value" -> shown.perLayer.getOrElse(n, 0.0), "unit" -> u) }
      else EndToEnd.map { case (n, u) =>
        n -> Json.obj("value" -> untraced.endToEnd(n), "unit" -> u) }
    val artifact = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "box" -> box,
      "correct" -> (failed == 0L), "attempted" -> attempted, "failed" -> failed,
      "fail_frac" -> failed.toDouble / math.max(1L, attempted),
      "misses" -> misses.take(50),
      "end_to_end" -> ListMap(untraced.endToEnd.toSeq.sortBy(_._1): _*),
      "per_layer" -> ListMap(shown.perLayer.toSeq.sortBy(_._1): _*),
      // set-up runs once, untraced, so only the measured metrics differ
      "overhead" -> traced1.map(t => ListMap(EndToEnd.filter(_._1 != "setup_s").map {
        case (n, _) => n -> (t.endToEnd(n) - untraced.endToEnd(n)) }: _*)),
      "detail" -> shown.detail)
    opts.get("out").foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f), Json(artifact).getBytes("UTF-8"))
    }
    misses.take(20).foreach(m => System.err.println(s"[perfbench] check failed: $m"))
    spark.stop()
    println(Json(Json.obj("correct" -> (failed == 0L), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> ListMap(metrics: _*))))
    System.exit(if (failed == 0L) 0 else 3)
  }

  /** `graft.Bench`'s fixed calibration job (a codegen'd arithmetic fold
    * plus a 50M-row shuffle), one reading, so a result names its box. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(2000000000L)
      .selectExpr("sum(id * 3 + (id % 7)) AS s").collect()
    spark.range(50000000L)
      .selectExpr("(id * 2654435761) % 1000003 AS k")
      .groupBy("k").count().selectExpr("sum(count) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
