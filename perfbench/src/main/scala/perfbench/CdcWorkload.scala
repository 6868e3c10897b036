package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Cdc, TxLog}
import graft.sources.{ShardCdcSource, ShardStore}
import graft.streaming.CdcStream

/** The CDC path: seeded envelopes -> 10-shard ShardStore -> ShardCdcSource
  * -> CdcStream.pipelineTx (the transactional TxLog sink).
  *
  *  - set-up: session; backlog preloads into fresh stores (two warm stores
  *    plus three per measured window; the median preload is reported) and
  *    three warm AvailableNow drains at the timed scale (after one or two,
  *    each measured drain still ran faster than the one before it);
  *  - catch-up: three preloaded backlogs drained with AvailableNow;
  *    rate_per_s = events drained / total drain time;
  *  - open loop: a fixed offered rate on a fixed trigger into the last
  *    drained zone; each event is timed from when it was due to the
  *    commit of the micro-batch holding it -> p50_ms, p99_ms (the highest
  *    percentile up to 99 with ten samples beyond it);
  *  - final read: Cdc.snapshot over TxLog.read, two untimed reads, then
  *    three timed ones -> final_s (time per read).
  *
  * The catch-up rate and the read time are totals over three repetitions:
  * on a shared box they were steadier across runs than the medians.
  *
  * The offered rate keeps each micro-batch (about 1 s on a 4-core box,
  * nearly all of it per-batch cost) shorter than the trigger, so latency
  * is trigger wait plus commit time rather than a growing queue.
  *
  * Checks: every delivered valid envelope is committed exactly once in
  * the ok route, every malformed one lands in the error route (in every
  * drained zone), and the final snapshot equals the generator's model. */
object CdcWorkload extends Workload {

  val Shards = 10
  val Backlog = 2000
  val OfferedPerSecond = 80.0
  val TriggerMs = 1500L
  val LiveSeconds = 8
  val CatchupReps = 3
  val WarmDrains = 3
  val SnapshotReps = 3

  private val okSchema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("attrs", MapType(StringType, StringType)),
    StructField("Event", StringType),
    StructField("ingestion_timestamp", TimestampType)))

  final case class Put(shard: String, seq: Long, dueMs: Double, lateMs: Double,
                       putUs: Double)

  final case class Store(dir: String, preloadS: Double, putUs: Seq[Double])

  private def preload(ctx: Ctx, name: String, backlog: Seq[CdcGen.Envelope]): Store = {
    val dir = ctx.dir(name)
    val st = new ShardStore(dir)
    val putUs = new Array[Double](backlog.size)
    val (_, secs) = Main.secondsOf {
      st.createStream(Shards)
      backlog.indices.foreach { j =>
        val t0 = System.nanoTime()
        st.put(backlog(j).partitionKey, backlog(j).line)
        putUs(j) = (System.nanoTime() - t0) / 1e3
      }
    }
    Store(dir, secs, putUs.toSeq)
  }

  def run(ctx: Ctx, probes: Seq[Probe]): Seq[Outcome] = {
    val nLive = (OfferedPerSecond * math.min(LiveSeconds, ctx.seconds)).toInt
    val envelopes = CdcGen.generate(ctx.seed, Backlog + nLive)
    val (backlog, live) = envelopes.splitAt(Backlog)

    // ---- set-up -------------------------------------------------------
    val warmStores = (0 until WarmDrains).map(j => preload(ctx, s"warm_store$j", backlog))
    val stores = probes.indices.map(i =>
      (0 until CatchupReps).map(j => preload(ctx, s"store$i-$j", backlog)))
    val preloadS = Stats.median((warmStores ++ stores.flatten).map(_.preloadS))
    val (_, warmS) = Main.secondsOf(warmStores.zipWithIndex.foreach { case (st, j) =>
      drain(ctx, st.dir, ctx.dir(s"warm_zone$j"), ctx.dir(s"warm_ckpt$j"))
    })
    val setupS = ctx.sessionSeconds + preloadS + warmS
    val setupDetail = Json.obj("session_s" -> ctx.sessionSeconds,
      "preload_s" -> (warmStores ++ stores.flatten).map(_.preloadS), "warm_s" -> warmS)

    probes.zip(stores).zipWithIndex.map { case ((probe, st), i) =>
      measure(ctx, probe, st, s"m$i", envelopes, live, setupS, setupDetail)
    }
  }

  /** Put `events` at the offered rate into the store while the fixed-
    * trigger pipeline runs; returns each put and the query's run id once
    * everything put is committed. */
  private def openLoop(ctx: Ctx, tr: Tracer, storeDir: String, zone: String, ckpt: String,
                       events: Vector[CdcGen.Envelope]): (Seq[Put], java.util.UUID) = {
    val store = new ShardStore(storeDir)
    val q = CdcStream.pipelineTx(ShardCdcSource(storeDir).stream(ctx.spark), zone, ckpt,
      trigger = Trigger.ProcessingTime(TriggerMs)).start()
    try {
      val puts = new Array[Put](events.size)
      val originNs = System.nanoTime()
      val originMs = System.currentTimeMillis().toDouble
      val gapNs = 1e9 / OfferedPerSecond
      var i = 0
      while (i < events.size) {
        val dueNs = originNs + (i * gapNs).toLong
        var now = System.nanoTime()
        while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
        val e = events(i)
        val (shard, seq) = tr.span("shardstore.put")(store.put(e.partitionKey, e.line))
        val end = System.nanoTime()
        puts(i) = Put(shard, seq, originMs + (dueNs - originNs) / 1e6,
          (now - dueNs) / 1e6, (end - now) / 1e3)
        i += 1
      }
      q.processAllAvailable()
      (puts.toSeq, q.runId)
    } finally q.stop()
  }

  private def measure(ctx: Ctx, probe: Probe, stores: Seq[Store], tag: String,
                      envelopes: Vector[CdcGen.Envelope], live: Vector[CdcGen.Envelope],
                      setupS: Double, setupDetail: Any): Outcome = {
    val spark = ctx.spark
    val tr = probe.tracer
    val zones = stores.indices.map(j => (ctx.dir(s"$tag/zone$j"), ctx.dir(s"$tag/ckpt$j")))
    val (zone, ckpt) = zones.last
    probe.listeners.foreach { l => ctx.drainListeners(); l.reset(); l.attach() }
    ctx.progress.events.clear()
    Main.resetHeapPeaks()
    val windowStart = System.nanoTime()

    // ---- catch-up -----------------------------------------------------
    val catchups = stores.zip(zones).map { case (st, (z, c)) =>
      var spanId = 0L
      val (runId, secs) = Main.secondsOf(tr.spanId("cdc.catchup") { id =>
        spanId = id
        drain(ctx, st.dir, z, c)
      })
      (runId, secs, spanId)
    }

    // ---- open loop ----------------------------------------------------
    val ((puts, liveRun), openLoopS) = Main.secondsOf(tr.span("cdc.open_loop") {
      openLoop(ctx, tr, stores.last.dir, zone, ckpt, live)
    })

    // ---- final read ---------------------------------------------------
    // the first reads of a fresh zone run 20-40 % slower than later ones
    // whatever warm-up came before; two are left out of the timing
    (1 to 2).foreach(_ => snapshotOf(TxLog.read(spark, zone)).collect())
    val reads = (1 to SnapshotReps).map { _ =>
      Main.secondsOf(tr.span("cdc.snapshot") {
        val (df, readS) = Main.secondsOf(tr.span("txlog.read")(TxLog.read(spark, zone)))
        val rows = tr.span("cdc.snapshot_collect")(snapshotOf(df).collect())
        (rows, readS * 1e3)
      })
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val heapMb = Main.heapPeakMb
    ctx.drainListeners()
    val sparkCounters = probe.listeners.map { l => l.detach(); sparkLayer(ctx, l, windowS) }
    val catchupProgress = catchups.map(c => batches(ctx.progress.forRun(c._1)))
    val liveProgress = batches(ctx.progress.forRun(liveRun))
    val latencies = commitLatencies(puts, liveProgress)

    // ---- checks (outside every timed window) --------------------------
    val misses = scala.collection.mutable.ArrayBuffer.empty[String]
    val backlog = envelopes.take(envelopes.size - live.size)
    var failed = zones.init.map { case (z, _) => checkRoutes(spark, z, backlog, misses)._1 }.sum
    val (finalMisses, okRows, errRows) = checkRoutes(spark, zone, envelopes, misses)
    failed += finalMisses
    val model = CdcGen.model(envelopes)
    val snapSeen = reads.last._1._1.map { r =>
      (r.getString(0), r.getString(1)) -> r.getMap[String, String](2).toMap
    }.toMap
    (model.snapshot.keySet ++ snapSeen.keySet).foreach { k =>
      if (model.snapshot.get(k) != snapSeen.get(k)) {
        failed += 1
        misses += s"snapshot key $k is ${snapSeen.get(k)}, expected ${model.snapshot.get(k)}"
      }
    }
    val uncommitted = latencies.count(_.isNaN)
    if (uncommitted > 0) misses += s"$uncommitted live events never reached a commit"
    failed += uncommitted
    // operations: every delivered envelope must land, every model key must
    // read back, every live event must commit
    val attempted = backlog.size.toLong * (stores.size - 1) + envelopes.size +
      model.snapshot.size + live.size

    // ---- metrics ------------------------------------------------------
    val lat = latencies.filterNot(_.isNaN)
    val tail = Stats.tail(lat)
    val allBatches = catchupProgress.flatten ++ liveProgress
    val snap = TxLog.latest(spark, zone)
    val allPutUs = stores.flatMap(_.putUs) ++ puts.map(_.putUs)
    val commitMsAll = allBatches.map(phase(_, "addBatch"))
    if (probe.traced) {
      catchups.zip(catchupProgress).foreach { case (c, ps) =>
        ps.foreach(p => batchSpans(tr, p, "cdcstream.commit_batch", Some(c._3)))
      }
      // live batches run beside the generator thread: roots of their own
      liveProgress.foreach(p => batchSpans(tr, p, "cdcstream.commit_batch", None))
    }
    val perLayer = ListMap(
      "shardstore.put_us_p50" -> Stats.median(allPutUs),
      "shardstore.put_us_p99" -> Stats.tail(allPutUs).map(_.value).getOrElse(allPutUs.max),
      "gen.late_ms_p99" -> Stats.tail(puts.map(_.lateMs)).map(_.value).getOrElse(0.0),
      "stream.batches" -> allBatches.size.toDouble,
      "stream.rows_per_batch" ->
        allBatches.map(_.numInputRows.toDouble).sum / math.max(1, allBatches.size),
      "stream.latest_offset_ms" -> phaseMedian(allBatches, "latestOffset"),
      "stream.get_batch_ms" -> phaseMedian(allBatches, "getBatch"),
      "stream.planning_ms" -> phaseMedian(allBatches, "queryPlanning"),
      "stream.wal_commit_ms" -> phaseMedian(allBatches, "walCommit"),
      "stream.commit_offsets_ms" -> phaseMedian(allBatches, "commitOffsets"),
      "cdcstream.commit_batch_ms_p50" -> Stats.median(commitMsAll),
      "cdcstream.commit_batch_ms_p99" -> commitMsAll.max,
      "cdc.ok_rows" -> okRows.toDouble,
      "cdc.err_rows" -> errRows.toDouble,
      "txlog.generations" -> snap.map(_.gen.toDouble).getOrElse(0.0),
      "txlog.data_files" -> snap.map(_.files.size.toDouble).getOrElse(0.0),
      "txlog.bytes_written" -> dirBytes(zone).toDouble,
      "txlog.read_ms" -> Stats.median(reads.map(_._1._2)),
      "heap_peak_mb" -> heapMb) ++ sparkCounters.getOrElse(ListMap.empty)

    Outcome(
      endToEnd = Map(
        "setup_s" -> setupS,
        "rate_per_s" -> Backlog * catchups.size / catchups.map(_._2).sum,
        "p50_ms" -> Stats.median(lat),
        "p99_ms" -> tail.map(_.value).getOrElse(Double.NaN),
        "final_s" -> reads.map(_._2).sum / reads.size),
      perLayer = perLayer,
      attempted = attempted, failed = failed, misses = misses.toSeq,
      detail = ListMap(
        "setup" -> setupDetail,
        "backlog_events" -> Backlog, "live_events" -> live.size,
        "offered_per_s" -> OfferedPerSecond, "trigger_ms" -> TriggerMs, "shards" -> Shards,
        "catchup_s" -> catchups.map(_._2), "open_loop_s" -> openLoopS,
        "snapshot_s" -> reads.map(_._2),
        "commit_tail" -> tail.map(t => Json.obj("percentile" -> t.percentile,
          "value_ms" -> t.value, "samples" -> t.samples, "beyond" -> t.beyond)),
        "late_ms_p50" -> Stats.median(puts.map(_.lateMs)),
        "put_us_p50_live" -> Stats.median(puts.map(_.putUs)),
        "live_batch_ms" -> liveProgress.map(phase(_, "triggerExecution")),
        "live_batch_rows" -> liveProgress.map(_.numInputRows),
        "snapshot_keys" -> snapSeen.size))
  }

  /** Route checks of one drained zone against the envelopes delivered to
    * it: the ok route holds every valid envelope exactly once, the error
    * route every malformed one. Returns (misses, ok rows, error rows). */
  private def checkRoutes(spark: SparkSession, zone: String, delivered: Seq[CdcGen.Envelope],
                          misses: scala.collection.mutable.Buffer[String]): (Long, Long, Long) = {
    val model = CdcGen.model(delivered)
    val lake = TxLog.read(spark, zone)
    val okSeen = lake.filter(col("route") === "ok")
      .select(from_json(col("line"), okSchema).as("r"))
      .select(col("r.id"), col("r.name"), col("r.Event"),
        unix_micros(col("r.ingestion_timestamp")))
      .collect()
      .map(r => CdcGen.Ident(r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    var failed = 0L
    (model.okEvents.keySet ++ okSeen.keySet).foreach { k =>
      val (want, got) = (model.okEvents.getOrElse(k, 0), okSeen.getOrElse(k, 0))
      if (want != got) {
        failed += math.abs(want - got)
        misses += s"$zone: ok route holds $got copies of $k, expected $want"
      }
    }
    val err = lake.filter(col("route") === "err")
      .agg(count(lit(1)), count(when(col("error_reason") === "corrupt_record", 1))).head()
    val (errSeen, errCorrupt) = (err.getLong(0), err.getLong(1))
    if (errSeen != model.errRows || errCorrupt != model.errRows) {
      failed += math.max(math.abs(errSeen - model.errRows), math.abs(errCorrupt - model.errRows))
      misses += s"$zone: error route holds $errSeen rows ($errCorrupt corrupt), " +
        s"expected ${model.errRows}"
    }
    (failed, okSeen.values.sum.toLong, errSeen)
  }

  /** Drain everything available in `storeDir` into `zone`; returns the
    * run id (its progress events name it; the query id is shared by every
    * run on the same checkpoint). */
  private def drain(ctx: Ctx, storeDir: String, zone: String, ckpt: String): java.util.UUID = {
    val q = CdcStream.pipelineTx(ShardCdcSource(storeDir).stream(ctx.spark), zone, ckpt,
      trigger = Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.runId
  }

  /** Latest state per key from the committed ok route. */
  def snapshotOf(lake: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ok = lake.filter(col("route") === "ok")
      .select(from_json(col("line"), okSchema).as("r")).select("r.*")
      .withColumn("ver", col("attrs").getItem("ver").cast(LongType))
    Cdc.snapshot(ok, Seq("id", "name"), Seq("ingestion_timestamp", "ver"))
      .select("id", "name", "attrs")
  }

  /** Micro-batches that carried data, one progress per batch id. */
  def batches(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0).groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  def phase(p: StreamingQueryProgress, name: String): Double =
    Option(p.durationMs.get(name)).map(_.doubleValue).getOrElse(0.0)

  def phaseMedian(ps: Seq[StreamingQueryProgress], name: String): Double =
    if (ps.isEmpty) 0.0 else Stats.median(ps.map(phase(_, name)))

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** Wall-clock time a batch's sink commit finished: trigger start plus
    * every phase up to and including addBatch. */
  private def commitMs(p: StreamingQueryProgress): Double =
    startMs(p) + phase(p, "triggerExecution") - phase(p, "commitOffsets")

  private def cursors(json: String): Map[String, Long] =
    "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  /** Due-to-commit latency of each put (NaN when no batch committed it). */
  def commitLatencies(puts: Seq[Put], ps: Seq[StreamingQueryProgress]): Seq[Double] = {
    val ends = ps.map(p => (cursors(p.sources.head.endOffset), commitMs(p)))
    puts.map { put =>
      ends.find(_._1.getOrElse(put.shard, 0L) >= put.seq)
        .map(_._2 - put.dueMs).getOrElse(Double.NaN)
    }
  }

  /** Spans of one micro-batch, rebuilt from its progress phases. */
  def batchSpans(tr: Tracer, p: StreamingQueryProgress, sinkName: String,
                 parent: Option[Long]): Unit = {
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val t0 = (startMs(p) * 1e6).toLong + offsetNs
    val batch = tr.record("stream.batch", t0, t0 + (phase(p, "triggerExecution") * 1e6).toLong,
      parent)
    var t = t0
    Seq("latestOffset" -> "stream.latest_offset", "walCommit" -> "stream.wal_commit",
      "getBatch" -> "stream.get_batch", "queryPlanning" -> "stream.planning",
      "addBatch" -> sinkName, "commitOffsets" -> "stream.commit_offsets").foreach {
      case (k, name) =>
        val d = (phase(p, k) * 1e6).toLong
        tr.record(name, t, t + d, Some(batch))
        t += d
    }
  }

  /** Scheduler and Catalyst counters of a traced window. */
  def sparkLayer(ctx: Ctx, l: TraceListeners, windowS: Double): ListMap[String, Double] = {
    val s = l.scheduler
    ListMap(
      "spark.jobs" -> s.jobs.get.toDouble, "spark.stages" -> s.stages.get.toDouble,
      "spark.tasks" -> s.tasks.get.toDouble, "spark.task_s" -> s.taskSeconds,
      "spark.util" -> s.taskSeconds / (windowS * ctx.cores),
      "spark.sched_delay_s" -> s.schedDelaySeconds,
      "spark.shuffle_bytes" -> s.shuffleBytes.get.toDouble,
      "spark.spill_bytes" -> s.spillBytes.get.toDouble, "spark.gc_s" -> s.gcSeconds,
      "catalyst.analysis_s" -> l.planning.seconds("analysis"),
      "catalyst.optimization_s" -> l.planning.seconds("optimization"),
      "catalyst.planning_s" -> l.planning.seconds("planning"))
  }

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }
}
