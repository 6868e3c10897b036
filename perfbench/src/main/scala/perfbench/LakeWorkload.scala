package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Compaction

/** The lake mix: a declared query whose time sits in construction (eager
  * checkpoints and collects, q254), the banded near-duplicate join (q143),
  * the TxLog reads q156-q158, one small-file compaction of an
  * hour-partitioned CDC zone, and one drain plus idle re-drain of the
  * streaming dedup lake over the lake's documents.
  *
  *  - set-up: session, three generations of the lake tables (median
  *    reported), the dedup lake's inputs, and one warm pass over the whole
  *    mix at the timed scale. The warm pass also fingerprints every query
  *    result and the drain's corpus and checks them against
  *    `refs/lake.json` (DuckDB on `SparkEntry.oracleSql`, or this engine's
  *    own output where no oracle SQL exists);
  *  - measured: passes over the mix in a seeded order while the time
  *    budget lasts; each query is timed from its construction through a
  *    full materialization (Spark's noop write).
  *
  * Metrics: rate_per_s = entries per second of a pass; p50_ms = median
  * entry; p99_ms = the slowest entry (too few entries for a percentile
  * with ten samples beyond it); final_s = the median pass (the mix time). */
object LakeWorkload extends Workload {

  val Scale = 0.0025
  val SetupReps = 3
  val Queries: Seq[String] = Seq(
    "q254_robust_mad", "q143_neardup_lsh_banded",
    "q156_txlog_pruned_read", "q157_txlog_zorder_pruned", "q158_txlog_time_travel")
  val CompactionEntry = "compaction_cdc_zone"
  val DrainEntry = "streamlake_drain"
  val RedrainEntry = "streamlake_redrain"
  val Entries: Seq[String] = Queries ++ Seq(CompactionEntry, DrainEntry, RedrainEntry)

  final case class Ref(columns: Seq[String], rows: Long, hash: String)

  def loadRefs(file: java.io.File): Map[String, Ref] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file).get("results")
    val out = Map.newBuilder[String, Ref]
    root.fields().forEachRemaining { e =>
      val v = e.getValue
      val cols = (0 until v.get("columns").size).map(i => v.get("columns").get(i).asText)
      out += e.getKey -> Ref(cols, v.get("rows").asLong, v.get("hash").asText)
    }
    out.result()
  }

  /** A fresh A13-layout CDC zone (4 closed hours x 16 small gzip JSON
    * files from the events table), as `graft.Bench`'s compaction entry. */
  private def compactionZone(spark: SparkSession, dataDir: String, zone: String): Long = {
    graft.sources.Tables.events(spark, dataDir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      .withColumn("year", lit(2024)).withColumn("month", lit(1)).withColumn("day", lit(1))
      .withColumn("hour", pmod(col("user_id"), lit(4)).cast("int"))
      .repartition(16)
      .write.mode("append").partitionBy("year", "month", "day", "hour")
      .option("compression", "gzip").json(zone)
    CdcWorkload.dirBytes(zone)
  }

  private def compact(spark: SparkSession, zone: String): Seq[Compaction.Stats] =
    Compaction.compactClosedHours(spark, zone, beforeHour = (2025, 1, 1, 0)).map(_._2)

  final case class Timing(name: String, seconds: Double, constructS: Double,
                          planS: Double, error: Option[String])

  def run(ctx: Ctx, probes: Seq[Probe]): Seq[Outcome] = {
    val spark = ctx.spark
    val queries = SparkEntry.queries
    val off = new Tracer("setup", enabled = false)

    // ---- set-up -------------------------------------------------------
    val gens = (1 to SetupReps).map { i =>
      val dir = ctx.dir(s"data$i")
      Main.secondsOf(LakeData.write(spark, dir, Scale))._2 -> dir
    }
    val dataDir = gens.last._2
    val documents = graft.sources.Tables.documents(spark, dataDir)
    val textOf = documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val refs = ctx.opts.get("refs").map(d => new java.io.File(d, "lake.json"))
      .filter(_.isFile).map(loadRefs).getOrElse(Map.empty)
    val misses = scala.collection.mutable.ArrayBuffer.empty[String]
    val fingerprints = scala.collection.mutable.LinkedHashMap.empty[String, ResultHash.Fingerprint]
    def checkRef(name: String, fp: ResultHash.Fingerprint): Unit = {
      fingerprints(name) = fp
      refs.get(name) match {
        case Some(r) if r.columns == fp.columns && r.rows == fp.rows && r.hash == fp.hash => ()
        case Some(r) =>
          misses += s"$name: result ${fp.rows} rows ${fp.hash} [${fp.columns.mkString(",")}], " +
            s"expected ${r.rows} rows ${r.hash} [${r.columns.mkString(",")}]"
        case None if ctx.opts.contains("dump") => ()
        case None => misses += s"$name: no reference result"
      }
    }
    val (slakeInputs, slakeInputsS) =
      Main.secondsOf(StreamLake.inputs(spark, documents, ctx.dir("slake_inputs")))
    val (_, warmS) = Main.secondsOf {
      Queries.foreach { q =>
        try checkRef(q, ResultHash.of(queries(q)(spark, dataDir)))
        catch { case e: Throwable => misses += s"$q threw ${e.toString.take(300)}" }
      }
      val stats = compact(spark, { val z = ctx.dir("warm_compaction") + "/zone"
        compactionZone(spark, dataDir, z); z })
      if (stats.isEmpty || !stats.forall(_.rewritten))
        misses += s"$CompactionEntry did not rewrite: $stats"
      val d = StreamLake.drain(ctx, off, slakeInputs, ctx.dir("warm_drain"))
      misses ++= StreamLake.check(d, textOf)
      import spark.implicits._
      checkRef(DrainEntry, ResultHash.of(d.survivors.toSeq.toDF("doc_id")))
    }
    val setupS = ctx.sessionSeconds + Stats.median(gens.map(_._1)) + slakeInputsS + warmS
    val setupDetail = Json.obj("session_s" -> ctx.sessionSeconds,
      "generate_s" -> gens.map(_._1), "slake_inputs_s" -> slakeInputsS, "warm_pass_s" -> warmS)
    ctx.opts.get("dump").foreach(d => dump(d, dataDir, fingerprints.toMap))
    val setupMisses = misses.toList

    probes.zipWithIndex.map { case (probe, i) =>
      val o = measure(ctx, probe, s"m$i", dataDir, slakeInputs, textOf)
      // a set-up miss is a failed check of the first window's entries
      val extra = if (i == 0) setupMisses else Nil
      o.copy(failed = o.failed + extra.size, attempted = o.attempted + (if (i == 0) Entries.size else 0),
        misses = extra ++ o.misses, detail = ListMap("setup" -> setupDetail) ++ o.detail,
        endToEnd = o.endToEnd + ("setup_s" -> setupS))
    }
  }

  private def measure(ctx: Ctx, probe: Probe, tag: String, dataDir: String,
                      slakeInputs: StreamLake.Inputs, textOf: Map[Long, String]): Outcome = {
    val spark = ctx.spark
    val tr = probe.tracer
    val queries = SparkEntry.queries
    val rng = new scala.util.Random(ctx.seed)
    val misses = scala.collection.mutable.ArrayBuffer.empty[String]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Timing]]
    val compactions = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[Compaction.Stats], Long)]
    val drains = scala.collection.mutable.ArrayBuffer.empty[StreamLake.Drain]
    probe.listeners.foreach { l => ctx.drainListeners(); l.reset(); l.attach() }
    Main.resetHeapPeaks()
    val windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    while (passes.isEmpty || elapsed * (passes.size + 1) / passes.size <= ctx.seconds) {
      val p = passes.size
      passes += tr.span("lake.pass") {
        rng.shuffle(Entries.filter(_ != RedrainEntry)).flatMap {
          case CompactionEntry =>
            // the zone is built outside the entry's timed section
            val z = ctx.dir(s"$tag/compaction$p") + "/zone"
            val bytes = compactionZone(spark, dataDir, z)
            val (stats, s) = Main.secondsOf(tr.span("compaction.closed_hours")(compact(spark, z)))
            compactions += ((s, stats, bytes))
            Seq(Timing(CompactionEntry, s, 0.0, 0.0,
              if (stats.nonEmpty && stats.forall(_.rewritten)) None
              else Some(s"did not rewrite: $stats")))
          case DrainEntry =>
            val d = StreamLake.drain(ctx, tr, slakeInputs, ctx.dir(s"$tag/drain$p"))
            drains += d
            val problems = StreamLake.check(d, textOf) ++
              (if (d.survivors != drains.head.survivors)
                Seq("a drain kept a different corpus than the first") else Nil)
            Seq(Timing(DrainEntry, d.seconds, 0.0, 0.0, problems.headOption),
              Timing(RedrainEntry, d.redrainS, 0.0, 0.0, None))
          case q => Seq(timeQuery(ctx, probe, q, queries(q), dataDir))
        }
      }
    }
    val windowS = elapsed
    val heapMb = Main.heapPeakMb
    ctx.drainListeners()
    val sparkCounters = probe.listeners.map { l =>
      l.detach()
      CdcWorkload.sparkLayer(ctx, l, windowS)
        .map { case (k, v) if k != "spark.util" => k -> v / passes.size; case kv => kv }
    }
    passes.flatten.foreach(t => t.error.foreach(e => misses += s"${t.name} failed in a timed pass: $e"))

    // ---- metrics ------------------------------------------------------
    val perPass = passes.size.toDouble
    val times = passes.flatten.filter(_.error.isEmpty).map(_.seconds * 1e3).toSeq
    val passS = passes.map(_.map(_.seconds).sum).toSeq
    val queryOnly = passes.flatten.filter(t => Queries.contains(t.name) && t.error.isEmpty)
    val perLayer = ListMap(
      "query.construct_s" -> queryOnly.map(_.constructS).sum / perPass,
      "query.plan_s" -> queryOnly.map(_.planS).sum / perPass,
      "query.exec_s" -> queryOnly.map(t => t.seconds - t.constructS - t.planS).sum / perPass,
      "compaction.s" -> Stats.median(compactions.map(_._1).toSeq),
      "compaction.files_in" -> compactions.last._2.map(_.filesBefore).sum.toDouble,
      "compaction.files_out" -> compactions.last._2.map(_.filesAfter).sum.toDouble,
      "compaction.rewrite_ratio" ->
        compactions.last._2.map(_.bytesBefore).sum.toDouble / math.max(1L, compactions.last._3),
      "txlog.bytes_written" -> CdcWorkload.dirBytes(ctx.dir(s"$tag/drain0") + "/lake").toDouble,
      "heap_peak_mb" -> heapMb) ++
      StreamLake.layer(drains.toSeq) ++ sparkCounters.getOrElse(ListMap.empty)

    Outcome(
      endToEnd = Map(
        "setup_s" -> Double.NaN, // filled in by run
        "rate_per_s" -> Entries.size / Stats.median(passS),
        "p50_ms" -> Stats.median(times),
        "p99_ms" -> Stats.median(passes.map(_.map(_.seconds).max * 1e3).toSeq),
        "final_s" -> Stats.median(passS)),
      perLayer = perLayer,
      attempted = passes.map(_.size.toLong).sum, failed = passes.flatten.count(_.error.nonEmpty),
      misses = misses.toSeq,
      detail = ListMap(
        "scale" -> Scale, "passes" -> passes.size, "pass_s" -> passS,
        "docs" -> slakeInputs.docs, "survivors" -> drains.head.survivors.size,
        "entries" -> ListMap(Entries.map { e =>
          val ts = passes.flatten.filter(_.name == e).toSeq
          e -> Json.obj("median_s" -> Stats.median(ts.map(_.seconds)),
            "construct_s" -> Stats.median(ts.map(_.constructS)),
            "plan_s" -> Stats.median(ts.map(_.planS)))
        }: _*)))
  }

  /** One query: construction (the query function, including any eager
    * jobs it runs), then a full materialization through the noop sink.
    * Traced, the Catalyst phases of the materialization (from the
    * QueryExecutionListener) are split out of it. */
  private def timeQuery(ctx: Ctx, probe: Probe, name: String,
                        fn: (SparkSession, String) => DataFrame, dataDir: String): Timing = {
    val tr = probe.tracer
    def planningTotal: Double =
      probe.listeners.map { l => ctx.drainListeners(); l.planning.total }.getOrElse(0.0)
    try tr.span("query.entry") {
      val t0 = System.nanoTime()
      val df = tr.span("query.construct")(fn(ctx.spark, dataDir))
      val t1 = System.nanoTime()
      val before = planningTotal
      val t2 = System.nanoTime()
      tr.span("query.materialize")(df.write.format("noop").mode("overwrite").save())
      val t3 = System.nanoTime()
      val planS = planningTotal - before
      Timing(name, (t1 - t0 + t3 - t2) / 1e9, (t1 - t0) / 1e9, planS, None)
    } catch { case e: Throwable =>
      Timing(name, 0.0, 0.0, 0.0, Some(e.toString.take(300)))
    }
  }

  /** Reference material for `tools/make_refs.py`: the generated tables,
    * this engine's fingerprints and the oracle SQL of every query. */
  private def dump(dir: String, dataDir: String,
                   fps: Map[String, ResultHash.Fingerprint]): Unit = {
    val oracle = SparkEntry.oracleSql
    val body = Json(Json.obj(
      "scale" -> Scale,
      "results" -> ListMap((Queries :+ DrainEntry).map { q =>
        q -> Json.obj("oracle_sql" -> oracle.get(q),
          "spark" -> fps.get(q).map(fp => Json.obj("columns" -> fp.columns,
            "rows" -> fp.rows, "hash" -> fp.hash)))
      }: _*)))
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "dump.json"), body.getBytes("UTF-8"))
    LakeData.Tables.foreach { t =>
      val dst = new java.io.File(dir, s"$t.parquet")
      Option(dst.listFiles()).foreach(_.foreach(_.delete()))
      dst.mkdirs()
      new java.io.File(dataDir, s"$t.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.copy(f.toPath, new java.io.File(dst, f.getName).toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
    }
  }
}
