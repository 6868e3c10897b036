package perfbench

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Pipeline
import graft.operators.{AnnIndex, TxLog}

/** The composed streaming dedup lake (`Pipeline.StreamingLakePlan` with the
  * semantic tier) over the lake's `documents`, set up as `graft.Bench`'s
  * streamlake entry: a document stream, an embedding zone keyed by doc id
  * and one frozen ANN index. */
object StreamLake {

  final case class Inputs(docsDir: String, embZone: String, idxDir: String, docs: Long)

  def inputs(spark: SparkSession, documents: DataFrame, base: String): Inputs = {
    val embZone = s"$base/emb"
    TxLog.replace(spark, embZone, documents.select(col("doc_id"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(63)), d =>
          (pmod(xxhash64(col("doc_id") * 64 + d), lit(1000)).cast("double")
            / 1000.0 - 0.5).cast("float"))))
    val docsDir = s"$base/docs"
    documents.select(col("doc_id"), col("text"))
      .withColumn("ts", timestamp_seconds(col("doc_id")))
      .write.parquet(docsDir)
    val idxDir = s"$base/annindex"
    AnnIndex.build(spark, idxDir, embZone, idCol = "doc_id")
    Inputs(docsDir, embZone, idxDir, documents.count())
  }

  final case class Drain(hops: Seq[(String, Double)], redrainS: Double,
                         survivors: Set[Long], afterRedrain: Set[Long],
                         progress: Seq[StreamingQueryProgress],
                         redrainProgress: Seq[StreamingQueryProgress]) {
    def seconds: Double = hops.map(_._2).sum
  }

  /** Drain every document through both hops into a fresh lake, then run
    * the idle re-drain (the checkpoint-resume cost). */
  def drain(ctx: Ctx, tr: Tracer, in: Inputs, base: String): Drain = {
    val spark = ctx.spark
    val plan = Pipeline.plan(spark, Pipeline.StreamingLakeSpec(
      lakeDir = s"$base/lake", checkpointDir = s"$base/ckpt",
      minQuality = 0.05,
      semantic = Some(Pipeline.StreamingSemanticSpec(
        embZone = Some(in.embZone), threshold = 0.95, indexDir = Some(in.idxDir)))))
    def stream() =
      spark.readStream.schema("doc_id BIGINT, text STRING, ts TIMESTAMP").parquet(in.docsDir)
    ctx.drainListeners(); ctx.progress.events.clear()
    val (hops, prog) = tr.spanId("slake.drain") { id =>
      val hops = plan.runOnceTimed(stream())
      ctx.drainListeners()
      val prog = ctx.progress.events.asScala.toSeq.map(_.progress)
      if (tr.enabled) prog.foreach(p => CdcWorkload.batchSpans(tr, p, "slake.add_batch", Some(id)))
      (hops, prog)
    }
    ctx.progress.events.clear()
    val survivors = survivorsOf(spark, plan.corpusZone)
    val (_, redrainS) = Main.secondsOf(tr.span("slake.redrain")(plan.runOnce(stream())))
    ctx.drainListeners()
    val reProg = ctx.progress.events.asScala.toSeq.map(_.progress)
    Drain(hops, redrainS, survivors, survivorsOf(spark, plan.corpusZone), prog, reProg)
  }

  private def survivorsOf(spark: SparkSession, zone: String): Set[Long] =
    TxLog.read(spark, zone).select("doc_id").collect().map(_.getLong(0)).toSet

  /** Problems with one drain: survivors sharing a text (planted exact
    * duplicates must go), verdicts changed by the idle re-drain, ids that
    * are not documents. */
  def check(d: Drain, textOf: Map[Long, String]): Seq[String] = {
    val dupes = d.survivors.toSeq.groupBy(textOf.getOrElse(_, "")).values.filter(_.size > 1)
      .map(ids => s"corpus keeps ${ids.size} copies of one text (${ids.toSeq.sorted.mkString(",")})")
    val changed = (d.survivors diff d.afterRedrain) ++ (d.afterRedrain diff d.survivors)
    val unknown = d.survivors.filterNot(textOf.contains)
    dupes.toSeq ++
      (if (changed.nonEmpty) Seq(s"idle re-drain changed ${changed.size} verdicts") else Nil) ++
      (if (unknown.nonEmpty || d.survivors.isEmpty)
        Seq(s"corpus is empty or holds unknown ids ${unknown.take(5)}") else Nil)
  }

  /** Per-layer figures of the drains of one window. */
  def layer(drains: Seq[Drain]): ListMap[String, Double] = {
    val n = drains.size.toDouble
    val all = drains.flatMap(_.progress)
    val withData = all.filter(_.numInputRows > 0)
    val noData = (all.filter(_.numInputRows == 0) ++ drains.flatMap(_.redrainProgress))
      .map(CdcWorkload.phase(_, "triggerExecution"))
    val ops = all.flatMap(_.stateOperators.toSeq)
    ListMap(
      "slake.textual_s" -> Stats.median(drains.map(_.hops.head._2)),
      "slake.semantic_s" -> Stats.median(drains.map(_.hops.lift(1).map(_._2).getOrElse(0.0))),
      "slake.add_batch_ms" -> withData.map(CdcWorkload.phase(_, "addBatch")).sum / n,
      // rows held at the end of the drain: each hop's last batch
      "slake.state_rows" -> drains.last.progress.groupBy(_.runId).values
        .map(_.last.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "slake.state_updates" -> ops.map(_.numRowsUpdated).sum / n,
      "slake.state_commit_ms" -> ops.map(_.commitTimeMs).sum / n,
      "slake.nodata_batch_ms" -> (if (noData.isEmpty) 0.0 else Stats.median(noData)),
      "slake.survivors" -> drains.head.survivors.size.toDouble,
      "stream.batches" -> all.size / n,
      "stream.rows_per_batch" ->
        withData.map(_.numInputRows.toDouble).sum / math.max(1, withData.size),
      "stream.latest_offset_ms" -> CdcWorkload.phaseMedian(withData, "latestOffset"),
      "stream.get_batch_ms" -> CdcWorkload.phaseMedian(withData, "getBatch"),
      "stream.planning_ms" -> CdcWorkload.phaseMedian(withData, "queryPlanning"),
      "stream.wal_commit_ms" -> CdcWorkload.phaseMedian(withData, "walCommit"),
      "stream.commit_offsets_ms" -> CdcWorkload.phaseMedian(withData, "commitOffsets"))
  }
}
