package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog
import graft.sources.ShardStore
import graft.streaming.CdcStream

/** The generator's model against the engine's own snapshot: a short
  * sequence with REMOVEs, duplicate deliveries and malformed lines, routed
  * through a 3-shard store and committed shard by shard (so the commit
  * order interleaves keys across shards and keeps order only per shard),
  * must read back as exactly the model's latest state. */
class CdcModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder(master = "local[2]", shufflePartitions = 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the model agrees with Cdc.snapshot over a committed TxLog zone") {
    import spark.implicits._
    val envs = CdcGen.generate(11L, 400,
      CdcGen.Params(keys = 12, removeShare = 0.3, dupShare = 0.15, badShare = 0.05))
    assert(envs.exists(_.ident.exists(_.event == "REMOVE")))
    assert(envs.exists(_.kind == CdcGen.Duplicate) && envs.exists(_.kind == CdcGen.Malformed))

    val base = java.nio.file.Files.createTempDirectory("cdcmodel").toString
    val store = new ShardStore(s"$base/store")
    store.createStream(3)
    envs.foreach(e => store.put(e.partitionKey, e.line))
    val zone = s"$base/zone"
    // one batch per shard, shards in reverse order: cross-shard order is
    // not delivery order, per-shard order is
    store.shards().map(_.id).reverse.zipWithIndex.foreach { case (shard, batchId) =>
      val lines = store.get(shard, 0L).map(_._2).toDF("value")
      CdcStream.commitBatchTx(zone)(graft.operators.Cdc.parse(lines, "value"), batchId.toLong)
    }

    val m = CdcGen.model(envs)
    val got = CdcWorkload.snapshotOf(TxLog.read(spark, zone)).collect().map { r =>
      (r.getString(0), r.getString(1)) -> r.getMap[String, String](2).toMap
    }.toMap
    assert(got == m.snapshot)
    val lake = TxLog.read(spark, zone)
    assert(lake.filter($"route" === "ok").count() == m.okEvents.values.sum)
    assert(lake.filter($"route" === "err").count() == m.errRows)
  }
}
