package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CdcGenSpec extends AnyFunSuite {

  test("the same seed gives the same envelopes, another seed different ones") {
    val a = CdcGen.generate(7L, 2000)
    assert(a == CdcGen.generate(7L, 2000))
    assert(a.map(_.line) != CdcGen.generate(8L, 2000).map(_.line))
    // a longer run starts with the shorter run's envelopes
    assert(CdcGen.generate(7L, 2500).take(2000) == a)
  }

  test("the stream mixes fresh, duplicate and malformed deliveries") {
    val envs = CdcGen.generate(3L, 5000)
    val kinds = envs.groupBy(_.kind).map { case (k, v) => k -> v.size }
    assert(kinds(CdcGen.Malformed) > 50 && kinds(CdcGen.Duplicate) > 50)
    val events = envs.filter(_.kind == CdcGen.Fresh).flatMap(_.ident).map(_.event).toSet
    assert(events == Set("INSERT", "MODIFY", "REMOVE"))
    // duplicates repeat an earlier envelope byte for byte
    val seen = scala.collection.mutable.HashSet.empty[String]
    envs.foreach { e =>
      if (e.kind == CdcGen.Duplicate) assert(seen.contains(e.line))
      seen += e.line
    }
  }

  test("the model counts every delivery and drops removed keys") {
    val envs = CdcGen.generate(5L, 3000, CdcGen.Params(keys = 20, removeShare = 0.3))
    val m = CdcGen.model(envs)
    assert(m.okEvents.values.sum == envs.count(_.kind != CdcGen.Malformed))
    assert(m.errRows == envs.count(_.kind == CdcGen.Malformed))
    val lastByKey = envs.filter(_.kind == CdcGen.Fresh).flatMap(_.ident)
      .groupBy(i => (i.id, i.name)).map { case (k, v) => k -> v.last.event }
    assert(m.snapshot.keySet == lastByKey.filter(_._2 != "REMOVE").keySet)
  }
}
