package perfbench

import java.util.SplittableRandom

/** Seeded generator of DynamoDB stream envelopes (the FIXTURES.md §2 wire
  * shape) plus the in-memory model of what the lake must end up holding.
  *
  * Keys are (id, name) pairs drawn Zipf-skewed from `keys` items; the
  * partition key is `id`, so one item always rides one shard. Each
  * delivery is one of:
  *  - a NEW event on a key: INSERT when the key is absent, otherwise
  *    MODIFY or (with `removeShare`) REMOVE;
  *  - a DUPLICATE delivery of one of the last few valid envelopes
  *    (at-least-once transport), byte-identical to the original;
  *  - a MALFORMED line (truncated JSON) that must land in the error route.
  *
  * `ApproximateCreationDateTime` is a logical clock (base + event number
  * ms), never the wall clock, so the same seed gives byte-identical
  * envelopes and a deterministic lake. */
object CdcGen {

  sealed trait Kind
  case object Fresh extends Kind
  case object Duplicate extends Kind
  case object Malformed extends Kind

  /** One delivery. `ident` names the event a valid envelope carries (a
    * duplicate shares its original's ident); malformed lines have none.
    * `attrs` is the image the event carries, flattened to attr -> value. */
  final case class Envelope(partitionKey: String, line: String, kind: Kind,
                            ident: Option[Ident],
                            attrs: Map[String, String] = Map.empty)

  /** What the ok route records for an event: the table key, the event
    * name and the ingestion clock in epoch microseconds. */
  final case class Ident(id: String, name: String, event: String, tsMicros: Long)

  final case class Params(keys: Int = 400, zipfS: Double = 1.1,
                          removeShare: Double = 0.1, dupShare: Double = 0.03,
                          badShare: Double = 0.02,
                          baseEpochSeconds: Long = 1700000000L)

  private val designations = Vector("Architect", "Sr. Architect",
    "Developer Advocate", "Engineer", "Manager", "Analyst", "Director")

  def generate(seed: Long, n: Int, p: Params = Params()): Vector[Envelope] = {
    val rng = new SplittableRandom(seed)
    val cdf = zipfCdf(p.keys, p.zipfS)
    // live image per key (absent = never inserted or removed)
    val live = scala.collection.mutable.HashMap.empty[Int, Map[String, (String, String)]]
    val recent = scala.collection.mutable.ArrayBuffer.empty[Envelope]
    val out = Vector.newBuilder[Envelope]
    var eventNo = 0L
    var i = 0
    while (i < n) {
      val r = rng.nextDouble()
      if (r < p.badShare) {
        val k = pickKey(rng, cdf)
        val pk = s"u$k"
        out += Envelope(pk,
          s"""{"eventName":"INSERT","dynamodb":{"Keys":{"id":{"S":"$pk"""", Malformed, None)
      } else if (r < p.badShare + p.dupShare && recent.nonEmpty) {
        val orig = recent(rng.nextInt(recent.size))
        out += orig.copy(kind = Duplicate)
      } else {
        val k = pickKey(rng, cdf)
        val (id, name) = (s"u$k", s"n${k % 7}")
        eventNo += 1
        val ts = p.baseEpochSeconds * 1000L + eventNo // logical ms clock
        val old = live.get(k)
        val event =
          if (old.isEmpty) "INSERT"
          else if (rng.nextDouble() < p.removeShare) "REMOVE"
          else "MODIFY"
        val image = Map(
          "id" -> ("S", id), "name" -> ("S", name),
          "ver" -> ("N", eventNo.toString),
          "Designation" -> ("S", designations(rng.nextInt(designations.size))),
          "score" -> ("N", rng.nextInt(1000).toString))
        val keysJson = s"""{"id":{"S":"$id"},"name":{"S":"$name"}}"""
        val images = event match {
          case "INSERT" => s""","NewImage":${imageJson(image)}"""
          case "MODIFY" =>
            s""","NewImage":${imageJson(image)},"OldImage":${imageJson(old.get)}"""
          case _ => s""","OldImage":${imageJson(old.get)}"""
        }
        val acdt = BigDecimal(ts) / 1000
        val line = s"""{"eventName":"$event","dynamodb":{"ApproximateCreationDateTime":""" +
          s"""${acdt.bigDecimal.toPlainString},"Keys":$keysJson$images}}"""
        val carried = if (event == "REMOVE") old.get else image
        if (event == "REMOVE") live.remove(k) else live(k) = image
        val env = Envelope(id, line, Fresh, Some(Ident(id, name, event, ts * 1000L)),
          carried.map { case (a, (_, v)) => a -> v })
        out += env
        recent += env
        if (recent.size > 32) recent.remove(0)
      }
      i += 1
    }
    out.result()
  }

  private def imageJson(img: Map[String, (String, String)]): String =
    img.toSeq.sortBy(_._1).map { case (a, (tag, v)) =>
      s""""$a":{"$tag":"$v"}"""
    }.mkString("{", ",", "}")

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def pickKey(rng: SplittableRandom, cdf: Array[Double]): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** What the lake must hold after every envelope in `delivered` has been
    * committed: the multiset of ok-route events, the error-route count,
    * and the latest-state snapshot (key -> flattened attributes). */
  final case class Model(okEvents: Map[Ident, Int], errRows: Long,
                         snapshot: Map[(String, String), Map[String, String]])

  def model(delivered: Seq[Envelope]): Model = {
    val ok = delivered.flatMap(_.ident).groupBy(identity).map { case (k, v) => k -> v.size }
    val err = delivered.count(_.kind == Malformed).toLong
    // last writer by logical time; duplicates repeat an event, so the
    // latest distinct event per key decides, and REMOVE deletes the key
    val latest = delivered.filter(_.kind == Fresh).flatMap(e => e.ident.map(_ -> e))
      .groupBy { case (id, _) => (id.id, id.name) }
      .map { case (k, evs) => k -> evs.maxBy(_._1.tsMicros) }
    val snap = latest.collect { case (k, (id, env)) if id.event != "REMOVE" =>
      k -> env.attrs
    }
    Model(ok, err, snap)
  }
}
