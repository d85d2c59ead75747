package perfbench

import java.time.{LocalDate, ZoneOffset}

/** Seeded message generator in `GateTransformer`'s payload format, and
  * the record of what each message must become.
  *
  * The traffic mix follows the ingest gate's input protocol
  * (`graft.queries.IngestGate.envelopes`): a message's status is drawn
  * with the `o_orderstatus` shares of the testdata `orders` table, and
  * one message in 1000 is sent corrupt. At sf0.1 that table holds
  * 49 710 `F`, 50 101 `O` and 50 189 `P` orders of 150 000, so each
  * status gets a third. `F` orders emit two sink records, `P` orders are
  * dropped (still acked), `O` orders emit one record, and poison payloads
  * do not parse and go to the dead-letter output. A message's event time
  * is an epoch hour; the sink must file its records under that hour.
  */
object Messages {
  val Order: Byte = 0
  val Filled: Byte = 1
  val Dropped: Byte = 2
  val Poison: Byte = 3

  /** One message in this many is poison, as in the ingest gate. */
  val PoisonEvery = 1000

  /** Draws the kind of message `index`. `poisonAt` (in [0, PoisonEvery))
    * places the poison messages, so the seed moves them too. */
  def kindOf(index: Int, poisonAt: Int, rng: java.util.Random): Byte =
    if (index % PoisonEvery == poisonAt) Poison
    else rng.nextInt(3) match {
      case 0 => Filled
      case 1 => Dropped
      case _ => Order
    }

  /** Sink records a message of `kind` must produce. */
  def sinkRows(kind: Byte): Int = kind match {
    case Order => 1
    case Filled => 2
    case _ => 0
  }

  def payload(id: Int, kind: Byte, epochHour: Long, rng: java.util.Random): String = {
    val value = rng.nextInt(10000000) / 100.0
    if (kind == Poison) s"""{"id": $id, "name": "n$id", "value": $value, "date": broken}"""
    else {
      val date = LocalDate.ofEpochDay(Math.floorDiv(epochHour, 24L))
      val hh = Math.floorMod(epochHour, 24L)
      val status = kind match { case Filled => "F"; case Dropped => "P"; case _ => "O" }
      s"""{"id": $id, "name": "n$id", "value": $value, "date": "$date", "hh": $hh, "status": "$status"}"""
    }
  }

  /** `yyyyMMddHH` of an epoch hour, the sink's y/m/d/h directory key. */
  def hourKey(epochHour: Long): Long = {
    val t = java.time.Instant.ofEpochSecond(epochHour * 3600L).atOffset(ZoneOffset.UTC)
    ((t.getYear * 100L + t.getMonthValue) * 100L + t.getDayOfMonth) * 100L + t.getHour
  }
}

/** What the generator sent: per message index, its kind and event hour. */
final class Sent(capacity: Int) {
  val kind = new Array[Byte](capacity)
  val hour = new Array[Long](capacity)
  var n = 0

  def add(k: Byte, h: Long): Unit = {
    kind(n) = k; hour(n) = h; n += 1
  }

  def count(k: Byte): Int = (0 until n).count(i => kind(i) == k)
}
