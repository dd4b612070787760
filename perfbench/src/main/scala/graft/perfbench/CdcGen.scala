package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory

/** One change on `pg.public.users`: a Confluent-framed Avro key, and an
  * after-image value framed the same way (null value = tombstone). */
final case class UserChange(seq: Int, id: Int, key: Array[Byte],
    value: Array[Byte], username: String, email: String,
    createdAt: Option[Long], phone: Option[String])

final case class EventRow(seq: Int, userId: Long, eventType: String,
    tsMicros: Long)

/** kind: "new", "copy" (near-copy of an earlier document) or "redelivery"
  * (an earlier document delivered again, same id and text) */
final case class DocRow(seq: Int, docId: Long, text: String, source: String,
    kind: String)

/** Seeded generator for the `cdc_stream` workload. It shares no code with
  * the engine: values are encoded with the Avro library directly, and the
  * expected outputs are computed here from the generated changes alone.
  *
  * Every feed has `warm` leading events (landed during set-up) followed by
  * the window's events, due at evenly spaced instants of a fixed-rate
  * open-loop schedule. The users feed ends with `Bursts` backlogs of
  * `BurstUsers` changes each, offered at once after the window to measure
  * landing capacity; the first of them warms the large-batch path up. */
final class CdcGen(seed: Long, seconds: Double, val usersRate: Double,
    val eventsRate: Double, val docsRate: Double) {
  import CdcGen._

  private val rng = new scala.util.Random(seed)

  /** due offsets (s from window start) of one feed's window events */
  private def schedule(rate: Double): Array[Double] =
    Array.tabulate(math.floor(seconds * rate).toInt)(_ / rate)

  val usersDue: Array[Double] = schedule(usersRate)
  val eventsDue: Array[Double] = schedule(eventsRate)
  val docsDue: Array[Double] = schedule(docsRate)

  // ---- users: skewed keys, ~3% tombstones, one schema widening ----
  private val keyCdf = zipfCdf(UserKeys, 1.1)
  private def skewed(cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    (if (i >= 0) i else -i - 1).min(cdf.length - 1)
  }

  /** window seq at which writers switch to the widened schema */
  val widenAt: Int = WarmUsers + usersDue.length / 2

  /** seq of the first backlog change, after the window's changes */
  val burstFrom: Int = WarmUsers + usersDue.length

  val users: Array[UserChange] =
    Array.tabulate(burstFrom + Bursts * BurstUsers) { seq =>
      val id = skewed(keyCdf) + 1
      val key = frame(KeySchemaId, encode(keySchema) { r => r.put("id", id) })
      if (rng.nextDouble() < 0.03)
        UserChange(seq, id, key, null, null, null, None, None)
      else {
        val username = s"user${id}_$seq"
        val email = s"user${id}_$seq@example.com"
        val createdAt =
          if (rng.nextDouble() < 0.05) None
          else Some(1700000000000000L + rng.nextInt(1000000000).toLong * 1000L)
        val widened = seq >= widenAt
        val phone =
          if (widened && rng.nextDouble() < 0.7) Some(f"+1555${rng.nextInt(10000000)}%07d")
          else None
        val schema = if (widened) valueSchemaV2 else valueSchemaV1
        val value = frame(if (widened) 2 else 1, encode(schema) { r =>
          r.put("id", id); r.put("username", username); r.put("email", email)
          r.put("created_at", createdAt.map(Long.box).orNull)
          if (widened) r.put("phone", phone.orNull)
        })
        UserChange(seq, id, key, value, username, email, createdAt, phone)
      }
    }

  // ---- events for the survival twin ----
  private val userCdf = zipfCdf(EventUsers, 0.8)
  val events: Array[EventRow] =
    Array.tabulate(WarmEvents + eventsDue.length) { seq =>
      val u = rng.nextDouble()
      val tpe =
        if (u < 0.08) "signup" else if (u < 0.2) "purchase"
        else if (u < 0.6) "view" else if (u < 0.95) "click" else "error"
      EventRow(seq, skewed(userCdf).toLong, tpe,
        1704067200000000L + seq * 1000L + rng.nextInt(1000))
    }

  // ---- documents for the KL and near-dup twins ----
  val docs: Array[DocRow] = {
    val out = mutable.ArrayBuffer.empty[DocRow]
    val originals = mutable.ArrayBuffer.empty[DocRow]
    (0 until WarmDocs + docsDue.length).foreach { seq =>
      val u = rng.nextDouble()
      val d =
        if (originals.size > 4 && u < 0.08) {
          val o = out(rng.nextInt(out.size))
          DocRow(seq, o.docId, o.text, o.source, "redelivery")
        } else if (originals.size > 4 && u < 0.2) {
          val o = originals(rng.nextInt(originals.size))
          val w = o.text.split(" ")
          w(w.length / 2 + rng.nextInt(w.length / 2)) = word()
          DocRow(seq, 1000000L + seq, w.mkString(" "), s"src${rng.nextInt(10)}", "copy")
        } else {
          val n = 30 + rng.nextInt(50)
          DocRow(seq, 1000000L + seq, Seq.fill(n)(word()).mkString(" "),
            s"src${rng.nextInt(10)}", "new")
        }
      if (d.kind == "new") originals += d
      out += d
    }
    out.toArray
  }

  private def word(): String = Vocab(rng.nextInt(Vocab.length))

  /** sha-256 over every generated byte and field, in feed order */
  def digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    def s(x: String): Unit = md.update((if (x == null) "\u0000" else x).getBytes("UTF-8"))
    users.foreach { c =>
      md.update(c.key); if (c.value != null) md.update(c.value) else s(null)
    }
    events.foreach(e => s(s"${e.userId}|${e.eventType}|${e.tsMicros}"))
    docs.foreach(d => s(s"${d.docId}|${d.source}|${d.text}"))
    usersDue.foreach(x => s(x.toString))
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---- expected outputs, from the generated changes only ----

  /** latest after-image per key, tombstoned keys absent:
    * id -> (username, email, created_at, phone, version = offset) */
  def landedTruth: Map[Int, (String, String, Option[Long], Option[String], Long)] = {
    val m = mutable.HashMap.empty[Int, (String, String, Option[Long], Option[String], Long)]
    users.foreach { c =>
      if (c.value == null) m.remove(c.id)
      else m(c.id) = (c.username, c.email, c.createdAt, c.phone, c.seq.toLong)
    }
    m.toMap
  }

  /** user -> (first signup µs, first purchase µs, last event µs), with
    * Long.MaxValue / Long.MinValue for "none" */
  def survivalTruth: Map[Long, (Long, Long, Long)] =
    events.groupBy(_.userId).map { case (u, es) =>
      def first(t: String) = es.filter(_.eventType == t).map(_.tsMicros)
        .minOption.getOrElse(Long.MaxValue)
      u -> ((first("signup"), first("purchase"), es.map(_.tsMicros).max))
    }

  private def distinctDocs: Seq[DocRow] = docs.filter(_.kind != "redelivery").toSeq

  /** (source, word) -> token count over distinct documents */
  def klTruth: Map[(String, String), Long] = {
    val m = mutable.HashMap.empty[(String, String), Long]
    distinctDocs.foreach(d => d.text.split(" ", -1).foreach { w =>
      m((d.source, w)) = m.getOrElse((d.source, w), 0L) + 1L
    })
    m.toMap
  }

  /** (a, b) -> Jaccard of distinct word 3-shingle sets, a < b, >= 0.5 */
  def nearDupTruth: Map[(Long, Long), Double] = {
    val sets = distinctDocs.map { d =>
      val w = d.text.split(" ")
      d.docId -> (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val byShingle = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    sets.indices.foreach(i => sets(i)._2.foreach(sh =>
      byShingle.getOrElseUpdate(sh, mutable.ArrayBuffer.empty) += i))
    val cands = byShingle.valuesIterator
      .flatMap(ix => for (a <- ix; b <- ix if a < b) yield (a, b)).toSet
    cands.iterator.flatMap { case (i, j) =>
      val (a, sa) = sets(i)
      val (b, sb) = sets(j)
      val inter = (sa intersect sb).size
      val sim = inter.toDouble / (sa.size + sb.size - inter)
      if (sim >= 0.5) Some((math.min(a, b), math.max(a, b)) -> sim) else None
    }.toMap
  }
}

object CdcGen {
  val Topic = "pg.public.users"
  val KeySchemaId = 100
  val WarmUsers = 60
  val WarmEvents = 60
  val WarmDocs = 12
  val Bursts = 3
  val BurstUsers = 20000
  val UserKeys = 2000
  val EventUsers = 400

  val Vocab: Array[String] = {
    val syl = Array("ka", "to", "mi", "re", "su", "no", "ha", "li", "po", "de",
      "an", "ve", "ro", "gi", "tu", "el", "ba", "si", "mo", "ne")
    (for (a <- syl; b <- syl) yield a + b).take(400)
  }

  val keySchemaJson: String =
    """{"type":"record","name":"Key","namespace":"pg.public.users",
      |"fields":[{"name":"id","type":"int"}]}""".stripMargin
  val valueSchemaV1Json: String =
    """{"type":"record","name":"Value","namespace":"pg.public.users","fields":[
      |{"name":"id","type":"int"},
      |{"name":"username","type":"string"},
      |{"name":"email","type":"string"},
      |{"name":"created_at","type":[{"type":"long","connect.name":"io.debezium.time.MicroTimestamp"},"null"],"default":0}]}""".stripMargin
  val valueSchemaV2Json: String =
    """{"type":"record","name":"Value","namespace":"pg.public.users","fields":[
      |{"name":"id","type":"int"},
      |{"name":"username","type":"string"},
      |{"name":"email","type":"string"},
      |{"name":"created_at","type":[{"type":"long","connect.name":"io.debezium.time.MicroTimestamp"},"null"],"default":0},
      |{"name":"phone","type":["null","string"],"default":null}]}""".stripMargin

  private lazy val keySchema = new Schema.Parser().parse(keySchemaJson)
  private lazy val valueSchemaV1 = new Schema.Parser().parse(valueSchemaV1Json)
  private lazy val valueSchemaV2 = new Schema.Parser().parse(valueSchemaV2Json)

  private def encode(schema: Schema)(fill: GenericRecord => Unit): Array[Byte] = {
    val rec: GenericRecord = new GenericData.Record(schema)
    fill(rec)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get.binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** Confluent wire format: magic byte 0, 4-byte big-endian schema id */
  private def frame(schemaId: Int, body: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(5 + body.length).put(0.toByte).putInt(schemaId)
      .put(body).array()

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
}
