package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import graft.cdc.{ChangeEventRow, Ns, ResumeToken, UpdateDescription}

/** The seeded change-event generator of the streaming workload and the
  * self-test.
  *
  * A single thread walks the stream in order, so the same seed always
  * gives the same events. Each event touches one of `keys` documents,
  * drawn uniformly; a document's first data event is an insert and later
  * ones are update, replace or delete, so `before` always holds the
  * document's previous image. The key fixes the namespace (16 of them:
  * 4 databases × 4 collections), so all events of a document go to one
  * topic. A share of events are non-data ops (drop, dropDatabase,
  * invalidate) that the op-type filter drops but the source still
  * admits.
  *
  * Documents carry a version, an integer amount and a padded name, a few
  * hundred bytes of legacy extended JSON in all.
  */
final class Gen(seed: Long, keys: Int) {
  import Gen._

  private val rng = new SplittableRandom(seed)
  // live documents: key -> current image
  private val live = mutable.HashMap.empty[Int, String]
  private var seq = 0L

  def next(): ChangeEventRow = {
    val i = seq
    seq += 1
    val ts = new Timestamp(BaseMillis + i)
    val token = ResumeToken(f"82$seed%08X$i%016X")
    if (rng.nextInt(1000) < NonDataPerMille) {
      val k = rng.nextInt(keys)
      rng.nextInt(3) match {
        case 0 => ChangeEventRow(token, "drop", ts, ts, ns(k), None, None,
          None, None)
        case 1 => ChangeEventRow(token, "dropDatabase", ts, ts,
          Ns(ns(k).db, null), None, None, None, None)
        case _ => ChangeEventRow(token, "invalidate", ts, ts, null, None,
          None, None, None)
      }
    } else {
      val k = rng.nextInt(keys)
      val prev = live.get(k)
      val roll = rng.nextInt(100)
      val op =
        if (prev.isEmpty) "insert"
        else if (roll < 55) "update"
        else if (roll < 80) "replace"
        else "delete"
      val after = if (op == "delete") None else Some(doc(k, i))
      after match {
        case Some(d) => live.update(k, d)
        case None => live.remove(k)
      }
      val upd = if (op != "update") None else {
        val removed =
          if (rng.nextInt(4) == 0) Seq("tags") else Seq.empty[String]
        Some(UpdateDescription(
          s"""{"v": $i, "cents": ${centsOf(after.get)}}""", removed, Seq.empty))
      }
      ChangeEventRow(token, op, ts, ts, ns(k), Some(docKey(k)), after, prev,
        upd)
    }
  }

  def take(n: Int): IndexedSeq[ChangeEventRow] =
    IndexedSeq.fill(n)(next())

  private def doc(k: Int, v: Long): String = {
    val cents = rng.nextInt(1000000)
    val name = new String(Array.fill(40 + rng.nextInt(40))(
      Alphabet.charAt(rng.nextInt(Alphabet.length))))
    val pad = new String(Array.fill(120 + rng.nextInt(120))(
      Alphabet.charAt(rng.nextInt(Alphabet.length))))
    s"""{"_id": {"$$oid": "${oid(k)}"}, "v": $v, "cents": $cents, """ +
      s""""name": "$name", "tags": ["t${k % 7}", "t${v % 5}"], "pad": "$pad"}"""
  }
}

object Gen {
  /** Non-data ops per thousand events. */
  val NonDataPerMille = 40
  val Namespaces = 16
  private val BaseMillis = 1720890531000L
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  def oid(k: Int): String = f"$k%024x"
  def docKey(k: Int): String = s"""{"_id": {"$$oid": "${oid(k)}"}}"""
  def ns(k: Int): Ns = Ns(s"db${k % 4}", s"coll${(k / 4) % 4}")

  /** The key back from a rendered documentKey (the hex after `$oid`). */
  def keyOf(docKey: String): Long =
    java.lang.Long.parseLong(docKey.substring(18, 42), 16)

  private val CentsField = """"cents": (\d+)""".r.unanchored
  def centsOf(doc: String): Long = doc match {
    case CentsField(c) => c.toLong
    case _ => 0L
  }
}
