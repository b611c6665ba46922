package perfbench

import scala.collection.mutable

import graft.cdc.ChangeEventRow

/** What the program should output, computed apart from it.
  *
  * Nothing here calls `EnvelopeTransform` or `StreamingSnapshot`: the
  * envelope is plain string formatting of the reference's
  * `{"before": …, "updateDescription": {…}, "after": …, "op": …}`
  * (`producing/change_event_handler.py:100-113`, json_util's `", "` and
  * `": "` separators), the topic is `{prefix}.{db}.{coll}`, and the
  * snapshot is a last-writer-wins fold per key.
  */
object Expected {

  val DataOps = Set("insert", "update", "replace", "delete")

  /** One Kafka message: topic, key, value. */
  type Msg = (String, String, String)

  def topic(prefix: String, db: String, coll: String): String =
    (Option(prefix).filter(_.nonEmpty).toSeq ++ Seq(db, coll)).mkString(".")

  def opCode(operationType: String): String = operationType match {
    case "insert" => "c"
    case "update" | "replace" => "u"
    case "delete" => "d"
  }

  def envelope(e: ChangeEventRow): String = {
    val parts = Seq.newBuilder[String]
    e.fullDocumentBeforeChange.foreach(d => parts += s""""before": $d""")
    e.updateDescription.foreach { u =>
      if (u.raw != null) parts += s""""updateDescription": ${u.raw}"""
      else {
        val sub = Seq.newBuilder[String]
        if (u.removedFields != null)
          sub += u.removedFields.map(f => "\"" + f + "\"")
            .mkString("\"removedFields\": [", ", ", "]")
        if (u.truncatedArrays != null)
          sub += u.truncatedArrays.mkString("\"truncatedArrays\": [", ", ", "]")
        if (u.updatedFields != null)
          sub += s""""updatedFields": ${u.updatedFields}"""
        parts += sub.result().mkString("\"updateDescription\": {", ", ", "}")
      }
    }
    e.fullDocument.foreach(d => parts += s""""after": $d""")
    parts += s""""op": "${opCode(e.operationType)}""""
    parts.result().mkString("{", ", ", "}")
  }

  /** The messages the pipeline should produce for `events`, in order. */
  def messages(events: Iterable[ChangeEventRow], prefix: String): Seq[Msg] =
    events.iterator.filter(e => DataOps(e.operationType)).map { e =>
      (topic(prefix, e.ns.db, e.ns.coll), e.documentKey.orNull, envelope(e))
    }.toSeq

  /** Snapshot row: last event id, op code, document, amount. */
  type SnapVal = (Long, String, String, Long)

  /** Last-writer-wins fold: later events overwrite, deletes remove. The
    * event id is the clusterTime in microseconds, as the snapshot
    * workload keys its changes.
    */
  def snapshot(events: Iterable[ChangeEventRow]): Map[Long, SnapVal] = {
    val m = mutable.HashMap.empty[Long, SnapVal]
    events.foreach { e =>
      if (DataOps(e.operationType)) {
        val k = Gen.keyOf(e.documentKey.get)
        if (e.operationType == "delete") m.remove(k)
        else {
          val d = e.fullDocument.get
          m.update(k, (micros(e), opCode(e.operationType), d, Gen.centsOf(d)))
        }
      }
    }
    m.toMap
  }

  def micros(e: ChangeEventRow): Long =
    e.clusterTime.getTime * 1000L + (e.clusterTime.getNanos / 1000) % 1000
}

/** Output checks: each returns None when the output is right, else what
  * is wrong with it.
  */
object Checks {

  def sameMessages(got: Seq[Expected.Msg], want: Seq[Expected.Msg])
      : Option[String] = {
    val ord = Ordering.Tuple3[String, String, String]
    val g = got.sorted(ord)
    val w = want.sorted(ord)
    if (g.length != w.length)
      Some(s"${g.length} messages delivered, ${w.length} expected")
    else g.indices.find(i => g(i) != w(i)).map { i =>
      s"message ${i} differs: got ${g(i)}, want ${w(i)}"
    }
  }

  def sameSnapshot(got: Map[Long, Expected.SnapVal],
      want: Map[Long, Expected.SnapVal]): Option[String] =
    if (got.size != want.size)
      Some(s"${got.size} live keys in state, ${want.size} expected")
    else want.collectFirst {
      case (k, v) if !got.get(k).contains(v) =>
        s"key $k: state ${got.get(k)}, want $v"
    }

  def equal[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}
