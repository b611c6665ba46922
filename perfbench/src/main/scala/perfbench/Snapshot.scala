package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, conv, get_json_object, lit, substring, unix_micros, when}
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{EnvelopeTransform, FileTokenStore, Pipeline, Settings, TokenStore}
import graft.sources.ChangeEventReplaySource
import graft.streaming.StreamingSnapshot
import graft.streaming.StreamingSnapshot.Change

/** `snapshot`: the replay stream filtered to data ops, keyed on
  * documentKey, ordered by clusterTime and folded by `StreamingSnapshot`
  * on the RocksDB state store. Each pass is a fresh query over the same
  * backlog; with four events per key most events update a key already in
  * state, and deletes keep keys churning.
  */
object Snapshot {
  val Events = 80000
  val Keys = 20000
  val BatchRows = 20000
  val SetupReps = 3
  val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Change events as the snapshot's input: key from the documentKey's
    * ObjectId, event id from clusterTime.
    */
  def changes(events: DataFrame): Dataset[Change] = {
    import events.sparkSession.implicits._
    EnvelopeTransform.filterDataOps(events).select(
      conv(substring(col("documentKey"), 19, 24), 16, 10).cast("long").alias("key"),
      unix_micros(col("clusterTime")).alias("eventId"),
      when(col("operationType") === "insert", "c")
        .when(col("operationType") === "delete", "d")
        .otherwise("u").alias("op"),
      coalesce(col("fullDocument"), lit("")).alias("doc"),
      coalesce(get_json_object(col("fullDocument"), "$.cents").cast("long"),
        lit(0L)).alias("cents"))
      .as[Change]
  }

  def start(spark: SparkSession, s: Settings) =
    StreamingSnapshot(changes(Pipeline.read(spark, s))).writeStream
      .queryName(s.streamReaderName)
      .format("noop")
      .outputMode("update")
      .option("checkpointLocation", s.checkpointLocation)
      .trigger(Trigger.ProcessingTime(0L))
      .start()

  def run(ctx: Ctx, r: Result): Unit = {
    val rows = new Gen(ctx.seed, Keys).take(Events)
    val t0 = System.nanoTime()
    val spark = ctx.session(
      "spark.sql.streaming.stateStore.providerClass" -> RocksDb)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tokens = new FileTokenStore(ctx.dir("tokens").toString)
    val store: TokenStore =
      if (ctx.tracer.on) new TimingTokenStore(tokens, ctx.tracer) else tokens

    val setups = (0 until SetupReps).map { i =>
      Replay.pass(ctx, spark, s"setup$i", rows, store, firstBatchOnly = true,
        batchRows = BatchRows, start = start).wallS
    }
    r.e2e("setup_s") = sessionS + Stats.median(setups)
    ctx.log(s"session $sessionS s, set-ups $setups")

    val passes = scala.collection.mutable.ArrayBuffer.empty[Replay.PassResult]
    ChangeEventReplaySource.register("snapshot", rows)
    val win = Timed.passes(ctx, minPasses = 3) { i =>
      val p = Replay.pass(ctx, spark, "snapshot", rows, store,
        firstBatchOnly = false, queryName = s"snapshot$i", keepFixture = true,
        batchRows = BatchRows, start = start)
      passes += p
      p.wallS
    }
    val timed = passes.takeRight(win.walls.length)
    timed.foreach { p =>
      r.check(Checks.equal(s"${p.name} events admitted", p.admitted, Events.toLong))
      r.check(Checks.equal(s"${p.name} mirrored token", p.token, Some(s"[$Events]")))
    }
    val events = Events.toLong * timed.length
    r.attempted = events
    r.e2e("events_per_s") = Stats.median(win.walls.map(Events / _))
    r.e2e("cpu_us_per_event") = win.cpuNs / 1e3 / events
    val trig = timed.flatMap(p => Progress.active(p.progress))
      .map(Progress.phaseMs(_, "triggerExecution"))
    r.e2e("latency_p50_ms") = Stats.pct(trig, 0.5)
    r.e2e("latency_p90_ms") = Stats.pct(trig, 0.9)
    r.e2e("sweep_s") = Stats.median(win.walls.toSeq)
    r.detail("passes") = timed.length
    r.detail("micro_batches") = trig.length
    r.detail("events_admitted") = events.toDouble

    // The last pass's final state against a last-writer-wins fold.
    val want = Expected.snapshot(rows)
    val last = timed.last
    val got = stateRows(spark, ctx.work.resolve(s"ckpt/${last.name}").toString)
    r.check(Checks.sameSnapshot(got, want))
    val rowsTotal = Progress.active(last.progress).last.stateOperators.head.numRowsTotal
    r.check(Checks.equal("numRowsTotal", rowsTotal, want.size.toLong))
    r.detail("live_keys") = want.size

    if (ctx.tracer.on) {
      win.jvmLayers(r, ctx.tracer)
      val ps = timed.flatMap(_.progress).toSeq
      Progress.runtime(ps, r)
      Progress.state(ps, r)
      Replay.tokenLayers(ctx, ps, store, r)
      Replay.sourceLayers(ctx, rows, BatchRows, r)
      Replay.transformAndSinkLayers(ctx, spark, rows, BatchRows, r)
    }
  }

  /** The committed state of a finished query, read through Spark's
    * `statestore` data source.
    */
  def stateRows(spark: SparkSession, ckpt: String): Map[Long, Expected.SnapVal] = {
    val df = spark.read.format("statestore").load(ckpt)
    val v = if (df.schema("value").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.contains("groupState")) "value.groupState" else "value"
    df.select(col("key.value").alias("k"), col(s"$v.lastEventId"),
        col(s"$v.op"), col(s"$v.doc"), col(s"$v.cents"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3), r.getLong(4))))
      .toMap
  }
}
