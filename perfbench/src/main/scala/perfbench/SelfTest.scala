package perfbench

import graft.cdc.{InMemoryTokenStore, Pipeline}

/** Shows the output checks can fail: each must accept the program's own
  * output (envelopes, the same envelopes written by `FileTopicSink` and
  * read back, the snapshot) and reject it with one envelope dropped, one
  * envelope altered, or one snapshot row wrong.
  */
object SelfTest {
  def run(ctx: Ctx, r: Result): Unit = {
    val rows = new Gen(ctx.seed, 500).take(4000)
    val spark = ctx.session(
      "spark.sql.streaming.stateStore.providerClass" -> Snapshot.RocksDb)

    val static = spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cpus))
    val envelopes = Pipeline.transform(static, Replay.settings(ctx, "selftest", Map.empty))
    val msgs = envelopes.select("topic", "key", "value").collect()
      .map(m => (m.getString(0), m.getString(1), m.getString(2))).toSeq
    val want = Expected.messages(rows, Main.TopicPrefix)
    val sinkDir = ctx.work.resolve("selftest-sink")
    graft.cdc.FileTopicSink.append(envelopes, sinkDir.toString)
    val readBack = Replay.readSink(sinkDir)
    val (t, k, v) = msgs(7)
    val altered = msgs.updated(7, (t, k, v.replaceFirst("\"op\": \"(.)\"", "\"op\": \"x\"")))

    val pass = Replay.pass(ctx, spark, "selftest", rows, new InMemoryTokenStore,
      firstBatchOnly = false, batchRows = 1000, start = Snapshot.start)
    val state = Snapshot.stateRows(spark, ctx.work.resolve("ckpt/selftest").toString)
    val fold = Expected.snapshot(rows)
    val (key, (id, op, doc, cents)) = state.head
    val wrongRow = state.updated(key, (id, op, doc, cents + 1))

    def expect(what: String, problem: Option[String], shouldFail: Boolean): Unit = {
      r.attempted += 1
      System.err.println(s"selftest: $what -> ${problem.getOrElse("accepted")}")
      if (problem.isDefined != shouldFail)
        r.fail(s"$what: ${if (shouldFail) "accepted" else problem.get}")
    }
    expect("program envelopes", Checks.sameMessages(msgs, want), shouldFail = false)
    expect("one envelope dropped", Checks.sameMessages(msgs.tail, want), shouldFail = true)
    expect("one envelope altered", Checks.sameMessages(altered, want), shouldFail = true)
    expect("sink output read back", Checks.sameMessages(readBack, want), shouldFail = false)
    expect("program snapshot", Checks.sameSnapshot(state, fold), shouldFail = false)
    expect("one snapshot row wrong", Checks.sameSnapshot(wrongRow, fold), shouldFail = true)
    expect("events admitted", Checks.equal("admitted", pass.admitted, rows.length.toLong),
      shouldFail = false)
  }
}
