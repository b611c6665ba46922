package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions.{avg, col, count, length, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.cdc.{ChangeEventRow, Pipeline, Settings, TokenStore, TokenStoreListener}
import graft.sources.{ChangeEventReplaySource, ReplayMicroBatchStream, SeqOffset}

/** Driving the replay source: one query per pass over a registered
  * fixture, with the token mirror on.
  */
object Replay {
  final case class PassResult(name: String, wallS: Double, admitted: Long,
    token: Option[String], progress: Seq[StreamingQueryProgress])

  def settings(ctx: Ctx, name: String, source: Map[String, String]): Settings =
    Settings(
      sourceFormat = "graft-replay",
      sourceOptions = source,
      topicPrefix = Main.TopicPrefix,
      checkpointLocation = ctx.dir(s"ckpt/$name").toString,
      triggerInterval = "0 seconds",
      streamReaderName = name)

  def sourceOptions(ctx: Ctx, fixture: String, batchRows: Int): Map[String, String] =
    Map("fixture" -> fixture, "maxRowsPerBatch" -> batchRows.toString,
      "partitions" -> ctx.cpus.toString)

  /** One query over a registered fixture: the whole backlog, or until its
    * first micro-batch completes (the set-up measure). `start` builds and
    * starts the query from its settings. The wall time runs from
    * registration (whose row conversion happens on first use) to the end
    * of the drain. Traced runs record a span per micro-batch from Spark's
    * progress report.
    */
  def pass(ctx: Ctx, spark: SparkSession, fixture: String,
      rows: Seq[ChangeEventRow], store: TokenStore, firstBatchOnly: Boolean,
      queryName: String = null, keepFixture: Boolean = false,
      batchRows: Int, start: (SparkSession, Settings) => StreamingQuery)
      : PassResult = {
    val name = Option(queryName).getOrElse(fixture)
    val spanStart = ctx.tracer.now
    val t0 = System.nanoTime()
    val opts =
      if (keepFixture) sourceOptions(ctx, fixture, batchRows)
      else ChangeEventReplaySource.register(fixture, rows) ++
        sourceOptions(ctx, fixture, batchRows)
    val listener = new TokenStoreListener(name, store)
    spark.streams.addListener(listener)
    val q = start(spark, settings(ctx, name, opts))
    try {
      if (firstBatchOnly) {
        while (Progress.active(q.recentProgress.toSeq).isEmpty) {
          q.exception.foreach(e => throw e)
          Thread.sleep(5)
        }
      } else q.processAllAvailable()
      val wallS = (System.nanoTime() - t0) / 1e9
      ctx.tracer.record("pass", name, "", spanStart, spanStart + (wallS * 1e9).toLong)
      q.stop()
      val progress = q.recentProgress.toSeq
      val admitted = progress.map(_.numInputRows).sum
      Progress.active(progress).foreach { p =>
        val end = Progress.endMillis(p) * 1000000L
        val start = end - Progress.phaseMs(p, "triggerExecution").toLong * 1000000L
        ctx.tracer.record("runtime.batch", s"$name/${p.batchId}", "pass", start, end)
        ctx.tracer.count("sources.events_admitted", p.numInputRows.toDouble)
        ctx.tracer.count("runtime.micro_batches", 1)
      }
      // the mirror runs on the listener bus, after the batch
      val want = s"[$admitted]"
      val deadline = System.nanoTime() + 10000000000L
      while (!store.load(name).exists(_.token == want) &&
          System.nanoTime() < deadline) Thread.sleep(2)
      PassResult(name, wallS, admitted, store.load(name).map(_.token), progress)
    } finally {
      if (q.isActive) q.stop()
      spark.streams.removeListener(listener)
      if (!keepFixture) ChangeEventReplaySource.unregister(fixture)
    }
  }

  def tokenLayers(ctx: Ctx, ps: Seq[StreamingQueryProgress],
      store: TokenStore, r: Result): Unit = store match {
    case t: TimingTokenStore =>
      r.layers("token.save_ms") = ctx.tracer.meanMs("token.save")
      val lags = Progress.active(ps).flatMap { p =>
        val tok = p.sources.map(s => Option(s.endOffset).getOrElse("null"))
          .mkString("[", ",", "]")
        Option(t.savedAt.get(s"${p.name} $tok")).map(at => (at - Progress.endMillis(p)).toDouble)
      }
      r.layers("token.lag_ms") = Stats.mean(lags)
    case _ => ()
  }

  /** The `sources` layer measured directly: row conversion, planning one
    * batch range, and the serialised size of the planned partitions.
    */
  def sourceLayers(ctx: Ctx, rows: Seq[ChangeEventRow], batchRows: Int,
      r: Result): Unit = {
    ChangeEventReplaySource.register("probe", rows)
    try {
      val stream = new ReplayMicroBatchStream("probe", batchRows, ctx.cpus)
      val t0 = System.nanoTime()
      ctx.tracer.span("sources.convert", "probe") {
        stream.latestOffset(SeqOffset(0), ReadLimit.maxRows(batchRows.toLong))
      }
      r.layers("sources.convert_s") = (System.nanoTime() - t0) / 1e9
      val plans = (0 until 5).map { i =>
        val t = System.nanoTime()
        val parts = ctx.tracer.span("sources.plan", i) {
          stream.planInputPartitions(SeqOffset(0), SeqOffset(batchRows.toLong))
        }
        ((System.nanoTime() - t) / 1e6, parts)
      }
      r.layers("sources.plan_ms_per_batch") = Stats.median(plans.map(_._1))
      val ser = SparkEnv.get.closureSerializer.newInstance()
      val bytes = plans.head._2.map(p => ser.serialize(p).limit().toLong).sum
      r.layers("sources.task_bytes_per_event") = bytes.toDouble / batchRows
    } finally ChangeEventReplaySource.unregister("probe")
  }

  /** The `cdc.transform` and `cdc.sink` layers alone, each over one batch
    * of the fixture as a static DataFrame: `Pipeline.transform` into noop,
    * then `FileTopicSink.append` of its envelopes. Outside the timing, the
    * envelopes and every sink directory read back are checked against the
    * independent rendering.
    */
  def transformAndSinkLayers(ctx: Ctx, spark: SparkSession,
      rows: Seq[ChangeEventRow], batchRows: Int, r: Result): Unit = {
    val batch = rows.take(batchRows)
    val static = spark.createDataFrame(spark.sparkContext.parallelize(batch, ctx.cpus))
      .cache()
    static.count()
    val envelopes = Pipeline.transform(static, settings(ctx, "probe", Map.empty)).cache()
    def timed(n: Int, name: String)(body: Int => Unit): Double = Stats.median(
      (0 until n).map { i =>
        val t = System.nanoTime()
        ctx.tracer.span(name, i)(body(i))
        (System.nanoTime() - t) / 1e6
      })
    val transformMs = timed(3, "transform.static") { _ =>
      Pipeline.transform(static, settings(ctx, "probe", Map.empty))
        .write.format("noop").mode("overwrite").save()
    }
    r.layers("transform.us_per_event") = transformMs * 1000 / batch.length
    val row = envelopes.agg(count(lit(1)), avg(length(col("value")))).head()
    r.layers("transform.envelopes_per_event") = row.getLong(0).toDouble / batch.length
    r.layers("transform.value_bytes_per_envelope") = row.getDouble(1)
    val out = ctx.dir("sink-probe")
    r.layers("sink.ms_per_batch") = timed(3, "sink.append") { i =>
      graft.cdc.FileTopicSink.append(envelopes, out.resolve(s"b$i").toString)
    }
    val files = partFiles(out.resolve("b0"))
    r.layers("sink.files_per_batch") = files.length
    r.layers("sink.bytes_per_envelope") =
      files.map(Files.size(_)).sum.toDouble / row.getLong(0)

    val want = Expected.messages(batch, Main.TopicPrefix)
    val got = envelopes.select("topic", "key", "value").collect()
      .map(m => (m.getString(0), m.getString(1), m.getString(2))).toSeq
    r.check(Checks.sameMessages(got, want).map("transform probe: " + _))
    (0 until 3).foreach { i =>
      r.check(Checks.sameMessages(readSink(out.resolve(s"b$i")), want)
        .map(s"sink probe b$i: " + _))
    }
  }

  private def partFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq

  /** The messages a `FileTopicSink` directory holds, read without Spark:
    * the topic from each `topic=` partition directory, key and value from
    * each JSON line of its part files.
    */
  def readSink(dir: Path): Seq[Expected.Msg] = {
    val json = new ObjectMapper()
    partFiles(dir).flatMap { f =>
      val topic = ExternalCatalogUtils.unescapePathName(
        f.getParent.getFileName.toString.stripPrefix("topic="))
      Files.readAllLines(f, UTF_8).asScala.filter(_.nonEmpty).map { line =>
        val m = json.readTree(line)
        def field(name: String) = Option(m.get(name)).filterNot(_.isNull).map(_.asText).orNull
        (topic, field("key"), field("value"))
      }
    }
  }
}
