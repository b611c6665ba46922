package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One benchmark run in one JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workdir>`.
  *
  * Writes `result.json` (and `trace.jsonl` when traced) into the work
  * directory; `run.py` turns it into the run's result line.
  */
object Main {
  /** Topic prefix of every pipeline the benchmark runs. */
  val TopicPrefix = "cdc"

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work) = args
    val ctx = Ctx(seed.toLong, seconds.toInt, new Tracer(trace == "1"),
      Paths.get(work))
    val r = new Result
    try workload match {
      case "snapshot" => Snapshot.run(ctx, r)
      case "cdc_batch" => CdcBatch.run(ctx, r)
      case "selftest" => SelfTest.run(ctx, r)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally SparkSession.getActiveSession.foreach(_.stop())
    ctx.tracer.write(ctx.work.resolve("trace.jsonl"))
    Files.write(ctx.work.resolve("result.json"), r.json.getBytes(UTF_8))
    sys.exit(0) // do not wait on any thread a library left running
  }
}

final case class Ctx(seed: Long, seconds: Int,
    tracer: Tracer, work: Path) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  private val t0 = System.nanoTime()
  def elapsedS: Double = (System.nanoTime() - t0) / 1e9
  def log(msg: String): Unit = System.err.println(f"perfbench [$elapsedS%6.2f s] $msg")

  /** A fresh directory under the work directory. */
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** The session every workload runs on: the program's own settings
    * (`GraftSession`), `local[nproc]`, scratch space kept in the work
    * directory.
    */
  def session(extra: (String, String)*): SparkSession = {
    val b = graft.GraftSession.builder(cpus.toString)
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What a run reports. End-to-end metrics are measured in every run; the
  * per-layer ones only matter (and are only printed) when traced.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Double]

  def correct: Boolean = errors.isEmpty
  def fail(msg: String): Unit = errors += msg
  def check(problem: Option[String]): Unit = problem.foreach(fail)

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString
      s""""$k": $num"""
    }.mkString("{", ", ", "}")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def json: String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""e2e": ${obj(e2e)}, "layers": ${obj(layers)}, """ +
      s""""detail": ${obj(detail)}, "errors": ${errors.map(str).mkString("[", ", ", "]")}}"""
}

/** Per-layer figures taken from Spark's own per-micro-batch progress. */
object Progress {
  def active(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  def phaseMs(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  /** Wall-clock millis at which the micro-batch ended. */
  def endMillis(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      phaseMs(p, "triggerExecution").toLong

  def runtime(ps: Seq[StreamingQueryProgress], r: Result): Unit = {
    val a = active(ps)
    def mean(phase: String) = Stats.mean(a.map(phaseMs(_, phase)))
    r.layers("runtime.latest_offset_ms") = mean("latestOffset")
    r.layers("runtime.get_batch_ms") = mean("getBatch")
    r.layers("runtime.query_planning_ms") = mean("queryPlanning")
    r.layers("runtime.add_batch_ms") = mean("addBatch")
    r.layers("runtime.wal_commit_ms") = mean("walCommit")
    r.layers("runtime.commit_offsets_ms") = mean("commitOffsets")
    r.layers("runtime.trigger_ms") = mean("triggerExecution")
    r.layers("runtime.batches") = a.length
    r.layers("runtime.events_per_batch") =
      Stats.mean(a.map(_.numInputRows.toDouble))
  }

  def state(ps: Seq[StreamingQueryProgress], r: Result): Unit = {
    val ops = active(ps).flatMap(_.stateOperators.headOption)
    def mean(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      Stats.mean(ops.map(f))
    def custom(names: String*)(o: org.apache.spark.sql.streaming.StateOperatorProgress) =
      names.flatMap(n => Option(o.customMetrics.get(n))).map(_.doubleValue).sum
    r.layers("state.commit_ms") = mean(_.commitTimeMs.toDouble)
    r.layers("state.updates_ms") = mean(_.allUpdatesTimeMs.toDouble)
    r.layers("state.removals_ms") = mean(_.allRemovalsTimeMs.toDouble)
    r.layers("state.rows_total") = ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    r.layers("state.memory_bytes") = ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0)
    r.layers("state.rocksdb_flush_ms") = mean(custom("rocksdbCommitFlushLatency"))
    r.layers("state.rocksdb_commit_ms") = mean(custom(
      "rocksdbCommitFlushLatency", "rocksdbCommitCompactLatency",
      "rocksdbCommitPauseLatency", "rocksdbCommitCheckpointLatency",
      "rocksdbCommitFileSyncLatencyMs", "rocksdbCommitWriteBatchLatency"))
    r.layers("state.rocksdb_bytes_written") = mean(custom(
      "rocksdbTotalBytesWritten", "rocksdbTotalBytesWrittenByFlush",
      "rocksdbTotalBytesWrittenByCompaction"))
  }
}

/** The pass loop shared by the workloads. */
object Timed {
  /** Timed passes until `seconds` have passed and at least `minPasses`
    * ran. `pass(i)` returns its wall seconds. There is no separate
    * warm-up: the set-ups and check passes before it warm the path, and
    * the JIT keeps improving for minutes, longer than a run can wait.
    */
  def passes(ctx: Ctx, minPasses: Int)(pass: Int => Double): Window = {
    val win = new Window()
    val start = ctx.elapsedS
    while (win.walls.length < minPasses || ctx.elapsedS - start < ctx.seconds) {
      win.walls += pass(win.walls.length)
      ctx.log(f"timed pass ${win.walls.length}: ${win.walls.last}%.3f s")
    }
    win.close()
    win
  }
}

/** Process CPU, GC and heap peak over a timed window. */
final class Window {
  val walls = mutable.ArrayBuffer.empty[Double]
  private val cpu0 = Jvm.cpuNs
  private val gc0 = Jvm.gcMs
  private val t0 = System.nanoTime()
  Jvm.resetHeapPeak()
  var cpuNs = 0L
  var gcMs = 0L
  var wallS = 0.0
  def close(): Unit = {
    cpuNs = Jvm.cpuNs - cpu0
    gcMs = Jvm.gcMs - gc0
    wallS = (System.nanoTime() - t0) / 1e9
  }
  /** The `jvm` layer over the window, and what tracing itself cost. */
  def jvmLayers(r: Result, tracer: Tracer): Unit = {
    r.layers("trace.self_ms") = tracer.selfMs
    r.layers("trace.overhead_pct") = 100 * tracer.selfMs / (wallS * 1000)
    r.layers("jvm.gc_ms") = gcMs.toDouble
    r.layers("jvm.cpu_s") = cpuNs / 1e9
    r.layers("jvm.heap_used_peak_bytes") = Jvm.heapPeakBytes.toDouble
  }
}
