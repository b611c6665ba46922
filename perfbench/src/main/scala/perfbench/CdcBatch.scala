package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.collection.mutable

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}

/** `cdc_batch`: the 16 `CdcQueries` batch twins over a seeded `events`
  * table shaped like the sf0.1 test data at a quarter of its rows, each
  * written to noop. The table is generated by `run.py`, which also checks
  * every query's rows against its DuckDB oracle.
  */
object CdcBatch {
  val Queries = Seq("s1_scan_pushdown", "f1_optype_filter", "p1_cdc_envelope",
    "p3_topic_route", "p4_hash_route", "s6_sequence", "c1_commit_watermark",
    "c2_commit_batches", "cdc_apply", "cdc_scd2", "cdc_delta_agg",
    "cdc_topic_stats", "cdc_gap_detect", "cdc_reconcile", "cdc_ooo_profile",
    "cdc_asof_state")
  val SetupReps = 3
  val MinSweeps = 2

  def run(ctx: Ctx, r: Result): Unit = {
    val data = ctx.work.resolve("cdc_batch/data").toString
    val out = ctx.dir("cdc_batch/out")
    val t0 = System.nanoTime()
    val spark = ctx.session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val qs = Queries.map(q => q -> SparkEntry.queries(q))

    // set-up: open the table and run the first query
    val setups = (0 until SetupReps).map { _ =>
      val t = System.nanoTime()
      qs.head._2(spark, data).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    r.e2e("setup_s") = sessionS + Stats.median(setups)
    ctx.log(s"session $sessionS s, set-ups $setups")
    val rows = Tables.events(spark, data).count()

    // Untimed check pass, which is also the warm-up: each query's rows go
    // to parquet for the oracle compare. The queries run on nproc threads
    // at once: a cold query is mostly single-threaded work in the calling
    // thread (planning, code generation, class loading), so this shortens
    // the run; the timed sweeps below run one query at a time.
    val pool = Executors.newFixedThreadPool(ctx.cpus)
    try qs.map { case (name, fn) =>
      pool.submit(new Callable[Unit] {
        def call(): Unit =
          fn(spark, data).write.mode("overwrite").parquet(out.resolve(name).toString)
      })
    }.foreach(_.get())
    finally pool.shutdown()
    ctx.log("check pass done")
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    Files.write(out.resolve("oracle_sql.json"), oracles.map { case (k, v) =>
      s"${jsonStr(k)}: ${jsonStr(v)}"
    }.mkString("{", ",\n", "}").getBytes(UTF_8))

    // Timed sweeps into noop: at least MinSweeps, until --seconds have
    // passed. Each query's time is the least of its runs (as the
    // program's own `graft.Bench` takes it): load from other processes on
    // the host only ever adds time, so a burst of it moves one sample of
    // a query, not the figure. A sweep is the sum of those times.
    // Traced runs also keep each query's final plan, outside its timing,
    // for the shuffle bytes it wrote.
    val perQuery = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    if (ctx.tracer.on) spark.listenerManager.register(listener)
    val shuffleBytes = mutable.LinkedHashMap.empty[String, Double]
    val win = Timed.passes(ctx, minPasses = MinSweeps) { i =>
      ctx.tracer.span("queries.sweep", s"sweep$i")(qs.map { case (name, fn) =>
        val before = plans.size
        val t = System.nanoTime()
        ctx.tracer.span(s"queries.$name", s"sweep$i", "queries.sweep") {
          fn(spark, data).write.format("noop").mode("overwrite").save()
        }
        ctx.tracer.count("queries.run", 1)
        val ms = (System.nanoTime() - t) / 1e6
        perQuery(name) += ms
        if (ctx.tracer.on) {
          val deadline = System.nanoTime() + 5000000000L
          while (plans.size == before && System.nanoTime() < deadline) Thread.sleep(1)
          shuffleBytes(name) = plans.toArray(Array.empty[QueryExecution]).drop(before)
            .headOption.map(qe => shuffleWritten(qe.executedPlan)).getOrElse(0.0)
        }
        ms
      }.sum / 1e3)
    }
    if (ctx.tracer.on) spark.listenerManager.unregister(listener)
    val n = win.walls.length
    val bestMs = perQuery.map { case (k, v) => k -> v.min }
    r.attempted = Queries.length.toLong * n
    r.e2e("sweep_s") = bestMs.values.sum / 1e3
    r.e2e("events_per_s") = rows * Queries.length / r.e2e("sweep_s")
    r.e2e("cpu_us_per_event") = win.cpuNs / 1e3 / (rows * Queries.length * n)
    r.e2e("latency_p50_ms") = Stats.median(bestMs.values)
    r.e2e("latency_p90_ms") = Stats.pct(bestMs.values, 0.9)
    r.detail("sweeps") = n
    r.detail("queries_run") = r.attempted.toDouble
    r.detail("events_table_rows") = rows.toDouble

    if (ctx.tracer.on) {
      win.jvmLayers(r, ctx.tracer)
      bestMs.foreach { case (k, v) => r.layers(s"queries.${k}_ms") = v }
      shuffleBytes.foreach { case (k, v) => r.layers(s"queries.${k}_shuffle_bytes") = v }
    }
  }

  /** Shuffle bytes written by every exchange of an executed (final AQE)
    * plan, subqueries included.
    */
  def shuffleWritten(plan: SparkPlan): Double = {
    val own = plan match {
      case s: ShuffleExchangeExec =>
        s.metrics.get("shuffleBytesWritten").map(_.value.toDouble).getOrElse(0.0)
      case _ => 0.0
    }
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Seq.empty // counted where it first ran
      case p => p.children ++ p.subqueries
    }
    own + inner.map(shuffleWritten).sum
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
