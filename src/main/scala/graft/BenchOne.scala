package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Single-query timing/plan harness for iterating on one operator without
  * paying the full bench: `runMain graft.BenchOne <query> [n] [--explain]`
  * times `<query>` n times (default 3, floored at 1) on SPARK_GRAFT_SF_DIR
  * after a warmup with both timed actions, first on the sf0.001 dir
  * beside it (the testdata layout keeps the scale factors side by side)
  * and then once, untimed, on SPARK_GRAFT_SF_DIR itself, printing
  * each run and the medians. Each run times `count()` (what the full
  * bench times, after Catalyst prunes every column the count does not
  * need) and, beside it, a full evaluation through Spark's `noop` sink (every
  * declared column, sort and aggregate produced, no I/O). A per-query
  * A/B under full evaluation is therefore one run on each checkout:
  * `runMain graft.BenchOne q_ts_backtest 3`, then compare the
  * `median: ... noop` figures. Each timing carries the process CPU
  * seconds it burned beside its wall seconds: on a shared host wall time
  * moves with steal and neighbours, CPU much less. Session and median
  * come from [[Harness]] so the numbers are comparable to the full bench
  * by construction. A stream query's run also prints one line per
  * micro-batch of each timed action: batch id, input rows, the
  * `durationMs` phase breakdown (addBatch, getBatch, queryPlanning,
  * walCommit, commitOffsets, triggerExecution, …) and the rows each
  * state operator holds; the wall time the batches do not cover is
  * planning, sink read-back and staging checks. */
object BenchOne {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** (result, wall s, process CPU s) of `body`. */
  private def timed[T](body: => T): (T, Double, Double) = {
    val (t0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    val out = body
    (out, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
  }

  /** Collects the progress of every micro-batch the session runs;
    * `take` hands out and forgets what has arrived. Progress events are
    * delivered on the listener bus asynchronously, so `take` drains the
    * bus first: a run's last batch is then never printed with the next
    * run. */
  private final class BatchProgress extends StreamingQueryListener {
    private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val phases = p.durationMs.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      val state = p.stateOperators
        .map(o => s" ${o.operatorName}=${o.numRowsTotal}").mkString
      lines.add(s"batch ${p.batchId}: ${p.numInputRows} rows, " +
        s"durationMs $phases, state rows$state")
    }
    def take(spark: SparkSession): Seq[String] = {
      BusDrain.drain(spark.sparkContext)
      Iterator.continually(lines.poll()).takeWhile(_ != null).toSeq
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: BenchOne <query>"))
    val n = args.drop(1).find(!_.startsWith("--"))
      .map(_.toInt).getOrElse(3).max(1)
    val explain = args.contains("--explain")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // Same per-query task-metric collection as the full bench (round 15):
    // open/close sit outside the timer; the last run's totals print after
    // the median so single-query A/Bs carry measured bytes, not just wall.
    // They cover the count() run, the one the full bench times.
    val taskMetrics = new QueryTaskMetrics
    spark.sparkContext.addSparkListener(taskMetrics)
    val progress = new BatchProgress
    spark.streams.addListener(progress)
    val fn = SparkEntry.queries(name)
    // Warm-up (JIT + codegen) with BOTH timed actions: a count alone
    // prunes most of the plan, leaving run 1's noop to pay the rest. The
    // second pass at the timed scale warms what sf0.001 does not reach
    // (a stream query's run 1 at sf0.1 otherwise carried ~1.8 s of it).
    val warm = new java.io.File(new java.io.File(sfDir).getParentFile,
      "sf0.001").getPath
    for (dir <- Seq(warm, sfDir)) {
      fn(spark, dir).count()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      Harness.releaseTransient(spark)
    }
    progress.take(spark)
    val runs = (1 to n).map { i =>
      taskMetrics.open(name)
      val (rows, dt, dtCpu) = timed(fn(spark, sfDir).count())
      taskMetrics.close(spark)
      val countBatches = progress.take(spark)
      Harness.releaseTransient(spark) // full-bench hygiene, same here
      val (_, full, fullCpu) = timed(
        fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      val noopBatches = progress.take(spark)
      Harness.releaseTransient(spark)
      println(f"[bench-one] $name run $i: $dt%.3f s ($rows rows, " +
        f"cpu $dtCpu%.3f s), noop $full%.3f s (cpu $fullCpu%.3f s)")
      countBatches.foreach(b => println(s"[bench-one]   count $b"))
      noopBatches.foreach(b => println(s"[bench-one]   noop $b"))
      Seq(dt, dtCpu, full, fullCpu)
    }
    val Seq(count, countCpu, noop, noopCpu) =
      runs.transpose.map(Harness.median)
    println(f"[bench-one] $name median: $count%.3f s (cpu $countCpu%.3f s), " +
      f"noop $noop%.3f s (cpu $noopCpu%.3f s)")
    println(s"[bench-one] $name task metrics: ${taskMetrics.lineFor(name)}")
    if (explain) {
      // Execute THIS df instance first so the AdaptiveSparkPlan prints
      // isFinalPlan=true — AQE stage reuse (ReusedExchange/ReusedSubquery)
      // only appears in the final plan, never in the initial one.
      val df = fn(spark, sfDir)
      df.collect()
      df.explain("formatted")
    }
    spark.stop()
  }
}
