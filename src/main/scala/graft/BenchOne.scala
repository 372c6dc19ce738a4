package graft

/** Single-query timing/plan harness for iterating on one operator without
  * paying the full bench: `runMain graft.BenchOne <query> [n] [--explain]`
  * times `<query>` n times (default 3, floored at 1) on SPARK_GRAFT_SF_DIR
  * after a warmup with both timed actions on the sf0.001 dir beside it
  * (the testdata layout keeps the scale factors side by side), printing
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
  * by construction. */
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
    val fn = SparkEntry.queries(name)
    // Warm-up (JIT + codegen) with BOTH timed actions: a count alone
    // prunes most of the plan, leaving run 1's noop to pay the rest.
    val warm = new java.io.File(new java.io.File(sfDir).getParentFile,
      "sf0.001").getPath
    fn(spark, warm).count()
    fn(spark, warm).write.format("noop").mode("overwrite").save()
    Harness.releaseTransient(spark)
    val runs = (1 to n).map { i =>
      taskMetrics.open(name)
      val (rows, dt, dtCpu) = timed(fn(spark, sfDir).count())
      taskMetrics.close(spark)
      Harness.releaseTransient(spark) // full-bench hygiene, same here
      val (_, full, fullCpu) = timed(
        fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      Harness.releaseTransient(spark)
      println(f"[bench-one] $name run $i: $dt%.3f s ($rows rows, " +
        f"cpu $dtCpu%.3f s), noop $full%.3f s (cpu $fullCpu%.3f s)")
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
