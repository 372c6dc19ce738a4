package perfbench

import graft.{Harness, SparkEntry}
import Util.Obj

/** One benchmark run in one JVM, driven by `perfbench/run.py`:
  *
  *  1. set-up: `Harness.session()` plus a warm-up of a few queries on the
  *     small warm-up tables, timed from JVM start, so it carries the cold
  *     JVM;
  *  2. ingest phase (unless `refRate=0`): see [[Ingest]];
  *  3. batch phase: the run's queries, in the given order, each built and
  *     evaluated into the `noop` sink under the latency limit, each
  *     completed result then written out (untimed) for the output check.
  *
  * Writes `result.json` and `spans.json` into `out`. Arguments are
  * `key=value`: data, warm, queries and warmQueries (comma-separated),
  * seed, out, tmp, budget, trace (0/1), refRate, refS, burst, drop (an
  * ingest offset the sink discards; for the self-test). */
object Main {
  /** Per-query latency limit, in seconds. */
  val LimitS = 10.0

  def main(args: Array[String]): Unit = {
    val o = Util.parseArgs(args)
    val data = o("data")
    val warm = o("warm")
    def list(k: String) = o.getOrElse(k, "").split(",").filter(_.nonEmpty).toSeq
    val queries = list("queries")
    val warmQueries = list("warmQueries")
    val out = o("out")
    val traced = o.getOrElse("trace", "0") == "1"
    val refRate = o.getOrElse("refRate", "0").toDouble
    val unknown = (queries ++ warmQueries).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")

    val spans = new Spans
    val root = spans.add(-1, "run", "run", Util.jvmStartMicros(), Long.MaxValue)

    // 1. Set-up.
    val setupSpan = spans.add(root, "setup", "setup", Util.jvmStartMicros(),
      Long.MaxValue)
    val s0 = Util.nowMicros()
    val spark = spans.timed(setupSpan, "session", "Harness.session")(
      Harness.session())
    val sessionS = (Util.nowMicros() - s0) / 1e6
    // The session's conf as Harness.session() leaves it; keys the queries
    // (warm-up included) change from it are leaks into later queries.
    val baseConf = spark.conf.getAll
    warmQueries.foreach(q => SparkEntry.queries(q)(spark, warm)
      .write.format("noop").mode("overwrite").save())
    Harness.releaseTransient(spark)
    spans.close(setupSpan)
    val setupS = (Util.nowMicros() - Util.jvmStartMicros()) / 1e6
    val listeners = if (traced) Some(new Listeners) else None
    listeners.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l.queryExecution)
      spark.streams.addListener(l.streaming)
    }
    val batch = new Batch(spark, LimitS, spans)

    // 2. Ingest.
    val ingest = if (refRate <= 0) None else {
      val id = spans.open(root, "phase", "ingest")
      val gen = new Ingest(spark, data, o("seed").toLong, o("tmp"), spans,
        o.getOrElse("drop", "-1").toLong)
      val c0 = Util.processCpuS()
      val r = gen.run(id, refRate, o("refS").toDouble, o("burst").toLong)
      spans.close(id)
      Some((r, Util.processCpuS() - c0))
    }

    // 3. Batch.
    val checkDir = s"$out/check"
    val batchSpan = spans.open(root, "phase", "batch")
    // A query that cannot start within the batch budget counts as over
    // the limit, so a slow build still ends the run in time.
    val budgetUs = (o.getOrElse("budget", "1e9").toDouble * 1e6).toLong
    val b0 = Util.nowMicros()
    val runs = queries.map { q =>
      if (Util.nowMicros() - b0 < budgetUs)
        batch.run(q, data, batchSpan, Some(checkDir))
      else QueryRun(q, Batch.moduleOf(q), "over_limit", 0, 0, LimitS, 0, 0, 0,
        Nil, "not started: the run's batch budget was spent")
    }
    spans.close(batchSpan)
    new java.io.File(checkDir).mkdirs()
    Util.writeFile(s"$checkDir/oracle_sql.json", Util.json(
      SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }))

    val endConf = spark.conf.getAll
    val confLeaks = (baseConf.keySet ++ endConf.keySet).toSeq.sorted
      .filter(k => baseConf.get(k) != endConf.get(k))
    listeners.foreach(_ =>
      org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext))
    spans.close(root)
    val all = SpanTree.build(spans.all, listeners)
    val self = SpanTree.selfTimes(all)
    Util.writeFile(s"$out/spans.json", Util.json(all.map { s =>
      Obj(Seq("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end,
        "self_us" -> self(s.id)))
    }))
    val layers = listeners.map(l =>
      Layers(l, all, runs, ingest.map(_._1), sessionS, confLeaks.size,
        spark.sparkContext.defaultParallelism))

    val result = Obj(Seq(
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "queries" -> runs.map(r => Obj(Seq(
        "name" -> r.name, "module" -> r.module, "status" -> r.status,
        "build_s" -> r.buildS, "action_s" -> r.actionS, "wall_s" -> r.wallS,
        "cpu_s" -> r.cpuS, "release_s" -> r.releaseS,
        "conf_leaks" -> r.confLeaks, "error" -> r.error))),
      "ingest" -> ingest.map { case (r, cpu) => Obj(Seq(
        "ref_rate" -> r.refRate,
        "latency_p50_ms" -> r.p50Ms, "latency_p99_ms" -> r.p99Ms,
        "rows_per_s" -> r.capacityRowsPerS,
        "generated" -> r.generated, "lost" -> r.lost,
        "duplicated" -> r.duplicated, "wrong_fields" -> r.wrongFields,
        "backlog_rows" -> r.refBacklogMax, "generator_late_ms" -> r.refLateMs,
        "wall_s" -> r.wallS, "cpu_s" -> cpu))
      }.orNull,
      "conf_leaks" -> confLeaks,
      "peak_rss_mib" -> Util.peakRssMib(),
      "span_totals_s" -> all.groupBy(_.kind).map { case (k, ss) =>
        k -> ss.map(s => (s.end - s.start) / 1e6).sum },
      "layers" -> layers.orNull))
    Util.writeFile(s"$out/result.json", Util.json(result))
    spark.stop()
  }
}
