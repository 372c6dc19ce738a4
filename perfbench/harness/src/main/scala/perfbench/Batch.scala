package perfbench

import java.util.concurrent.{Callable, CountDownLatch, ExecutionException, ExecutorService, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Harness, SparkEntry}
import graft.operators._

/** Outcome of one query execution. `status` is `ok`, `error` (it threw)
  * or `over_limit` (cancelled at the latency limit, and timed at it). */
final case class QueryRun(name: String, module: String, status: String,
    buildS: Double, actionS: Double, wallS: Double, cpuS: Double,
    gcS: Double, releaseS: Double, confLeaks: Seq[String], error: String)

object Batch {
  /** The operator modules a query can come from, by name. */
  val modules: Seq[(String, Set[String])] = Seq(
    "CoreQueries" -> CoreQueries.queries.keySet,
    "AggQueries" -> AggQueries.queries.keySet,
    "JoinQueries" -> JoinQueries.queries.keySet,
    "WindowQueries" -> WindowQueries.queries.keySet,
    "ScalarQueries" -> ScalarQueries.queries.keySet,
    "TextQueries" -> TextQueries.queries.keySet,
    "SimilarityQueries" -> SimilarityQueries.queries.keySet,
    "StreamQueries" -> StreamQueries.queries.keySet,
    "SqlQueries" -> SqlQueries.queries.keySet,
    "StatsQueries" -> StatsQueries.queries.keySet,
    "CurateQueries" -> CurateQueries.queries.keySet,
    "GraphQueries" -> GraphQueries.queries.keySet,
    "TimeSeriesQueries" -> TimeSeriesQueries.queries.keySet)

  def moduleOf(q: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(q) => m }
      .getOrElse("other")
}

/** Runs declared queries one at a time, each as build (`fn(spark, dir)`)
  * plus a full evaluation into Spark's `noop` sink, under a latency
  * limit. The query runs on a worker thread so the client can cancel its
  * job group at the limit; only one query is ever in flight. */
final class Batch(spark: SparkSession, limitS: Double, spans: Spans) {
  private val seq = new AtomicLong
  private var pool: ExecutorService = newPool()

  private def newPool(): ExecutorService =
    Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-query")
      t.setDaemon(true)
      t
    }

  /** Run `name` on `dir` under `parent`. When `checkDir` is set and the
    * query completed, its result is written there as parquet for the
    * output check — untimed, from the already-built DataFrame, before the
    * session's transient state is released. */
  def run(name: String, dir: String, parent: Int,
      checkDir: Option[String]): QueryRun = {
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    val group = s"perfbench-${seq.incrementAndGet()}"
    val confBefore = spark.conf.getAll
    val qspan = spans.open(parent, "query", name)
    // Build and action stamps, written by the worker, read after it ends
    // or after the limit.
    val stamps = Array.fill(3)(-1L)
    val finished = new CountDownLatch(1)
    val task: Callable[DataFrame] = () => {
      // No group description, so that each SQL execution keeps its call
      // site ("localCheckpoint at ...") as its description.
      sc.setJobGroup(group, null, interruptOnCancel = true)
      try {
        stamps(0) = Util.nowMicros()
        val df = fn(spark, dir)
        stamps(1) = Util.nowMicros()
        df.write.format("noop").mode("overwrite").save()
        stamps(2) = Util.nowMicros()
        df
      } finally {
        sc.clearJobGroup()
        finished.countDown()
      }
    }
    val cpu0 = Util.processCpuS()
    val gc0 = Util.gcS()
    val t0 = Util.nowMicros()
    val fut = pool.submit(task)
    val limitUs = (limitS * 1e6).toLong
    var status = "ok"
    var error = ""
    var df: DataFrame = null
    try df = fut.get(limitUs, TimeUnit.MICROSECONDS)
    catch {
      case _: TimeoutException => status = "over_limit"
      case e: ExecutionException =>
        status = "error"
        error = rootMessage(e.getCause)
    }
    val cpuS = Util.processCpuS() - cpu0
    val gcS = Util.gcS() - gc0
    if (status == "over_limit") {
      error = f"over the ${limitS}%.0f s limit"
      cancel(group, fut, finished)
    }
    val tEnd = if (status == "over_limit") t0 + limitUs
      else math.max(stamps(2), Util.nowMicros())
    val start = if (stamps(0) > 0) stamps(0) else t0
    val built = if (stamps(1) > 0) stamps(1) else tEnd
    spans.add(qspan, "build", name, start, math.min(built, tEnd))
    if (stamps(1) > 0)
      spans.add(qspan, "action", name, built,
        if (stamps(2) > 0) stamps(2) else tEnd)
    if (df != null && checkDir.isDefined)
      try spans.timed(qspan, "check", name) {
        df.write.mode("overwrite").parquet(s"${checkDir.get}/$name")
      } catch {
        case e: Throwable =>
          status = "error"
          error = "output write failed: " + rootMessage(e)
      }
    df = null
    val r0 = Util.nowMicros()
    spans.timed(qspan, "release", name)(Harness.releaseTransient(spark))
    val releaseS = (Util.nowMicros() - r0) / 1e6
    spans.close(qspan)
    val confAfter = spark.conf.getAll
    val leaks = (confBefore.keySet ++ confAfter.keySet).toSeq.sorted
      .filter(k => confBefore.get(k) != confAfter.get(k))
    QueryRun(name, Batch.moduleOf(name), status,
      buildS = (math.min(built, tEnd) - start) / 1e6,
      actionS = if (stamps(1) > 0) (tEnd - built) / 1e6 else 0.0,
      wallS = (tEnd - start) / 1e6, cpuS = cpuS, gcS = gcS,
      releaseS = releaseS, confLeaks = leaks, error = error)
  }

  /** Cancel the query's jobs until its worker returns. A query can keep
    * launching jobs after a cancel (a loop of eager materializations) or
    * wait on a streaming query, so cancel, interrupt and stop streams
    * repeatedly; a worker that never returns is abandoned with its
    * thread pool. */
  private def cancel(group: String, fut: java.util.concurrent.Future[_],
      finished: CountDownLatch): Unit = {
    val sc = spark.sparkContext
    fut.cancel(true)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (finished.getCount > 0 && System.nanoTime() < deadline) {
      sc.cancelJobGroup(group)
      spark.streams.active.foreach(q => try q.stop() catch {
        case _: Throwable => ()
      })
      finished.await(100, TimeUnit.MILLISECONDS)
    }
    if (finished.getCount > 0) {
      pool.shutdownNow()
      pool = newPool()
    }
  }

  private def rootMessage(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val m = Option(c.getMessage).getOrElse("").linesIterator
      .find(_.trim.nonEmpty).getOrElse("")
    s"${c.getClass.getSimpleName}: ${m.take(200)}"
  }
}
