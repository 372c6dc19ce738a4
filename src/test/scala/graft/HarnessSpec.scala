package graft

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Millis, Seconds, Span}

import graft.operators.Materialize

/** Executable contract for Harness.releaseTransient (SURVEY §5.5, the
  * round-8 advice) and for operators.Materialize, the one seam that
  * creates what it releases: the scaladoc's safety argument — "safe
  * ONLY between queries; a held localCheckpoint'd frame cannot
  * recompute after release" — was a comment-level invariant. These tests make both
  * halves enforceable: the failure mode a cross-invocation cache WOULD
  * hit is pinned (so a future violation fails here, not with a
  * block-not-found error at a distance), and the no-persist-in-query-
  * path premise is swept structurally.
  */
class HarnessSpec extends AnyFunSuite with SparkFixture with Eventually {

  test("releaseTransient frees checkpoint blocks: a frame held across " +
      "the release is unrecoverable (the declared contract)") {
    val df = Materialize("harnessSpec.held")(spark.range(0, 1000).toDF("x"))
    assert(df.count() === 1000L)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "Materialize should register a persistent RDD")
    Harness.releaseTransient(spark)
    // Deregistration is synchronous (the unpersist call removes the RDD
    // from the context's persistent map before the async block drop).
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseTransient left persistent RDDs registered")
    // Block removal is async (blocking = false): once the executors
    // drop the blocks, re-materializing the held frame MUST fail —
    // lineage is truncated, there is nothing to recompute from. If this
    // ever starts succeeding, localCheckpoint semantics changed and the
    // releaseTransient safety argument needs re-auditing.
    eventually(timeout(Span(30, Seconds)), interval(Span(200, Millis))) {
      intercept[Exception] { df.count() }
    }
  }

  test("Materialize runs one SQL execution described `localCheckpoint " +
      "at <name>` and leaves the caller's call site as it was") {
    val sc = spark.sparkContext
    val keys = Seq("callSite.short", "callSite.long")
    def callSite = keys.map(sc.getLocalProperty)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => seen.add(x.description)
        case _ =>
      }
    }
    def described(body: => Unit): Seq[String] = {
      BusDrain.drain(sc)
      seen.clear()
      body
      BusDrain.drain(sc)
      seen.toArray(Array.empty[String]).toSeq
    }
    val unset = callSite
    sc.addSparkListener(listener)
    try {
      assert(described {
        Materialize("x.y")(spark.range(0, 100).toDF("x"))
      } === Seq("localCheckpoint at x.y"))
      assert(callSite === unset)
      sc.setCallSite("caller short")
      sc.setLocalProperty("callSite.long", "caller long")
      Materialize("x.z")(spark.range(0, 100).toDF("x"))
      assert(callSite === Seq("caller short", "caller long"))
      intercept[Exception] {
        Materialize("x.fails")(spark.range(0, 1)
          .select(raise_error(lit("boom")).as("e")))
      }
      assert(callSite === Seq("caller short", "caller long"),
        "a failed checkpoint left its call site behind")
    } finally {
      sc.removeSparkListener(listener)
      keys.zip(unset).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  test("no declared query path persists frames across invocations " +
      "(the premise releaseTransient's safety rests on)") {
    // releaseTransient unpersists EVERY persistent RDD in the context;
    // that is safe because the only persistence any query path creates
    // is a per-invocation Materialize (re-built fresh each call). A
    // .cache()/.persist( in src/main would be a cross-invocation
    // persistent RDD that a release in another query's epilogue would
    // silently destroy — fail at the source.
    // The per-invocation persistence itself has one entry point,
    // Materialize: a raw checkpoint elsewhere would be an unnamed
    // materialization, and two sites sharing a name would make the
    // names useless for attribution.
    val named = """Materialize\("([^"]+)"\)""".r
    val code = codeLines("src/main/scala")
    val hits = code.collect {
      case SrcLine(_, at, l) if l.contains(".cache()") ||
          l.contains(".persist(") =>
        s"persists across invocations — $at"
      case SrcLine(f, at, l) if f != "Materialize.scala" &&
          (l.contains(".localCheckpoint(") || l.contains(".checkpoint(")) =>
        s"checkpoint outside Materialize — $at"
      case SrcLine(_, at, l) if l.contains("Materialize(") &&
          named.findFirstIn(l).isEmpty =>
        s"Materialize without a name literal — $at"
    }
    val sites = code.flatMap { case SrcLine(_, at, l) =>
      named.findAllMatchIn(l).map(m => m.group(1) -> at) }
    val shared = sites.groupBy(_._1).collect {
      case (n, ats) if ats.size > 1 =>
        s"name \"$n\" used by ${ats.size} sites — " +
          ats.map(_._2).mkString("; ")
    }
    assert(hits.isEmpty && shared.isEmpty,
      "materialization outside the releaseTransient contract:\n" +
        (hits ++ shared).mkString("\n"))
    assert(sites.nonEmpty, "the sweep found no Materialize site")
  }

  test("every staged layout goes through the Staging seam: no marker " +
      "read or write elsewhere in src/main") {
    // The stage-once protocol (marker format, validity check, delete →
    // build → marker-last) has one owner, sources/Staging.scala; a
    // hand-rolled copy elsewhere is how a layout goes stale unnoticed.
    val protocol = Seq("readMarker(", "markStaged(", "MarkerName",
      "_GRAFT_STAGED")
    val lines = sourceLines("src/main/scala")
    val hits = lines.collect {
      case SrcLine(f, at, l) if f != "Staging.scala" &&
          protocol.exists(l.contains) => at
    }
    assert(hits.isEmpty,
      "stage-once protocol outside graft.sources.Staging:\n" +
        hits.mkString("\n"))
    assert(lines.exists(_.file == "Staging.scala"),
      "the sweep found no Staging seam")
  }

  test("every bounded stream replay goes through StreamQueries' seam: " +
      "one checkpoint, trigger and slice reader in graft.operators") {
    // The replay protocol (throwaway checkpoint → AvailableNow → await →
    // delete, and the one-file-per-batch slice reader) has one owner,
    // StreamQueries.drain / stagedReplaySlices: each token below may
    // appear in exactly one code line of graft.operators, in
    // StreamQueries.scala. The graft.streaming pipelines take a
    // deployment's checkpoint dir and are out of scope.
    val code = codeLines("src/main/scala/graft/operators")
    val bad = Seq("Trigger.AvailableNow()", "\"checkpointLocation\"",
      "createTempDirectory(", "\"maxFilesPerTrigger\"")
      .flatMap(strays(code, _, "StreamQueries.scala"))
    assert(bad.isEmpty,
      "bounded-replay protocol outside its seam:\n" + bad.mkString("\n"))
  }

  test("every exact integer sum or wide product goes through Exact: no " +
      "decimal(38 literal on a code line elsewhere in src/main") {
    // Exact integer column arithmetic has one owner,
    // operators/Exact.scala, whose scaladoc argues each range once; a
    // hand-rolled decimal(38,0) cast elsewhere is a copy that argues its
    // own range alone (and a per-row decimal sum is the slow one).
    val code = codeLines("src/main/scala")
    val hits = code.collect {
      case SrcLine(f, at, l) if f != "Exact.scala" &&
          l.toLowerCase.contains("decimal(38") => at
    }
    assert(hits.isEmpty,
      "exact integer arithmetic outside graft.operators.Exact:\n" +
        hits.mkString("\n"))
    assert(code.exists(_.file == "Exact.scala"),
      "the sweep found no Exact seam")
  }

  test("every DuckDB twin that replays a shared frame interpolates that " +
      "frame's one SQL fragment") {
    // Each token below is the tail of one shared frame's DuckDB replay:
    // the rounded double cosine (SimilarityQueries.cosListSql, also under
    // GraphQueries.pairsCteSql), the dense hourly grid
    // (TimeSeriesQueries.denseHourlySql) and the stopword count under the
    // quality composite (TextQueries.stopCountSql / qualitySql). It may
    // sit on exactly one code line of src/main, inside its fragment; a
    // hand-typed copy in a twin is a replay a formula change can miss.
    val code = codeLines("src/main/scala")
    val bad = Seq(
      "x::DOUBLE * x::DOUBLE)))), 4)" -> "SimilarityQueries.scala",
      "generate_series(h0, h1, 3600000000)" -> "TimeSeriesQueries.scala",
      "t -> t IN ('a', 'the')" -> "TextQueries.scala"
    ).flatMap { case (t, owner) => strays(code, t, owner) }
    assert(bad.isEmpty,
      "shared-frame SQL typed outside its fragment:\n" + bad.mkString("\n"))
  }

  /** One line of a `.scala` file: the file's name, a `path:line: text`
    * locator, and the raw line. */
  private case class SrcLine(file: String, at: String, text: String)

  /** Every line of every `.scala` file under `dir` (relative to the repo
    * root), read as ISO-8859-1: total on bytes, so a stray non-UTF-8
    * literal anywhere in the tree cannot abort a sweep. */
  private def sourceLines(dir: String): Seq[SrcLine] = {
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"sweep must run from the repo root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "ISO-8859-1")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.map { case (l, i) =>
        SrcLine(f.getName, s"${f.getPath}:${i + 1}: ${l.trim}", l)
      }
    }
  }

  /** [[sourceLines]] minus comment lines: those whose first non-blank
    * text is `//`, `*` or a block-comment opener. */
  private def codeLines(dir: String): Seq[SrcLine] =
    sourceLines(dir).filterNot(l =>
      Seq("*", "//", "/*").exists(l.text.trim.startsWith))

  /** A seam token's violations: empty iff `token` sits on exactly one
    * line of `code`, in file `owner`. */
  private def strays(code: Seq[SrcLine], token: String,
      owner: String): Seq[String] = {
    val sites = code.filter(_.text.contains(token))
    if (sites.size == 1 && sites.head.file == owner) Nil
    else Seq(s"$token: ${sites.size} code sites, want one in $owner" +
      sites.map("\n  " + _.at).mkString)
  }
}
