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
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"sweep must run from the repo root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    // The per-invocation persistence itself has one entry point,
    // Materialize: a raw checkpoint elsewhere would be an unnamed
    // materialization, and two sites sharing a name would make the
    // names useless for attribution.
    val named = """Materialize\("([^"]+)"\)""".r
    val code = files(root).flatMap { f =>
      // ISO-8859-1: total on bytes — a stray non-UTF-8 literal anywhere
      // in the tree must not abort the sweep.
      val src = scala.io.Source.fromFile(f, "ISO-8859-1")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.collect {
        case (l, i) if !Seq("*", "//", "/*").exists(l.trim.startsWith) =>
          (f, s"${f.getPath}:${i + 1}: $l", l)
      }
    }
    val hits = code.collect {
      case (_, at, l) if l.contains(".cache()") || l.contains(".persist(") =>
        s"persists across invocations — $at"
      case (f, at, l) if f.getName != "Materialize.scala" &&
          (l.contains(".localCheckpoint(") || l.contains(".checkpoint(")) =>
        s"checkpoint outside Materialize — $at"
      case (_, at, l) if l.contains("Materialize(") &&
          named.findFirstIn(l).isEmpty =>
        s"Materialize without a name literal — $at"
    }
    val sites = code.flatMap { case (_, at, l) =>
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
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"sweep must run from the repo root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val protocol = Seq("readMarker(", "markStaged(", "MarkerName",
      "_GRAFT_STAGED")
    val hits = files(root).filter(_.getName != "Staging.scala").flatMap { f =>
      val src = scala.io.Source.fromFile(f, "ISO-8859-1")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.collect {
        case (l, i) if protocol.exists(l.contains) =>
          s"${f.getPath}:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty,
      "stage-once protocol outside graft.sources.Staging:\n" +
        hits.mkString("\n"))
    assert(files(root).exists(_.getName == "Staging.scala"),
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
    val root = new java.io.File("src/main/scala/graft/operators")
    assert(root.isDirectory, s"sweep must run from the repo root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val protocol = Seq("Trigger.AvailableNow()", "\"checkpointLocation\"",
      "createTempDirectory(", "\"maxFilesPerTrigger\"")
    val code = files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "ISO-8859-1")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.collect {
        case (l, i) if !Seq("*", "//", "/*").exists(l.trim.startsWith) =>
          (f.getName, s"${f.getPath}:${i + 1}: ${l.trim}", l)
      }
    }
    val bad = protocol.flatMap { t =>
      val sites = code.filter(_._3.contains(t))
      if (sites.size == 1 && sites.head._1 == "StreamQueries.scala") Nil
      else Seq(s"$t: ${sites.size} code sites, want one in " +
        "StreamQueries.scala" + sites.map("\n  " + _._2).mkString)
    }
    assert(bad.isEmpty,
      "bounded-replay protocol outside its seam:\n" + bad.mkString("\n"))
  }
}
