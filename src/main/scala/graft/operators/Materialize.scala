package graft.operators

import org.apache.spark.sql.DataFrame

/** The engine's one materialization seam: every intermediate frame an
  * operator computes once and reads more than once goes through here,
  * as `.transform(Materialize("<function>.<frame>"))`.
  *
  * It runs the eager `localCheckpoint()` with the SparkContext call site
  * set to `localCheckpoint at <name>`, so the SQL execution that computes
  * the frame carries that description: a trace or profile attributes
  * checkpoint time by a stable name, not by a source line that moves
  * when the file is edited. Both call-site local properties (short and
  * long form) are restored afterwards, also when the checkpoint throws,
  * so the caller's own call site is unchanged. Names are unique across
  * `src/main` (HarnessSpec's sweep checks it, and that no other
  * `.localCheckpoint(` / `.checkpoint(` call exists).
  *
  * The trade, argued once for every site:
  *  - the blocks live in executor-local block storage for the query's
  *    lifetime;
  *  - lineage is truncated, so a lost block (executor loss, eviction)
  *    fails the query: the frame cannot recompute;
  *  - the blocks are released between queries by
  *    [[graft.Harness.releaseTransient]], which is why no caller may
  *    hold a materialized frame across queries;
  *  - a multi-executor deployment that cannot accept the fragility uses
  *    a staged layout instead (written once at ingest, e.g.
  *    `TextQueries.shingleLayout`), not a different policy here.
  *
  * Each call site states only its own reason: which consumers share the
  * frame, which loop's lineage it cuts, or (RankOps) why it is needed
  * for correctness. There is deliberately no policy switch: leaving a
  * frame lazy changes results at RankOps.rangeSortedWithMid (648/15000
  * wrong quartiles when measured), and removing a checkpoint is a
  * per-site decision that needs its own A/B. */
object Materialize {
  private val callSiteKeys = Seq("callSite.short", "callSite.long")

  def apply(name: String)(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val saved = callSiteKeys.map(k => k -> sc.getLocalProperty(k))
    sc.setCallSite(s"localCheckpoint at $name")
    try df.localCheckpoint()
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
