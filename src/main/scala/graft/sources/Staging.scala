package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The engine's one stage-once seam: every derived layout an operator
  * builds once per corpus and reads on every later call (shingle
  * postings, the LSH signature and pair stores, stream replay slices,
  * fixture corpora) goes through [[once]], directly or through
  * [[BucketedLayout.ensureBucketed]] when the layout is catalog tables.
  *
  * The protocol, argued once for every site:
  *  - a staged dir is valid when its `_GRAFT_STAGED` marker exists and
  *    its first line equals `<version>|<listing fingerprint>`;
  *  - the fingerprint (name, length, modtime per file) covers the SOURCE
  *    inputs the layout derives from, each under its full path, so
  *    regenerating an input, or pointing the same scratch root at
  *    another corpus, restages: listing metadata only, no data pass
  *    (the cheap, scheme-portable form of a warehouse's ingest
  *    watermark);
  *  - the version is a literal at each site, not a setting: a changed
  *    staging computation bumps it, and every layout staged by the old
  *    code restages on its next call;
  *  - a restage deletes the dir, runs the build, and writes the marker
  *    LAST, so a stage killed mid-write is restaged, never reused;
  *  - the marker's later lines are whatever the build returned (one DDL
  *    line per catalog table for [[BucketedLayout]]), handed back on
  *    every call so a later JVM can re-register the tables without
  *    reading data.
  *
  * A hot call costs one listing per source, one marker `exists` + read,
  * and nothing else here. Markers written before this seam began
  * `v1|`/`v2|`, with the bare fingerprint, or `<key>|<buckets>|`; each
  * site's version moved past its old tag (bucketed layouts now record
  * `v1|<key>/<buckets>`), so such a marker never equals a current first
  * line and restages. HarnessSpec's sweep fails on a marker read or
  * write anywhere else in `src/main`. */
object Staging {

  val MarkerName = "_GRAFT_STAGED"

  /** Listing fingerprint of `sources` (files or directories). */
  private def fingerprint(s: SparkSession, sources: Seq[String]): String =
    sources.sorted.map { src =>
      val p = new Path(src)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
        .map(f => s"${f.getPath.getName}:${f.getLen}:" +
          s"${f.getModificationTime}")
        .mkString(s"$src[", ",", "]")
    }.mkString(";")

  /** Ensure `dir` holds a stage of `version` over the current `sources`,
    * running `build` (which writes under `dir` and returns the lines to
    * record) only when it does not. Returns the recorded lines. */
  def once(s: SparkSession, dir: String, version: String,
      sources: Seq[String])(build: => Seq[String]): Seq[String] = {
    val spec = s"$version|${fingerprint(s, sources)}"
    readMarker(s, dir).map(_.split("\n", -1).toSeq) match {
      case Some(head +: recorded) if head == spec => recorded
      case _ =>
        val p = new Path(dir)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        val recorded = build
        val out = fs.create(new Path(dir, MarkerName), true)
        try out.write((spec +: recorded).mkString("\n").getBytes("UTF-8"))
        finally out.close()
        recorded
    }
  }

  /** The marker payload for `dir`, if a complete stage exists. */
  def readMarker(s: SparkSession, dir: String): Option[String] = {
    val m = new Path(dir, MarkerName)
    val fs = m.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }
}
