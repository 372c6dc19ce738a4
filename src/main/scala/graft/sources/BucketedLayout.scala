package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed table layout for co-located, shuffle-free joins (SURVEY §2 /
  * the 100 TB mandate's "pre-partitioning/bucketing" path).
  *
  * At cluster scale the dominant cost of a fact⋈fact equi join is the
  * pairwise shuffle. Writing both tables bucketed (and sorted) by the
  * join key moves that shuffle to WRITE time, once; every subsequent join
  * on the key reads co-located buckets and plans a SortMergeJoin with NO
  * Exchange on either side (asserted in BucketedLayoutSpec). This is the
  * standard Spark answer to "reuse a partitioning across stages/jobs" —
  * bucket metadata lives in the catalog, so it survives sessions,
  * unlike `repartition()` which is per-plan.
  */
object BucketedLayout {

  /** Write `df` as a bucketed, sorted table. With `path` the table is
    * external at that location (independent of `spark.sql.warehouse.dir`
    * — the declared query path, whose harness sessions don't configure a
    * warehouse); without, a managed table in the warehouse. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** One bucketed table of a staged layout: `name` over the files at
    * `path`, bucketed and sorted by `key` into `buckets`. `data` runs
    * only on a restage. */
  final case class Table(name: String, key: String, buckets: Int,
      path: String)(val data: () => DataFrame)

  /** Stage-once bucketed layout under `root` (the [[Staging.once]]
    * protocol): ensure every table in `tables` is registered in the
    * catalog over its bucketed files, writing DATA only when the layout
    * has not been staged for `version` over the current `sources`.
    *
    * Bucketing is an INGEST-time cost, paid once per dataset. When the
    * stage is valid, any table the catalog lost (it dies with the JVM,
    * the files do not) is re-registered from its recorded DDL: catalog
    * entry only, no data pass (Spark recovers bucket ids from the file
    * names). A restage drops and writes the tables in list order, so a
    * later table's `data` may read an earlier one back through the
    * catalog. The bucket spec is recorded beside `version`, so changing
    * a key or a bucket count restages too. */
  def ensureBucketed(s: SparkSession, root: String, version: String,
      sources: Seq[String], tables: Table*): Unit = {
    val spec = tables.map(t => s"${t.key}/${t.buckets}").mkString(",")
    val ddls = Staging.once(s, root, s"$version|$spec", sources) {
      tables.foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS ${t.name}")
        writeBucketed(t.data(), t.name, t.key, t.buckets, Some(t.path))
      }
      tables.map(t => s.table(t.name).schema.toDDL)
    }
    for ((t, ddl) <- tables.zip(ddls) if !s.catalog.tableExists(t.name)) {
      s.sql(s"CREATE TABLE ${t.name} ($ddl) USING parquet " +
        s"CLUSTERED BY (${t.key}) SORTED BY (${t.key}) " +
        s"INTO ${t.buckets} BUCKETS LOCATION '${t.path}'")
    }
  }

  /** Co-locate two frames on their join keys with the same bucket count
    * (equal bucket counts + same key hash ⇒ bucket i joins bucket i). */
  def colocate(s: SparkSession, left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String, buckets: Int,
      leftTable: String, rightTable: String): (DataFrame, DataFrame) = {
    writeBucketed(left, leftTable, leftKey, buckets)
    writeBucketed(right, rightTable, rightKey, buckets)
    (s.table(leftTable), s.table(rightTable))
  }
}
