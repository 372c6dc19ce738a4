package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.sources.SourceQueries

/** One shared local[4] session for the whole suite (SURVEY §5.2) —
  * building a session per spec would dominate test wall-time. Extensions
  * are installed the deployment way (`spark.sql.extensions`), so tests
  * also prove GraftExtensions wiring. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkFixture extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private val toDelete = mutable.ArrayBuffer.empty[String]

  /** A fresh temp dir to write a hand-made corpus into. After the suite
    * it is deleted, and so is the scratch root its staged layouts land
    * under (`SourceQueries.scratch`, keyed by the dir's name): the
    * test that made them is the only one that reads them. */
  def tempCorpus(prefix: String): String =
    deleteAfterSuite(Files.createTempDirectory(prefix).toString)

  /** [[tempCorpus]] for a corpus whose dir name matters: `name` inside a
    * fresh temp dir, cleaned up the same way. */
  def tempCorpus(prefix: String, name: String): String =
    deleteAfterSuite(s"${tempCorpus(prefix)}/$name")

  private def deleteAfterSuite(dir: String): String = synchronized {
    toDelete += dir
    toDelete += new File(SourceQueries.scratch(dir, "_")).getParent
    dir
  }

  override def afterAll(): Unit =
    try toDelete.foreach { d =>
      val root = Paths.get(d)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    } finally super.afterAll()
}
