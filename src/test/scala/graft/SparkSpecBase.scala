package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the Verify/Bench session
  * ([[GraftSession.build]]) at width 4.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpecBase.session

  val sfDir = "/root/testdata/sf0.001"

  // --- shared file-tree helpers for the persisted-layout contract
  // specs (incremental append, retrain rewrite, no-op lock) — ONE
  // definition so a change to the layout's file-tree contract (e.g. a
  // new metadata file) is fixed in one place, not per-spec copies ----

  /** (relative path -> byte size) of a layout's DATA files — Spark
    * `_`/`.`-prefixed metadata excluded, because write jobs legitimately
    * refresh `_SUCCESS` even when no data file changes. */
  def dataFileSizes(layout: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(layout)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p))
      .toMap
    finally walk.close()
  }

  /** (relative path -> (size, mtime)) over ALL files including
    * metadata — the strict form for no-op locks, where not even a
    * `_SUCCESS` refresh is allowed to run. */
  def fileTreeStrict(layout: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(layout)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => base.relativize(p).toString ->
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally walk.close()
  }

  /** Spark jobs submitted while `body` runs. Counted via the MONOTONE
    * max job id, not the tracked-job-list size: the status tracker
    * evicts old jobs, so a length delta can go negative in a long-lived
    * test session. */
  def jobsDuring(body: => Unit): Int = {
    def maxId = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    val before = maxId
    body
    maxId - before
  }

  /** Recursive delete of a throwaway spec directory. */
  def deleteTree(root: java.nio.file.Path): Unit =
    graft.exec.Fs.deleteTree(root)
}

object SparkSpecBase {
  // one session across all suites — sbt runs suites sequentially in one
  // JVM; built by the entry points' own builder, so the specs run the
  // confs (and the local filesystem) that ship
  lazy val session: SparkSession = GraftSession.build("4")
}
