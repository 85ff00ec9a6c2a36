package graft

import org.apache.spark.sql.functions._

/** The correctness dump's FAILURE path: a throwing query must land as an
  * error row in errors.json and fail the run — never silently shrink the
  * declared surface (the r8 regression mode: 16 keys vanished from the
  * round's correctness record because exceptions only went to stderr).
  */
class VerifySpec extends SparkSpecBase {

  test("a throwing query lands in errors.json and fails the run") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_verify_spec")
    try {
      val queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame] = Map(
        "good_key" -> ((s, _) => { import s.implicits._; Seq(1, 2).toDF("v") }),
        "bad_key" -> ((s, _) =>
          s.range(1).select(expr("unix_millis(CAST(id AS STRING))"))))
      val (errors, missing) = Verify.run(spark, queries,
        Map("good_key" -> "SELECT 1 AS v"), sfDir, outDir.toString)
      // the good key dumped; the bad key is an ERROR entry, not a gap
      assert(missing == Set("bad_key"))
      assert(errors.keySet == Set("bad_key"))
      assert(errors("bad_key").nonEmpty)
      val errJson = java.nio.file.Files.readString(outDir.resolve("errors.json"))
      assert(errJson.contains("\"bad_key\""),
        s"errors.json missing the thrown key: $errJson")
      assert(spark.read.parquet(s"$outDir/good_key").count() == 2)
      // oracle manifest still written beside the errors manifest
      assert(java.nio.file.Files.exists(outDir.resolve("oracle_sql.json")))
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(outDir)
      val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      paths.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("a clean run reports no errors and an empty errors.json object") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_verify_spec2")
    try {
      val queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame] = Map(
        "only_key" -> ((s, _) => { import s.implicits._; Seq(42).toDF("v") }))
      val (errors, missing) =
        Verify.run(spark, queries, Map.empty, sfDir, outDir.toString)
      assert(errors.isEmpty && missing.isEmpty)
      assert(java.nio.file.Files.readString(outDir.resolve("errors.json")) == "{}")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(outDir)
      val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      paths.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
