package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement-only lab harness (never run by the driver): per-query
  * Spark-job census under the EXACT bench session and noop-sink
  * protocol, separating executor job time from driver-side gaps
  * (planning, collects, checkpoint bookkeeping). Prints one line per
  * key: wall seconds, number of jobs, summed job wall, and the
  * remainder attributable to the driver. Keys come from
  * SPARK_GRAFT_PROFILE_ONLY (comma-separated; default: all), runs per
  * key from SPARK_GRAFT_PROFILE_RUNS (default 2 — first run warm-up,
  * last run reported).
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.get("SPARK_GRAFT_PROFILE_RUNS").map(_.toInt).getOrElse(2)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_PROFILE_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.build(cpus)
    spark.read.parquet(s"$sfDir/region.parquet").count()
    try graft.ops.TextQueries.ensureFpIndex(spark, sfDir)
    catch { case e: Exception => System.err.println(s"[profile] fp pre-stage: $e") }
    try graft.ops.PipelineQueries.ensureFragmented(spark, sfDir)
    catch { case e: Exception => System.err.println(s"[profile] compact pre-stage: $e") }

    @volatile var jobs = 0
    @volatile var jobNanos = 0L
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, System.nanoTime())
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val t0 = starts.remove(je.jobId)
        if (t0 != 0L) { jobs += 1; jobNanos += System.nanoTime() - t0 }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val keys = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    println(f"${"key"}%-34s ${"wall_s"}%8s ${"jobs"}%5s ${"job_s"}%8s ${"driver_s"}%9s")
    keys.foreach { case (name, fn) =>
      var line = ""
      (1 to runs).foreach { _ =>
        spark.catalog.clearCache()
        graft.ops.TextQueries.releaseCaches()
        jobs = 0; jobNanos = 0L
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          val wall = (System.nanoTime() - t0) / 1e9
          // listener-bus drain: events are delivered async; give the
          // tail a moment so the last jobs are counted (census only)
          Thread.sleep(150)
          val jobS = jobNanos / 1e9
          line = f"$name%-34s $wall%8.3f $jobs%5d $jobS%8.3f ${math.max(0.0, wall - jobS)}%9.3f"
        } catch {
          case scala.util.control.NonFatal(e) =>
            line = f"$name%-34s FAILED ${e.getClass.getSimpleName}"
        }
      }
      println(line)
    }
    spark.stop()
  }
}
