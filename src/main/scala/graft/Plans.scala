package graft


/** Plan auditor — dumps the formatted physical plan of selected declared
  * queries so scan pushdown (`PushedFilters`, `ReadSchema`), join
  * strategies (BroadcastHashJoin vs SortMergeJoin), and whole-stage
  * codegen spans can be reviewed and iterated on. Not part of the driver
  * contract; a development tool (`sbt "runMain graft.Plans [keys...]"`).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // the SHARED session config (GraftSession): a plan audited here must
    // be the plan the verified/benchmarked engine actually runs — this
    // main used to carry a drifted verbatim copy (no ObjectHashAggregate
    // headroom, no warehouse override), so the audited aggregate shapes
    // could differ from the shipped ones
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR") // plans only — keep output clean
    // Optional at-scale simulation: shrink the split size so the local
    // corpus estimates to >= cores scan splits — the shape spreadBytes'
    // identity guarantee claims at 100 TB (e.g. SPARK_GRAFT_PLANS_MAXSPLIT=1024).
    sys.env.get("SPARK_GRAFT_PLANS_MAXSPLIT")
      .foreach(v => spark.conf.set("spark.sql.files.maxPartitionBytes", v))
    val keys =
      if (args.nonEmpty) args.toSeq
      else Seq("scan_project", "scan_physical_partition", "join_broadcast_dim",
        "join_shuffle_fact", "bucketed_join_colocated", "dedup_minhash_lsh",
        "sim_brute_force_topk", "sim_ivf_topk", "sim_ivf_write_layout",
        "unpivot_agg", "events_window_agg")
    keys.foreach { k =>
      SparkEntry.queries.get(k) match {
        case Some(fn) =>
          println(s"\n================ $k ================")
          try println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Exception => println(s"FAILED: ${e.getMessage}") }
        case None => println(s"\n================ $k: NO SUCH QUERY ================")
      }
    }
    spark.stop()
  }
}
