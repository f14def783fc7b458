package graft

/** Plan-inspection harness: `runMain graft.Profile <query> [sfDir]` prints
  * the formatted physical plan and three timed runs of one SparkEntry
  * query — the explain-then-iterate loop for shuffle/pushdown auditing.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    // one default, overridable by env (ADVICE r14: the "10x" alias
    // hardcoded a second literal, pinning the profiler's scale-up base
    // to this machine's layout)
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sfDir = if (args.length > 1) args(1) else baseDir
    val spark = GraftSession("graft-profile")
    // "10x" derives (or reuses) Bench's scaled corpus from sf0.1 so sf1
    // hot spots can be profiled outside a full bench run
    val dir = if (sfDir == "10x") BenchData.ensureScaled(spark, baseDir)
              else sfDir
    val fn = SparkEntry.queries(name)
    // Bench's per-query block hygiene (r15): a run's orphaned
    // localCheckpoint blocks must not tax the next run, or three-run
    // profiles of checkpoint-heavy queries read an accumulating slope
    // instead of steady state (p62 measured 4.9/5.6/8.6 s without this)
    val keepRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    fn(spark, dir).explain("formatted")
    Bench.dropOrphanRdds(spark, keepRdds)
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis + optimization
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      Bench.dropOrphanRdds(spark, keepRdds)
      println(f"[profile] $name run $i: ${(t3 - t0) / 1e9}%.3f s " +
        f"(build ${(t1 - t0) / 1e9}%.3f, plan ${(t2 - t1) / 1e9}%.3f, exec ${(t3 - t2) / 1e9}%.3f)")
    }
    spark.stop()
  }
}
