package graft

/** Targeted per-query timing for optimization iteration — NOT the bench
  * artifact (that is [[Bench]], whose methodology the driver owns). Runs
  * only the named queries: one warm-up each at sf0.001, then `reps` timed
  * runs at `SPARK_GRAFT_SF_DIR` printing every rep, so a single query can
  * be profiled in seconds instead of the full-suite warm-up the bench
  * pays. Usage: `runMain graft.QTime q237_bloom_index_lookup [reps]`.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    // only the FINAL arg may be a reps count — a query name that happens to
    // parse as an Int elsewhere in the list must stay a query name
    val reps = args.lastOption.flatMap(a => scala.util.Try(a.toInt).toOption)
      .getOrElse(3)
    val names =
      if (args.nonEmpty && scala.util.Try(args.last.toInt).isSuccess) args.init
      else args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-qtime")
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      // a failed warm-up means the timed reps would throw too — skip to the
      // next query instead of aborting the whole run
      val warmOk =
        try { fn(spark, "/root/testdata/sf0.001").count(); true }
        catch { case scala.util.control.NonFatal(t) => println(s"warmup $n FAILED: $t"); false }
      if (warmOk) {
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"QTIME $n reps=$reps ${ts.map(t => f"$t%.3f").mkString(" ")} median=${ts.sorted.apply(reps / 2)}%.3f")
      }
    }
    spark.stop()
  }
}
