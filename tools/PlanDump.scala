/** Prints the optimized plan of every `graft.SparkEntry.queries` entry,
  * sorted by name, each under a `=== <name>` header:
  *
  *   PlanDump <sfDir> <outFile>
  *
  * Compiled together with a tree's `src/main/scala` by
  * `tools/plan_identity.py`, which compares two trees' dumps. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sf, out) = args
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1").getOrCreate()
    val w = new java.io.PrintWriter(out, "UTF-8")
    for ((name, q) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      w.println(s"=== $name")
      w.println(q(spark, sf).queryExecution.optimizedPlan)
      w.flush()
    }
    w.close()
    spark.stop()
  }
}
