package graft

import org.apache.spark.sql.SparkSession

/** The session of [[Bench]] section 1 (local[SPARK_GRAFT_CPUS], same SQL
  * config, same extra optimizer rules) for the development tools
  * [[BenchExtra]] and [[PlanDump]], so their timings and plans are the
  * ones Bench measures. */
private[graft] object DevSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "32k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++
      Seq(plans.PipBboxPushdown, plans.CellCoverPushdown)
    spark
  }
}
