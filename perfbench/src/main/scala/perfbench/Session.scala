package perfbench

import org.apache.spark.sql.SparkSession

/** The Spark session every workload runs on: the same settings as the
  * engine's `graft.Bench` (which stays frozen), at `local[cores]`, with the
  * two production optimizer rules registered. Scratch and shuffle files go
  * under `workDir`, so a run touches nothing outside its checkout. */
object Session {
  def start(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "32k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++
      Seq(graft.plans.PipBboxPushdown, graft.plans.CellCoverPushdown)
    spark
  }
}
