package graft

/** Dump `.explain("formatted")` for named contract queries to files,
  * planned in the session of [[Bench]] section 1 ([[DevSession]]). Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <q1,q2,...> [suffix]
  * writes <outDir>/<name>_<suffix>.txt (suffix defaults to "plan").
  * Development/documentation tool only — the driver artifact stays Bench. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(',').toSeq
    val suffix = args.lift(3).getOrElse("plan")
    val spark = DevSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
