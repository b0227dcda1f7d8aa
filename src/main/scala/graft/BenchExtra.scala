package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Instrumented per-query timing harness: the session of [[Bench]]
  * section 1 ([[DevSession]]), plus
  *  - N repetitions per query (prints every sample, min, and median),
  *  - per-query Spark JOB COUNT (scheduling overhead is the dominant cost
  *    for many sub-second queries at sandbox scale),
  *  - a streaming progress listener that prints per-batch durationMs
  *    breakdowns for the q_stream_* family (where the wall time goes:
  *    addBatch / getBatch / walCommit / stateStore commit),
  *  - optional noop-sink timing (arg 4 = "noop") so the computation is
  *    timed without count()'s column pruning (guide §1.4).
  * Usage: runMain graft.BenchExtra <sfDir> <q1,q2,...> [reps] [noop]
  * (e.g. `... <sfDir> q_a,q_b 2` for best-of-2 wall times of two queries).
  * Development tool only — the driver artifact stays [[Bench]]. */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val useNoop = args.lift(3).contains("noop")
    val spark = DevSession()

    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    })
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        println(s"[stream] batch=${e.progress.batchId} rows=${e.progress.numInputRows} " +
          s"durationMs=${e.progress.durationMs}")
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    // same warmup as Bench
    spark.range(0, 2000000)
      .select(xxhash64(col("id")).as("h"), (col("id") % 97).as("k"))
      .groupBy(col("k")).agg(count(lit(1)), sum(col("h"))).count()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(count(lit(1))).count()
    spark.read.parquet(s"$sfDir/documents.parquet").agg(sum(length(col("text")))).count()

    names.foreach { name =>
      // pseudo-query: time the one-time ANN/text snapshot build from a
      // CLEAN stage root each rep (the driver's cold ann_index_build)
      val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        if (name == "ann_index_build") { (sp, d) =>
          Seq("/tmp/graft_ann_stages", "/tmp/graft_text_stages").foreach { p =>
            val dirp = java.nio.file.Paths.get(p)
            if (java.nio.file.Files.exists(dirp)) {
              val walk = java.nio.file.Files.walk(dirp)
              try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
                .forEach(f => java.nio.file.Files.deleteIfExists(f))
              finally walk.close()
            }
          }
          SparkEntry.annEnsureBuilt(sp, d)
          sp.range(1).toDF()
        } else SparkEntry.queries(name)
      val runs = (1 to reps).map { _ =>
        val j0 = jobCount.get()
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(name)
        if (useNoop) fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        else fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        (s, jobCount.get() - j0)
      }
      val best = runs.map(_._1).min
      val med = runs.map(_._1).sorted.apply(reps / 2)
      println(f"[benchextra] $name: best=$best%.2f med=$med%.2f jobs=${runs.last._2} " +
        s"runs=[${runs.map(r => f"${r._1}%.2f").mkString(", ")}]")
    }
    spark.stop()
  }
}
