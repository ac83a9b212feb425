package graft

import org.apache.spark.scheduler._

/** Dev tool: run declared queries under a job listener and print the
  * per-job wall breakdown (job id, seconds, task count) — the local-mode
  * stand-in for the Spark UI's job timeline (guide §7.1), used to tell
  * driver-loop scheduling overhead from real task work. NOT part of the
  * shipped library and not a declared query.
  *
  * Usage: sbt "runMain graft.Probe <nameRegex> [reps]"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val pat = args(0).r
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = Harness.sfDir
    val spark = Harness.session(Harness.cpus, bench = true)
    Harness.stage(spark, sfDir)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val stages = e.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString("|")
        jobs.put(e.jobId, (System.nanoTime(),
          e.stageInfos.map(_.numTasks).sum, stages.take(120)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(e.jobId)
        if (st != null)
          done.add((e.jobId, (System.nanoTime() - st._1) / 1e9, st._2, st._3))
      }
    })
    for ((name, fn) <- Harness.plans(Some(pat))) {
      for (r <- 1 to reps) {
        Harness.isolate(spark)
        done.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graft.ListenerSync.drain(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        val js = done.asScala.toSeq.sortBy(_._1)
        println(f"== $name rep $r: $sec%.3f s, ${js.size} jobs, " +
          f"${js.map(_._3).sum} tasks")
        if (r == reps)
          js.foreach { case (id, s, n, st) =>
            println(f"   job $id%5d  $s%7.3f s  $n%5d tasks  $st")
          }
      }
    }
    spark.stop()
  }
}
