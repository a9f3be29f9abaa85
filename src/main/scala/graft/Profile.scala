package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement-only main: run named queries through the
  * noop sink with a stage listener and print, per query, the wall time
  * plus every stage's task count / duration / shuffle+input volumes.
  * This is how single-task scan stages, exchange counts and straggler
  * stages are diagnosed without the (disabled) Spark UI. Not part of
  * the declared surface; changes nothing a query computes.
  * Usage: graft.Profile <sfDir> <query> [query ...]
  * (env SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS — see [[Harness.Knobs]])
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = Harness.session()
    case class St(name: String, tasks: Int, ms: Long, inMB: Double,
        shReadMB: Double, shWriteMB: Double, rows: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
        val si = sc.stageInfo
        val d = for (a <- si.submissionTime; b <- si.completionTime) yield b - a
        stages += St(si.name.takeWhile(_ != '\n').take(60), si.numTasks,
          d.getOrElse(-1L),
          si.taskMetrics.inputMetrics.bytesRead / 1e6,
          si.taskMetrics.shuffleReadMetrics.remoteBytesRead / 1e6 +
            si.taskMetrics.shuffleReadMetrics.localBytesRead / 1e6,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6,
          si.taskMetrics.outputMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      Harness.run(spark, name, sfDir)(Harness.noop)
      (System.nanoTime() - t0) / 1e9
    }
    val reps = Harness.knobs.reps
    for (name <- names) {
      spark.sparkContext.setJobDescription(name)
      runOnce(name) // warmup (codegen/JIT), discarded
      var sec = Double.MaxValue
      var best = 0
      val repTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (r <- 1 to reps) {
        synchronized { stages.clear(); jobs = 0 }
        val t = runOnce(name)
        repTimes += t
        if (t < sec) { sec = t; best = r }
      }
      println(f"[reps $name] " + repTimes.map(t => f"$t%.2f").mkString(" "))
      // stats below describe the LAST rep; `sec` is the min wall time
      Thread.sleep(300) // let the listener bus drain the final stage events
      val totTasks = stages.map(_.tasks).sum
      println(f"\n===== $name%s  wall=${sec}%.3f s  jobs=$jobs%d  stages=${stages.size}%d  tasks=$totTasks%d =====")
      println(f"${"tasks"}%6s ${"ms"}%7s ${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s  stage")
      stages.foreach { s =>
        println(f"${s.tasks}%6d ${s.ms}%7d ${s.inMB}%8.2f ${s.shReadMB}%8.2f ${s.shWriteMB}%8.2f  ${s.name}")
      }
      val byStage = stages.groupBy(_.name).view.mapValues(_.map(_.ms).sum).toSeq.sortBy(-_._2)
      println("-- top stage groups by total ms:")
      byStage.take(8).foreach { case (n, ms) => println(f"  $ms%7d ms  $n") }
    }
    spark.stop()
  }
}
