package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only job profiler: runs each named query twice through
  * [[Bench.timeOne]] (a warm call, then a recorded one) and prints one line per Spark job of the timed pass — wall
  * duration, stage/task counts, and summed task time — so the serial
  * action structure of a query is visible without the UI.
  * `runMain graft.ProbeJobs <sfDir> <query> [query...]` */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Session(Session.cpus)
    Land.root = "/tmp/graft_probe_land"
    Gates.configureForTiming()

    case class J(start: Long, var stages: Int = 0, var tasks: Int = 0,
                 var taskTimeMs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    // stageId → owning jobId, recorded at job start so completed stages
    // can be attributed (ADVICE r13: the J counters were never fed, so
    // every PROBEJOB line printed stages=0 tasks=0)
    val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (record) {
          jobs.put(e.jobId, J(e.time))
          e.stageInfos.foreach(si => stageOwner.put(si.stageId, e.jobId))
          ()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = e.stageInfo
          val ms = (for { a <- si.completionTime; b <- si.submissionTime }
            yield a - b).getOrElse(-1L)
          Option(stageOwner.get(si.stageId)).flatMap(j => Option(jobs.get(j)))
            .foreach { j =>
              j.synchronized {
                j.stages += 1
                j.tasks += si.numTasks
                j.taskTimeMs += si.taskMetrics.executorRunTime
              }
            }
          println(f"PROBESTAGE ${si.stageId}%4d wall=${ms / 1000.0}%6.2fs tasks=${si.numTasks}%4d ${si.name.take(90)}")
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (record) Option(jobs.get(e.jobId)).foreach { j =>
          println(f"PROBEJOB id=${e.jobId}%3d wall=${(e.time - j.start) / 1000.0}%7.2fs stages=${j.stages}%2d tasks=${j.tasks}%4d taskTime=${j.taskTimeMs / 1000.0}%7.2fs")
        }
    }
    spark.sparkContext.addSparkListener(listener)

    for (name <- args.tail) {
      Bench.timeOne(spark, dir, name)
      println(s"===== $name timed pass =====")
      record = true
      val s = Bench.timeOne(spark, dir, name)
      record = false
      println(f"PROBEJOB TOTAL $name $s%.2f s, ${jobs.size} jobs")
      jobs.clear()
    }
    spark.stop()
  }
}
