package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only job profiler: runs each named query twice through
  * [[Bench.timeOne]] (a warm call, then a recorded one) and prints one line per Spark job of the timed pass — wall
  * duration, stage/task counts, summed task time, and shuffle bytes read
  * and written — then a TOTAL line per query, so the serial action
  * structure and the shuffle volume of a query are visible without the UI.
  * `runMain graft.ProbeJobs <sfDir> <query> [query...]` */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Session(Session.cpus)
    val sc = spark.sparkContext
    Land.root = "/tmp/graft_probe_land"
    Gates.configureForTiming()

    case class J(start: Long, var stages: Int = 0, var tasks: Int = 0,
                 var taskTimeMs: Long = 0L, var shuffleRead: Long = 0L,
                 var shuffleWrite: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    // stageId → owning jobId, recorded at job start so completed stages
    // can be attributed (ADVICE r13: the J counters were never fed, so
    // every PROBEJOB line printed stages=0 tasks=0)
    val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    // The timed pass's jobs carry `Timed`; listener events arrive in
    // order, so once a later `Fence` job's start is in, every timed
    // job's events are too and the TOTAL line sees them all.
    val Timed = "graft-probe"
    val Fence = "graft-probe-fence"
    val fenced = new java.util.concurrent.Semaphore(0)
    def tagged(e: SparkListenerJobStart, tag: String): Boolean =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.split(",").contains(tag))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e, Timed)) {
          jobs.put(e.jobId, J(e.time))
          e.stageInfos.foreach(si => stageOwner.put(si.stageId, e.jobId))
        } else if (tagged(e, Fence)) fenced.release()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        Option(stageOwner.get(si.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach { j =>
            val ms = (for { a <- si.completionTime; b <- si.submissionTime }
              yield a - b).getOrElse(-1L)
            j.synchronized {
              j.stages += 1
              j.tasks += si.numTasks
              j.taskTimeMs += si.taskMetrics.executorRunTime
              j.shuffleRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
              j.shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
            }
            println(f"PROBESTAGE ${si.stageId}%4d wall=${ms / 1000.0}%6.2fs tasks=${si.numTasks}%4d ${si.name.take(90)}")
          }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach { j =>
          println(f"PROBEJOB id=${e.jobId}%3d wall=${(e.time - j.start) / 1000.0}%7.2fs stages=${j.stages}%2d tasks=${j.tasks}%4d taskTime=${j.taskTimeMs / 1000.0}%7.2fs shuffleRead=${j.shuffleRead}%d shuffleWrite=${j.shuffleWrite}%d")
        }
    }
    sc.addSparkListener(listener)

    for (name <- args.tail) {
      Bench.timeOne(spark, dir, name)
      println(s"===== $name timed pass =====")
      sc.addJobTag(Timed)
      val s = try Bench.timeOne(spark, dir, name) finally sc.removeJobTag(Timed)
      sc.addJobTag(Fence)
      try sc.parallelize(Seq(0), 1).count() finally sc.removeJobTag(Fence)
      require(fenced.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener events of the timed pass did not arrive within 60 s")
      val js = jobs.values.asScala.toSeq
      println(f"PROBEJOB TOTAL $name $s%.2f s, ${js.size} jobs, ${js.map(_.tasks).sum} tasks, shuffleRead=${js.map(_.shuffleRead).sum}%d shuffleWrite=${js.map(_.shuffleWrite).sum}%d")
      jobs.clear()
      stageOwner.clear()
    }
    spark.stop()
  }
}
