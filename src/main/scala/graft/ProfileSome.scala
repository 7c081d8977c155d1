package graft

import scala.collection.mutable
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-action profiler for optimization work: runs the named queries like
  * a named [[Bench]] run (noop sink, second pass = steady state) but
  * registers a listener that attributes every Spark job to its call site
  * and every stage to its shuffle read/write volume — the breakdown the Spark UI
  * would give, printed as text the session can read (the UI is disabled in
  * this environment). Output per query: wall seconds, then the job table
  * (seconds, callsite) sorted by cost, then the heaviest stages with
  * shuffle bytes. Measurement-only tooling; never part of a query path.
  */
object ProfileSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_PASSES").flatMap(_.toIntOption).getOrElse(2))
    val spark = LocalSession.create()
    spark.sparkContext.setLogLevel("ERROR")

    case class JobRec(callSite: String, t0: Long, var sec: Double = -1)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    case class StageRec(name: String, sec: Double, shufRead: Long,
                        shufWrite: Long, input: Long, tasks: Int)
    val stages = mutable.ArrayBuffer[StageRec]()
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDesc.put(s.executionId, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val cs = Option(e.properties).flatMap { p =>
            Option(p.getProperty("spark.sql.execution.id"))
              .map(id => Option(execDesc.get(id.toLong)).getOrElse(s"exec$id"))
              .orElse(Option(p.getProperty("callSite.short")))
          }.getOrElse("?")
          jobs(e.jobId) = JobRec(cs, e.time)
          // remember each stage's owning action so onStageCompleted can
          // attribute SQL stages (whose submit-site stack has no graft
          // frames) to the action that ran them
          e.stageInfos.foreach(si => stageOwner.put(si.stageId, cs))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(e.jobId).foreach(r => r.sec = (e.time - r.t0) / 1e3)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val si = e.stageInfo
          val m = si.taskMetrics
          val sec = (for {a <- si.completionTime; b <- si.submissionTime}
            yield (a - b) / 1e3).getOrElse(-1.0)
          // attribute to the owning action (recorded at job start), falling
          // back to the first graft.* frame of the stage's call stack
          val frames = si.details.linesIterator
            .map(_.trim).filter(_.startsWith("graft.")).take(1).toSeq
          val name = Option(stageOwner.get(si.stageId))
            .map(o => s"$o | stage:${si.name.takeWhile(_ != ' ')}")
            .getOrElse(
              if (frames.nonEmpty) frames.mkString(" <- ")
              else si.name.takeWhile(_ != '\n'))
          stages += StageRec(name, sec, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
            si.numTasks)
        }
    }

    Bench.warmup(spark, sfDir)
    val names = args.toSeq
    for (name <- names; pass <- 1 to passes) {
      graft.queries.VectorQueries.fixtureBuildSec.clear()
      jobs.synchronized(jobs.clear()); stages.synchronized(stages.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // every event of the query's jobs reaches the listener before it is
      // removed and the collections are read
      ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      if (pass == passes) {
        println(f"==== $name pass$pass wall=$wall%.2fs " +
          s"fixture=${graft.queries.VectorQueries.fixtureBuildSec.getOrDefault(name, 0.0)}")
        val jobsSnap = jobs.synchronized(jobs.values.toList)
        val byCs = jobsSnap.filter(_.sec >= 0)
          .groupBy(_.callSite)
          .map { case (cs, rs) => (cs, rs.map(_.sec).sum, rs.size) }
          .toSeq.sortBy(-_._2)
        println(f"-- jobs: ${jobsSnap.size} total, ${byCs.map(_._2).sum}%.2fs in-job")
        byCs.takeWhile(_._2 > 0.02).take(40).foreach { case (cs, s, n) =>
          println(f"  $s%8.2fs  x$n%-4d $cs")
        }
        val byStage = stages.synchronized(stages.toList).groupBy(_.name)
          .map { case (nm, ss) =>
            (nm, ss.map(_.sec).sum, ss.map(_.shufRead).sum,
              ss.map(_.shufWrite).sum, ss.map(_.input).sum, ss.size) }
          .toSeq.sortBy(-_._2).take(45)
        println("-- stages (sec, shufR MB, shufW MB, input MB, n):")
        byStage.foreach { case (nm, s, sr, sw, in, n) =>
          println(f"  $s%8.2fs ${sr / 1e6}%9.1f ${sw / 1e6}%9.1f ${in / 1e6}%9.1f x$n%-3d $nm")
        }
      }
    }
    spark.stop()
  }
}
