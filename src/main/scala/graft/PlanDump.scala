package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Measurement tool (optimization rounds): for each named query, dump
  * `.explain("formatted")` of the returned frame plus an execution
  * profile — job count, stage count, shuffle read/write bytes, task
  * count — to `plans/<tag>/<query>_<suffix>.txt`. The profile covers
  * the operator call AND one `count()` of the returned frame. Most
  * iterative operators return an eagerly checkpointed frame, whose
  * explain is just an RDD scan; some (g_katz, g_pagerank) return a lazy
  * frame, whose explain shows the whole pipeline and whose every action
  * re-runs it. Either way the listener profile is the load-bearing
  * evidence: fewer jobs/stages/shuffled bytes for identical results.
  * Counts are exact: each query's profile is read only after
  * `JobProfile.drain`.
  *
  * Usage: sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>"
  * Not a declared query; not part of the driver surface.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    java.nio.file.Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-plandump")
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    graft.operators.Analytics.warmShared(spark, sfDir)
    graft.operators.Similarity.warmShared(spark, sfDir)
    graft.operators.Dedup.warmShared(spark, sfDir)

    val prof = new JobProfile
    spark.sparkContext.addSparkListener(prof)
    for (name <- names) {
      // "conf:k=v" pseudo-entry: set a runtime session conf between
      // queries — lets one JVM interleave conf A/B/A/B for paired
      // samples immune to cross-JVM drift (the host wobbles ±30%).
      if (name.startsWith("conf:")) {
        val Array(k, v) = name.stripPrefix("conf:").split("=", 2)
        spark.conf.set(k, v)
        println(s"[plandump] conf $k=$v")
      } else {
      val fn = SparkEntry.queries(name)
      // settle the previous query's events before zeroing
      prof.drain(spark)
      prof.reset()
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val nRows = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val settled = prof.drain(spark)
      val p = prof.snapshot
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val slow = p.stageLog.sortBy(-_._1).take(15)
        .map { case (d, t, nm) => f"  $d%7.3fs tasks=$t%-4d $nm" }
        .mkString("\n")
      val drainNote = if (settled) "" else " (drain timed out)"
      val profile =
        f"""== Execution profile ($name, $sfDir, local[$cpus]) ==
           |wall_s=$wall%.3f rows=$nRows
           |jobs=${p.jobs} stages=${p.stages} tasks=${p.tasks}$drainNote
           |shuffle_write_bytes=${p.shufWrite} shuffle_read_bytes=${p.shufRead}
           |slowest stages:
           |$slow
           |""".stripMargin
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        (profile + "\n" + plan).getBytes("UTF-8"))
      println(s"[plandump] $name: wall=${f"$wall%.2f"}s jobs=${p.jobs} " +
        s"stages=${p.stages} shufMB=${(p.shufRead + p.shufWrite) / 1024 / 1024}")
      }
    }
    spark.stop()
  }
}

/** Listener profile of the jobs a caller runs: jobs, stages, tasks,
  * shuffle bytes and per-stage durations, with an EXACT drain instead
  * of a sleep. `drain` runs one tagged fence job and waits until the
  * listener has seen the fence end (the bus delivers in order, so every
  * earlier event has been handled), every job that started has ended,
  * and every submitted stage has completed. Fence jobs and their stages
  * are not counted. A 30 s guard returns false instead of hanging.
  *
  * Use: `addSparkListener(p)`, `p.drain(spark); p.reset()`, run the
  * work, `p.drain(spark)`, then read `p.snapshot`. */
private[graft] final class JobProfile extends SparkListener {
  import JobProfile.Snapshot

  private val lock = new Object
  private var jobStarts = 0
  private var jobEnds = 0
  private var stagesSubmitted = 0
  private var stagesCompleted = 0
  private var fenceEnded = ""
  private var fenceJobs = Map.empty[Int, String]
  private var fenceStages = Set.empty[Int]
  private var fenceSeq = 0
  private var cur = Snapshot(0, 0, 0L, 0L, 0L, Vector.empty)

  /** Zero the counters (call after a drain, so nothing earlier lands). */
  def reset(): Unit = lock.synchronized {
    cur = Snapshot(0, 0, 0L, 0L, 0L, Vector.empty)
  }

  def snapshot: Snapshot = lock.synchronized(cur)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobStarts += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(JobProfile.FenceKey))) match {
      case Some(token) =>
        fenceJobs += e.jobId -> token
        fenceStages ++= e.stageIds
      case None => cur = cur.copy(jobs = cur.jobs + 1)
    }
    lock.notifyAll()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobEnds += 1
    fenceJobs.get(e.jobId).foreach(t => fenceEnded = t)
    lock.notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lock.synchronized { stagesSubmitted += 1; lock.notifyAll() }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      stagesCompleted += 1
      val si = e.stageInfo
      if (!fenceStages(si.stageId)) {
        val tm = si.taskMetrics
        val dur = (for {
          c <- si.completionTime; s <- si.submissionTime
        } yield (c - s) / 1e3).getOrElse(-1.0)
        cur = cur.copy(
          stages = cur.stages + 1,
          tasks = cur.tasks + si.numTasks,
          shufWrite = cur.shufWrite +
            (if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten),
          shufRead = cur.shufRead +
            (if (tm == null) 0L else tm.shuffleReadMetrics.totalBytesRead),
          stageLog = cur.stageLog :+
            ((dur, si.numTasks, si.name.takeWhile(_ != '\n').take(120))))
      }
      lock.notifyAll()
    }

  /** Block until every event posted before this call has been handled;
    * false when the 30 s guard expired first. */
  def drain(spark: SparkSession): Boolean = {
    val sc = spark.sparkContext
    val token = lock.synchronized { fenceSeq += 1; s"fence$fenceSeq" }
    sc.setLocalProperty(JobProfile.FenceKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobProfile.FenceKey, null)
    val deadline = System.currentTimeMillis() + 30000L
    lock.synchronized {
      def settled = fenceEnded == token && jobStarts == jobEnds &&
        stagesSubmitted == stagesCompleted
      while (!settled && System.currentTimeMillis() < deadline)
        lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
      settled
    }
  }
}

private[graft] object JobProfile {
  private val FenceKey = "graft.profile.fence"

  /** Counters since the last reset; stageLog = (seconds, tasks, name). */
  final case class Snapshot(jobs: Int, stages: Int, tasks: Long,
                            shufWrite: Long, shufRead: Long,
                            stageLog: Vector[(Double, Int, String)])
}
