package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.model.SessionMemo

/** One closed-loop client session over a fixed query mix.
  *
  * Usage (normally launched by `perfbench/run.py`):
  * {{{
  * java -cp <classpath> graft.perfbench.Runner --data <sfDir> \
  *   --passes <file> --seconds <s> --min-steady <n> --trace <0|1> \
  *   --cpus <n> --out <json>
  * }}}
  * `--passes` holds one comma-separated query order per line: line 1 is
  * the first pass, the rest are steady passes, run until `--seconds` of
  * steady time have elapsed (whole passes only, at least `--min-steady`
  * of them). Each query is `SparkEntry.queries(name)(spark, dir)`
  * followed by one action that reads every column: a row count plus an
  * order-insensitive hash sum. Nothing in the program is instrumented;
  * every span and counter is taken here, around calls into its public
  * functions.
  *
  * With `--trace 1` the first pass and half the steady passes (see
  * [[tracedPass]]) are traced: a listener attributes each Spark job and
  * stage to the query/phase span that issued it (through the
  * `graft.bench.span` local property). The remaining steady passes run
  * exactly as an untraced run does, which gives a paired in-JVM measure
  * of the tracing overhead.
  */
object Runner {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with nanoTime resolution, on the
    * same axis as the listener's event times. */
  def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6

  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        start: Double, var end: Double = 0.0)

  /** The run's spans, kept in memory and written out at exit. */
  final class Spans {
    val all = mutable.ArrayBuffer.empty[Span]
    def open(parent: Int, kind: String, name: String,
             start: Double = now()): Span = {
      val s = Span(all.size, parent, kind, name, start)
      all += s
      s
    }
  }

  final case class QueryRec(name: String, module: String, start: Double,
                            end: Double, constructS: Double, planS: Double,
                            executeS: Double, rows: Long, checksum: String,
                            error: String, memoBuilds: Long,
                            storageMb: Double)

  final case class PassRec(index: Int, traced: Boolean, start: Double,
                           end: Double, queries: Seq[QueryRec])

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val mainMs = now()
    val opts = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val dir = opts("data")
    val passes = new String(Files.readAllBytes(Paths.get(opts("passes"))), UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty)
      .map(_.split(",").toSeq).toSeq
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val minSteady = opts("min-steady").toInt

    val spans = new Spans
    val run = spans.open(-1, "run", "run", jvmStartMs)

    // --- set-up: JVM start -> session -> one trivial job ---------------
    val setupSpan = spans.open(run.id, "setup", "setup", jvmStartMs)
    val t0 = now()
    val spark = GraftSession.local(cpus, "graft-perfbench")
    val t1 = now()
    spark.range(1000).count()
    val t2 = now()
    setupSpan.end = t2
    val setup = Map(
      "jvm_s" -> (mainMs - jvmStartMs) / 1e3,
      "session_s" -> (t1 - t0) / 1e3,
      "first_job_s" -> (t2 - t1) / 1e3,
      "setup_s" -> (t2 - jvmStartMs) / 1e3)

    val sc = spark.sparkContext
    val recorder = new Recorder
    // host-noise record and end-of-run heap: per-layer only, so an
    // untraced run skips them and its first pass follows set-up directly
    val sentinelStart = if (trace) sentinel(spark) else Double.NaN

    val owner = moduleOwner()
    def runPass(index: Int, order: Seq[String], traced: Boolean): PassRec = {
      if (traced) sc.addSparkListener(recorder)
      val passSpan = spans.open(run.id, "pass", s"pass$index")
      val recs = order.map { name =>
        runQuery(spark, dir, name, owner.getOrElse(name, "other"), spans,
          if (traced) Some(passSpan) else None)
      }
      passSpan.end = now()
      if (traced) {
        recorder.drain(spark)
        sc.removeSparkListener(recorder)
      }
      PassRec(index, traced, passSpan.start, passSpan.end, recs)
    }

    val done = mutable.ArrayBuffer.empty[PassRec]
    done += runPass(0, passes.head, trace)
    val steadyStart = now()
    var i = 1
    def more = i <= minSteady || now() - steadyStart < seconds * 1e3
    while (i < passes.size && more) {
      done += runPass(i, passes(i), trace && tracedPass(i))
      i += 1
    }
    if (more) throw new IllegalStateException(
      s"ran out of pass orders after ${passes.size} passes")

    val sentinelEnd = if (trace) sentinel(spark) else Double.NaN
    val rddCount = storageMb(sc)._2
    val heapMb = if (!trace) Double.NaN else {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    run.end = now()
    spark.stop()

    val out = new StringBuilder
    out ++= "{\"cpus\":" ++= cpus.toString
    out ++= ",\"setup\":" ++= Json.obj(setup.map { case (k, v) => k -> Json.num(v) })
    out ++= ",\"sentinel_start_s\":" ++= Json.num(sentinelStart)
    out ++= ",\"sentinel_end_s\":" ++= Json.num(sentinelEnd)
    out ++= ",\"rdd_count\":" ++= rddCount.toString
    out ++= ",\"heap_live_mb\":" ++= Json.num(heapMb)
    out ++= ",\"passes\":[" ++= done.map(passJson).mkString(",") ++= "]"
    out ++= ",\"spans\":[" ++= spans.all.map(spanJson).mkString(",") ++= "]"
    out ++= ",\"jobs\":[" ++= recorder.jobsJson ++= "]"
    out ++= ",\"stages\":[" ++= recorder.stagesJson ++= "]"
    out ++= ",\"drain_timeouts\":" ++= recorder.timeouts.toString
    out ++= "}\n"
    Files.write(Paths.get(opts("out")), out.toString.getBytes(UTF_8))
  }

  /** Which steady passes of a traced run are traced. Pass 1 is an
    * untraced warm-up; after it come blocks of traced, untraced,
    * untraced, traced (ABBA), so a linear drift over the run cancels out
    * of the traced-vs-untraced comparison. */
  def tracedPass(i: Int): Boolean = i >= 2 && Set(0, 3)((i - 2) % 4)

  /** Bench's host-noise sentinel: a fixed 32M-row `sum(id % 7)` job.
    * Recorded as is; it never filters or re-samples anything. */
  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(32000000L).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Which module's public `queries` map owns each query name. */
  def moduleOwner(): Map[String, String] = {
    import graft.operators._
    Seq(
      "graphops" -> GraphOps.queries.keySet,
      "analytics" -> Analytics.queries.keySet,
      "relational" -> Relational.queries.keySet,
      "dedup" -> Dedup.queries.keySet,
      "similarity" -> Similarity.queries.keySet,
      "textops" -> TextOps.queries.keySet,
      "multimodal" -> Multimodal.queries.keySet,
      "formats" -> graft.sources.Formats.queries.keySet,
    ).flatMap { case (m, ks) => ks.map(_ -> m) }.toMap
  }

  /** Construct, plan and execute one query. When traced (`pass` given),
    * also open its spans and tag each phase's jobs. Exceptions are the
    * query's result, not the run's: they are recorded and counted. */
  def runQuery(spark: SparkSession, dir: String, name: String,
               module: String, spans: Spans, pass: Option[Span]): QueryRec = {
    val sc = spark.sparkContext
    val qSpan = pass.map(p => spans.open(p.id, "query", name))
    def phase[T](ph: String)(body: => T): (T, Double) = {
      val s = qSpan.map { q =>
        val s = spans.open(q.id, "phase", s"$name/$ph")
        sc.setLocalProperty("graft.bench.span", s"$name/$ph")
        sc.setLocalProperty("graft.bench.span_id", s.id.toString)
        s
      }
      val t0 = now()
      try {
        val v = body
        (v, (now() - t0) / 1e3)
      } finally {
        for (sp <- s) {
          sp.end = now()
          sc.setLocalProperty("graft.bench.span", null)
          sc.setLocalProperty("graft.bench.span_id", null)
        }
      }
    }
    val builds0 = SessionMemo.buildCount.get()
    val start = now()
    var c = 0.0; var p = 0.0; var e = 0.0
    var rows = -1L; var sum = ""; var err = ""
    try {
      val (df, cs) = phase("construct")(SparkEntry.queries(name)(spark, dir))
      c = cs
      // analysis + optimisation + physical planning of the checksum
      // query (which embeds the returned frame's plan); the action below
      // reuses this QueryExecution, so forcing it adds no work
      val (probe, ps) = phase("plan") {
        val probe = Checksum.frame(df)
        probe.queryExecution.executedPlan
        probe
      }
      p = ps
      val (res, es) = phase("execute")(probe.collect().head)
      e = es
      rows = res.getLong(0)
      sum = Checksum.combine(res)
    } catch {
      case NonFatal(t) =>
        err = (t.getClass.getName + ": " + String.valueOf(t.getMessage))
          .takeWhile(_ != '\n').take(300)
    }
    val end = now()
    for (q <- qSpan) q.end = end
    QueryRec(name, module, start, end, c, p, e, rows, sum, err,
      SessionMemo.buildCount.get() - builds0, storageMb(sc)._1)
  }

  /** MB held by cached and checkpointed RDDs (memory + disk), and how
    * many RDDs hold blocks. */
  def storageMb(sc: org.apache.spark.SparkContext): (Double, Int) = {
    val held = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (held.map(r => r.memSize + r.diskSize).sum / 1048576.0, held.length)
  }

  private def passJson(p: PassRec): String = Json.obj(Seq(
    "index" -> p.index.toString, "traced" -> p.traced.toString,
    "start" -> Json.num(p.start), "end" -> Json.num(p.end),
    "queries" -> p.queries.map { q =>
      Json.obj(Seq(
        "name" -> Json.str(q.name), "module" -> Json.str(q.module),
        "start" -> Json.num(q.start), "end" -> Json.num(q.end),
        "construct_s" -> Json.num(q.constructS), "plan_s" -> Json.num(q.planS),
        "execute_s" -> Json.num(q.executeS), "rows" -> q.rows.toString,
        "checksum" -> Json.str(q.checksum), "error" -> Json.str(q.error),
        "memo_builds" -> q.memoBuilds.toString,
        "storage_mb" -> Json.num(q.storageMb)))
    }.mkString("[", ",", "]")))

  private def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> s.id.toString, "parent" -> s.parent.toString,
    "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
    "start" -> Json.num(s.start), "end" -> Json.num(s.end)))
}

/** Order-insensitive content hash of a frame, computed by Spark in one
  * action that reads every column. Floating values are rounded to six
  * significant digits first, so the last-bit noise of summation order
  * does not reach the hash. */
object Checksum {
  def frame(df: DataFrame): DataFrame = {
    // positional names: returned frames may repeat or dot their names
    val plain = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cs = plain.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val h = if (cs.isEmpty) lit(0L) else xxhash64(cs: _*)
    plain.agg(count(lit(1)), sum(shiftrightunsigned(h, 32)),
      sum(h.bitwiseAND(0xFFFFFFFFL)))
  }

  def combine(r: org.apache.spark.sql.Row): String = {
    val hi = if (r.isNullAt(1)) 0L else r.getLong(1)
    val lo = if (r.isNullAt(2)) 0L else r.getLong(2)
    val v = ((BigInt(hi) << 32) + BigInt(lo)).mod(BigInt(1) << 64)
    f"$v%016x"
  }

  def roundSig(x: Column): Column = {
    val e = floor(log10(abs(x))) - 5
    when(x.isNull || isnan(x) || x === 0.0 ||
         abs(x) === Double.PositiveInfinity, x)
      .otherwise(round(x / pow(lit(10.0), e)) * pow(lit(10.0), e))
  }

  def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => roundSig(c.cast(DoubleType))
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => canon(x, et))
    case st: StructType if hasFloat(st) =>
      when(c.isNotNull, struct(st.fields.toSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), kv => struct(
        canon(kv.getField("key"), kt).as("k"),
        canon(kv.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => hasFloat(et)
    case st: StructType => st.fields.exists(f => hasFloat(f.dataType))
    case _ => false
  }
}

/** Benchmark-side listener: attributes every job and stage to the span
  * that was current on the submitting thread, and aggregates task
  * metrics per stage. */
final class Recorder extends SparkListener {
  private final class StageRec(val id: Int, val attempt: Int,
                               val spanId: Int, val submit: Double) {
    var complete = 0.0; var failed = false; var numTasks = 0
    var tasks = 0; var tiny = 0; var waitMs = 0.0; var runMs = 0.0
    var gcMs = 0.0; var shufRead = 0L; var shufWrite = 0L; var spillDisk = 0L
  }
  private final class JobRec(val id: Int, val spanId: Int, val start: Double) {
    var end = 0.0
  }

  private val lock = new Object
  private var jobStarts = 0
  private var jobEnds = 0
  private var stagesSubmitted = 0
  private var stagesCompleted = 0
  private var fenceEnded = ""
  private var fenceJobs = Map.empty[Int, String]
  private var fenceSeq = 0
  var timeouts = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("graft.bench.span_id")))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobStarts += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("graft.bench.fence"))) match {
      case Some(token) => fenceJobs += e.jobId -> token
      case None => jobs(e.jobId) = new JobRec(e.jobId, spanOf(e.properties), e.time.toDouble)
    }
    lock.notifyAll()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobEnds += 1
    fenceJobs.get(e.jobId).foreach(t => fenceEnded = t)
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    lock.notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    stagesSubmitted += 1
    val si = e.stageInfo
    val fence = Option(e.properties).exists(_.getProperty("graft.bench.fence") != null)
    if (!fence) stages((si.stageId, si.attemptNumber())) = new StageRec(
      si.stageId, si.attemptNumber(), spanOf(e.properties),
      si.submissionTime.map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble))
    lock.notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stagesCompleted += 1
    val si = e.stageInfo
    stages.get((si.stageId, si.attemptNumber())).foreach { s =>
      s.complete = si.completionTime.map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble)
      s.failed = si.failureReason.isDefined
      s.numTasks = si.numTasks
      val tm = si.taskMetrics
      if (tm != null) {
        s.shufRead = tm.shuffleReadMetrics.totalBytesRead
        s.shufWrite = tm.shuffleWriteMetrics.bytesWritten
        s.spillDisk = tm.diskBytesSpilled
      }
    }
    lock.notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val ti = e.taskInfo
      s.tasks += 1
      if (ti.finishTime - ti.launchTime < 10) s.tiny += 1
      s.waitMs += math.max(0.0, ti.launchTime - s.submit)
      val tm = e.taskMetrics
      if (tm != null) {
        s.runMs += tm.executorRunTime
        s.gcMs += tm.jvmGCTime
      }
    }
  }

  /** Exact drain: run one tagged fence job and wait until the listener
    * has seen it end (the bus delivers in order, so every earlier event
    * has been handled), every job that started has ended, and every
    * submitted stage has completed. No sleeps; a 30 s guard only
    * records a timeout instead of hanging the run. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val token = lock.synchronized { fenceSeq += 1; s"fence$fenceSeq" }
    sc.setLocalProperty("graft.bench.fence", token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("graft.bench.fence", null)
    val deadline = System.currentTimeMillis() + 30000L
    lock.synchronized {
      def settled = fenceEnded == token && jobStarts == jobEnds &&
        stagesSubmitted == stagesCompleted
      while (!settled && System.currentTimeMillis() < deadline)
        lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
      if (!settled) timeouts += 1
    }
  }

  def jobsJson: String = lock.synchronized {
    jobs.values.map { j =>
      Json.obj(Seq("id" -> j.id.toString, "span" -> j.spanId.toString,
        "start" -> Json.num(j.start), "end" -> Json.num(j.end)))
    }.mkString(",")
  }

  def stagesJson: String = lock.synchronized {
    stages.values.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "attempt" -> s.attempt.toString,
        "span" -> s.spanId.toString, "submit" -> Json.num(s.submit),
        "complete" -> Json.num(s.complete), "failed" -> s.failed.toString,
        "num_tasks" -> s.numTasks.toString, "tasks" -> s.tasks.toString,
        "tiny_tasks" -> s.tiny.toString, "task_wait_ms" -> Json.num(s.waitMs),
        "task_run_ms" -> Json.num(s.runMs), "gc_ms" -> Json.num(s.gcMs),
        "shuffle_read" -> s.shufRead.toString,
        "shuffle_write" -> s.shufWrite.toString,
        "spill_disk" -> s.spillDisk.toString))
    }.mkString(",")
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
