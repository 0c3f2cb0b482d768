package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A call into one layer: `name` is `<layer>.<call>`; `op` is the
  * closed-loop operation it belongs to (-1 outside operations). */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val phase: String, val startNs: Long, val startMs: Long) {
  var endNs = -1L
  var endMs = -1L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
}

/** Listener counts of one Spark job, attributed to the innermost span
  * open on the submitting thread (`-1` when the job carried no span
  * property; the trace reader then attributes it by time). */
final class JobStat(val id: Int, val span: Int, val startMs: Long) {
  var endMs = -1L
  var stages, tasks = 0
  var runMs, cpuNs, gcMs, schedMs, inB, shReadB, shWriteB, spillB = 0L
}

/** What one benchmark process records: end-to-end samples always; in
  * traced mode also spans around every layer call plus the listener's
  * job/stage/task counts, kept in memory and written out at the end. */
final class Run(val spark: SparkSession, val traced: Boolean,
    outDir: String) {
  // (class, ms, measured round)
  val samples = mutable.ArrayBuffer.empty[(String, Double, Int)]
  val rounds = mutable.ArrayBuffer.empty[Double] // seconds per round
  val setups = mutable.ArrayBuffer.empty[Double] // seconds per set-up
  val notes = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  var phase = "setup"

  private val results = mutable.ArrayBuffer.empty[Seq[(String, Any)]]

  /** One output record for the correctness check. It is kept raw
    * (collected rows included) and rendered by [[writeResults]] after
    * the measured rounds, so no round's time holds the harness's work. */
  def result(fields: (String, Any)*): Unit = results += fields

  /** Render the kept records to results.jsonl and drop them, before
    * the heap is measured. */
  def writeResults(): Unit = {
    write("results.jsonl",
      results.view.map(f => Json.render(mutable.LinkedHashMap(f: _*))))
    results.clear()
  }

  // ---- closed-loop operations -------------------------------------------
  private var opSeq = 0
  private var curOp = -1

  /** Run one operation of class `cls`; its latency is a sample when the
    * run is measuring. A failure is counted and the loop goes on. */
  def op[A](cls: String)(f: => A): Option[A] = {
    attempted += 1
    opSeq += 1
    curOp = opSeq
    val t0 = System.nanoTime()
    try {
      val r = span(s"client.$cls")(f)
      val ms = (System.nanoTime() - t0) / 1e6
      if (phase == "measure") samples += ((cls, ms, rounds.size))
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        if (errors.size < 20) errors += s"$cls: $e"
        None
    } finally curOp = -1
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- spans ----------------------------------------------------------------
  private val SpanKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[A](name: String)(f: => A): A =
    if (!traced) f
    else {
      val parent = open.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        curOp, phase, System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
      }
    }

  /** Attach a count to the innermost open span (traced runs only). */
  def attr(key: String, value: Any): Unit =
    if (traced) open.headOption.foreach(_.attrs(key) = value)

  // ---- listener (traced runs only) -----------------------------------------
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.Map.empty[Int, JobStat]
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
        .getOrElse(-1)
      val j = new JobStat(e.jobId, span, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        val i = e.taskInfo
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.schedMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime)
        j.inB += m.inputMetrics.bytesRead
        j.shReadB += m.shuffleReadMetrics.totalBytesRead
        j.shWriteB += m.shuffleWriteMetrics.bytesWritten
        j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }
  if (traced) spark.sparkContext.addSparkListener(listener)

  // ---- measured window ------------------------------------------------------
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gc0 = 0L
  private var t0 = 0L
  private var measuredS = 0.0

  def startMeasuring(): Unit = {
    phase = "measure"
    gc0 = gcMs
    t0 = System.nanoTime()
  }

  def stopMeasuring(): Unit = {
    measuredS = (System.nanoTime() - t0) / 1e9
    notes("jvm_gc_s") = (gcMs - gc0) / 1e3
    phase = "end"
  }

  /** Engine JVM heap after a full GC, in MB. Spark's ContextCleaner
    * drops broadcast and shuffle blocks (held on heap) only after a GC
    * has released their references, asynchronously: collect, give it
    * time, collect again. */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Write run.json (end-to-end record) and, when traced, spans.jsonl
    * and jobs.jsonl. */
  def finish(heapMb: Double): Unit = {
    if (traced)
      org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
    val run = mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors,
      "measured_s" -> measuredS, "setup_s" -> setups, "rounds_s" -> rounds,
      "heap_retained_mb" -> heapMb,
      "samples" -> samples.map { case (c, ms, r) => Seq(c, ms, r) },
      "notes" -> notes)
    write("run.json", Seq(Json.render(run)))
    if (traced) {
      write("spans.jsonl", spans.map(s => Json.render(mutable.LinkedHashMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "phase" -> s.phase, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))))
      write("jobs.jsonl", jobs.values.map(j => Json.render(
        mutable.LinkedHashMap("id" -> j.id, "span" -> j.span,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
          "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs, "sched_ms" -> j.schedMs,
          "input_b" -> j.inB, "shuffle_read_b" -> j.shReadB,
          "shuffle_write_b" -> j.shWriteB, "spill_b" -> j.spillB))))
    }
  }

  private def write(name: String, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(new File(outDir, name), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
