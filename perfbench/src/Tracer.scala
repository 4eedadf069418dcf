package perfbench

import scala.collection.mutable

/** In-memory span recorder. Times are milliseconds since the benchmark
  * process's origin; spans are written out once, when the run ends.
  *
  * Benchmark spans nest on the driver's main thread. While a span is open
  * its id rides the `perfbench.span` Spark local property, so every job
  * the main thread submits is tagged with the innermost open span. The
  * parent of a job is settled after the run (`assign_parents` in
  * perfbench/metrics.py), which is also where generation spans, rebuilt
  * from committed manifests, take the jobs that fall inside them. */
final class Tracer(val runId: String, spark: org.apache.spark.sql.SparkSession) {
  final case class Span(id: Int, name: String, kind: String, parent: Int,
      start: Double, var end: Double, attrs: mutable.LinkedHashMap[String, Any])

  private val originNanos = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile var enabled = false

  def nowMs: Double = (System.nanoTime() - originNanos) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - originEpochMs).toDouble

  private def tagMainThread(): Unit =
    spark.sparkContext.setLocalProperty("perfbench.span",
      stack.headOption.map(_.id.toString).orNull)

  /** Time `f` as a span named `name` under the innermost open span. With
    * tracing off, `f` runs untouched and no span is kept. */
  def span[A](name: String, kind: String = "layer")(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, kind, stack.headOption.map(_.id).getOrElse(-1),
        nowMs, Double.NaN, mutable.LinkedHashMap.empty)
      spans += s
      stack.push(s)
      tagMainThread()
      try f
      finally {
        s.end = nowMs
        stack.pop()
        tagMainThread()
      }
    }

  /** Add a span whose interval was measured elsewhere (generations rebuilt
    * from manifests). */
  def record(name: String, kind: String, parent: Int, start: Double, end: Double,
      attrs: (String, Any)*): Unit =
    spans += Span(spans.size, name, kind, parent, start, end, mutable.LinkedHashMap(attrs: _*))

  def lastIdNamed(name: String): Int = spans.lastIndexWhere(_.name == name)

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end, "run" -> runId, "attrs" -> s.attrs.toMap)
  }
}

/** Spark job timeline with per-job task totals. Each job keeps the span tag
  * of the thread that submitted it; task metrics are folded into the job
  * that last listed their stage. */
final class JobListener(tracer: Tracer) extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  final class Job(val id: Int, val start: Double, val tag: Int) {
    var end: Double = Double.NaN
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new Job(e.jobId, tracer.epochToMs(e.time), tag)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = tracer.epochToMs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Block until every started job has ended on the listener bus, so the
    * totals are complete before they are read or the listener detaches. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.count(_.end.isNaN))
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(5)
    // a job submitted just before the call may not have reached the bus yet
    Thread.sleep(20)
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def toJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      Map("job" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "tag" -> j.tag,
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead, "spill" -> j.spill)
    }
  }
}
