package fleetbench

import scala.collection.mutable

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Executor-side work attributed to one tag: what the tasks of the jobs
  * submitted under that tag did. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }

  /** Executor run time ÷ (wall × cores). */
  def busyRatio(wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else runMs / 1000.0 / (wallS * cores)
}

/** A SparkListener that attributes every job to the tag of the thread
  * that submitted it (the `fleetbench.tag` local property), or to the
  * streaming query whose micro-batch ran it. */
final class WorkListener extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val byTag = mutable.Map.empty[String, Work]

  private def work(tag: String): Work = byTag.getOrElseUpdate(tag, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      .map("stream:" + _)
      .orElse(props.flatMap(p => Option(p.getProperty(Tracer.TagKey))))
      .getOrElse("untagged")
    work(tag).jobs += 1
    e.stageInfos.foreach(s => stageTag(s.stageId) = tag)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val w = work(stageTag.getOrElse(e.stageId, "untagged"))
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def get(tag: String): Work = synchronized {
    val copy = new Work
    byTag.get(tag).foreach(copy += _)
    copy
  }
}

/** One traced interval: a call into a layer of the program, made from
  * the benchmark. `request` names the query, day or trigger it serves. */
final case class Span(id: Int, name: String, parent: Int, request: String,
    startMs: Double, endMs: Double, work: Work) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Spans kept in memory and written out when the run ends. With tracing
  * off, `span` only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new WorkListener
  private var active = enabled
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def span[A](name: String, request: String = "")(body: => A): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val sc = spark.sparkContext
      val outerTag = sc.getLocalProperty(Tracer.TagKey)
      sc.setLocalProperty(Tracer.TagKey, id.toString)
      stack.push(id)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack.pop()
        sc.setLocalProperty(Tracer.TagKey, outerTag)
        BenchBridge.drainListeners(sc)
        spans += Span(id, name, parent, request, start, end, listener.get(id.toString))
      }
    }

  /** Run `body` as a traced run's untraced control: listener detached and
    * no spans, so that traced minus untraced is the tracing overhead. */
  def untraced[A](body: => A): A =
    if (!active) body
    else {
      val sc = spark.sparkContext
      BenchBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
      active = false
      try body
      finally {
        active = true
        sc.addSparkListener(listener)
      }
    }

  /** Work of a span and of every span nested inside it. */
  def inclusive(s: Span): Work = {
    val w = new Work
    w += s.work
    spans.filter(_.parent == s.id).foreach(c => w += inclusive(c))
    w
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "jobs" -> s.work.jobs,
      "tasks" -> s.work.tasks, "executor_run_ms" -> s.work.runMs,
      "input_bytes" -> s.work.inputBytes,
      "shuffle_write_bytes" -> s.work.shuffleWriteBytes)
  }
}

object Tracer {
  val TagKey = "fleetbench.tag"
}
