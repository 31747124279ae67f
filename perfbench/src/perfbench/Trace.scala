package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span around one call into a layer: times are `System.nanoTime`. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: String)

/** In-memory span recorder for the traced run. Spans are recorded by the
  * benchmark around its calls into the program's layers, on the single
  * driver thread, and written out when the run ends.
  */
final class Tracer(val run: String, on: Boolean = true) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0

  def span[T](name: String)(body: => T): T = if (!on) body else {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, t0, System.nanoTime(), parent, run)
      stack = stack.tail
    }
  }

  /** Per span name: (count, total seconds, self seconds), where self time is
    * a span's duration minus the time its direct children cover.
    */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val tot = ss.map(s => s.end - s.start).sum
      (n, ss.size, tot / 1e9, (tot - ss.map(s => childNs(s.id)).sum) / 1e9)
    }
  }

  def json: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    val ss = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000},"parent":${s.parent},"run":${q(s.run)}}""")
    val self = selfTimes.map { case (n, c, tot, self) =>
      s"""{"name":${q(n)},"count":$c,"total_s":$tot,"self_s":$self}"""
    }
    s"""{"run":${q(run)},"self_time":[${self.mkString(",")}],"spans":[${ss.mkString(",\n")}]}"""
  }
}

object Tracer {
  /** Records nothing: the untraced path. */
  val off = new Tracer("off", on = false)
}

/** Engine counters accumulated from listener events. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, tasksFailed: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, fetchWaitMs: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0,
    taskMs: Vector[Long] = Vector.empty) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, tasksFailed - o.tasksFailed,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, fetchWaitMs - o.fetchWaitMs, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, outputBytes - o.outputBytes, taskMs.drop(o.taskMs.length))
}

/** The benchmark's one engine listener. Reads go through `read`, which
  * drains the asynchronous listener bus first so that the events of one
  * call are counted before the next call starts.
  */
final class EngineListener(sc: SparkContext) extends SparkListener {
  private var c = Counters()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = !e.taskInfo.successful
    c = if (m == null) c.copy(tasks = c.tasks + 1, tasksFailed = c.tasksFailed + (if (failed) 1 else 0))
    else c.copy(
      tasks = c.tasks + 1,
      tasksFailed = c.tasksFailed + (if (failed) 1 else 0),
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      outputBytes = c.outputBytes + m.outputMetrics.bytesWritten,
      taskMs = c.taskMs :+ e.taskInfo.duration)
  }

  def read(): Counters = {
    org.apache.spark.graft.BusDrain.drain(sc)
    synchronized(c)
  }
}
