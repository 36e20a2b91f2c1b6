package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One call the benchmark made into a layer. `parent` is the enclosing
  * span's id (-1 at the top); `op` is shared by every span of one op. */
final class Span(val id: Int, val name: String, val op: String, val parent: Int,
    val startNs: Long) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one job group (one span). */
final class GroupStats {
  var jobs, stages, tasks, taskFailures = 0L
  var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRows, peakMem = 0L
  var worstSkew = 1.0
  val jobIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty
}

/** Listener that files every job, stage and task under the job group it
  * ran in. Only groups named `pb-<span id>` are kept, so work done
  * outside a traced span costs a map lookup and nothing else. */
final class ExecListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val taskTimes = mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]
  val groups: mutable.HashMap[String, GroupStats] = mutable.HashMap.empty
  @volatile var drained: Set[String] = Set.empty

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g: String = Option(e.properties).map(_.getProperty(Tracer.GroupId)).orNull
    if (g != null && g.startsWith("pb-")) synchronized {
      jobGroup.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageGroup.put(_, g))
      stats(g).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.remove(e.jobId)
    if (g != null) synchronized {
      stats(g).jobIntervals += ((jobStart.remove(e.jobId).longValue, e.time))
      if (g.startsWith("pb-drain")) drained += g
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = stageGroup.get(info.stageId)
    if (g != null) synchronized {
      stats(g).stages += 1
      taskTimes.remove((info.stageId, info.attemptNumber())).foreach { ts =>
        if (ts.size >= 4) {
          val sorted = ts.sorted
          val median = math.max(1L, sorted(sorted.size / 2))
          stats(g).worstSkew = math.max(stats(g).worstSkew, sorted.last.toDouble / median)
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null) synchronized {
      val s = stats(g)
      s.tasks += 1
      if (e.reason != Success) s.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }
}

/** Span recorder for the traced run. With `on = false` every call is a
  * plain call of its body. Spans are opened by the one client thread. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  val listener: ExecListener = new ExecListener
  private var stack: List[Span] = Nil
  private var drains = 0
  /** Pauses recording (the untraced passes of a traced run). */
  var paused = false
  if (on) sc.addSparkListener(listener)

  private val groupProps = Seq(Tracer.GroupId, "spark.job.description",
    "spark.job.interruptOnCancel")

  def active: Boolean = on && !paused

  def span[T](name: String, op: String = null)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name,
        Option(op).orElse(parent.map(_.op)).getOrElse(""),
        parent.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      stack = s :: stack
      val saved = groupProps.map(sc.getLocalProperty)
      sc.setJobGroup(s"pb-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        groupProps.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
        stack = stack.tail
      }
    }

  /** Blocks until the listener has seen every job submitted so far: a
    * one-task job is run in its own group, and the listener bus delivers
    * events in order. */
  def drain(): Unit = if (on) {
    drains += 1
    val g = s"pb-drain-$drains"
    val saved = groupProps.map(sc.getLocalProperty)
    sc.setJobGroup(g, g)
    sc.parallelize(Seq(1), 1).count()
    groupProps.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    val deadline = System.nanoTime() + 30e9.toLong
    while (!listener.drained.contains(g) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def stats(s: Span): GroupStats =
    listener.synchronized(listener.groups.getOrElse(s"pb-${s.id}", new GroupStats))

  /** Span duration minus the time covered by its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Every span with its self time and Spark counters, as JSON. */
  def toJson: String = Json(spans.toSeq.map { s =>
    val st = stats(s)
    mutable.LinkedHashMap[String, Any](
      "id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
      "self_s" -> selfSeconds(s), "jobs" -> st.jobs, "stages" -> st.stages,
      "tasks" -> st.tasks, "task_cpu_s" -> st.cpuNs / 1e9,
      "shuffle_write_mb" -> st.shuffleWrite / 1e6, "input_rows" -> st.inputRows)
  })
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupId = "spark.jobGroup.id"
}

/** Sum of the union of [start, end] intervals, in seconds (ms input). */
object Intervals {
  def unionSeconds(xs: Seq[(Long, Long)]): Double = {
    var total, curS, curE = 0L
    var open = false
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total / 1e3
  }
}

/** Minimal JSON writer for maps, sequences, numbers and strings. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case o => quote(o.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
