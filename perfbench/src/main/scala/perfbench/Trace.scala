package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Spark work attributed to one span: summed from the listener events of
  * every job that ran under the span's job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  /** max / median task run time of each completed stage with >= 2 tasks */
  val stageSkews = mutable.ArrayBuffer.empty[Double]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    stageSkews ++= o.stageSkews
  }
  def worstSkew: Double = if (stageSkews.isEmpty) 1.0 else stageSkews.max
}

/** Listener counting every job, stage and task under the job group that was
  * set on the submitting thread. Groups are span ids of [[Tracer]]; work
  * outside any span lands under the group "none". */
final class GroupListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private def counters(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val c = counters(g)
    c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "none")
    val m = e.taskMetrics
    val c = counters(g)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
    val ms = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
    ms.synchronized { ms += (if (m != null) m.executorRunTime else e.taskInfo.duration) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val g = stageGroup.getOrDefault(id, "none")
    val c = counters(g)
    val ms = Option(stageTaskMs.remove(id)).map(b => b.synchronized(b.sorted.toVector))
      .getOrElse(Vector.empty)
    c.synchronized {
      c.stages += 1
      if (ms.size >= 2) c.stageSkews += ms.last.toDouble / math.max(1L, ms(ms.size / 2))
    }
  }

  def of(group: String): Counters = Option(byGroup.get(group)).getOrElse(new Counters)
}

final case class Span(id: Int, name: String, parent: Int, traceId: String,
                      startNs: Long, var endNs: Long = -1L)

/** In-memory span recorder. A span opened with [[span]] sets its id as the
  * Spark job group on the calling thread, so the [[GroupListener]] can
  * attribute jobs to it; the parent's group is restored when it closes.
  * Spans are written once, by [[write]], when the run ends. Unless started,
  * the same calls only run the body. */
final class Tracer(sc: SparkContext) {
  val listener = new GroupListener
  @volatile private var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack: List[Span] = Nil
  @volatile private var traceId = "setup"

  private var listening = false

  /** Records spans from now on (registering the listener the first time). */
  def start(): Unit = {
    if (!listening) { sc.addSparkListener(listener); listening = true }
    enabled = true
  }

  /** Stops recording spans; the calls only run their bodies again. */
  def pause(): Unit = enabled = false

  def setTrace(id: String): Unit = traceId = id

  /** The innermost open span. */
  def current: Span = stack.head

  /** Runs `body` in a span and returns the closed span with the result. */
  def spanned[A](name: String)(body: => A): (A, Span) = {
    var s: Span = null
    val a = span(name) { s = current; body }
    (a, s)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), traceId,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def all: Seq[Span] = spans.toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Span duration minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { covered += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
    }
    covered += hi - lo
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Counters of the span and every span below it. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    c.add(listener.of(s.id.toString))
    children(s).foreach(ch => c.add(inclusive(ch)))
    c
  }

  /** One JSON line per span: name, start/end (ns since the first span),
    * parent, trace id, self time and the Spark counters under it. */
  def write(path: String): Unit = if (spans.nonEmpty) {
    val t0 = spans.head.startNs
    val lines = spans.map { s =>
      val c = inclusive(s)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "trace" -> s.traceId,
        "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0),
        "self_s" -> selfSeconds(s), "jobs" -> c.jobs, "tasks" -> c.tasks,
        "cpu_s" -> c.cpuNs / 1e9, "shuffle_write_bytes" -> c.shuffleWriteBytes)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
