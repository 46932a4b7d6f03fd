package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-side tracing: spans recorded around the calls the benchmark
  * makes into the program, and a [[SparkListener]] that attributes every
  * Spark job, stage and task to the span whose thread submitted it.
  *
  * Attribution is exact, not inferred from timing: opening a span sets
  * the SparkContext local property [[Trace.SpanKey]] to the span id on
  * the calling thread (Spark copies local properties into each job it
  * submits, including jobs run from helper threads such as broadcast
  * exchanges), and [[Trace.Listener]] reads the property back from each
  * `SparkListenerJobStart`. Spans live in memory until [[Trace.Recorder.spans]]
  * is read at the end of the run. */
object Trace {

  val SpanKey = "graft.perfbench.span"

  /** One closed span; times are `System.nanoTime` values, `parent` is 0
    * for a root, `req` groups the spans of one request. */
  final case class Span(id: Long, name: String, parent: Long, req: Long,
      start: Long, end: Long) {
    def dur: Long = end - start
  }

  /** Thread-safe span recorder. Nesting follows the call stack of each
    * thread; the innermost open span owns the local property. */
  final class Recorder(sc: Option[SparkContext]) {
    private val next = new AtomicLong(0)
    private val done = new ConcurrentLinkedQueue[Span]()
    private val stack = new ThreadLocal[List[Long]] {
      override def initialValue(): List[Long] = Nil
    }

    def span[A](name: String, req: Long = 0L)(body: => A): A = {
      val id = next.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      sc.foreach(_.setLocalProperty(SpanKey, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done.add(Span(id, name, parent, req, t0, t1))
        stack.set(outer)
        sc.foreach(_.setLocalProperty(SpanKey,
          if (parent == 0L) null else parent.toString))
      }
    }

    def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
  }

  /** Length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its own
    * interval that its direct children cover (children clipped to the
    * parent; overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val byParent = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> (s.dur - unionLength(kids))
    }.toMap
  }

  /** Ids of `root` and every span below it. */
  def subtree(spans: Seq[Span], root: Long): Set[Long] = {
    val byParent = spans.groupBy(_.parent)
    def go(id: Long): Seq[Long] = id +: byParent.getOrElse(id, Nil).flatMap(s => go(s.id))
    go(root).toSet
  }

  /** Spark work attributed to one span (or summed over a set). */
  final case class Work(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
      shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
      jobIntervals: Seq[(Long, Long)] = Nil,
      stageTaskMs: Seq[Seq[Long]] = Nil) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
      shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
      spill + o.spill, jobIntervals ++ o.jobIntervals,
      stageTaskMs ++ o.stageTaskMs)
    /** Wall milliseconds during which at least one of the jobs ran. */
    def inJobMs: Long = unionLength(jobIntervals)
    /** Sum over stages of the slowest task ÷ sum of the median task:
      * 1.0 when every stage is balanced; how much longer the stages ran
      * than their typical task. */
    def taskSkew: Double = {
      val st = stageTaskMs.filter(_.nonEmpty).map(_.sorted)
      val mx = st.map(_.last).sum
      val md = st.map(t => t(t.size / 2)).sum
      if (md <= 0) 1.0 else mx.toDouble / md
    }
  }

  /** Attributes jobs, stages and tasks to the span id found in each job's
    * local properties; work submitted outside any span goes to id 0. */
  final class Listener extends SparkListener {
    private final class Acc {
      var jobs, stages, tasks = 0
      var runMs, cpuNs, gcMs, shRead, shWrite, spill = 0L
      val jobIntervals = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val stageTasks = scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[Long]]()
    }
    private val accs = new ConcurrentHashMap[Long, Acc]()
    private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
    private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
    private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()

    private def acc(span: Long): Acc = accs.computeIfAbsent(span, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      jobSpan.put(e.jobId, span)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
      val a = acc(span)
      a.synchronized { a.jobs += 1 }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val span: Long = Option(jobSpan.get(e.jobId)).map(_.longValue).getOrElse(0L)
      val start: Long = Option(jobStartMs.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      val a = acc(span)
      a.synchronized { a.jobIntervals += ((start, e.time)) }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val span: Long = Option(stageSpan.get(e.stageInfo.stageId)).map(_.longValue).getOrElse(0L)
      val a = acc(span)
      a.synchronized { a.stages += 1 }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span: Long = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
      val m = e.taskMetrics
      val a = acc(span)
      a.synchronized {
        a.tasks += 1
        a.stageTasks.getOrElseUpdate(e.stageId,
          scala.collection.mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    /** Work attributed directly to `span` (not to its children). */
    def work(span: Long): Work = Option(accs.get(span)).map { a =>
      a.synchronized {
        Work(a.jobs, a.stages, a.tasks, a.runMs, a.cpuNs, a.gcMs, a.shRead,
          a.shWrite, a.spill, a.jobIntervals.toSeq,
          a.stageTasks.values.map(_.toSeq).toSeq)
      }
    }.getOrElse(Work())

    /** Work attributed to any of `spans`. */
    def work(spans: Iterable[Long]): Work = spans.foldLeft(Work())(_ + work(_))

    /** Everything the listener saw, attributed or not. */
    def total: Work = work(accs.keySet.asScala.toSeq.map(_.longValue))
  }

  /** Write every span as one JSON line: id, name, parent, request,
    * start/end (ns), self time, and the Spark work attributed to it. */
  def writeSpans(spans: Seq[Span], l: Listener, path: String): Unit = {
    val self = selfTimes(spans)
    val lines = spans.map { s =>
      val w = l.work(s.id)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        s""""in_job_ms":${w.inJobMs},"cpu_ns":${w.cpuNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
