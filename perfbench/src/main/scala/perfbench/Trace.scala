package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Counters are filled by [[JobCounters]]
  * for the Spark jobs that ran while this span was the innermost one
  * on the submitting thread. */
final class Span(val id: Long, val name: String, val parent: Long,
    val runId: String, val start: Long) {
  @volatile var end: Long = -1L
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit =
    counters.merge(k, v, (a, b) => a + b): Unit
  def counter(k: String): Double =
    Option(counters.get(k)).map(_.doubleValue).getOrElse(0.0)
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder. With tracing off, [[span]] only runs its body, so the
  * timed runs pay nothing for it; end-to-end timings are taken by the
  * workloads themselves with `System.nanoTime`.
  *
  * The innermost span id is also set as a Spark local property, so jobs
  * a span submits — including those submitted from thread pools the
  * engine creates inside the call, which inherit local properties — are
  * attributed to it. */
final class Tracer(val enabled: Boolean, sc: SparkContext, val runId: String) {
  private val ids = new AtomicLong(0)
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  val jobs: Option[JobCounters] =
    if (enabled) Some(new JobCounters(this)) else None
  jobs.foreach(sc.addSparkListener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val sp = new Span(ids.incrementAndGet(), name,
        outer.headOption.map(_.id).getOrElse(0L), runId, System.nanoTime())
      byId.put(sp.id, sp)
      all.add(sp)
      stack.set(sp :: outer)
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, sp.id.toString)
      try body
      finally {
        sp.end = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(Tracer.Prop, prevProp)
      }
    }

  /** Add a counter to the innermost open span of this thread. */
  def count(k: String, v: Double): Unit =
    if (enabled) stack.get().headOption.foreach(_.add(k, v))

  def spanById(id: Long): Option[Span] = Option(byId.get(id))
  def spans: Seq[Span] = all.asScala.toSeq.filter(_.end >= 0)
  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Per span name: instance count, total duration and total self time
    * (duration minus the union of its children's intervals). */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val ss = spans
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).toSeq.map { case (n, group) =>
      val self = group.map { s =>
        Stats.selfTime(s.start, s.end,
          kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      }.sum
      (n, group.size, group.map(s => s.end - s.start).sum / 1e9, self / 1e9)
    }.sortBy(-_._4)
  }

  /** JSON of every span and the self-time summary. */
  def toJson: String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val spanJs = spans.sortBy(_.start).map { s =>
      val cs = s.counters.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":${v.doubleValue}""" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"name":"${esc(s.name)}","parent":${s.parent},""" +
        s""""run":"${esc(runId)}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""counters":$cs}"""
    }
    val selfJs = selfTimes.map { case (n, k, tot, self) =>
      s"""{"name":"${esc(n)}","count":$k,"total_s":$tot,"self_s":$self}"""
    }
    s"""{"run":"${esc(runId)}","self_time":${selfJs.mkString("[", ",", "]")},""" +
      s""""spans":${spanJs.mkString("[", ",", "]")}}"""
  }

  def close(): Unit = jobs.foreach { l =>
    l.drain()
    sc.removeSparkListener(l)
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Attributes Spark task metrics to the span that submitted each job. */
final class JobCounters(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val events = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val id = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Prop))).map(_.toLong)
    id.foreach { sid =>
      e.stageIds.foreach(st => stageSpan.put(st, sid))
      tracer.spanById(sid).foreach(_.add("jobs", 1))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) Option(stageSpan.get(e.stageId)).flatMap(sid =>
      tracer.spanById(sid)).foreach { sp =>
      sp.add("tasks", 1)
      sp.add("cpu_s", m.executorCpuTime / 1e9)
      sp.add("gc_s", m.jvmGCTime / 1e3)
      sp.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      sp.add("spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      sp.add("out_bytes", m.outputMetrics.bytesWritten.toDouble)
      sp.add("in_bytes", m.inputMetrics.bytesRead.toDouble)
      sp.add("in_records", m.inputMetrics.recordsRead.toDouble)
    }
  }

  /** Wait until the asynchronous listener bus has delivered the events
    * of every finished job (no new event for a short quiet period). */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val now = events.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }
}
