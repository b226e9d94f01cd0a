package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are epoch microseconds so
  * spans from the generator and the stub (other processes, same clock) line
  * up with the JVM's. `parent` 0 means a root span.
  */
final case class Span(id: Long, parent: Long, name: String, key: String,
    startUs: Long, endUs: Long, jobs: Int = 0, tasks: Int = 0) {
  def durUs: Long = endUs - startUs
}

object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  /** Monotonic epoch microseconds. */
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** In-memory span recorder. Disabled, every call is a plain pass-through, so
  * untraced runs pay nothing but a flag test. Enabled, each [[span]] sets a
  * Spark local property on the calling thread so that every Spark job the
  * call launches is recorded as a child span by [[JobListener]].
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val SpanProp = "perfbench.span"
  private val nextId = new AtomicLong(1L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def newId(): Long = nextId.getAndIncrement()
  def record(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  def span[T](name: String, key: String = "", id: Long = 0L,
      parent: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val sid = if (id != 0L) id else newId()
      val prev = current.get()
      val par = if (parent >= 0L) parent else prev.longValue
      current.set(sid)
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, sid.toString)
      val t0 = Clock.nowUs
      try f
      finally {
        spans.add(Span(sid, par, name, key, t0, Clock.nowUs))
        sc.setLocalProperty(SpanProp, prevProp)
        current.set(prev)
      }
    }

  /** Listener that turns every Spark job into a child span of the span
    * whose id was in [[SpanProp]] when the job was submitted, with its
    * task count.
    */
  final class JobListener extends SparkListener {
    private final class Job(val id: Int, val parent: Long, val startUs: Long) {
      val tasks = new AtomicLong(0L)
    }
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageToJob = new ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new Job(e.jobId, p, Clock.nowUs))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(_.tasks.incrementAndGet())
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        spans.add(Span(newId(), j.parent, "spark.job", j.id.toString,
          j.startUs, Clock.nowUs, jobs = 1, tasks = j.tasks.get.toInt))
      }
  }

  if (enabled) sc.addSparkListener(new JobListener)
}

/** Per-layer summary of a span set: per span name, the call count,
  * durations, self times (duration minus the union of its children's
  * intervals), and Spark jobs and tasks per call (counted over the whole
  * subtree, so a job launched under a nested span counts for its ancestors).
  */
object Layers {
  final case class Stat(name: String, calls: Int, durMs: Seq[Double],
      selfMs: Seq[Double], jobs: Seq[Int], tasks: Seq[Int])

  def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    s.durUs - covered
  }

  /** Stats per span name over the spans `keep` accepts; children and
    * subtree counts still come from every span.
    */
  def summarize(spans: Seq[Span], keep: Span => Boolean = _ => true): Seq[Stat] = {
    val kids = spans.groupBy(_.parent)
    val memo = mutable.Map.empty[Long, (Int, Int)]
    def subtree(s: Span): (Int, Int) = memo.get(s.id) match {
      case Some(c) => c
      case None =>
        val c = kids.getOrElse(s.id, Nil).foldLeft((s.jobs, s.tasks)) { (acc, k) =>
          val (j, t) = subtree(k); (acc._1 + j, acc._2 + t)
        }
        memo(s.id) = c
        c
    }
    spans.filter(keep).groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val counts = ss.map(subtree)
      Stat(name, ss.size, ss.map(_.durUs / 1000.0),
        ss.map(s => selfUs(s, kids.getOrElse(s.id, Nil)) / 1000.0),
        counts.map(_._1), counts.map(_._2))
    }
  }
}
