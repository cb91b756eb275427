package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** One timed call into a layer. `trace` is the unit of work (job, pass or
  * batch number) the call belongs to; warm-up units carry -1. */
final case class Span(id: Int, name: String, parent: Int, trace: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work of one job, filled by [[SpanListener]]. */
final class JobCounters(val span: Int, val timeMs: Long) {
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
}

/** Spark work attributed to one span. */
final case class Work(jobs: Long, taskS: Double, gcS: Double, shuffleMb: Double) {
  def +(o: Work): Work =
    Work(jobs + o.jobs, taskS + o.taskS, gcS + o.gcS, shuffleMb + o.shuffleMb)
}

object Work {
  val zero: Work = Work(0L, 0.0, 0.0, 0.0)
}

/** In-memory span recorder. Disabled, `span` only runs its body: the
  * untraced run pays nothing for it. Enabled, each span sets the Spark
  * local property [[Tracer.SpanKey]], so the jobs its body submits carry
  * the span's id; with one closed-loop client that attribution is exact.
  * A job submitted from a pooled thread can carry a stale id inherited
  * when the thread was created, or none, so a job whose start time falls
  * outside its tagged span goes to the innermost span open at that time. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobCounters]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var sc: SparkContext = _
  private var listener: SpanListener = _
  var trace: Long = -1L

  /** Register the listener on a (new) SparkContext; job ids restart. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    jobs.clear()
    listener = new SpanListener(jobs)
    sc.addSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.nanoTime()
        val m1 = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, trace, t0, t1, m0, m1)
      }
    }

  /** Wait until the listener has seen every event posted so far: a
    * sentinel job's end is delivered after all earlier events. */
  def flush(): Unit = if (enabled) {
    val latch = listener.expectFlush()
    sc.setLocalProperty(FlushKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FlushKey, null)
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  def recorded: Seq[Span] = spans.toSeq

  /** Spark work per span id (call [[flush]] first). */
  def work(): Map[Int, Work] = {
    val byId = spans.map(s => s.id -> s).toMap
    def innermostAt(ms: Long): Option[Int] =
      spans.filter(s => s.startMs <= ms && ms <= s.endMs)
        .sortBy(s => s.endNs - s.startNs).headOption.map(_.id)
    jobs.values.asScala.toSeq.flatMap { j =>
      val inside = byId.get(j.span).exists(s => s.startMs <= j.timeMs && j.timeMs <= s.endMs)
      val owner = if (inside) Some(j.span) else innermostAt(j.timeMs)
      owner.map(_ -> Work(1L, j.taskMs / 1e3, j.gcMs / 1e3, j.shuffleBytes / 1048576.0))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val FlushKey = "perfbench.flush"
}

/** Records, per job, the span id it carries (-1 for none), its start
  * time, task time, GC time and shuffle bytes written. */
final class SpanListener(jobs: ConcurrentHashMap[Int, JobCounters]) extends SparkListener {
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val flushJobs = mutable.HashSet.empty[Int]
  @volatile private var latch = new CountDownLatch(0)

  def expectFlush(): CountDownLatch = { latch = new CountDownLatch(1); latch }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(Tracer.FlushKey) != null)) flushJobs += e.jobId
    else {
      val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).fold(-1)(_.toInt)
      jobs.put(e.jobId, new JobCounters(span, e.time))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (jobId <- stageJob.get(e.stageId); j <- Option(jobs.get(jobId));
         m <- Option(e.taskMetrics)) {
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (flushJobs.remove(e.jobId)) latch.countDown()
}
