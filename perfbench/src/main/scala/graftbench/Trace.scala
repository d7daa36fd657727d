package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One recorded interval. `kind` is the nesting level: workload, op (one
  * batch, lookup, scan, compact, query, ...), phase (build, plan, execute),
  * microbatch or job. Times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startNs: Long, endNs: Long, attrs: Map[String, String])

/** Per-task numbers the listener keeps; attributed to the span the job ran
  * under. */
final case class TaskRec(span: Long, batch: String, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long, spillBytes: Long,
                         shuffleRead: Long, shuffleWrite: Long, inputBytes: Long)

/** Span recorder plus the Spark listeners that attribute jobs, stages and
  * tasks to spans. Spans live in memory and are written once at exit.
  *
  * Jobs find their span through the `graftbench.span` local property, set
  * by [[span]] on the calling thread before each call into graft. Spark's
  * local properties are inherited by threads created afterwards, so the
  * jobs of a streaming query started inside an op span land in that span;
  * their `streaming.sql.batchId` property maps them to a micro-batch span.
  *
  * When `enabled` is false every method only runs its body: the untraced
  * run registers no listener and records nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private var spark: SparkSession = _

  // listener state
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageBatch = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[Int, Array[Long]]() // span, start, end, stages
  private val jobBatch = new ConcurrentHashMap[Int, String]()
  private val stagesDone = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  private val listenerNs = new AtomicLong()

  private def currentSpan: Long = stack.get().headOption.getOrElse(0L)

  /** Attach listeners to the session measured from now on. */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(jobListener)
    s.streams.addListener(streamListener)
  }

  /** Run `body` inside a new span (child of the thread's current span). */
  def span[T](name: String, kind: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = currentSpan
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(id :: stack.get())
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = epochNs()
      try body
      finally {
        spans.add(Span(id, parent, name, kind, t0, epochNs(), attrs))
        stack.set(stack.get().tail)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Spark's listener bus is asynchronous: wait until it has delivered
    * everything posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchAccess.waitForListeners(spark.sparkContext)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val batch = Option(e.properties).flatMap(p => Option(p.getProperty(BatchIdProp)))
      jobs.put(e.jobId, Array(sid, e.time, -1L, e.stageIds.size.toLong))
      batch.foreach(b => jobBatch.put(e.jobId, b))
      e.stageIds.foreach { st =>
        stageSpan.put(st, sid)
        batch.foreach(b => stageBatch.put(st, b))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_(2) = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      stagesDone.put(e.stageInfo.stageId, true)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      val info = e.taskInfo
      val sid = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
      if (m != null) tasks.add(TaskRec(sid, stageBatch.get(e.stageId), info.launchTime, info.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      progress.add((System.currentTimeMillis(), e.progress))
    }
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally listenerNs.addAndGet(System.nanoTime() - t0)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def allTasks: Seq[TaskRec] = tasks.asScala.toSeq
  def progresses: Seq[StreamingQueryProgress] = progress.asScala.toSeq.map(_._2).sortBy(_.batchId)
  /** (jobId, span, batchId or null) of every job seen. */
  def jobSpans: Seq[(Int, Long, String)] =
    jobs.asScala.toSeq.map { case (j, a) => (j.intValue, a(0), jobBatch.get(j)) }
  def stagesOf(pred: Long => Boolean): Int =
    stagesDone.keySet.asScala.count(st => pred(Option(stageSpan.get(st)).map(_.longValue).getOrElse(0L)))
  def listenerMs: Double = listenerNs.get() / 1e6

  /** Micro-batch spans (from query progress) and job spans (from the job
    * listener), so the spans file nests workload → op → batch → job. */
  def derivedSpans(opOfStream: Long): Seq[Span] = {
    val batchSpan = mutable.Map[String, Long]()
    val batches = progresses.map { p =>
      val id = nextId.getAndIncrement()
      batchSpan(p.batchId.toString) = id
      val start = java.time.Instant.parse(p.timestamp)
      val startNs = start.getEpochSecond * 1000000000L + start.getNano
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Span(id, opOfStream, s"batch-${p.batchId}", "microbatch", startNs,
        startNs + dur * 1000000L, Map("numInputRows" -> p.numInputRows.toString))
    }
    val jobSpans = jobs.asScala.toSeq.sortBy(_._1).map { case (jobId, a) =>
      val parent = Option(jobBatch.get(jobId)).flatMap(batchSpan.get).getOrElse(a(0))
      Span(nextId.getAndIncrement(), parent, s"job-$jobId", "job", a(1) * 1000000L,
        math.max(a(1), a(2)) * 1000000L, Map("stages" -> a(3).toString))
    }
    batches ++ jobSpans
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  val BatchIdProp = "streaming.sql.batchId"
  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}
