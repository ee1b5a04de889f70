package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call at a layer boundary. Times are epoch milliseconds with
  * sub-millisecond digits, on the clock Spark stamps job events with. */
final case class Span(id: Long, name: String, parent: Long, ctx: String,
                      start: Double, end: Double, attrs: Map[String, Double]) {
  def ms: Double = end - start
}

/** One Spark job: the span that started it, its interval, the executor
  * time of its tasks and the shuffle bytes they wrote. */
final class JobRec(val id: Int, val span: Long, val start: Double) {
  @volatile var end: Double = Double.NaN
  val taskMs = new AtomicLong
  val shuffleBytes = new AtomicLong
}

/** One streaming micro-batch, from `StreamingQueryListener` progress. */
final case class BatchRec(at: Double, addBatchMs: Double, triggerMs: Double, rows: Long)

/** In-memory span recorder. A span's id travels as a Spark local property,
  * so a job started anywhere below it — including on the micro-batch
  * thread a streaming query forks from the caller — is attributed to the
  * innermost open span, and a span opened on such a thread finds its
  * parent the same way. With `enabled = false` every call runs its body
  * and records nothing: the untraced run executes exactly the program's
  * own calls. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  /** Run `body` as a span. `root` starts a new tree (a request on a server
    * thread) instead of nesting under the caller's inherited span. */
  def span[T](name: String, ctx: String = null, root: Boolean = false)(
      body: => T): T = spanWith(name, ctx, root)(body, (_: T) => Map.empty[String, Double])

  /** [[span]] that also stores attributes derived from the result. */
  def spanWith[T](name: String, ctx: String = null, root: Boolean = false)(
      body: => T, attrs: T => Map[String, Double]): T = {
    if (!enabled) return body
    val parentProp = sc.getLocalProperty(SpanKey)
    val ctxProp = sc.getLocalProperty(CtxKey)
    val parent = if (root || parentProp == null) 0L else parentProp.toLong
    val myCtx = Option(ctx).orElse(Option(ctxProp)).getOrElse("")
    val id = ids.incrementAndGet()
    sc.setLocalProperty(SpanKey, id.toString)
    sc.setLocalProperty(CtxKey, myCtx)
    val t0 = now()
    var result: Option[T] = None
    try { val r = body; result = Some(r); r }
    finally {
      val t1 = now()
      sc.setLocalProperty(SpanKey, parentProp)
      sc.setLocalProperty(CtxKey, ctxProp)
      spans.add(Span(id, name, parent, myCtx, t0, t1,
        result.map(attrs).getOrElse(Map("failed" -> 1.0))))
    }
  }

  /** Register the job and streaming listeners (traced runs only). */
  def install(): Unit = if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toLong).getOrElse(0L)
        val j = new JobRec(e.jobId, span, e.time.toDouble)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.put(s, j))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
          j.taskMs.addAndGet(m.executorRunTime)
          j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          ms("addBatch"), ms("triggerExecution"), p.numInputRows))
      }
    })
  }

  /** Block until every posted listener event has been handled. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.ListenerBus.drain(sc)

  /** Spans as JSON lines, for the spans file a traced run leaves behind. */
  def spanLines: Iterator[String] = spans.asScala.iterator.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "ctx": "${s.ctx}", """ +
      f""""start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f, "attrs": {$attrs}}"""
  } ++ jobs.values.asScala.iterator.map { j =>
    f"""{"job": ${j.id}, "span": ${j.span}, "start_ms": ${j.start}%.0f, "end_ms": ${j.end}%.0f, """ +
      s""""task_ms": ${j.taskMs.get}, "shuffle_bytes": ${j.shuffleBytes.get}}"""
  } ++ batches.asScala.iterator.map { b =>
    f"""{"batch_at_ms": ${b.at}%.0f, "add_batch_ms": ${b.addBatchMs}%.0f, """ +
      f""""trigger_ms": ${b.triggerMs}%.0f, "rows": ${b.rows}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val CtxKey = "perfbench.ctx"
}
