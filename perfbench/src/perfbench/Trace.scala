package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, name, request id, start, end) in epoch
  * milliseconds, plus numeric attributes. The benchmark opens spans
  * around its calls into each layer; the listeners below add Spark job
  * intervals (children of the span whose thread submitted the job, via a
  * Spark local property) and the Catalyst phase intervals of every
  * executed query. Nothing is recorded while `on` is false, and the
  * spans are written out only when the run ends.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, req: String,
                        start: Double, end: Double,
                        attrs: Map[String, Double] = Map.empty)

  val SpanKey = "perfbench.span"
  val ReqKey = "perfbench.req"
  val BatchKey = "streaming.sql.batchId"

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch ms with sub-millisecond resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  @volatile var on = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (-1L, "")
  }

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (on) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Runs `body` inside a span named `name`; `req` defaults to the
    * enclosing span's request id. */
  def span[T](name: String, req: String = null)(body: => T): T =
    if (!on) body
    else {
      val (parent, parentReq) = current.get
      val r = if (req == null) parentReq else req
      val id = newId()
      val savedSpan = sc.getLocalProperty(SpanKey)
      val savedReq = sc.getLocalProperty(ReqKey)
      current.set((id, r))
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(ReqKey, r)
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, parent, name, r, t0, nowMs))
        current.set((parent, parentReq))
        sc.setLocalProperty(SpanKey, savedSpan)
        sc.setLocalProperty(ReqKey, savedReq)
      }
    }

  def install(context: SparkContext,
              session: org.apache.spark.sql.SparkSession): Unit = {
    sc = context
    context.addSparkListener(JobListener)
    session.listenerManager.register(PhaseListener)
  }

  /** Job spans: one per Spark job, with its completed stages' task
    * metrics summed as attributes. */
  private object JobListener extends SparkListener {
    private final class Job(val start: Long, val parent: Long, val req: String) {
      val m = new ConcurrentHashMap[String, Double]()
      def add(k: String, v: Double): Unit = m.merge(k, v, (a, b) => a + b)
    }
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val req = prop(ReqKey).filter(_.nonEmpty)
        .orElse(prop(BatchKey).map("batch-" + _)).getOrElse("")
      jobs.put(e.jobId,
        new Job(e.time, prop(SpanKey).map(_.toLong).getOrElse(-1L), req))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.remove(info.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { job =>
          val t = info.taskMetrics
          job.add("stages", 1)
          job.add("tasks", info.numTasks)
          if (t != null) {
            job.add("run_ms", t.executorRunTime.toDouble)
            job.add("cpu_ms", t.executorCpuTime / 1e6)
            job.add("gc_ms", t.jvmGCTime.toDouble)
            job.add("input_rows", t.inputMetrics.recordsRead.toDouble)
            job.add("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten.toDouble)
            job.add("shuffle_read_bytes", t.shuffleReadMetrics.totalBytesRead.toDouble)
            job.add("fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime.toDouble)
            job.add("spill_bytes", (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble)
          }
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { job =>
        record(Span(newId(), job.parent, "scheduler.job", job.req,
          job.start.toDouble, e.time.toDouble, job.m.asScala.toMap))
      }
  }

  /** Catalyst phase spans of every executed query, parented later by
    * time containment (the listener thread has no caller context). */
  private object PhaseListener extends QueryExecutionListener {
    private val names = Map("analysis" -> "plans.analyze",
      "optimization" -> "plans.optimize", "planning" -> "plans.physical")

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = if (on) {
      qe.tracker.phases.foreach { case (phase, s) =>
        names.get(phase).foreach { n =>
          record(Span(newId(), -1L, n, "", s.startTimeMs.toDouble,
            s.endTimeMs.toDouble))
        }
      }
      // stamped at the end of planning so it falls inside its caller's op
      val t = qe.tracker.phases.get("planning")
        .map(_.endTimeMs.toDouble).getOrElse(nowMs)
      record(Span(newId(), -1L, "plans.plan", "", t, t,
        Map("plan_bytes" -> qe.executedPlan.treeString.length.toDouble)))
    }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }
}
