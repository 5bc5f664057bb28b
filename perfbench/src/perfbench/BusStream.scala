package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.{Duplex, JsonSerde, Lifecycle}
import graft.streaming.{Pipelines, StreamSinks}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.StructType

/** `bus_stream`: the duplex loopback of the reference's `getDuplex` test.
  *
  * JSON messages go MemoryStream → `Duplex.transformPipeline` (PERMISSIVE
  * decode, keep `source == "origin"` and dead letters, rewrite `origin`
  * to `transform`, encode) → `foreachBatch(Pipelines.manifestSink)`.
  * One generator thread (the caller's) feeds it in two phases:
  *
  *  - latency: an open loop of `msgs` messages every `tick_ms`, for
  *    `ticks` ticks. A tick's latency runs from its due time to the end
  *    of the micro-batch that committed its last offset; how late the
  *    generator itself ran is reported beside it.
  *  - drain: `drains` backlogs of `drain_rows` messages, each pushed at
  *    once after the previous one is delivered, timed to full delivery.
  *
  * A seeded share of payloads is malformed; they must arrive as dead
  * letters, one each. */
final class BusStream(spark: SparkSession, seed: Long, workDir: String,
                      opts: Map[String, String]) extends Workload {
  private val msgs = opts("msgs").toInt
  private val tickMs = opts("tick_ms").toLong
  private val ticks = opts("ticks").toInt
  private val drainRows = opts("drain_rows").toInt
  private val drains = opts("drains").toInt
  private val malformedShare = opts("malformed").toDouble

  private val schema = new StructType()
    .add("source", "string").add("count", "long")
    .add("index", "long").add("timeout", "long").add("due", "double")
  private val rng = new java.util.Random(seed)
  private var nextIndex = 0L
  private var planted = 0L
  private val wellFormedOrigin = mutable.ArrayBuffer.empty[Long]

  /** One progress event, reduced to what the metrics need. */
  private final case class Batch(id: Long, start: Double, end: Double,
                                 endOffset: Long, rows: Long,
                                 durations: Map[String, Double])
  private val progress = new ConcurrentLinkedQueue[Batch]()

  // one partition per core, as a Kafka topic with four partitions
  private val input = MemoryStream[String](4, spark)(
    org.apache.spark.sql.Encoders.STRING)
  private val sinkDir = s"$workDir/bus_sink"
  private var query: StreamingQuery = _

  private def message(dueMs: Double): String = {
    val i = nextIndex
    nextIndex += 1
    if (rng.nextDouble() < malformedShare) {
      planted += 1
      s"""{"source":"origin","count":${i / 100},"index":$i,"timeout"""
    } else {
      val origin = rng.nextBoolean()
      if (origin) wellFormedOrigin += i
      val src = if (origin) "origin" else "other"
      s"""{"source":"$src","count":${i / 100},"index":$i,"timeout":5,"due":$dueMs}"""
    }
  }

  /** Adds messages; returns the offset that commits them. */
  private def push(batch: Seq[String]): Long =
    input.addData(batch).json.toLong

  private def committedAt(offset: Long, timeoutMs: Long = 60000): Batch = {
    val deadline = Trace.nowMs + timeoutMs
    var hit: Option[Batch] = None
    while (hit.isEmpty) {
      hit = progress.asScala.find(_.endOffset >= offset)
      if (hit.isEmpty) {
        require(Trace.nowMs < deadline && query.isActive,
          s"offset $offset not committed: ${Option(query.exception.orNull)}")
        Thread.sleep(2)
      }
    }
    hit.get
  }

  private def start(): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
          .map(_.toLong).getOrElse(-1L)
        val b = Batch(p.batchId, t0, t0 + d.getOrElse("triggerExecution", 0.0),
          end, p.numInputRows, d)
        progress.add(b)
        Trace.record(Trace.Span(Trace.newId(), -1L, "streaming.batch",
          s"batch-${p.batchId}", b.start, b.end,
          d.map { case (k, v) => s"d.$k" -> v } + ("rows" -> p.numInputRows.toDouble)))
      }
    })
    val raw = input.toDF().select(col("value"))
    val out = Duplex.transformPipeline(raw, schema, JsonSerde.Permissive) { p =>
      p.filter(col("source") === "origin" || col(JsonSerde.CorruptCol).isNotNull)
        .withColumn("source", when(col("source") === "origin", lit("transform"))
          .otherwise(col("source")))
    }
    val sink = Pipelines.manifestSink(sinkDir)
    query = StreamSinks.foreachBatchSink(out) { (df, id) =>
      Trace.span("store.sink", s"batch-$id")(sink(df, id))
    }.option("checkpointLocation", s"$workDir/bus_checkpoint").start()
  }

  /** Open-loop ticks; returns the tick ops and the generator lateness. */
  private def latencyPhase(tag: String, n: Int): (Seq[Op], Seq[Double], Long) = {
    val t0 = Trace.nowMs + tickMs
    var backlogMax = 0L
    val sent = (0 until n).map { k =>
      val due = t0 + k * tickMs
      val batch = (0 until msgs).map(_ => message(due))
      while (Trace.nowMs < due) Thread.sleep(math.max(0L, (due - Trace.nowMs).toLong).min(5L))
      val at = Trace.nowMs
      val done = progress.asScala.map(_.rows).sum
      backlogMax = math.max(backlogMax, offeredRows - done)
      offeredRows += msgs
      (k, due, at, push(batch))
    }
    val ops = sent.map { case (k, due, _, off) =>
      val b = committedAt(off)
      Op(s"tick-$tag-$k", due, b.end, b.end - due)
    }
    (ops, sent.map { case (_, due, at, _) => at - due }, backlogMax)
  }
  private var offeredRows = 0L

  /** Pushes `rows` at once and times full delivery; returns seconds. */
  private def drain(rows: Int): Double = {
    val batch = (0 until rows).map(_ => message(Trace.nowMs))
    val t0 = Trace.nowMs
    offeredRows += rows
    val b = committedAt(push(batch))
    (b.end - t0) / 1000.0
  }

  /** A full latency phase and two drains: the per-batch path keeps
    * speeding up for about a hundred micro-batches after the stream
    * starts. */
  def warm(): Unit = {
    start()
    latencyPhase("warm", ticks)
    drain(drainRows)
    drain(drainRows)
  }

  def region(tag: String): Region = {
    val before = progress.size
    val fs0 = CountingFs.snapshot()
    val offered0 = nextIndex
    val planted0 = planted
    val (ops, late, backlog) = latencyPhase(tag, ticks)
    val drainS = (1 to drains).map(_ => drain(drainRows))
    val batches = progress.asScala.drop(before).toSeq
    Region(ops, Map(
      "drain_s" -> drainS, "drain_rows" -> drainRows,
      "generator_late_ms" -> late, "backlog_rows_max" -> backlog,
      "rows_offered" -> (nextIndex - offered0),
      "rows_malformed" -> (planted - planted0),
      "batches" -> batches.map(b => Map("id" -> b.id, "rows" -> b.rows,
        "start" -> b.start, "end" -> b.end, "durations" -> b.durations)),
      "fs_ops" -> CountingFs.snapshot().zip(fs0).map { case ((k, a), (_, b)) => k -> (a - b) }.toMap))
  }

  private var delivered = Map.empty[String, Long]
  override def facts: Map[String, Any] = Map("messages" -> nextIndex,
    "malformed_planted" -> planted,
    "expected_delivered" -> wellFormedOrigin.size) ++ delivered

  def check(): Seq[String] = {
    query.processAllAvailable()
    Lifecycle.destroy(query)
    val rows = Pipelines.readCommitted(spark, sinkDir)
      .select(get_json_object(col("value"), "$.source").as("source"),
        get_json_object(col("value"), "$.index").cast("long").as("index"),
        get_json_object(col("value"), "$." + JsonSerde.CorruptCol).as("bad"))
      .cache()
    val good = rows.where(col("bad").isNull)
    val nGood = good.count()
    val nDistinct = good.select("index").distinct().count()
    val nTransform = good.where(col("source") === "transform").count()
    val nBad = rows.where(col("bad").isNotNull).count()
    val expected = wellFormedOrigin.toSet
    val missing = expected.size - good.select("index").collect().map(_.getLong(0))
      .count(expected.contains)
    delivered = Map("delivered" -> nGood, "dead_letters" -> nBad,
      "failed_messages" -> (missing + nGood - nDistinct + math.abs(nBad - planted)))
    rows.unpersist()
    Seq(
      (nGood != expected.size) -> s"sink holds $nGood good rows, expected ${expected.size}",
      (nDistinct != nGood) -> s"${nGood - nDistinct} duplicate deliveries",
      (missing != 0) -> s"$missing well-formed origin messages not delivered",
      (nTransform != nGood) -> s"${nGood - nTransform} rows not rewritten to transform",
      (nBad != planted) -> s"$nBad dead letters, $planted malformed planted"
    ).collect { case (true, msg) => msg }
  }
}
