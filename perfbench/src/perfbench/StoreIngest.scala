package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.Pipelines
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** `store_ingest`: one closed-loop caller feeding document batches
  * straight into the foreachBatch functions, with no streaming engine:
  * `dedupAgainstStore` → its sink `nearDupAgainstStore` → its sink
  * `manifestSink`. Every `compact_every` batches both stores run
  * `compactStoreIfNeeded` inside that batch's timed call; after the
  * last batch a full `readCommitted` read is timed.
  *
  * Batches hold `batch_docs` documents: fresh texts from a seeded walk
  * over the generated `documents` table, plus planted exact duplicates
  * (case and whitespace variants) and near duplicates (one appended
  * word) of documents from earlier batches. Every `replay_every`-th
  * batch re-delivers an earlier batch verbatim under a new batch id, as
  * an at-least-once producer does. Each region starts from empty
  * stores and ingests the same batches. */
final class StoreIngest(spark: SparkSession, seed: Long, dataDir: String,
                        workDir: String, opts: Map[String, String]) extends Workload {
  private val batchDocs = opts("batch_docs").toInt
  private val nBatches = opts("batches").toInt
  private val compactEvery = opts("compact_every").toInt
  private val maxFiles = opts("max_files").toInt
  private val replayEvery = opts("replay_every").toInt
  private val buckets = opts("buckets").toInt
  private val exactShare = opts("exact_share").toDouble
  private val nearShare = opts("near_share").toDouble

  private val pool: Array[String] = spark.read.parquet(s"$dataDir/documents.parquet")
    .select("text").collect().map(_.getString(0))
  private val schema = new StructType().add("doc_id", LongType).add("text", StringType)

  /** One generated batch and what was planted in it. */
  private final case class Batch(rows: Seq[(Long, String)], exact: Seq[Long],
                                 near: Seq[Long], replay: Boolean)

  /** The batch sequence of one seed; `offset` moves the walk through the
    * pool so warm-up documents differ from the timed ones. */
  private def batches(n: Int, offset: Int): Seq[Batch] = {
    val rng = new java.util.Random(seed * 31 + offset)
    val order = scala.util.Random.javaRandomToRandom(rng).shuffle(pool.indices.toVector)
    var cursor = offset
    var nextId = 0L
    val out = mutable.ArrayBuffer.empty[Batch]
    val earlier = mutable.ArrayBuffer.empty[String]
    def id(): Long = { nextId += 1; nextId }
    for (b <- 0 until n) {
      if (b > 0 && replayEvery > 0 && b % replayEvery == replayEvery - 1)
        out += out(rng.nextInt(out.size)).copy(exact = Nil, near = Nil, replay = true)
      else {
        val rows = mutable.ArrayBuffer.empty[(Long, String)]
        val exact, near = mutable.ArrayBuffer.empty[Long]
        val fresh = mutable.ArrayBuffer.empty[String]
        while (rows.size < batchDocs) {
          val r = rng.nextDouble()
          if (earlier.nonEmpty && r < exactShare) {
            val t = earlier(rng.nextInt(earlier.size))
            val i = id(); exact += i
            rows += i -> ("  " + t.toUpperCase.replace(" ", "  ") + " ")
          } else if (earlier.nonEmpty && r < exactShare + nearShare) {
            val t = earlier(rng.nextInt(earlier.size))
            val i = id(); near += i
            rows += i -> (t + " " + t.split(" ")(rng.nextInt(3)))
          } else {
            val t = pool(order(cursor % order.size))
            cursor += 1
            fresh += t
            rows += id() -> t
          }
        }
        earlier ++= fresh
        out += Batch(rows.toSeq, exact.toSeq, near.toSeq, replay = false)
      }
    }
    out.toSeq
  }

  private def frame(b: Batch): DataFrame =
    spark.createDataFrame(b.rows.map { case (i, t) => Row(i, t) }.asJava, schema)

  private final case class Stores(root: String) {
    val exact = s"$root/exact"
    val near = s"$root/near"
    val sink = s"$root/sink"
  }

  /** The three-stage foreachBatch chain over `s`, called with a batch id. */
  private def chain(s: Stores): (DataFrame, Long) => Unit = {
    (df: DataFrame, batchId: Long) => {
      val toSink = Pipelines.manifestSink(s.sink)
      val near = Pipelines.nearDupAgainstStore("doc_id", "text", s.near,
        buckets = buckets) { fresh =>
        Trace.span("store.sink")(toSink(fresh, batchId))
      }
      val exact = Pipelines.dedupAgainstStore("text", s.exact, buckets) { fresh =>
        Trace.span("store.near")(near(fresh, batchId))
      }
      Trace.span("store.exact")(exact(df, batchId))
    }
  }

  private def compact(s: Stores): Seq[Pipelines.CompactDecision] =
    Seq(s.exact, s.near).map(Pipelines.compactStoreIfNeeded(spark, _, maxFiles))

  private def scan(s: Stores): Unit =
    Pipelines.readCommitted(spark, s.sink).write.format("noop").mode("overwrite").save()

  def warm(): Unit = {
    val s = Stores(s"$workDir/ingest_warm")
    val run = chain(s)
    def timed(what: String)(body: => Unit): Unit = {
      val t0 = Trace.nowMs
      body
      System.err.println(f"[perfbench] warm $what ${Trace.nowMs - t0}%.0f ms")
    }
    batches(compactEvery, pool.length / 2).zipWithIndex.foreach { case (b, i) =>
      timed(s"batch $i")(run(frame(b), i.toLong))
    }
    timed("compaction")(compact(s))
    timed("scan")(scan(s))
  }

  private val failures = mutable.ArrayBuffer.empty[String]
  private val planned = batches(nBatches, 0)
  private val ingested = mutable.LinkedHashMap.empty[String, Stores]
  private val verified = mutable.LinkedHashMap.empty[String, Map[String, Any]]

  override def facts: Map[String, Any] = Map("verify" -> verified.toMap,
    "batches" -> nBatches, "batch_docs" -> batchDocs,
    "replays" -> planned.count(_.replay),
    "exact_planted" -> planned.map(_.exact.size).sum,
    "near_planted" -> planned.map(_.near.size).sum,
    "pool_docs" -> pool.length)

  def region(tag: String): Region = {
    val s = Stores(s"$workDir/ingest_$tag")
    ingested(tag) = s
    val run = chain(s)
    val fsOps = mutable.ArrayBuffer.empty[Map[String, Long]]
    val compactions = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = planned.zipWithIndex.map { case (b, i) =>
      val df = frame(b)
      val fs0 = CountingFs.snapshot()
      val op = Main.timedOp(s"batch-$tag-$i", "op.batch") {
        run(df, i.toLong)
        if ((i + 1) % compactEvery == 0) {
          val t0 = Trace.nowMs
          val d = Trace.span("store.compact")(compact(s))
          compactions += Map("batch" -> i, "ms" -> (Trace.nowMs - t0),
            "compacted" -> d.count(_.compacted))
        }
      }
      fsOps += CountingFs.snapshot().zip(fs0).map { case ((k, a), (_, z)) => k -> (a - z) }.toMap
      op
    }
    val t0 = Trace.nowMs
    Trace.span("store.scan", s"scan-$tag")(scan(s))
    val scanMs = Trace.nowMs - t0
    Region(ops, Map("scan_ms" -> scanMs, "fs_ops" -> fsOps.toSeq,
      "compactions" -> compactions.toSeq,
      "docs" -> planned.map(_.rows.size).sum,
      "user_bytes" -> planned.flatMap(_.rows).map(_._2.getBytes("UTF-8").length.toLong).sum,
      "live" -> live(s)))
  }

  /** Data files and bytes under the three stores. */
  private def live(s: Stores): Map[String, Long] = {
    val files = Seq(s.exact, s.near, s.sink).filter(p => Files.exists(Paths.get(p)))
      .flatMap(p => Files.walk(Paths.get(p)).iterator.asScala.toSeq)
      .filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_") && !n.endsWith(".crc")
      })
    Map("files" -> files.size.toLong, "bytes" -> files.map(Files.size(_: Path)).sum)
  }

  /** Checks a region's sink; returns the recall figures. */
  private def verify(s: Stores, tag: String): Map[String, Any] = {
    val ids = Pipelines.readCommitted(spark, s.sink).select(col("doc_id"))
      .collect().map(_.getLong(0))
    val kept = ids.toSet
    val exact = planned.flatMap(_.exact)
    val near = planned.flatMap(_.near)
    val replayOut = planned.zipWithIndex.filter(_._1.replay).map { case (_, i) =>
      spark.read.parquet(s"${s.sink}/data/batch=$i").count()
    }.sum
    val exactKept = exact.count(kept.contains)
    if (ids.length != kept.size)
      failures += s"$tag: ${ids.length - kept.size} doc_ids delivered twice"
    if (exactKept > 0) failures += s"$tag: $exactKept planted exact duplicates survived"
    if (replayOut > 0) failures += s"$tag: re-delivered batches emitted $replayOut rows"
    Map("sink_rows" -> ids.length.toLong,
      "exact_recall" -> (exact.size - exactKept).toDouble / exact.size.max(1),
      "near_recall" -> near.count(!kept.contains(_)).toDouble / near.size.max(1),
      "replay_rows_out" -> replayOut)
  }

  def check(): Seq[String] = {
    ingested.foreach { case (tag, s) => verified(tag) = verify(s, tag) }
    failures.toSeq
  }
}
