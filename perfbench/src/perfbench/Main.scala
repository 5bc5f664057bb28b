package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** One timed operation: a query, a stream tick or an ingest batch. */
final case class Op(req: String, start: Double, end: Double, ms: Double,
                    ok: Boolean = true)

/** The ops of one timed region plus workload-specific figures. */
final case class Region(ops: Seq[Op], extra: Map[String, Any])

/** A workload as the benchmark drives it: untimed warm-up, a timed
  * region (run twice in a traced run, untraced then traced), and the
  * correctness checks, which run after the timed regions. */
trait Workload {
  def warm(): Unit
  def region(tag: String): Region
  /** Failure messages; empty when every output is correct. */
  def check(): Seq[String]
  /** Workload facts for the result file (input sizes, sample, ...). */
  def facts: Map[String, Any] = Map.empty
}

/** JVM entry of the benchmark. Arguments:
  * `workload seed trace dataDir workDir outFile [key=value ...]`.
  * Writes the raw measurements as JSON to `outFile` (and the spans of a
  * traced run to `outFile` + ".spans.jsonl"); `run.py` turns them into
  * metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, traceArg, dataDir, workDir, outFile) = args.take(6)
    val opts = args.drop(6).map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val seed = seedArg.toLong
    val traced = traceArg == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = GraftSession.local(4, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = Trace.nowMs
    Trace.install(spark.sparkContext, spark)
    if (workload == "survey") {
      QueryMix.survey(spark, dataDir, opts("tmproot"), outFile)
      spark.stop()
      return
    }

    val w: Workload = workload match {
      case "query_mix" => new QueryMix(spark, dataDir, workDir, opts)
      case "bus_stream" => new BusStream(spark, seed, workDir, opts)
      case "store_ingest" => new StoreIngest(spark, seed, dataDir, workDir, opts)
      case other => sys.error(s"unknown workload $other")
    }
    w.warm()
    val firstOp = Trace.nowMs
    System.err.println(f"[perfbench] session ${sessionReady - jvmStart}%.0f ms, " +
      f"warm-up ${firstOp - sessionReady}%.0f ms")
    val regions = mutable.ArrayBuffer(w.region("untraced"))
    if (traced) {
      Trace.on = true
      regions += w.region("traced")
      org.apache.spark.ListenerDrain(spark.sparkContext)
      Trace.on = false
    }
    val failures = w.check()
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum

    val out = Map[String, Any](
      "workload" -> workload,
      "jvm_start_ms" -> jvmStart,
      "session_ready_ms" -> sessionReady,
      "first_op_ms" -> firstOp,
      "heap_peak_mb" -> heapPeak / 1048576.0,
      "failures" -> failures,
      "facts" -> w.facts,
      "regions" -> regions.map { r =>
        Map("ops" -> r.ops.map(o => Map("req" -> o.req, "start" -> o.start,
          "end" -> o.end, "ms" -> o.ms, "ok" -> o.ok)), "extra" -> r.extra)
      })
    Files.write(Paths.get(outFile), Json(out).getBytes(UTF_8))
    if (traced) {
      val lines = Trace.all.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "req" -> s.req, "start" -> s.start, "end" -> s.end,
        "attrs" -> s.attrs)))
      Files.write(Paths.get(outFile + ".spans.jsonl"), lines.asJava, UTF_8)
    }
    spark.stop()
  }

  /** Runs `body` as one op of a closed-loop region, timing it; an
    * exception marks the op failed instead of ending the run. */
  def timedOp(req: String, name: String)(body: => Unit): Op = {
    val t0 = Trace.nowMs
    val ok =
      try { Trace.span(name, req)(body); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $req failed: $e"); false }
    val t1 = Trace.nowMs
    Op(req, t0, t1, t1 - t0, ok)
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
