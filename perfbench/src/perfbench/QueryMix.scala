package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.Tables
import graft.queries.{GQuery, Registry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** `query_mix`: one closed-loop client running a sample of registry
  * queries, each fully executed through the `noop` sink (the shape of
  * `graft.Bench`).
  *
  * Options: `sample` (comma-separated query names, drawn by `run.py`
  * from the seed), `passes` (timed passes over the sample) and
  * `checkdir` (where the warm pass writes each query's output for the
  * oracle compare). The warm pass is also the correctness pass: it runs
  * every sampled query once, untimed, writing its rows as parquet; an
  * untimed noop pass follows. */
final class QueryMix(spark: SparkSession, dataDir: String, workDir: String,
                     opts: Map[String, String]) extends Workload {
  private val sample: Seq[GQuery] = opts("sample").split(",").toSeq.map(Registry.byName)
  private val passes = opts("passes").toInt
  private val checkDir = opts("checkdir")
  private val failures = mutable.ArrayBuffer.empty[String]

  override def facts: Map[String, Any] =
    Map("sample" -> sample.map(_.name), "passes" -> passes)

  def warm(): Unit = {
    Tables.names.foreach(n => Tables.load(spark, dataDir, n).schema)
    sample.foreach { q =>
      val t0 = Trace.nowMs
      try q.run(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/${q.name}")
      catch { case e: Throwable => failures += s"${q.name} warm pass: $e" }
      System.err.println(f"[perfbench] warm ${q.name} ${Trace.nowMs - t0}%.0f ms")
    }
    val oracles = sample.flatMap(q => q.oracle.map(q.name -> _)).toMap
    Files.write(Paths.get(s"$checkDir/oracle_sql.json"), Json(oracles).getBytes(UTF_8))
    // JIT and codegen keep warming after the first run: measured passes
    // 1-4 after the check pass took 7.1, 5.4, 4.7 and 4.4 s, so one
    // untimed noop pass precedes the timed ones
    run("warm", 1)
  }

  def region(tag: String): Region = run(tag, passes)

  private def run(tag: String, n: Int): Region = {
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val ops = (1 to n).flatMap { p =>
      val t0 = Trace.nowMs
      val pass = sample.map { q =>
        Main.timedOp(s"${q.name}#$tag#$p", "op.query") {
          val df = Trace.span("queries.build")(q.run(spark, dataDir))
          Trace.span("exec.write")(df.write.format("noop").mode("overwrite").save())
        }
      }
      passWalls += (Trace.nowMs - t0) / 1000.0
      pass
    }
    Region(ops, Map("pass_s" -> passWalls.toSeq))
  }

  def check(): Seq[String] = failures.toSeq
}

object QueryMix {
  /** Times every registry query once cold and once warm (noop write)
    * and flags the ones that start a streaming query or write a store
    * under `tmpRoot`: the input of the stratified sample in `run.py`.
    * The oracle SQL goes to `outFile` + ".oracles.json" for timing. */
  def survey(spark: SparkSession, dataDir: String, tmpRoot: String,
             outFile: String): Unit = {
    val streams = new java.util.concurrent.atomic.AtomicLong
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = streams.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    Tables.names.foreach(n => Tables.load(spark, dataDir, n).schema)
    val rows = Registry.families.flatMap { case (family, qs) =>
      qs.map { q =>
        def once(): Double = {
          val t0 = Trace.nowMs
          q.run(spark, dataDir).write.format("noop").mode("overwrite").save()
          Trace.nowMs - t0
        }
        val s0 = streams.get
        val c0 = CountingFs.creates.get + CountingFs.renames.get
        val r = try {
          val cold = once()
          val warm = once()
          Map("cold_ms" -> cold, "warm_ms" -> warm)
        } catch { case e: Throwable => Map("error" -> e.toString) }
        System.err.println(s"[survey] ${q.name} $r")
        q.name -> (r ++ Map("family" -> family, "oracle" -> q.oracle.isDefined,
          "streams" -> (streams.get - s0),
          "store_writes" -> (CountingFs.creates.get + CountingFs.renames.get - c0)))
      }
    }.toMap
    Files.write(Paths.get(outFile), Json(rows).getBytes(UTF_8))
    val oracles = Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
    Files.write(Paths.get(outFile + ".oracles.json"), Json(oracles).getBytes(UTF_8))
  }
}
