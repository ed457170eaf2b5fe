package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.streaming.StreamReplay

/** One query's timing in one pass. */
final case class QueryRun(name: String, replay: Boolean, sec: Double,
                          engineSec: Double, ok: Boolean, error: String)

/** Runs a fixed list of `SparkEntry.queries` the way `graft.Bench` does:
  * replay rows (`stream_*`, `state_*`) on the replay-scale tables, batch
  * rows on the batch-scale tables, each result fully materialized.
  * Pass 1 writes every result as parquet for the oracle-hash check;
  * pass 2 materializes through the noop sink, as Bench's timed pass does.
  */
final class DriverPass(spark: SparkSession, batchDir: String, replayDir: String,
                       queries: Seq[String], tracer: Option[Tracer]) {

  def isReplay(name: String): Boolean =
    name.startsWith("stream_") || name.startsWith("state_")

  def run(pass: Int, resultsDir: Option[Path]): Seq[QueryRun] = queries.map { name =>
    val replay = isReplay(name)
    StreamReplay.EngineTimer.reset()
    val t0 = System.nanoTime()
    val err = try {
      val fn = SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"no such query: $name"))
      def exec(): Unit = {
        val df = fn(spark, if (replay) replayDir else batchDir)
        resultsDir match {
          case Some(d) => df.write.mode("overwrite").parquet(d.resolve(name).toString)
          case None    => df.write.format("noop").mode("overwrite").save()
        }
      }
      tracer.fold(exec())(_.timed(s"query:$name", s"pass$pass")(exec()))
      ""
    } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val sec = (System.nanoTime() - t0) / 1e9
    // per-query operator caches must not tax the next query (as in Bench)
    graft.operators.Dedup.releaseComponentCache(spark)
    QueryRun(name, replay, sec, StreamReplay.EngineTimer.engineSec, err.isEmpty, err)
  }
}
