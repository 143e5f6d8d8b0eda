package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** A pass over a fixed list of `SparkEntry.queries` faces, in an order
  * drawn from the seed. Each face is timed as three calls: the query
  * function (`build`, which holds any eager work such as a streaming
  * drain), `queryExecution.executedPlan` (`plan`), and a `noop` write
  * (`exec`), which materializes every column the face returns.
  */
final class Faces(spark: SparkSession, trace: Trace, seed: Long, work: String,
                  sfDir: String, faces: Faces.Spec) extends Main.Workload {

  private val rng = new scala.util.Random(seed)

  /** Bytes under the faces' scratch root (`graft.TempDirs`, created in the
    * JVM's temp directory); the native libraries Spark unpacks into the
    * same directory do not count. */
  private def scratchBytes: Long =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("graft_run_"))
      .map(d => Main.sizeOf(d.getPath)._2).sum
  private val lastPass = mutable.LinkedHashMap.empty[String, DataFrame]
  private var stagedBytes = 0L
  private var passes = 0

  override def stage(): Unit = {
    faces.stagers.foreach(_(spark, sfDir))
    stagedBytes = scratchBytes
  }

  override val warmIterations = 2

  override def iteration(i: Int, ops: Main.Ops): Unit = {
    passes += 1
    lastPass.clear()
    rng.shuffle(faces.names).foreach { name =>
      ops.attempted += 1
      try trace.span(s"face:$name") {
        val df = trace.span("build")(SparkEntry.queries(name)(spark, sfDir))
        trace.span("plan")(df.queryExecution.executedPlan)
        trace.span("exec")(df.write.format("noop").mode("overwrite").save())
        lastPass(name) = df
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        ops.fail(name)
      }
      spark.catalog.clearCache()
    }
  }

  /** Writes each face's result from the last timed pass, re-running the
    * DataFrame that pass timed, for the oracle check. */
  override def finish(ops: Main.Ops): Map[String, Any] = {
    val results = lastPass.flatMap { case (name, df) =>
      val dir = s"$work/results/$name"
      try { df.write.mode("overwrite").parquet(dir); Some(name -> dir) }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] writing $name failed: $e")
        ops.fail(name)
        None
      }
    }
    val oracle = SparkEntry.oracleSql
    // every pass writes fresh checkpoints and sinks, kept until the JVM exits
    val passBytes = (scratchBytes - stagedBytes) / passes
    Map(
      "faces" -> faces.names,
      "results" -> results,
      "oracle" -> faces.names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "stored_bytes" -> (stagedBytes + passBytes + Main.sizeOf(s"$work/results", Main.dataFile)._2),
      "staged_bytes" -> stagedBytes, "pass_bytes" -> passBytes)
  }
}

object Faces {
  final case class Spec(names: Seq[String], stagers: Seq[(SparkSession, String) => Any])

  /** A relational aggregate, the percentile and HLL kernels, MinHash
    * near-dup search and a build-time graph pass, then two streaming
    * drains: a windowed aggregate and a RocksDB-backed sessionization
    * over a staged arrival stream. */
  val all: Spec = Spec(Seq(
    "q01_pricing_summary", "q32_percentiles", "d03_minhash_lsh", "d06_approx_distinct",
    "c15_link_prediction", "st01_stream_hourly", "st12_stream_sessionize"),
    Seq(graft.queries.StreamMediaQueries.ensureSessionStream))
}
