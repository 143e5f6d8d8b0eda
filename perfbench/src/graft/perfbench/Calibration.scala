package graft.perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.Trigger

/** Known-answer plans for the listener counters. A traced run executes
  * each plan under its own span and compares what the listeners counted
  * with what the plan must do; a counter that fails here is not reported.
  */
object Calibration {

  private def noop(df: Dataset[_]): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, trace: Trace, work: String): Seq[Map[String, Any]] = {
    val dir = s"$work/calibration"
    val n = 100000L
    // inputs are written before recording starts
    spark.range(0, n, 1, 1).selectExpr("id", "cast(id * 7 as string) AS s")
      .write.mode("overwrite").parquet(s"$dir/scan")
    (0 until 3).foreach { b =>
      spark.range(0, 10).selectExpr("id AS k")
        .coalesce(1).write.mode("append").parquet(s"$dir/stream-in")
    }

    trace.start()
    trace.span("calibrate:range")(noop(spark.range(0, n, 1, 7)))
    trace.span("calibrate:shuffle")(noop(spark.range(0, n, 1, 4).repartition(5, col("id"))))
    val agg = spark.range(0, n, 1, 4).groupBy((col("id") % 1000).as("k")).count()
    trace.span("calibrate:agg")(noop(agg))
    trace.span("calibrate:sort_after_agg")(noop(agg.orderBy("k")))
    trace.span("calibrate:scan")(noop(spark.read.parquet(s"$dir/scan")))
    trace.span("calibrate:stream") {
      val q = spark.readStream.schema("k LONG").option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/stream-in")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete").format("noop")
        .option("checkpointLocation", s"$dir/stream-ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    trace.stop()

    val by = trace.recorded.filter(_.name.startsWith("calibrate:"))
      .map(s => s.name.stripPrefix("calibrate:") -> trace.countersOf(s).toMap).toMap
    def check(plan: String, counter: String, expected: Long): Map[String, Any] = {
      val observed = by(plan)(counter)
      Map("plan" -> plan, "counter" -> counter, "expected" -> expected,
        "observed" -> observed, "ok" -> (observed == expected))
    }
    val range = by("range")
    def atMost(plan: String, counter: String, bound: Long): Map[String, Any] = {
      val observed = by(plan)(counter)
      Map("plan" -> plan, "counter" -> counter, "expected" -> s"<= $bound",
        "observed" -> observed, "ok" -> (observed <= bound))
    }
    Seq(
      check("range", "jobs", 1), check("range", "stages", 1), check("range", "tasks", 7),
      check("range", "spill_disk_bytes", 0),
      // run time is whole milliseconds per task, CPU time nanoseconds
      atMost("range", "cpu_ns", (range("run_ms") + range("tasks") + 5) * 1000000L),
      atMost("range", "gc_ms", range("run_ms")),
      check("shuffle", "shuffle_write_records", n), check("shuffle", "shuffle_read_records", n),
      check("shuffle", "shuffle_read_bytes", by("shuffle")("shuffle_write_bytes")),
      // the range partitioner of the sort samples the aggregate's output,
      // so the aggregate's shuffle is read twice: once more than written
      check("sort_after_agg", "shuffle_read_bytes",
        by("sort_after_agg")("shuffle_write_bytes") + by("agg")("shuffle_write_bytes")),
      check("scan", "input_records", n),
      check("stream", "batches", 3), check("stream", "state_rows", 10))
  }
}
