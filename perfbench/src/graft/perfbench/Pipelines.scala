package graft.perfbench

import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.pipeline.{Gold, Ingest, Layers, Silver}

/** The medallion pipeline, bronze → silver → gold, over `Rows` seeded
  * brewery rows per iteration, each iteration in fresh layer directories.
  * Bronze is written by the reference-parity driver loop, one CSV per
  * 200-row page.
  */
final class Pipelines(spark: SparkSession, trace: Trace, seed: Long, work: String)
    extends Main.Workload {
  import Pipelines._

  private val fetcher = new Breweries.Fetcher(seed, Rows)
  private val base = Instant.parse("2026-01-01T00:00:00Z")
  private var last: Option[(String, Instant)] = None

  override def stage(): Unit = ()
  override val warmIterations = 2

  // earlier runs' directories stay until the JVM exits: deleting them
  // inside the timed loop would time the file system's deletes
  override def iteration(i: Int, ops: Main.Ops): Unit = {
    val dir = s"$work/pipeline/$i"
    val ts = base.plusSeconds(60L * (i + 10))
    ops.attempted += 1
    try {
      val bronze = s"$dir/bronze"
      trace.span("ingest")(Ingest.ingest(spark, fetcher, bronze, ts, progress = Quiet))
      trace.span("discover")(Layers.latestBronzeRun(spark, bronze))
      trace.span("silver")(Silver.run(spark, bronze, s"$dir/silver", ts))
      trace.span("discover")(Layers.latestSuccessfulRun(spark, s"$dir/silver"))
      trace.span("gold")(Gold.run(spark, s"$dir/silver", s"$dir/gold", ts))
      last = Some(dir -> ts)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] pipeline run $i failed: $e")
      ops.fail(s"pipeline run $i: ${e.getClass.getSimpleName}")
    }
  }

  /** Checks the last run that completed against the drawn rows. */
  override def finish(ops: Main.Ops): Map[String, Any] = {
    val (dir, ts) = last.getOrElse(throw new IllegalStateException("no timed run"))
    val run = Layers.runFolderName(ts)
    def layer(name: String) = Main.sizeOf(s"$dir/$name/$run", Main.dataFile)
    val (bronzeFiles, bronzeBytes) = layer("bronze")
    val (silverFiles, silverBytes) = layer("silver")
    val (goldFiles, goldBytes) = layer("gold")
    val problems = Seq.newBuilder[String]
    def expect(what: String, ok: Boolean): Unit = if (!ok) problems += what

    expect(s"bronze files $bronzeFiles != ${Ingest.pageCount(Rows)}",
      bronzeFiles == Ingest.pageCount(Rows))
    val silver = spark.read.parquet(s"$dir/silver/$run")
    val silverRows = silver.count()
    expect(s"silver rows $silverRows != $Rows", silverRows == Rows)
    val (cities, names) = Breweries.expectedCleaned(seed, Rows)
    val gotCities = silver.select("city").distinct().collect().map(_.getString(0)).toSet
    expect(s"silver cities differ: ${gotCities.diff(cities)} vs ${cities.diff(gotCities)}",
      gotCities == cities)
    val gotNames = silver.select("name").distinct().collect().map(_.getString(0)).toSet
    expect(s"silver names differ: ${gotNames.diff(names)} vs ${names.diff(gotNames)}",
      gotNames == names)
    val gold = spark.read.parquet(s"$dir/gold/$run")
      .select(col("brewery_type"), col("country"), col("state"), col("brewery_count"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    val want = Breweries.expectedGold(seed, Rows)
    val (extra, missing) = (gold.toSet diff want.toSet, want.toSet diff gold.toSet)
    expect(s"gold has ${extra.size} unexpected groups ${extra.take(3)} and misses " +
      s"${missing.size} ${missing.take(3)}", gold == want)
    val found = problems.result()
    if (found.nonEmpty) ops.fail(s"pipeline output: ${found.mkString("; ")}")

    val inputBytes = (0 until Rows).iterator
      .map(i => fetcher.row(i).values.filter(_ != null).map(_.getBytes("UTF-8").length.toLong).sum)
      .sum
    Map(
      "input_rows" -> Rows, "input_bytes" -> inputBytes,
      "stored_bytes" -> (bronzeBytes + silverBytes + goldBytes),
      "layers" -> Map(
        "bronze" -> Map("files" -> bronzeFiles, "bytes" -> bronzeBytes),
        "silver" -> Map("files" -> silverFiles, "bytes" -> silverBytes),
        "gold" -> Map("files" -> goldFiles, "bytes" -> goldBytes)),
      "gold_groups" -> gold.size,
      "checks" -> found)
  }
}

object Pipelines {
  /** Rows per pipeline run: 100 bronze pages on the driver loop. */
  val Rows = 20000

  object Quiet extends Ingest.ProgressListener {
    override def pageFetched(page: Int, total: Int): Unit = ()
  }
}
