package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: builds the session, stages the
  * workload's inputs, warms it, then runs its iterations back to back
  * from this one thread (a closed loop with one client) until the time
  * budget is spent, checks the outputs, and writes a JSON record.
  *
  * Usage: graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <file> [--fixtures <dir>]
  *
  * With `--trace 1` the timed iterations alternate between traced and
  * untraced ones, so the tracing overhead is measured in the same JVM;
  * an untraced run registers no listener at all.
  */
object Main {

  val MinTimed = 3

  /** One workload: what an iteration does and how its output is checked. */
  trait Workload {
    def stage(): Unit
    def warmIterations: Int
    /** One iteration; `ops` counts its operations and their failures. */
    def iteration(i: Int, ops: Ops): Unit
    /** Checks and sizes taken after the timed loop. */
    def finish(ops: Ops): Map[String, Any]
  }

  final class Ops {
    var attempted, failed = 0L
    val failures = mutable.LinkedHashSet.empty[String]
    def fail(what: String): Unit = { failed += 1; failures += what }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val epochToNano = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def sinceStart(t: Long): Double = (t + epochToNano - jvmStart) / 1e9

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(spark)
    val wl: Workload = workload match {
      case "medallion" => new Pipelines(spark, trace, seed, work)
      case "faces" => new Faces(spark, trace, seed, work, opt("fixtures"), Faces.all)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t1 = System.nanoTime()
    wl.stage()
    val t2 = System.nanoTime()
    // warm iterations count as operations: a face that fails only when
    // cold is still a failure
    val ops = new Ops
    (1 to wl.warmIterations).foreach(i => wl.iteration(-i, ops))
    val t3 = System.nanoTime()
    val calibration = if (traced) Calibration.run(spark, trace, work) else Nil
    val loopStart = System.nanoTime()

    val samples = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    var i = 0
    // at least MinTimed iterations, so the median can drop the first one,
    // which still carries some warm-up. A traced run alternates traced and
    // untraced iterations, ABBA, and stops only after a whole block, so
    // each side gets the same share of early and late iterations.
    while (System.nanoTime() - loopStart < seconds * 1e9 || i < MinTimed ||
        traced && i % 4 != 0) {
      val tracedNow = traced && (i % 4 == 0 || i % 4 == 3)
      if (tracedNow) trace.start()
      val s0 = System.nanoTime()
      trace.span("iteration")(wl.iteration(i, ops))
      val dt = (System.nanoTime() - s0) / 1e9
      if (tracedNow) { trace.stop(); samples += dt } else untraced += dt
      i += 1
    }
    val checks = wl.finish(ops)

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> sinceStart(t3),
      "setup" -> Map("session_s" -> sinceStart(t1),
        "stage_s" -> (t2 - t1) / 1e9, "warm_s" -> (t3 - t2) / 1e9),
      // untraced runs keep every sample in `untraced`
      "samples" -> (if (traced) samples else untraced).toSeq,
      "untraced_samples" -> (if (traced) untraced.toSeq else Nil),
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "failures" -> ops.failures.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "old_gen_peak_mb" -> oldGenPeakMb(),
      "all_faces" -> Faces.all.names,
      "calibration" -> calibration,
      "spans" -> (if (traced) trace.json else Nil)) ++ checks
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), which in local mode covers the
    * driver and every executor thread. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  /** Peak use of the tenured heap pool, the one heap pool with a usage
    * threshold. */
  def oldGenPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isUsageThresholdSupported)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Bytes and regular files under `dir` whose names pass `keep`. */
  def sizeOf(dir: String, keep: String => Boolean = _ => true): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p) && keep(p.getFileName.toString))
        .toArray.foldLeft((0L, 0L)) { case ((files, bytes), p) =>
          (files + 1, bytes + Files.size(p.asInstanceOf[java.nio.file.Path])) }
      finally s.close()
    }
  }

  /** Data files only: no checksums, no `_SUCCESS` markers. */
  def dataFile(name: String): Boolean = !name.startsWith(".") && !name.startsWith("_")
}

/** A minimal JSON writer for the run record. */
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
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
