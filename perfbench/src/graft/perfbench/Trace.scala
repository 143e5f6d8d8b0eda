package graft.perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around each call the benchmark makes into a layer, and the
  * Spark counters attributed to them.
  *
  * A span is opened by the one benchmark thread; while it is open, that
  * thread's `perfbench.span` local property names it. Spark copies local
  * properties into every job the thread starts, into the threads of
  * streaming queries it starts, and into broadcast and subquery threads,
  * so each job, stage and task is charged to the innermost span open
  * when its job was submitted. Streaming progress is charged through the
  * query's run id, which `onQueryStarted` maps to the open span: that
  * callback runs synchronously on the starting thread.
  *
  * Spans stay in memory; `json` writes them out at the end of the run.
  * Counters are read only after the listener bus has drained.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var recording = false
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val querySpan = new ConcurrentHashMap[UUID, Int]()
  private val counters = new ConcurrentHashMap[Int, Counters]()

  private def of(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  /** Runs `body` inside a span named `name`; a no-op wrapper while not recording. */
  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = Span(spans.size + 1, open.headOption.fold(0)(_.id), name, System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
      }
    }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { id =>
        val span = id.toInt
        of(span).jobs += 1
        e.stageIds.foreach(stageSpan.put(_, span))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(of(_).stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val c = of(span)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputRecords += m.outputMetrics.recordsWritten
          c.outputBytes += m.outputMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.spillDiskBytes += m.diskBytesSpilled
          c.spillMemBytes += m.memoryBytesSpilled
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      open.headOption.foreach(s => querySpan.put(e.runId, s.id))

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(querySpan.get(p.runId)).foreach { span =>
        val c = of(span)
        def ms(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
        c.batches += 1
        c.addBatchMs += ms("addBatch")
        c.planningMs += ms("queryPlanning")
        c.walCommitMs += ms("walCommit")
        c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        // gauges: the last batch's value per query
        c.stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
        c.stateMemBytes(p.runId) = p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Starts recording: registers both listeners. */
  def start(): Unit = {
    recording = true
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Stops recording once every event posted so far has been counted. */
  def stop(): Unit = {
    recording = false
    ListenerBusBridge.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Counters of one span (not of its children); call after `stop`. */
  def countersOf(span: Span): Counters = of(span.id)

  def recorded: Seq[Span] = spans.toSeq

  def json: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end, "counters" -> of(s.id).toMap)
  }
}

object Trace {
  val Key = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, start: Long) {
    var end: Long = 0L
    def seconds: Double = (end - start) / 1e9
  }

  /** Counts for one span. Written only by the listener bus thread. */
  final class Counters {
    var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    var inputBytes, inputRecords, outputRecords, outputBytes = 0L
    var shuffleReadBytes, shuffleReadRecords, shuffleWriteBytes, shuffleWriteRecords = 0L
    var spillDiskBytes, spillMemBytes = 0L
    var batches, addBatchMs, planningMs, walCommitMs, stateCommitMs = 0L
    val stateRows, stateMemBytes = mutable.Map.empty[UUID, Long]

    def toMap: Map[String, Long] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
      "input_records" -> inputRecords, "output_records" -> outputRecords,
      "output_bytes" -> outputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_read_records" -> shuffleReadRecords,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "shuffle_write_records" -> shuffleWriteRecords,
      "spill_disk_bytes" -> spillDiskBytes, "spill_mem_bytes" -> spillMemBytes,
      "batches" -> batches, "add_batch_ms" -> addBatchMs, "planning_ms" -> planningMs,
      "wal_commit_ms" -> walCommitMs, "state_commit_ms" -> stateCommitMs,
      "state_rows" -> stateRows.values.sum, "state_mem_bytes" -> stateMemBytes.values.sum)
  }
}
