package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each engine layer.
  *
  * A span is (id, name, parent, start, end); its layer is the name up to
  * the first '.'. Spans live in memory and are written out once, after
  * the measured phase. When tracing is off, [[span]] only runs its body.
  *
  * While a span is open, every Spark job started from the client thread
  * (and from threads it spawns: streaming queries, broadcasts) carries
  * the span id as a local property, which is how [[Counters]] attributes
  * task metrics to spans.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int,
      val startNs: Long, val startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  def toJson(originNs: Long): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.startNs - originNs) / 1e9,
      "end_s" -> (s.endNs - originNs) / 1e9,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** Spark-side counts for the traced phase: task metrics per span (via the
  * span property on each job), RDD block storage peaks, streaming
  * progress, and Catalyst phase times per executed query. */
final class Counters extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L
    var busyMs = 0L; var gcMs = 0L; var schedWaitMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    var readBytes = 0L; var readRecords = 0L
    var writeBytes = 0L; var writeRecords = 0L
    def toJson: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
      "busy_ms" -> busyMs, "gc_ms" -> gcMs, "sched_wait_ms" -> schedWaitMs,
      "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
      "read_bytes" -> readBytes, "read_records" -> readRecords,
      "write_bytes" -> writeBytes, "write_records" -> writeRecords)
  }

  private val perSpan = mutable.Map.empty[Int, Acc]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var blocksPeak = 0L
  private var bytesPeak = 0L
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def acc(span: Int) = perSpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    acc(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, -1))
    a.tasks += 1
    stageSubmitted.get(e.stageId).foreach(t =>
      a.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t))
    val m = e.taskMetrics
    if (m != null) {
      a.busyMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.readBytes += m.inputMetrics.bytesRead
      a.readRecords += m.inputMetrics.recordsRead
      a.writeBytes += m.outputMetrics.bytesWritten
      a.writeRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = info.memSize + info.diskSize
        if (info.storageLevel.isValid && size > 0)
          rddBlocks(info.blockId.name) = size
        else rddBlocks.remove(info.blockId.name)
        blocksPeak = math.max(blocksPeak, rddBlocks.size.toLong)
        bytesPeak = math.max(bytesPeak, rddBlocks.values.sum)
      }
    }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Counters.this.synchronized {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        progress += Map(
          "rows_in" -> p.numInputRows,
          "duration_ms" -> Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(0L),
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "dup_dropped" -> ops.map(o => Option(o.customMetrics
            .get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum)
      }
  }

  /** Analysis, optimization and physical-planning time of every
    * successfully executed query, with wall-clock phase starts so the
    * report can place them inside the span that was open. */
  val planning: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      Counters.this.synchronized {
        val ph = qe.tracker.phases
        if (ph.nonEmpty) plans += Map(
          "start_ms" -> ph.values.map(_.startTimeMs).min,
          "end_ms" -> ph.values.map(_.endTimeMs).max,
          "phases_ms" -> ph.map { case (k, v) => k -> v.durationMs })
      }
    def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streaming)
    spark.listenerManager.register(planning)
  }

  def uninstall(spark: SparkSession): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(streaming)
    spark.sparkContext.removeSparkListener(this)
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "spans" -> perSpan.toSeq.sortBy(_._1)
        .map { case (k, v) => k.toString -> v.toJson }.toMap,
      "rdd_blocks_peak" -> blocksPeak,
      "rdd_bytes_peak" -> bytesPeak,
      "streaming" -> progress.toSeq,
      "plans" -> plans.toSeq)
  }
}
