package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Task-level totals attributed to one span by the collector. */
final class SpanTotals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  /** [start, end] wall-clock millis of each finished job. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** SparkListener that attributes jobs, stages and tasks to the span named by
  * the `perfbench.span` local property at job submission. Lives on the
  * listener-bus thread; readers synchronize on it after draining the bus.
  */
final class SpanCollector extends SparkListener {
  private val bySpan = mutable.Map[String, SpanTotals]()
  private val stageSpan = mutable.Map[Int, String]()
  private val jobSpan = mutable.Map[Int, (String, Long)]()

  private def totals(span: String) = bySpan.getOrElseUpdate(span, new SpanTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Property)))
    span.foreach { s =>
      totals(s).jobs += 1
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(id => stageSpan(id) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, start) => totals(s).jobIntervals += ((start, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals(s)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.recordsRead += m.inputMetrics.recordsRead
      t.bytesWritten += m.outputMetrics.bytesWritten
      t.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Removes and returns what was collected for `span`. */
  def take(span: String): SpanTotals = synchronized {
    bySpan.remove(span).getOrElse(new SpanTotals)
  }
}

/** One closed span: the per-layer metrics of a single layer call. */
final case class Span(name: String, values: Map[String, Double])

object Spans {
  val Property = "perfbench.span"
}

/** How a workload op runs its layers.
  *
  *  - fused: the layers compose lazily into the plans the library builds, as
  *    a user runs them; `layer` and `force` add nothing.
  *  - staged: every layer's output is persisted and forced through a noop
  *    sink inside the layer's span, so a lazy layer is charged its own work.
  *    Given a [[SpanCollector]], the Spark work of each span is attributed
  *    to it, and the bus is drained before the span is closed.
  */
final class Stager(spark: SparkSession, val staged: Boolean, collector: Option[SpanCollector]) {
  private val sc = spark.sparkContext
  private val persisted = mutable.ArrayBuffer[DataFrame]()
  val spans = mutable.ArrayBuffer[Span]()
  /** Ratios a workload measures where the work happens, by metric name. */
  val ratios = mutable.Map[String, Double]()

  /** Runs one layer call; `rows` reports the layer's output row count and
    * is evaluated after the span is closed (so it is never timed).
    */
  def layer[T](name: String)(body: => T)(rows: T => Long): T = {
    if (!staged) return body
    collector.foreach(_ => sc.setLocalProperty(Spans.Property, name))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body finally sc.setLocalProperty(Spans.Property, null)
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    collector.foreach { c =>
      PerfbenchBridge.drainListeners(sc)
      val t = c.take(name)
      val covered = coveredMs(t.jobIntervals.toSeq, startMs, endMs) / 1000.0
      spans += Span(name, Map(
        "wall_s" -> wall,
        "cpu_s" -> t.cpuNs / 1e9,
        "driver_s" -> math.max(0.0, wall - covered),
        "jobs" -> t.jobs.toDouble,
        "tasks" -> t.tasks.toDouble,
        "shuffle_bytes" -> t.shuffleBytes.toDouble,
        "spill_bytes" -> t.spillBytes.toDouble,
        "gc_s" -> t.gcMs / 1000.0,
        "rows" -> rows(out).toDouble,
        "records_read" -> t.recordsRead.toDouble,
        "bytes_written" -> t.bytesWritten.toDouble,
        "records_written" -> t.recordsWritten.toDouble))
    }
    out
  }

  /** Staged: persist `df` and materialize it through the noop sink (inside
    * the enclosing span); the persisted frame feeds the next layer. Fused:
    * `df` unchanged.
    */
  def force(df: DataFrame): DataFrame = {
    if (!staged) return df
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted += p
    p.write.format("noop").mode("overwrite").save()
    p
  }

  /** Drops everything this op persisted. */
  def release(): Unit = { persisted.foreach(_.unpersist(blocking = true)); persisted.clear() }

  /** Millis of [from, to] covered by the union of `intervals`. */
  private def coveredMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, reach)
        if (b > s) { covered += b - s; reach = b }
      }
    covered
  }
}
