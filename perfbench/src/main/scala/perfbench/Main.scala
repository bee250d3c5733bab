package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, as run.py launches it:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--recorded <fingerprints file>] [--tiny] [--corrupt-fingerprint] [--oracle]
  *
  * Closed loop: one driver thread submits ops back to back on local[4].
  * Untraced, it reports the end-to-end metrics; traced, it alternates fused,
  * staged and staged+traced ops and reports the per-layer metrics. The last
  * stdout line is `PERFBENCH_RESULT <json>`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, tiny: Boolean, corrupt: Boolean, oracle: Boolean,
                        recorded: Map[String, String])

  /** Every span, and the metrics it carries, in report order. */
  val layerSpans: Seq[String] = Seq(
    "time.base_features", "time.asof", "expr.project",
    "ckpt.write", "ckpt.read", "ckpt.resume",
    "model.admission", "feateng.engineer", "select.featsel", "model.final_fit")
  val pipelineSpans: Seq[String] = Seq(
    "pipeline.q_curate_nb", "pipeline.q_simhash_pairs", "pipeline.q_ivfadc",
    "pipeline.q_winnow_spans", "pipeline.q_dedup_components", "pipeline.bpe_train")
  val layerMetrics: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "cpu_s" -> "s", "driver_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "gc_s" -> "s", "rows" -> "count")
  val pipelineMetrics: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "cpu_s" -> "s", "jobs" -> "count", "shuffle_bytes" -> "bytes")

  /** Hard stop for the measuring loop, well inside run.py's 180 s budget. */
  val maxRunS = 120.0

  def parse(argv: Array[String]): Opts = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    // recorded fingerprints: one "<input size> <fingerprint>" per line
    val recorded = kv.get("--recorded").filter(p => new java.io.File(p).exists()).map { p =>
      val src = scala.io.Source.fromFile(p)
      try src.getLines().map(_.trim).filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split(" ", 2); k -> v
      }.toMap finally src.close()
    }.getOrElse(Map.empty)
    Opts(req("--workload"), req("--seed").toLong, req("--seconds").toDouble, req("--trace") == "1",
      req("--work"), argv.contains("--tiny"), argv.contains("--corrupt-fingerprint"),
      argv.contains("--oracle"), recorded)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Cumulative (steal, total) jiffies of the host from /proc/stat. */
  def hostCpu(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) return (0L, 0L)
    val src = scala.io.Source.fromFile(f)
    try {
      val v = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } finally src.close()
  }
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Peak live heap: the largest heap in use right after a GC since the
    * last reset, from the collectors' notifications. Unlike raw peak usage
    * it does not follow how far the young generation happened to fill.
    */
  object LiveHeap {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }, null, null)
      case _ =>
    }
    /** Collects garbage and starts a new peak (call outside timed code). */
    def reset(): Unit = { System.gc(); synchronized { peak = 0L } }
    /** The peak since [[reset]], or the heap in use now if no GC ran. */
    def peakMb: Double = {
      val rt = Runtime.getRuntime
      (if (peak > 0) peak else rt.totalMemory - rt.freeMemory) / 1048576.0
    }
  }

  /** One timed op and what it cost. */
  final case class Rep(kind: String, wall: Double, cpu: Double, heapMb: Double, steal: Double,
                       outcome: Option[Outcome], error: Option[String], spans: Seq[Span],
                       ratios: Map[String, Double]) {
    def ok: Boolean = error.isEmpty
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val wl = Workloads(o.workload)
    val runStart = System.nanoTime()
    def elapsed = (System.nanoTime() - runStart) / 1e9

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${o.work}/checkpoints")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, o.work, o.seed, o.tiny, o.recorded)

    var attempted = 0
    var failed = 0
    var reference: Option[Outcome] = None

    /** Runs one op, checks it against its own invariants and the reference. */
    def rep(kind: String, st: Stager, inputRows: Long): Rep = {
      LiveHeap.reset()
      val host0 = hostCpu()
      val cpu0 = os.getProcessCpuTime
      val w0 = System.nanoTime()
      val res = try Right(wl.op(ctx, st, inputRows)) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val steal = stealShare(host0, hostCpu())
      val heapMb = LiveHeap.peakMb
      st.release()
      attempted += 1
      val checked = res.map(out => wl.verify(ctx, out))
      val error = checked match {
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        case Right(out) if out.errors.nonEmpty => Some(out.errors.mkString("; "))
        case Right(out) => reference match {
          case None => reference = Some(out); None
          case Some(ref) if ref.fingerprint != out.fingerprint =>
            Some(s"fingerprint ${out.fingerprint.take(200)} differs from the reference ${ref.fingerprint.take(200)}")
          case _ => None
        }
      }
      if (error.isDefined) failed += 1
      val r = Rep(kind, wall, cpu, heapMb, steal, checked.toOption, error, st.spans.toSeq, st.ratios.toMap)
      println(f"rep ${wl.name} $kind%-14s wall_s=$wall%.4f cpu_s=$cpu%.3f heap_mb=$heapMb%.0f steal=$steal%.4f " +
        (if (r.ok) "ok" else s"FAILED ${error.get}"))
      r
    }
    def fused(inputRows: Long) = rep("fused", new Stager(spark, staged = false, None), inputRows)

    // set-up: input generation three times (the median counts), then one
    // warm-up op; the reference is the recorded fingerprint or the first op
    var inputRows = 0L
    val gens = (1 to 3).map { i =>
      val g0 = System.nanoTime()
      inputRows = wl.generate(ctx)
      val s = (System.nanoTime() - g0) / 1e9
      println(f"setup ${wl.name} generation $i: $inputRows rows in $s%.4f s")
      s
    }
    // --oracle re-derives the reference from this run's first op
    reference = if (o.oracle) None else wl.recorded(ctx).map(fp => Outcome(fp))
    if (wl.fixedInput && reference.isEmpty && !o.oracle) {
      // nothing to check the outputs against: the run cannot pass
      attempted += 1
      failed += 1
      println(s"setup ${wl.name}: no recorded fingerprint for this input size; record one with --oracle")
    }
    val warmS = fused(inputRows).wall
    if (o.corrupt) reference = reference.map(r => r.copy(fingerprint = r.fingerprint + "#corrupted"))
    val setupS = sessionS + median(gens) + warmS
    val steal0 = hostCpu()

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    var quality: Option[Double] = None
    if (!o.trace) {
      val reps = mutable.ArrayBuffer[Rep]()
      val m0 = System.nanoTime()
      while ((reps.size < wl.minOps || (System.nanoTime() - m0) / 1e9 < o.seconds) && elapsed < maxRunS)
        reps += fused(inputRows)
      val good = reps.filter(_.ok)
      def med(f: Rep => Double) = if (good.isEmpty) 0.0 else median(good.map(f).toSeq)
      val wall = med(_.wall)
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (wall, "s")
      metrics("rows_per_s") = (if (good.isEmpty) 0.0 else inputRows / wall, "1/s")
      metrics("heap_peak_mb") = (med(_.heapMb), "MB")
      quality = good.headOption.flatMap(_.outcome.get.quality)
    } else {
      val collector = new SpanCollector
      val reps = mutable.ArrayBuffer[Rep]()
      val m0 = System.nanoTime()
      def tracedRep() = {
        spark.sparkContext.addSparkListener(collector)
        try rep("staged+traced", new Stager(spark, staged = true, Some(collector)), inputRows)
        finally spark.sparkContext.removeSparkListener(collector)
      }
      val kinds = Seq(() => fused(inputRows), () => rep("staged", new Stager(spark, staged = true, None), inputRows),
        () => tracedRep())
      // cycles alternate their order, so no kind always runs last
      var cycle = 0
      while ((cycle == 0 || (System.nanoTime() - m0) / 1e9 < o.seconds) && elapsed < maxRunS) {
        (if (cycle % 2 == 0) kinds else kinds.reverse).foreach(k => reps += k())
        cycle += 1
      }
      val good = reps.filter(_.ok)
      def wallOf(kind: String) = {
        val ws = good.filter(_.kind == kind).map(_.wall).toSeq
        if (ws.isEmpty) 0.0 else median(ws)
      }
      val traced = good.filter(_.kind == "staged+traced")
      // every span as recorded, then the medians below
      for ((r, i) <- traced.zipWithIndex; sp <- r.spans)
        println(s"span $i ${sp.name} " + sp.values.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
      def spanMedian(span: String, metric: String): Double = {
        val vs = traced.flatMap(_.spans.filter(_.name == span).map(_.values(metric))).toSeq
        if (vs.isEmpty) 0.0 else median(vs)
      }
      def ratioMedian(name: String): Double = {
        val vs = traced.flatMap(_.ratios.get(name)).toSeq
        if (vs.isEmpty) 0.0 else median(vs)
      }
      for (s <- layerSpans; (m, unit) <- layerMetrics) metrics(s"$s.$m") = (spanMedian(s, m), unit)
      for (s <- pipelineSpans; (m, unit) <- pipelineMetrics) metrics(s"$s.$m") = (spanMedian(s, m), unit)
      val written = spanMedian("ckpt.write", "records_written")
      val lostRows = ratioMedian("ckpt.resume.lost_rows")
      metrics("feateng.engineer.accept_ratio") = (ratioMedian("feateng.engineer.accept_ratio"), "ratio")
      metrics("select.featsel.keep_ratio") = (ratioMedian("select.featsel.keep_ratio"), "ratio")
      metrics("ckpt.resume.redo_ratio") =
        (if (lostRows > 0) spanMedian("ckpt.resume", "records_read") / lostRows else 0.0, "ratio")
      metrics("ckpt.write.bytes_per_row") =
        (if (written > 0) spanMedian("ckpt.write", "bytes_written") / written else 0.0, "bytes/row")
      metrics("trace.fused_minus_staged_s") = (wallOf("fused") - wallOf("staged"), "s")
      metrics("trace.overhead_s") = (wallOf("staged+traced") - wallOf("staged"), "s")
      quality = good.flatMap(_.outcome.flatMap(_.quality)).headOption
    }
    val steal = stealShare(steal0, hostCpu())
    if (o.trace) {
      metrics("host.steal_frac") = (steal, "ratio")
      metrics("fail_frac") = (failed.toDouble / math.max(attempted, 1), "ratio")
      metrics("model.r2") = (quality.getOrElse(0.0), "r2")
    }
    println(f"host steal share over the measured ops: $steal%.4f")

    // --oracle: write the outputs behind the reference for run.py's DuckDB check
    if (o.oracle && (wl eq Curate)) reference.foreach { ref =>
      val bad = Curate.writeOracleInputs(ctx, s"${o.work}/oracle", ref)
      attempted += 1
      if (bad.nonEmpty) { failed += 1; println(s"oracle outputs differ from the reference: ${bad.mkString(", ")}") }
      println(s"fingerprint ${Curate.nDocs(ctx)} ${ref.fingerprint}")
    }
    spark.stop()

    val ms = metrics.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":${ms.mkString("{", ",", "}")}}""")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
