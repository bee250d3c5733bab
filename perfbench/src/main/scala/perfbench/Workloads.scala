package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ckpt.Checkpoint
import graft.expr.{Compile, F, FExpr, Var}
import graft.feateng.{FeatEng, FeatEngConfig}
import graft.model.{AutoFeat, AutoFeatConfig, AutoFeatModel, LinearModel}
import graft.select.{FeatSel, GramLasso}
import graft.stats.Gram
import graft.time.{AsOfJoin, PointInTime, TranscriptGen}

/** What a run shares: the session, its work directory, the seed, and
  * fingerprints recorded from oracle-checked outputs (by input size).
  */
final case class Ctx(spark: SparkSession, work: String, seed: Long, tiny: Boolean,
                     recorded: Map[String, String] = Map.empty) {
  val inputDir: String = s"$work/input"
}

/** The result of one op.
  *
  * @param fingerprint must equal the reference op's (the first op of the run)
  * @param errors      invariants the op broke on its own
  * @param quality     a quality score checked against the workload's floor
  */
final case class Outcome(
    fingerprint: String,
    errors: Seq[String] = Nil,
    quality: Option[Double] = None)

trait Workload {
  def name: String
  /** The fewest ops a run measures, however long `--seconds` is: the median
    * of a few short ops is steadier than one.
    */
  def minOps: Int = 1
  /** True when the inputs do not vary with the seed: every op is then
    * checked against [[recorded]] instead of the run's first op.
    */
  def fixedInput: Boolean = false
  /** The fingerprint recorded from oracle-checked outputs for this input. */
  def recorded(ctx: Ctx): Option[String] = None
  /** Writes this seed's inputs under `ctx.inputDir`; returns the input row count. */
  def generate(ctx: Ctx): Long
  /** One closed-loop operation over the generated inputs (timed). */
  def op(ctx: Ctx, st: Stager, inputRows: Long): Outcome
  /** Untimed checks that need more work than the op itself. */
  def verify(ctx: Ctx, o: Outcome): Outcome = o
}

object Workloads {
  val all: Seq[Workload] = Seq(PitJob, AutoFeatFit, Curate)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name (one of ${all.map(_.name).mkString(", ")})"))

  /** (rows, order-independent content hash) of a frame: count plus the
    * bit_xor of a per-row xxhash64 over every column — one aggregate that
    * forces every column and is bit-identical however rows are partitioned.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => col(s"`${c.replace("`", "``")}`"))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("__h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(__h)"), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

/** The FeatureJob shape over the whole transcript table: the
  * point-in-time window pass, the session aggregate and as-of join, a
  * 40-formula projection, a resumable bucketed write, a simulated crash that
  * loses a fixed quarter of the manifests (their files stay on disk), the
  * resume, and a read-back.
  */
object PitJob extends Workload {
  val name = "pit_job"
  override val minOps = 2
  val buckets = 16
  val lost: Seq[Int] = Seq(1, 5, 9, 13)
  private var opIndex = 0

  def generate(ctx: Ctx): Long = {
    val dir = s"${ctx.inputDir}/turns"
    TranscriptGen.generate(ctx.spark, if (ctx.tiny) 200L else 1500L, meanTurns = 20, seed = ctx.seed)
      .write.mode("overwrite").parquet(dir)
    ctx.spark.read.parquet(dir).count()
  }

  /** 40 engineered formulas over the base features: 12 single-feature
    * winners widened by pair and triple products.
    */
  val formulas: Seq[FExpr] = {
    val v = (n: String) => Var(n)
    val single = Seq(
      F.log(v("text_len")), F.sqrt(v("cum_text_len")), F.recip(v("turns_so_far")),
      F.sq(v("secs_since_prev")), F.mul(v("text_len"), v("turns_so_far")),
      F.mul(F.log(v("cum_text_len")), F.recip(v("turns_so_far"))),
      F.sub(v("cum_len_user"), v("cum_len_assistant")),
      F.sqrt(F.add(v("cum_tool_calls"), F.num(1))),
      F.mul(v("secs_in_session"), F.recip(F.add(v("turns_in_session"), F.num(1)))),
      F.log(F.add(v("session_id"), F.num(1))),
      F.mul(v("cum_len_tool"), F.recip(F.add(v("cum_text_len"), F.num(1)))),
      F.sq(F.log(v("text_len"))))
    val pairs = single.combinations(2).map { case Seq(a, b) => F.mul(a, b) }
    val triples = single.combinations(3).map { case Seq(a, b, c) => F.mul(F.mul(a, b), c) }
    (single.iterator ++ pairs ++ triples).take(40).toSeq
  }

  /** Window pass, session aggregate + as-of join, and the projection. */
  private def features(turns: DataFrame, st: Stager): DataFrame = {
    val base = st.layer("time.base_features")(st.force(PointInTime.baseFeatures(turns)))(_.count())
    val joined = st.layer("time.asof") {
      val sessions = base.groupBy(col("conv_id"), col("session_id"))
        .agg(max(col("ts")).as("ts"), sum(col("text_len")).as("session_len"),
          count(lit(1)).as("session_turns"))
      st.force(AsOfJoin.asof(base, sessions, "conv_id", "ts", Seq("session_len", "session_turns")))
    }(_.count())
    st.layer("expr.project") {
      val feats = formulas.map(e => Compile.toColumn(e, s => col(s).cast("double")).as(e.name))
      st.force(joined.select(Seq(col("conv_id"), col("turn_idx"), col("ts"),
        col("asof_session_len").cast("double").as("asof_session_len")) ++ feats: _*))
    }(_.count())
  }

  def op(ctx: Ctx, st: Stager, inputRows: Long): Outcome = {
    opIndex += 1
    val dir = s"${ctx.work}/ckpt-$opIndex"
    val source = s"${ctx.inputDir}/turns"
    try {
      val out = features(st.force(ctx.spark.read.parquet(source)), st)
      val lineage = "input=perfbench|op=pit_features|v=1"
      val before = st.layer("ckpt.write")(
        Checkpoint.writeResumable(out, dir, "conv_id", buckets, lineage))(_.map(_.rows).sum)
      // the crash: manifests of the lost buckets vanish, their files stay
      lost.foreach(p => Files.delete(Paths.get(s"$dir/_manifest_part_$p.json")))
      val lostRows = lost.map(before(_).rows).sum
      st.ratios("ckpt.resume.lost_rows") = lostRows.toDouble
      // a resumed job starts over from the source: the crash took the first
      // pass's caches too, so the span shows all the resume recomputes
      st.release()
      val after = st.layer("ckpt.resume")(Checkpoint.writeResumable(
        features(ctx.spark.read.parquet(source), new Stager(ctx.spark, staged = false, None)),
        dir, "conv_id", buckets, lineage))(_ => lostRows)
      val (readRows, distinctKeys) = st.layer("ckpt.read") {
        val r = Checkpoint.read(ctx.spark, dir)
          .agg(count(lit(1)), countDistinct(col("conv_id"), col("turn_idx"))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }(_._1)
      val written = before.map(_.rows).sum
      val errors = Seq(
        (written != inputRows) -> s"manifests hold $written rows for $inputRows input turns",
        (after.map(m => (m.part, m.rows, m.featureHash)) != before.map(m => (m.part, m.rows, m.featureHash))) ->
          "resumed manifests differ from the pre-crash manifests",
        (readRows != inputRows) -> s"read-back has $readRows rows for $inputRows input turns",
        (distinctKeys != readRows) -> s"read-back has ${readRows - distinctKeys} duplicate rows"
      ).collect { case (true, msg) => msg }
      Outcome(before.map(m => s"${m.part}:${m.rows}:${m.featureHash}").mkString(","), errors)
    } finally Workloads.deleteTree(Paths.get(dir))
  }
}

/** The paper's pipeline: synthesis, noise-filtered L1 selection and the
  * final linear fit, over four base features with a planted target.
  */
object AutoFeatFit extends Workload {
  val name = "autofeat_fit"
  val features = Seq("text_len", "cum_text_len", "turns_so_far", "secs_since_prev")
  val steps = 2
  val runs = 5
  /** R² the held-out fit must reach; the planted target's noise allows ~1. */
  val r2Floor = 0.95

  private def admissionRows(ctx: Ctx): Long = if (ctx.tiny) 500L else 1000L

  def cfg(ctx: Ctx): AutoFeatConfig = {
    val nCols = AutoFeat.nColsGenerated(features.size, steps)
    AutoFeatConfig(feategSteps = steps, featselRuns = runs,
      maxGb = Some(admissionRows(ctx).toDouble * nCols / 250000000.0))
  }

  /** Base features plus y = 2 + 3·log(text_len) + 0.5·sqrt(cum_text_len)/turns_so_far
    * + 0.01·N(0,1), the noise drawn from a per-row hash of the seed.
    */
  private def fitTable(ctx: Ctx, seed: Long, dir: String): Long = {
    val turns = TranscriptGen.generate(ctx.spark, if (ctx.tiny) 100L else 400L, meanTurns = 20, seed = seed)
    val base = PointInTime.baseFeatures(turns.toDF())
    def unif(salt: Long): Column =
      (pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(seed), lit(salt)), lit(1L << 52)).cast("double") + 0.5) /
        (1L << 52).toDouble
    val noise = sqrt(log(unif(1)) * -2.0) * cos(unif(2) * (2 * math.Pi))
    val y = lit(2.0) + log(col("text_len")) * 3.0 +
      sqrt(col("cum_text_len")) * 0.5 / col("turns_so_far") + noise * 0.01
    base.select(features.map(c => col(c).cast("double").as(c)) :+ y.as("y"): _*)
      .write.mode("overwrite").parquet(dir)
    ctx.spark.read.parquet(dir).count()
  }

  def generate(ctx: Ctx): Long = {
    // the held-out table is only read by the untimed R² check: write it once
    val holdout = s"${ctx.inputDir}/holdout"
    if (!Files.exists(Paths.get(holdout))) fitTable(ctx, ctx.seed + 1, holdout)
    fitTable(ctx, ctx.seed, s"${ctx.inputDir}/fit")
  }

  def op(ctx: Ctx, st: Stager, inputRows: Long): Outcome = {
    val input = ctx.spark.read.parquet(s"${ctx.inputDir}/fit")
    val c = cfg(ctx)
    val model =
      if (!st.staged) AutoFeat.fitTransform(input, "y", c)._2
      else staged(input, c, st)
    lastModel = model
    Outcome(model.goodCols.mkString(" | "))
  }

  private var lastModel: AutoFeatModel = _

  /** `AutoFeat.fitTransform`'s regression path, one public call per layer:
    * admission, synthesis, selection, then regeneration + Gram + CV Lasso.
    */
  private def staged(input: DataFrame, c: AutoFeatConfig, st: Stager): AutoFeatModel = {
    val target = "y"
    val base = features
    val nCols = AutoFeat.nColsGenerated(base.size, c.feategSteps, c.transformations.size)
    val sample = st.layer("model.admission") {
      val df0 = input.select((base :+ target).map(col): _*)
      val bad = (base :+ target).map(n => sum(when(col(n).isNull || isnan(col(n)), 1L).otherwise(0L)))
        .reduce(_ + _)
      require(df0.agg(bad).collect()(0).getLong(0) == 0L, "fit data contains NaN/null values")
      val nRows = df0.count()
      val nGb = nRows.toDouble * nCols / 250000000.0
      st.force(c.maxGb match {
        case Some(gb) if nGb > gb =>
          val keep = (gb * 250000000.0 / nCols).toLong
          df0.sample(withReplacement = false, math.min(1.0, keep.toDouble / math.max(nRows, 1L)), c.seed)
        case _ => df0
      })
    }(_.count())
    val eng = st.layer("feateng.engineer") {
      val e = new FeatEng(FeatEngConfig(maxSteps = c.feategSteps, transformations = c.transformations))
        .engineerFeatures(sample, base, passThrough = Seq(target))
      e.copy(df = st.force(e.df))
    }(_.df.count())
    st.ratios("feateng.engineer.accept_ratio") = eng.columns.size.toDouble / nCols
    val candidates = base ++ eng.newCols
    val goodCols = st.layer("select.featsel") {
      val picked = FeatSel.selectFeatures(eng.df, candidates, target,
        FeatSel.Config(featselRuns = c.featselRuns, seed = c.seed, problemType = c.problemType,
          nJobs = c.nJobs, selectionNewtonRounds = c.selectionNewtonRounds, solver = c.selectionSolver))
      if (picked.isEmpty) base else picked
    }(_ => eng.df.count())
    st.ratios("select.featsel.keep_ratio") = goodCols.size.toDouble / candidates.size
    st.layer("model.final_fit") {
      val newFeatCols = goodCols.filterNot(base.contains)
      val formulas = (newFeatCols.map(n => n -> eng.pool(n)) ++ base.map(b => b -> eng.pool(b))).toMap
      val symToCol = base.zipWithIndex.map { case (b, i) => F.colToSymbol(b, i) -> b }.toMap
      val full = AutoFeat.generateFeatures(input.select((base :+ target).map(col): _*),
        newFeatCols, formulas, symToCol)
      val withFold = full.withColumn("__fold", pmod(monotonically_increasing_id(), lit(5)).cast("int"))
      val grams = Gram.compute(withFold, goodCols, Some(target), Some("__fold"), 5)
      val fit = new GramLasso(grams).cvFit(goodCols.indices.toArray)
      (AutoFeatModel(base, Nil, base, symToCol, newFeatCols, formulas, goodCols,
        LinearModel(goodCols, fit.coef, fit.intercept, fit.alpha),
        allColumns = full.columns.toSeq.filterNot(_ == target)), full)
    }(_._2.count())._1
  }

  override def verify(ctx: Ctx, o: Outcome): Outcome = {
    val r2 = lastModel.score(ctx.spark.read.parquet(s"${ctx.inputDir}/holdout"), "y")
    o.copy(quality = Some(r2),
      errors = o.errors ++ (if (r2 >= r2Floor) Nil else Seq(f"held-out R2 $r2%.4f is below the floor $r2Floor")))
  }
}

/** Curation leaves plus BPE training over a fixed documents table. The
  * table does not vary with the seed: every op's fingerprint must equal
  * the one recorded from outputs that passed the DuckDB oracle (run.py
  * --oracle re-checks and re-records it).
  */
object Curate extends Workload {
  val name = "curate"
  override val minOps = 2
  val queries = Seq("q_curate_nb", "q_simhash_pairs", "q_ivfadc", "q_winnow_spans", "q_dedup_components")
  val bpeMerges = 40

  val inputSeed = 42L
  def nDocs(ctx: Ctx): Int = if (ctx.tiny) 400 else 600

  def generate(ctx: Ctx): Long = DocGen.write(ctx, inputSeed, nDocs(ctx))

  override def fixedInput: Boolean = true
  override def recorded(ctx: Ctx): Option[String] =
    ctx.recorded.get(nDocs(ctx).toString)

  private def docs(ctx: Ctx) = ctx.spark.read.parquet(s"${ctx.inputDir}/documents.parquet")

  def op(ctx: Ctx, st: Stager, inputRows: Long): Outcome = {
    val fps = queries.map { q =>
      q -> st.layer(s"pipeline.$q")(Workloads.fingerprint(graft.SparkEntry.queries(q)(ctx.spark, ctx.inputDir)))(_._1)
    }
    val merges = st.layer("pipeline.bpe_train")(
      graft.pipeline.BpeTrainer.train(docs(ctx), "text", nMerges = bpeMerges).merges)(_.length.toLong)
    val fp = fps.map { case (q, (n, h)) => s"$q=$n:$h" } :+ s"bpe=${merges.length}:${merges.mkString(" ").hashCode}"
    Outcome(fp.mkString(","),
      if (merges.length == bpeMerges) Nil else Seq(s"bpe learned ${merges.length} of $bpeMerges merges"))
  }

  /** Writes each query's output and its oracle SQL for run.py's DuckDB
    * check; returns the queries whose written output does not carry the
    * reference fingerprint.
    */
  def writeOracleInputs(ctx: Ctx, dir: String, reference: Outcome): Seq[String] = {
    val sql = queries.map(q => "\"" + q + "\":" + Json.str(graft.SparkEntry.oracleSql(q))).mkString("{", ",", "}")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/oracle_sql.json"), sql.getBytes("UTF-8"))
    queries.filterNot { q =>
      val path = s"$dir/$q.parquet"
      graft.SparkEntry.queries(q)(ctx.spark, ctx.inputDir).write.mode("overwrite").parquet(path)
      val (n, h) = Workloads.fingerprint(ctx.spark.read.parquet(path))
      reference.fingerprint.split(",").contains(s"$q=$n:$h")
    }
  }
}
