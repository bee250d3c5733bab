package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Similarity, TextOps}

/** The declarative twin of every native graft expression: pure built-ins
  * and higher-order functions, mirroring the DuckDB-oracle semantics. This
  * is the single parity oracle the native-vs-declarative specs compare
  * against; none of it ships in src/main, which builds the native
  * expressions directly.
  */
object Declarative {

  /** [[VecDot]]: left-to-right double accumulation; NULL on length mismatch
    * or null elements (where `vec_dot` truncates / counts 0).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** [[WordNgrams]]: distinct word n-grams in first-occurrence order. */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(lower(text))
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** 61-bit MinHash base hash of a string: int(md5(s)[0:15 hex]) mod (2^61−1). */
  def baseHash(s: Column): Column =
    pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(Dedup.MinhashMod))

  /** MinHash family member i applied to a base-hash column. */
  def familyHash(i: Int, h: Column): Column =
    pmod(lit(Dedup.hashA(i)) * shiftright(h, 31) +
      lit(Dedup.hashB(i)) * h.bitwiseAND(lit(0x7FFFFFFFL)) + lit(Dedup.hashC(i)),
      lit(Dedup.MinhashMod))

  /** [[MinhashSig]]: per-member minimum over the n-grams' base hashes. */
  def minhashSignature(text: Column, numHashes: Int, n: Int): Column = {
    val bases = transform(wordNgrams(text, n), s => baseHash(s))
    array((0 until numHashes).map(i => array_min(transform(bases, h => familyHash(i, h)))): _*)
  }

  /** [[SimhashExpr]]: one `aggregate` vote per bit over the token hashes. */
  def simhash(text: Column, bits: Int): Column = {
    val tokenHashes = transform(TextOps.tokens(lower(text)),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    (0 until bits).map { b =>
      val bitSum = aggregate(tokenHashes, lit(0L),
        (acc, th) => acc + when(shiftright(th, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** [[DupLineRatio]]. */
  def dupLineRatio(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)
    when(size(lines) <= 0, lit(0.0)).otherwise(
      (size(lines) - size(array_distinct(lines))).cast("double") /
        size(lines).cast("double"))
  }

  /** [[TopWordRatio]]: O(distinct · tokens) count-by-filter per row. */
  def topWordRatio(text: Column): Column = {
    val toks = filter(TextOps.tokens(lower(text)), t => length(t) > 0)
    when(size(toks) <= 0, lit(0.0)).otherwise(
      array_max(transform(array_distinct(toks),
        w => size(filter(toks, t => t === w)))).cast("double") /
        size(toks).cast("double"))
  }

  /** [[QualityScoreExpr]]: the expression tree the SparkEntry oracle SQL mirrors. */
  def qualityScore(text: Column): Column = {
    val n = TextOps.tokenCount(text).cast("double")
    val lenScore = least(n / 20.0, lit(1.0)) * when(n > 5000, 0.5).otherwise(1.0)
    val punctScore = when(TextOps.punctRatio(text) > 0.2, 0.3).otherwise(1.0)
    val wl = TextOps.meanWordLen(text)
    val wlScore = when(wl < 2.0 || wl > 12.0, 0.5).otherwise(1.0)
    val stopScore = lit(0.5) + least(TextOps.stopwordRatio(text) * 5.0, lit(0.5))
    round(lenScore * punctScore * wlScore * stopScore, 6)
  }

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "que", "de", "es"),
    "fr" -> Seq("le", "la", "et", "est", "les"))

  /** [[LangIdHeuristicExpr]]: argmax of marker hits, first wins in marker
    * order, "und" if all zero.
    */
  def langIdHeuristic(text: Column): Column = {
    val toks = TextOps.tokens(lower(text))
    val scores = markers.map { case (lang, ws) =>
      val arr = array(ws.map(lit): _*)
      (lang, size(filter(toks, t => array_contains(arr, t))))
    }
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s > lit(0) && scores.filter(_._1 != lang).map(x => s >= x._2).reduce(_ && _), lit(lang))
        .otherwise(acc)
    }
  }

  /** [[CharNgrams]]: code-point n-grams, empty below n code points. */
  def charNgrams(lowered: Column, n: Int): Column =
    when(length(lowered) >= n,
      transform(sequence(lit(1), length(lowered) - (n - 1)),
        i => lowered.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** [[IvfProbe]]: per-centroid dot products, array_sort on (−sim, idx)
    * structs. The dots are [[Similarity.dot]] (`vec_dot`, whose own parity
    * is [[dot]]'s), so mismatched-length vectors rank as the native probe
    * does; only the top-`nProbe` selection is declarative.
    */
  def probeClusters(vec: Column, cents: Array[Array[Double]], nProbe: Int): Column = {
    val entries = array(cents.zipWithIndex.map { case (c, i) =>
      val sim = Similarity.dot(vec, array(c.map(lit): _*))
      struct((-sim).as("negsim"), lit(i).as("idx"))
    }: _*)
    transform(slice(array_sort(entries), 1, nProbe), e => e.getField("idx"))
  }
}
