package perfbench

import java.util.SplittableRandom

/** Seeded documents table in the shape of the curation fixtures: texts of 8
  * to 100 words over a 30-word vocabulary, and about one document in twenty
  * a copy of an earlier one with " dup" appended (so dedup, pair and
  * component queries have real work). One parquet file, like the fixtures.
  */
object DocGen {
  private val vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("zh", "es", "fr", "de")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def docs(seed: Long, n: Int): Seq[Doc] = {
    val rng = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 17L)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 0 && rng.nextInt(20) == 0) texts(rng.nextInt(i)) + " dup"
        else Array.fill(8 + rng.nextInt(93))(vocab(rng.nextInt(vocab.length))).mkString(" ")
      val lang = if (rng.nextInt(100) < 41) "en" else langs(rng.nextInt(langs.length))
      Doc(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  /** Writes `documents.parquet` under the run's input directory; returns its row count. */
  def write(ctx: Ctx, seed: Long, n: Int): Long = {
    import ctx.spark.implicits._
    docs(seed, n).toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"${ctx.inputDir}/documents.parquet")
    n.toLong
  }
}
