package graft.functions

import graft.SparkSpec

/** Every SQL name GraftExtensions registers resolves to its native
  * expression, and the shared argument checks reject wrong arity and
  * non-literal int arguments with their messages.
  */
class GraftExtensionsSpec extends SparkSpec {

  /** Valid SQL arguments per name, and the positions that must be int literals. */
  private val calls: Map[String, (Seq[String], Seq[Int])] = Map(
    "vec_dot" -> (Seq("array(1.0D, 2.0D)", "array(3.0D, 4.0D)"), Nil),
    "simhash" -> (Seq("'a b c'", "32"), Seq(1)),
    "minhash_signature" -> (Seq("'a b c d'", "4", "2"), Seq(1, 2)),
    "word_ngrams" -> (Seq("'a b c'", "2"), Seq(1)),
    "winnow" -> (Seq("'some text that is long enough'", "5", "4"), Seq(1, 2)),
    "dup_line_ratio" -> (Seq("'a\\nb\\na'"), Nil),
    "top_word_ratio" -> (Seq("'a a b'"), Nil),
    "quality_score" -> (Seq("'the cat sat on the mat'"), Nil),
    "char_ngrams" -> (Seq("'abc'", "2"), Seq(1)),
    "langid_heuristic" -> (Seq("'the and of'"), Nil))

  /** All messages along the cause chain (the analyzer may wrap). */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("the table registers exactly the ten SQL names") {
    assert(GraftExtensions.sqlFunctions.map(_.name).toSet == calls.keySet)
    assert(GraftExtensions.sqlFunctions.size == calls.size)
  }

  test("every registered name resolves in SQL to its native expression") {
    for (f <- GraftExtensions.sqlFunctions) {
      val df = spark.sql(s"SELECT ${f.name}(${calls(f.name)._1.mkString(", ")}) AS r")
      assert(df.queryExecution.analyzed.expressions.exists(_.exists(_.getClass == f.cls)),
        s"${f.name} did not resolve to ${f.cls.getSimpleName}")
      assert(df.collect().length == 1)
    }
  }

  test("wrong arity is rejected with the usage message") {
    for (f <- GraftExtensions.sqlFunctions) {
      val args = calls(f.name)._1 :+ "1"
      val e = intercept[Exception](spark.sql(s"SELECT ${f.name}(${args.mkString(", ")})").collect())
      assert(messages(e).contains(s"${f.name}(${f.params.mkString(", ")})"), messages(e))
    }
  }

  test("a non-literal int argument is rejected with the int-literal message") {
    for (f <- GraftExtensions.sqlFunctions; i <- calls(f.name)._2) {
      val args = calls(f.name)._1.updated(i, "x")
      val e = intercept[Exception](
        spark.sql(s"SELECT ${f.name}(${args.mkString(", ")}) FROM VALUES (4) AS t(x)").collect())
      assert(messages(e).contains(s"${f.params(i)} must be an int literal"), messages(e))
    }
  }
}
