package graft

import graft.operators.{MapReduce, TextOps, Tokenizers}
import org.apache.spark.sql.Column

/** Tokenization parity with the reference semantics: Python
  * str.isalpha() keeps any Unicode letter; every non-letter splits;
  * result lowercased (reference Worker/Worker.py:10-26). */
class TokenizeSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  /** The tokens a Column form yields for one text, as exploded. */
  private def tokens(text: String, rule: Column => Column): Seq[String] = {
    import spark.implicits._
    Seq((1L, text)).toDF("doc_id", "text")
      .select(explode(rule(col("text"))).as("w"))
      .as[String].collect().toSeq
  }

  // the letters Column form is the raw split: drop its edge empties
  private def tok(text: String): Seq[String] =
    tokens(text, Tokenizers.Letters.column).filter(_.nonEmpty)

  test("ascii words, punctuation, digits split") {
    assert(tok("Hello, world! 123 foo_bar") == Seq("hello", "world", "foo", "bar"))
  }

  test("unicode letters are kept (Portuguese fixture semantics)") {
    assert(tok("São João é aqui") == Seq("são", "joão", "é", "aqui"))
  }

  test("empty and all-separator strings yield nothing") {
    assert(tok("") == Seq())
    assert(tok("123 !!! __") == Seq())
  }

  test("alnum tokens drop empty edge tokens on punctuation-edged docs") {
    import spark.implicits._
    // "!hello, world." raw-splits to ["", "hello", "world", ""] —
    // the count the oracles compute via list_filter(x <> '') is 2
    val fixtures = Seq(
      (1L, "!hello, world."),   // punct both edges
      (2L, "...leading"),       // punct head only
      (3L, "trailing..."),      // punct tail only
      (4L, "clean middle"),     // no edges
      (5L, "¿Águas? ¡de! 42")   // unicode punct + digits
    ).toDF("doc_id", "text")
    val got = fixtures
      .select(col("doc_id"),
        Tokenizers.Alnum.column(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"),
        array_contains(col("toks"), "").as("has_empty"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(got(1L) == ((2, false)))
    assert(got(2L) == ((1, false)))
    assert(got(3L) == ((1, false)))
    assert(got(4L) == ((2, false)))
    assert(got(5L) == ((3, false)))
  }

  test("column tokenizer agrees with the Scala mapper twin") {
    val texts = Seq("Hello, World!", "a-b-c 1d2e3", "Águas de Março", "")
    texts.foreach { t =>
      assert(tok(t) == Tokenizers.Letters.words(t), s"mismatch on '$t'")
    }
    // alnum drops its empties inside the Column form: no filter here
    def alnum(t: String) = tokens(t, Tokenizers.Alnum.column)
    (texts ++ Seq("!hello, world.", "a1b2 3c")).foreach { t =>
      assert(alnum(t) == Tokenizers.Alnum.words(t), s"alnum mismatch on '$t'")
    }
    // a tr-TR default locale lowercases "I" to dotless "ı": the twin
    // must stay locale-independent, like the column form and the oracle
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      assert(tok("TITLE") == Tokenizers.Letters.words("TITLE"),
        "mismatch on 'TITLE' under tr-TR")
      assert(alnum("TITLE") == Tokenizers.Alnum.words("TITLE"),
        "alnum mismatch on 'TITLE' under tr-TR")
    } finally java.util.Locale.setDefault(saved)
  }

  test("wordcount total equals token count (mass conservation)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val total = TextOps.wordcount(spark, sfDir)
      .agg(sum("cnt")).as[Long].head()
    val tokens = TextOps.tokenize(docs).count()
    assert(total == tokens)
  }

  test("inverted index row sums equal wordcount per word") {
    import spark.implicits._
    val fromIi = TextOps.invertedIndex(spark, sfDir)
      .groupBy("word").agg(sum("cnt").as("cnt"))
    val wc = TextOps.wordcount(spark, sfDir)
    assert(fromIi.except(wc.select("word", "cnt")).count() == 0)
    assert(wc.select("word", "cnt").except(fromIi).count() == 0)
  }

  test("generic MapReduce surface reproduces the native operators") {
    val a = MapReduce.wordcountMr(spark, sfDir).collect().toSeq
    val b = TextOps.wordcount(spark, sfDir).collect().toSeq
    assert(a.map(r => (r.getString(0), r.getLong(1))) ==
      b.map(r => (r.getString(0), r.getLong(1))))
  }
}
