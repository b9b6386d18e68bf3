package graft.operators

import java.util.Locale
import java.util.regex.Pattern
import scala.collection.immutable.ArraySeq
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Every text rule the engine and its DuckDB oracles share, each regex
  * written once. A rule gives the forms its callers need: the Spark
  * `Column`, the DuckDB SQL fragment (over the `documents.text`
  * column, named `text`), and for the split rules the JVM `words`
  * used inside typed mappers and native expressions.
  *
  * Why empties are removed: splitting a text that starts or ends with
  * a separator yields "" at that edge (`trim` strips only whitespace,
  * not punctuation), and "" is not a token — counting it would diverge
  * between forms. The `+` quantifier makes interior empties
  * impossible, so dropping "" is exactly "keep the non-separator
  * runs". The SQL fragments and `words` drop them inside the rule;
  * `Letters.column` stays the raw split because its callers filter
  * after `explode`/`filter`, and their plans are built on that shape.
  *
  * Why `Locale.ROOT`: `String.toLowerCase()` follows the JVM default
  * locale, and under tr-TR it maps "I" to dotless "ı" ("TITLE" →
  * "tıtle"). DuckDB's `lower` and Spark's `lower` do not, so `words`
  * lowercases with `Locale.ROOT` to stay their twin on any host.
  *
  * Why one regex serves both engines: RE2 (DuckDB's
  * `string_split_regex`/`regexp_*`) and `java.util.regex` (Spark's
  * `split`/`regexp_*`, and `words`) both read `\p{L}` as the Unicode
  * general category Letter and `\p{N}` as Number, so the same literal
  * selects the same characters on both sides. `\s` is `[\t\n\f\r ]` in
  * RE2 and adds U+000B in Java; the whitespace rules rely on the corpus
  * having no vertical tabs.
  */
object Tokenizers {

  /** A split rule: lowercase, split on runs of `regex`, drop empties.
    * `words` splits on one precompiled pattern (`String.split(regex)`
    * would compile it again on every call). */
  sealed abstract class SplitRule(protected val regex: String) {
    private val pattern = Pattern.compile(regex)
    def words(text: String): IndexedSeq[String] =
      ArraySeq.unsafeWrapArray(
        pattern.split(text.toLowerCase(Locale.ROOT)).filter(_.nonEmpty))
  }

  /** The reference's rule (`Worker/Worker.py:10-26`): maximal runs of
    * Unicode letters (Python `str.isalpha()` ≙ `\p{L}`), lowercased.
    * WordCount and InvertedIndex are defined by it. */
  object Letters extends SplitRule("[^\\p{L}]+") {
    /** The raw split, edge empties kept (callers filter them). */
    def column(text: Column): Column = split(lower(text), regex)
    val sql: String =
      s"list_filter(string_split_regex(lower(text), '$regex'), x -> x <> '')"
  }

  /** Runs of Unicode letters and numbers, lowercased, empties removed. */
  object Alnum extends SplitRule("[^\\p{L}\\p{N}]+") {
    def column(text: Column): Column =
      array_remove(split(trim(lower(text)), regex), "")
    val sql: String =
      s"list_filter(string_split_regex(trim(lower(text)), '$regex'), x -> x <> '')"
  }

  /** BPE-ish token count: letter runs, digit runs, and every other
    * non-space character on its own. */
  object BpeIsh {
    private val regex = "[\\p{L}]+|[0-9]+|[^\\p{L}0-9\\s]"
    def count(text: Column): Column =
      size(regexp_extract_all(lower(text), lit(regex), lit(0)))
    val countSql: String = s"len(regexp_extract_all(lower(text), '$regex'))"
  }

  /** Whitespace runs. `count` splits the trimmed text and keeps
    * empties (an empty text counts 1); `list` splits the raw text and
    * drops them. */
  object Whitespace {
    private[Tokenizers] val regex = "\\s+"
    def count(text: Column): Column = size(split(trim(text), regex))
    val countSql: String = s"len(string_split_regex(trim(text), '$regex'))"
    def list(text: Column): Column = array_remove(split(text, regex), "")
    val listSql: String =
      s"list_filter(string_split_regex(text, '$regex'), x -> x <> '')"
  }

  /** The exact-duplicate key: trimmed lowercase text with every
    * whitespace run collapsed to one space. Sites that need a fixed-
    * width shuffle key hash it with SHA-256. */
  object ExactKey {
    def column(text: Column): Column =
      regexp_replace(trim(lower(text)), Whitespace.regex, " ")
    val sql: String =
      s"regexp_replace(trim(lower(text)), '${Whitespace.regex}', ' ', 'g')"
  }
}
