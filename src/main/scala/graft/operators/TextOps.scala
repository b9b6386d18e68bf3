package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Reference-parity text operators.
  *
  * Tokenization is [[Tokenizers.Letters]], the reference's WordCount /
  * InvertedIndex rule (reference `Worker/Worker.py:10-26`). The `1`
  * literal the reference emits per token is subsumed by `count(*)`,
  * which Catalyst executes as partial+final HashAggregate — the
  * map-side combine the reference lacks (`Master/Master.py:130-163`
  * ships every (word, 1) pair through RPC+JSON).
  *
  * Scale: tokenize is a narrow Generate (explode) inside whole-stage
  * codegen; the only shuffle is the hash exchange for the final
  * aggregate, keyed on the group-by columns. At 100 TB the plan is
  * scan → project → generate → partial agg → exchange → final agg,
  * with data volume at the exchange already reduced to distinct keys
  * per map partition.
  */
object TextOps {

  /** documents(doc_id, text) → (doc_id, word) one row per token
    * occurrence. */
  def tokenize(df: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    df.select(col(idCol), explode(Tokenizers.Letters.column(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)

  /** A2: corpus word frequency — (word, cnt). */
  def wordcount(spark: SparkSession, dir: String): DataFrame =
    tokenize(Tables.documents(spark, dir))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** A4 (flat, oracle-comparable form): (word, doc_id, cnt) — the
    * reference's nested `{word: {file: count}}` postings relation.
    * A `MAP<doc,cnt>` presentation variant is `postings(df)` below. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    tokenize(Tables.documents(spark, dir))
      .groupBy("word", "doc_id").agg(count(lit(1)).as("cnt"))
      .transform(Present.sortedUnbounded(_, col("word"), col("doc_id")))

  /** Nested presentation variant of the inverted index (not
    * oracle-hashable: map ordering is nondeterministic). */
  def postings(spark: SparkSession, dir: String): DataFrame =
    invertedIndex(spark, dir)
      .groupBy("word")
      .agg(map_from_entries(collect_list(struct(col("doc_id"), col("cnt"))))
        .as("postings"))

  private val tokSql =
    s"SELECT doc_id, unnest(${Tokenizers.Letters.sql}) AS word FROM documents"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordcount"      -> ((s, d) => wordcount(s, d)),
    "inverted_index" -> ((s, d) => invertedIndex(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "wordcount" ->
      s"""SELECT word, count(*) AS cnt FROM ($tokSql)
         |GROUP BY word ORDER BY word""".stripMargin,
    "inverted_index" ->
      s"""SELECT word, doc_id, count(*) AS cnt FROM ($tokSql)
         |GROUP BY word, doc_id ORDER BY word, doc_id""".stripMargin,
  )
}
