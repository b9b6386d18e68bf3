package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's *extensibility* surface re-expressed on Spark: a
  * name-keyed registry of (mapper, reducer) pairs over a corpus
  * (reference `Worker/Worker.py:68-78` `functionMap`, dispatched by
  * `run_mapred`, `Master/Master.py:61-94`).
  *
  * Mapper `(text, docname) → pairs` is the reference's UDTF contract
  * (`Worker/Worker.py:10-26`) → a typed `flatMap`. Reducer semantics
  * come in two strengths:
  *
  *   - [[reduceByKey]] — associative+commutative combine. Runs as
  *     `groupByKey(...).reduceGroups(...)`, which Spark executes with
  *     map-side partial aggregation: only one combined value per key
  *     per partition crosses the shuffle. This is the 100 TB path, and
  *     an upgrade over the reference, which ships every (word, 1) pair
  *     through RPC+JSON (`Master/Master.py:130-163` has no combiner).
  *   - [[groupReduce]] — the reference's literal black-box contract:
  *     reducer sees all values of a key (`Worker/Worker.py:94-97`).
  *     Runs as `mapGroups`; documented skew hazard: a hot key's values
  *     are materialized per-group, so prefer reduceByKey whenever the
  *     function is a fold.
  *
  * The concrete jobs (wordcount_mr / inverted_index_mr) reproduce the
  * reference's two applications through this generic surface and are
  * oracle-checked against the same SQL as the native TextOps forms —
  * proving surface equivalence.
  */
object MapReduce {

  /** Corpus rows: (docname, text) — the reference's chunk
    * `{filename: text}` (`Master/Master.py:203-206`). */
  def corpus(s: SparkSession, dir: String): Dataset[(String, String)] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id").cast("string"), col("text"))
      .as[(String, String)]
  }

  /** Reference tokenizer (`Worker/Worker.py:11-12`): lowercase, keep
    * maximal runs of Unicode letters. Scala-side twin of
    * TextOps.tokens for use inside typed mappers. */
  def tokenizeText(text: String): Seq[String] =
    text.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}]+").filter(_.nonEmpty).toSeq

  /** Associative-combine MapReduce: the scalable reducer contract. */
  def reduceByKey[V](s: SparkSession,
                     input: Dataset[(String, String)],
                     mapper: (String, String) => IterableOnce[(String, V)],
                     reducer: (V, V) => V)
                    (implicit ev: org.apache.spark.sql.Encoder[(String, V)])
      : Dataset[(String, V)] = {
    import s.implicits._
    input.flatMap { case (doc, text) => mapper(text, doc) }(ev)
      .groupByKey(_._1)
      .reduceGroups((a: (String, V), b: (String, V)) =>
        (a._1, reducer(a._2, b._2)))
      .map(_._2)(ev)
  }

  /** Black-box grouped reducer: the reference's literal contract.
    * All values for a key are presented to the reducer as one
    * iterator (single pass, not materialized unless the reducer
    * does). */
  def groupReduce[O](s: SparkSession,
                     input: Dataset[(String, String)],
                     mapper: (String, String) => IterableOnce[(String, String)],
                     reducer: (String, Iterator[String]) => IterableOnce[O])
                    (implicit oe: org.apache.spark.sql.Encoder[O]): Dataset[O] = {
    import s.implicits._
    input.flatMap { case (doc, text) => mapper(text, doc) }
      .groupByKey(_._1)
      .flatMapGroups((k: String, it: Iterator[(String, String)]) =>
        reducer(k, it.map(_._2)))(oe)
  }

  /** WordCount through the generic surface (reference
    * `Worker/Worker.py:20-26` + `:45-49`): mapper emits (word, 1),
    * reducer sums. */
  def wordcountMr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    reduceByKey[Long](s, corpus(s, dir),
      (text, _) => tokenizeText(text).map(_ -> 1L),
      _ + _)
      .toDF("word", "cnt")
      .orderBy("word")
  }

  /** InvertedIndex through the generic surface (reference
    * `Worker/Worker.py:10-16` + `:30-41`): mapper emits (word, doc),
    * reducer counts per doc; flat (word, doc_id, cnt) output. */
  def invertedIndexMr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    groupReduce[(String, String, Long)](s, corpus(s, dir),
      (text, doc) => tokenizeText(text).map(_ -> doc),
      (word, docs) => {
        val counts = scala.collection.mutable.Map.empty[String, Long]
        docs.foreach(d => counts.update(d, counts.getOrElse(d, 0L) + 1L))
        counts.iterator.map { case (d, c) => (word, d, c) }.toSeq
      })
      .toDF("word", "doc_id", "cnt")
      .withColumn("doc_id", col("doc_id").cast("long"))
      .transform(Present.sortedUnbounded(_, col("word"), col("doc_id")))
  }

  /** The reference's name-dispatch surface (`Worker/Worker.py:68-78`
    * `functionMap` + `run_mapred(jobId, inputPath, mapFn, reduceFn,
    * out)` at `Master/Master.py:61-94`): mappers and reducers are
    * looked up by STRING NAME, the input path may be a directory, a
    * file, or an inline string (S1–S3), and the result is the final
    * relation (≙ the reference's merged reducer output). */
  val mappers: Map[String, (String, String) => Seq[(String, String)]] = Map(
    "WordCountMapper" ->
      ((text, _) => tokenizeText(text).map(_ -> "1")),
    "InvertedIndexMapper" ->
      ((text, doc) => tokenizeText(text).map(_ -> doc)),
  )

  val reducers: Map[String, (String, Iterator[String]) => Seq[(String, String, Long)]] = Map(
    // {word: count} (Worker/Worker.py:45-49) as (word, "", count)
    "WordCountReducer" ->
      ((word, vs) => Seq((word, "", vs.size.toLong))),
    // {word: {file: count}} (Worker/Worker.py:30-41) as (word, file, count)
    "InvertedIndexReducer" ->
      ((word, docs) => {
        val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        docs.foreach(d => counts.update(d, counts.getOrElse(d, 0L) + 1L))
        counts.iterator.map { case (d, c) => (word, d, c) }.toSeq
      }),
  )

  /** `run_mapred` equivalent: resolve the input like the reference's
    * dir/file/string branch, dispatch mapper+reducer by name, return
    * the flat result relation (word, doc, value). A user of the
    * reference calls this exactly as they called the XML-RPC entry. */
  def runMapRed(s: SparkSession, inputPath: String,
                mapFnName: String, reduceFnName: String): DataFrame = {
    import s.implicits._
    val input = graft.sources.TextSources.resolve(s, inputPath)
      .select(col("file"), col("text")).as[(String, String)]
    groupReduce[(String, String, Long)](s, input,
      mappers(mapFnName), reducers(reduceFnName))
      .toDF("word", "doc", "value")
      .transform(Present.sortedUnbounded(_, col("word"), col("doc")))
  }

  /** Stage `documents` as a one-file-per-doc text directory (once per
    * sf dir, marker-guarded) so the reference's S1 directory-scan
    * dispatch (`Master/Master.py:195-214`) can be exercised under the
    * driver gate on corpus data. The `_STAGED` marker is
    * underscore-prefixed, which Spark's file source treats as hidden.
    * Staging is test scaffolding, not the operator — the operator's
    * input at scale IS a directory of files — but even scaffolding
    * gets no driver ceiling: the per-doc files are written from
    * EXECUTOR tasks (foreachPartition over the doc relation, to what
    * would be shared storage on a cluster), so no corpus byte ever
    * transits the driver. doc_id is unique per row, so concurrent
    * tasks never write the same file and a task retry rewrites
    * identical content — idempotent. */
  def stageDocsAsTextDir(s: SparkSession, dir: String): String = {
    import java.nio.file.Files
    val staged = graft.Scratch.path("graft_mrdir",
      dir.replaceAll("[^A-Za-z0-9]", "_"))
    val marker = staged.resolve("_STAGED")
    if (!Files.exists(marker)) {
      Files.createDirectories(staged)
      val stagedPath = staged.toString
      Tables.documents(s, dir).select("doc_id", "text")
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            Files.writeString(
              java.nio.file.Paths.get(stagedPath, s"doc_${r.getLong(0)}.txt"),
              r.getString(1))
          }
        }
      Files.writeString(marker, "")
    }
    staged.toString
  }

  /** S1 dispatch under the driver gate: resolve a text DIRECTORY
    * through `TextSources.resolve`, run the name-dispatched WordCount
    * job, compare against the same DuckDB oracle as the native form —
    * gating the dir/file/inline resolve surface itself, not just the
    * MapReduce semantics behind it. */
  def runMapRedDir(s: SparkSession, dir: String): DataFrame =
    runMapRed(s, stageDocsAsTextDir(s, dir),
      "WordCountMapper", "WordCountReducer")

  /** Stage `documents` as ONE text file (one doc per line-run, doc_id
    * order) — the reference's S2 single-file input
    * (`Master/Master.py:216-254`), whose only chunking contract is
    * that no word is broken; line boundaries guarantee that. Same
    * marker-guarded scaffolding rationale as [[stageDocsAsTextDir]],
    * and same no-driver-ceiling rule: the file is produced by a
    * single-task sorted `write.text` (each row lands newline-
    * terminated, exactly the old driver StringBuilder's layout) and
    * renamed into place — the corpus never occupies driver heap. A
    * single output file is the S2 CONTRACT, so the one-task write is
    * the operator, not a bottleneck to fix. */
  def stageDocsAsSingleFile(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths}
    val staged = graft.Scratch.path("graft_mrfile",
      dir.replaceAll("[^A-Za-z0-9]", "_"))
    val out = staged.resolve("docs.txt")
    val marker = staged.resolve("_STAGED")
    if (!Files.exists(marker)) {
      Files.createDirectories(staged)
      // per-process tmp: the _STAGED marker guards the final file,
      // but two JVMs racing the FIRST staging must not share the
      // intermediate dir (one deletes while the other enumerates)
      val tmp = staged.resolve(s"_txt_${ProcessHandle.current().pid()}")
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .repartition(1).sortWithinPartitions("doc_id")
        .select("text")
        .write.mode("overwrite").text(tmp.toString)
      import scala.jdk.CollectionConverters._
      val st = Files.list(tmp)
      val part =
        try st.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toList.head
        finally st.close()
      Files.move(part, out,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val wk = Files.walk(tmp)
      try wk.iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
      finally wk.close()
      Files.writeString(marker, "")
    }
    out.toString
  }

  /** S2 dispatch under the driver gate: a single FILE path resolves
    * through the line-granularity + repartition(nChunks) branch; the
    * word counts must equal the directory form's (same corpus text,
    * tokenizer splits on the newlines anyway). */
  def runMapRedFile(s: SparkSession, dir: String): DataFrame =
    runMapRed(s, stageDocsAsSingleFile(s, dir),
      "WordCountMapper", "WordCountReducer")

  /** S3 dispatch under the driver gate: the input IS the corpus text
    * (reference `Master/Master.py:222-224` — a non-path string is
    * inline data). Bounded to doc_id < 50 because an inline string is
    * definitionally driver-resident — the oracle filters identically. */
  def runMapRedInline(s: SparkSession, dir: String): DataFrame = {
    val text = Tables.documents(s, dir)
      .filter(col("doc_id") < 50).orderBy("doc_id")
      .select("text").collect().map(_.getString(0)).mkString("\n")
    runMapRed(s, text, "WordCountMapper", "WordCountReducer")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordcount_mr"      -> wordcountMr _,
    "inverted_index_mr" -> invertedIndexMr _,
    "run_mapred_dir"    -> runMapRedDir _,
    "run_mapred_file"   -> runMapRedFile _,
    "run_mapred_inline" -> runMapRedInline _,
  )

  /** Same oracles as the native TextOps forms — the point is that the
    * generic surface reproduces them exactly. */
  val oracle: Map[String, String] = Map(
    "wordcount_mr"      -> TextOps.oracle("wordcount"),
    "inverted_index_mr" -> TextOps.oracle("inverted_index"),
    // wordcount over the staged per-doc text files ≡ wordcount over
    // the documents table; the reducer's flat shape carries doc = ''
    "run_mapred_dir" ->
      """SELECT word, '' AS doc, count(*) AS value FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^\p{L}]+')) AS word
        |  FROM documents) t WHERE word <> ''
        |GROUP BY word ORDER BY word, doc""".stripMargin,
    // S2: same corpus through the single-file line-chunked branch —
    // identical counts (newlines are tokenizer separators)
    "run_mapred_file" ->
      """SELECT word, '' AS doc, count(*) AS value FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^\p{L}]+')) AS word
        |  FROM documents) t WHERE word <> ''
        |GROUP BY word ORDER BY word, doc""".stripMargin,
    // S3: the bounded inline slice (doc_id < 50), filtered identically
    "run_mapred_inline" ->
      """SELECT word, '' AS doc, count(*) AS value FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^\p{L}]+')) AS word
        |  FROM documents WHERE doc_id < 50) t WHERE word <> ''
        |GROUP BY word ORDER BY word, doc""".stripMargin,
  )
}
