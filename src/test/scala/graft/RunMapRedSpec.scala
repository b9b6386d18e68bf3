package graft

import graft.operators.{MapReduce, TextOps}
import graft.sources.TextSources

/** The reference's run_mapred contract end-to-end: name-dispatched
  * mapper/reducer over dir / file / inline-string inputs (reference
  * `Master/testMaster.py:11-12`'s commented invocation, made real). */
class RunMapRedSpec extends SparkSpec {

  test("run_mapred InvertedIndex on the reference corpus dir") {
    val out = MapReduce.runMapRed(spark, s"$refData/TestInverted",
      "InvertedIndexMapper", "InvertedIndexReducer")
    val rows = out.collect()
    assert(rows.nonEmpty)
    // must agree with the native column pipeline on the same input
    val native = TextOps.tokenize(
      TextSources.directory(spark, s"$refData/TestInverted")
        .withColumnRenamed("file", "doc_id"))
      .groupBy("word", "doc_id").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val mr = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(mr == native)
  }

  test("run_mapred WordCount on the single reference file") {
    val out = MapReduce.runMapRed(spark, s"$refData/test.txt",
      "WordCountMapper", "WordCountReducer").collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getString(1) == ""), "wordcount emits no doc column")
    val the = out.find(_.getString(0) == "the").map(_.getLong(2))
    assert(the.exists(_ > 0))
  }

  test("run_mapred on an inline string (the reference's S3 branch)") {
    val out = MapReduce.runMapRed(spark, "to be or not to be",
      "WordCountMapper", "WordCountReducer").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("to" -> 2L, "be" -> 2L, "or" -> 1L, "not" -> 1L))
  }

  test("run_mapred dir and file stages follow a dataset regenerated in place") {
    import spark.implicits._
    val ds = SparkSpec.tempDir("mr_regen").toString
    def write(docs: (Long, String)*): Unit =
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$ds/documents.parquet")
    def counts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    def both(): Seq[Map[String, Long]] = Seq(
      counts(MapReduce.runMapRedDir(spark, ds)),
      counts(MapReduce.runMapRedFile(spark, ds)))
    try {
      write(1L -> "Alpha beta", 2L -> "beta gamma", 3L -> "delta")
      val first = Map("alpha" -> 1L, "beta" -> 2L, "gamma" -> 1L, "delta" -> 1L)
      assert(both() == Seq(first, first))
      // same path, new text, fewer ids: doc_2/doc_3 must not linger
      write(1L -> "omega Omega")
      assert(both() == Seq(Map("omega" -> 2L), Map("omega" -> 2L)))
    } finally Seq("graft_mrdir", "graft_mrfile").foreach(h =>
      Scratch.deleteTree(MapReduce.stageDir(h, ds)))
  }

  /** The registry's reducers written as black boxes over every value
    * of a word: the reference form each registry reducer, `Fold` or
    * `BlackBox`, must reproduce. */
  private val blackBoxTwins
      : Map[String, (String, Iterator[String]) => Seq[(String, String, Long)]] = Map(
    "WordCountReducer" -> ((word, vs) => Seq((word, "", vs.size.toLong))),
    "InvertedIndexReducer" -> ((word, docs) => {
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      docs.foreach(d => counts.update(d, counts.getOrElse(d, 0L) + 1L))
      counts.iterator.map { case (d, c) => (word, d, c) }.toSeq
    }),
  )

  test("every mapper x reducer pair equals its black-box twin") {
    import spark.implicits._
    for {
      in <- Seq("to be or not to be, To BE: ação", s"$refData/TestInverted",
        s"$refData/test.txt")
      m <- MapReduce.mappers.keys
      r <- MapReduce.reducers.keys
    } {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, String, Long)].collect().toSeq
      val got = rows(MapReduce.runMapRed(spark, in, m, r))
      val want = rows(MapReduce.mapRed(spark, in, MapReduce.mappers(m),
        MapReduce.BlackBox(blackBoxTwins(r))))
      assert(got.nonEmpty, s"$m x $r on $in")
      assert(got == want, s"$m x $r on $in")
    }
  }

  test("reduceByKey past the combine bound equals a groupBy count") {
    import spark.implicits._
    // every map task sees more distinct keys than the combiner holds,
    // so it flushes partial folds that the reduce side must merge
    val keys = MapReduce.CombineKeys + MapReduce.CombineKeys / 2
    val mapper = (_: String, doc: String) =>
      Iterator.range(0, 3 * keys).map(i => (s"k${(i * 7 + doc.length) % keys}", 1L))
    val input = Seq(("a", ""), ("bb", ""), ("ccc", "")).toDS()
    val got = MapReduce.reduceByKey[String, Long](spark, input, mapper, _ + _)
      .collect().toMap
    val want = input.flatMap { case (doc, text) => mapper(text, doc) }
      .toDF("k", "v").groupBy("k").count()
      .as[(String, Long)].collect().toMap
    val wrong = want.filter { case (k, c) => !got.get(k).contains(c) }
    assert(got.size == keys && want.size == keys)
    assert(wrong.isEmpty, wrong.take(5))
  }

  test("groupReduce hands a black-box reducer every value of its key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = TextSources.directory(spark, s"$refData/TestInverted")
    // not a fold: the sorted distinct docs of each word
    val got = MapReduce.groupReduce[(String, String)](spark,
      corpus.select("file", "text").as[(String, String)],
      MapReduce.mappers("InvertedIndexMapper"),
      (word, docs) => Seq((word, docs.toSeq.distinct.sorted.mkString(","))))
      .collect().toMap
    val want = TextOps.tokenize(corpus.withColumnRenamed("file", "doc_id"))
      .groupBy("word")
      .agg(array_join(array_sort(collect_set("doc_id")), ",").as("docs"))
      .as[(String, String)].collect().toMap
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("unknown function name fails like the reference's KeyError") {
    intercept[NoSuchElementException] {
      MapReduce.runMapRed(spark, "x", "NoSuchMapper", "WordCountReducer")
    }
  }
}
