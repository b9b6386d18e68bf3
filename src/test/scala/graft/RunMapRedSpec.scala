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

  test("unknown function name fails like the reference's KeyError") {
    intercept[NoSuchElementException] {
      MapReduce.runMapRed(spark, "x", "NoSuchMapper", "WordCountReducer")
    }
  }
}
