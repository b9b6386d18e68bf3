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

  test("unknown function name fails like the reference's KeyError") {
    intercept[NoSuchElementException] {
      MapReduce.runMapRed(spark, "x", "NoSuchMapper", "WordCountReducer")
    }
  }
}
