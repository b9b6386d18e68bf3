package graft

import graft.operators.JoinOps
import org.apache.spark.sql.functions._

class JoinOpsSpec extends SparkSpec {

  test("range join broadcasts the tier table (no fact-side shuffle)") {
    val df = JoinOps.rangeJoin(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // fact side shuffles only for the final 4-group aggregate
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1, p)
  }

  test("left join surfaces customers with zero urgent orders") {
    val rows = JoinOps.joinLeft(spark, sfDir).collect()
    assert(rows.exists(_.getBoolean(2)), "expected some no-urgent customers")
    rows.filter(_.getBoolean(2)).foreach(r => assert(r.getLong(1) == 0L))
  }

  test("full outer join has orphans on both sides") {
    val rows = JoinOps.joinFullOuter(spark, sfDir).collect()
    assert(rows.exists(r => r.getLong(1) == 0L && r.getLong(2) > 0L),
      "expected events-only keys")
    assert(rows.exists(r => r.getLong(1) > 0L && r.getLong(2) == 0L),
      "expected orders-only keys")
  }

  test("as-of join semantics on crafted ties and missing matches") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    // Tables.events expects `ts` stored as INT64 nanos (TESTDATA.md)
    def nanos(sec: Int) = ts(sec).getTime * 1000000L
    // user 1: click@0, purchase@5 (→ click@0), click@5+purchase@5 tie
    //   would be ambiguous — instead purchase@9 after click@7 (→ 7)
    // user 2: purchase@3 with NO prior click (→ null), click@4,
    //   purchase@4 at the exact click ts (→ 4, inclusive >=)
    val ev = Seq(
      (1L, 1L, nanos(0), "click"), (2L, 1L, nanos(5), "purchase"),
      (3L, 1L, nanos(7), "click"), (4L, 1L, nanos(9), "purchase"),
      (5L, 2L, nanos(3), "purchase"),
      (6L, 2L, nanos(4), "click"), (7L, 2L, nanos(4), "purchase"),
      (8L, 2L, nanos(8), "view") // other types must be ignored
    ).toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val dir = SparkSpec.tempDir("asof").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = JoinOps.asofJoin(spark, dir).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[java.sql.Timestamp]("click_ts")))
      .toMap
    assert(got(2L) == Some(ts(0)))
    assert(got(4L) == Some(ts(7)))
    assert(got(5L) == None)
    assert(got(7L) == Some(ts(4)), "click at the same instant must match")
  }

  test("NOT IN with nullable probe plans as a null-aware anti join") {
    val df = graft.operators.SqlSurface.joinAntiNullAware(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // BroadcastHashJoin [...], [...], LeftAnti, BuildRight, true —
    // the trailing flag is isNullAwareAntiJoin; a plain LeftAnti here
    // would return WRONG rows for the nulled probes
    val naaj = p.linesIterator.exists(l =>
      l.contains("LeftAnti, BuildRight, true"))
    assert(naaj, s"null-aware anti join not planned:\n$p")
  }
}
