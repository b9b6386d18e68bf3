package graft

import org.apache.spark.sql.functions._

/** The scale-rehearsal harness is evidence-generating code: if its
  * staging silently broke, every SCALE.md number after that would lie.
  * These specs pin the staging invariants the isomorphic-shard method
  * depends on, at a small multiple on the small sf dir. */
class RehearsalSpec extends SparkSpec {

  test("rehearsal table: fixed order, all = streaming + join, typos fail fast") {
    def names(arg: String) = ScaleRehearsal.selected(arg).map(_._1)
    assert(names("all") == Seq("streaming", "join"))
    assert(names("layout,join,all") == Seq("streaming", "join", "layout"))
    // a retired family is unknown, and the message lists the seven
    // that remain
    val known = Seq("streaming", "deepstate", "join", "pipeline",
      "layout", "similarity", "textscale")
    assert(ScaleRehearsal.rehearsals.map(_._1) == known)
    val retired = intercept[IllegalArgumentException](
      ScaleRehearsal.selected("wand"))
    assert(retired.getMessage.contains("wand"), retired.getMessage)
    known.foreach(f => assert(retired.getMessage.contains(f),
      s"'$f' missing from: ${retired.getMessage}"))
    // a typo'd family throws before main builds a session: building one
    // would re-apply GraftSession's shape to the shared session and
    // overwrite this sentinel partition count
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try {
      val e = intercept[IllegalArgumentException](
        ScaleRehearsal.main(Array("join,bogus")))
      assert(e.getMessage.contains("bogus"), e.getMessage)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "13",
        "main touched a session before rejecting the family list")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("staged events shards are key-disjoint and files time-ordered") {
    val mult = 3
    val dir = ScaleRehearsal.stageEvents(spark, sfDir, mult)
    val staged = spark.read.parquet(dir)
    val base = Tables.events(spark, sfDir)
    // exact replication: rows and per-shard key ranges
    assert(staged.count() == mult * base.count())
    val shardsSeen = staged
      .select((col("user_id") / 1500).cast("int").as("shard"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    assert(shardsSeen == (0 until mult), s"shards=$shardsSeen")
    // event ids stay unique after offsetting
    assert(staged.select("event_id").distinct().count() == staged.count())
    // batch files cover increasing, non-overlapping event-time ranges
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val files =
      try st.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toList.sorted
      finally st.close()
    assert(files.size >= 2)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("ts").as("lo"), max("ts").as("hi")).head()
      // an empty batch file aggregates to null — fail diagnosably
      // instead of NPEing in the range comparison below
      assert(!r.isNullAt(0) && !r.isNullAt(1),
        s"staged batch file $f is empty at this scale factor")
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi.before(lo2), s"batch ranges overlap: $hi !< $lo2")
      case _ =>
    }
  }

  test("staged facts replicate output-defining keys; dims stay 1x") {
    val mult = 2
    val dir = ScaleRehearsal.stageFacts(spark, sfDir, mult)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val base = Tables.lineitem(spark, sfDir)
    assert(li.count() == mult * base.count())
    assert(li.select("l_orderkey").distinct().count() ==
      mult * base.select("l_orderkey").distinct().count())
    // dims are links to the 1x source
    assert(spark.read.parquet(s"$dir/customer.parquet").count() ==
      Tables.customer(spark, sfDir).count())
  }

  test("staged docs shards share no lines and pack independently") {
    val mult = 2
    val dir = ScaleRehearsal.stageDocs(spark, sfDir, mult)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = Tables.documents(spark, sfDir)
    assert(docs.count() == mult * base.count())
    // per-shard sources (independent packing domains)
    assert(docs.select("source").distinct().count() ==
      mult * base.select("source").distinct().count())
    // the per-line suffix makes shards line-disjoint: every non-blank
    // line occurs in exactly one shard tag
    val crossShard = docs
      .select(explode(split(col("text"), "\n")).as("line"))
      .filter(length(trim(col("line"))) > 0)
      .select(col("line"),
        regexp_extract(col("line"), "§([0-9]+)$", 1).as("tag"))
      .groupBy("line").agg(countDistinct("tag").as("tags"))
      .filter(col("tags") > 1)
    assert(crossShard.count() == 0, "a staged line appears in two shards")
  }

  test("staged embedding shards preserve norms and same-shard geometry") {
    val mult = 3
    val dir = ScaleRehearsal.stageEmbeddings(spark, sfDir, mult)
    val staged = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = Tables.embeddings(spark, sfDir)
    val n = base.count()
    assert(staged.count() == mult * n)
    assert(staged.select("vec_id").distinct().count() == mult * n,
      "shard id offsets must keep vec_ids unique")
    // a dimension rotation is a coordinate permutation: every staged
    // vector's norm equals its source vector's norm exactly, and
    // same-shard dot products equal the 1x dot products exactly —
    // the isomorphism SCALE.md's linearity claims rest on
    val srcVecs = base.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val stagedVecs = staged.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val probe = srcVecs.keys.toSeq.sorted.take(5)
    (0 until mult).foreach { k =>
      probe.foreach { id =>
        val s0 = srcVecs(id)
        val s1 = stagedVecs(id + k * 1000000L)
        assert(math.abs(dot(s1, s1) - dot(s0, s0)) < 1e-9,
          s"shard $k vec $id norm drifted")
      }
      // pairwise same-shard dots replicate the 1x geometry
      probe.combinations(2).foreach { case Seq(a, b) =>
        val d0 = dot(srcVecs(a), srcVecs(b))
        val d1 = dot(stagedVecs(a + k * 1000000L), stagedVecs(b + k * 1000000L))
        assert(math.abs(d1 - d0) < 1e-9,
          s"shard $k pair ($a,$b) dot drifted: $d0 vs $d1")
      }
    }
  }
}
