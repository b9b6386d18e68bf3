package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SparkSessionExtensions path: a session built with GraftExtensions
  * must (1) resolve graft_cosine from SQL text, and (2) rewrite the
  * portable declarative cosine into the fused native expression via
  * the injected FuseCosine optimizer rule — with results bit-identical
  * to an un-extended session running the declarative form. */
class ExtensionsSpec extends AnyFunSuite {

  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  private def newSession(extended: Boolean): SparkSession = {
    val b = GraftSession.builder(4).appName(s"graft-ext-$extended")
    (if (extended) b.withExtensions(new graft.functions.GraftExtensions) else b)
      .getOrCreate()
  }

  private def declarativeCosineQuery(s: SparkSession) = {
    val e = Tables.embeddings(s, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.operators.Similarity.cosine(col("v"), col("qv")).as("cos"))
      .orderBy("q_id", "vec_id")
  }

  test("injected rule fuses declarative cosine into the native expression") {
    // fresh extended session; stop the shared one so getOrCreate
    // doesn't hand back a session without the extension
    SparkSession.getActiveSession.foreach(_.stop())
    val ext = newSession(extended = true)
    try {
      val df = declarativeCosineQuery(ext)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("graft_cosine"),
        s"FuseCosine did not rewrite the declarative form:\n$optimized")
      val fused = df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

      // SQL front door resolves the injected function too
      Tables.embeddings(ext, sfDir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .createOrReplaceTempView("ext_emb")
      val viaSql = ext.sql(
        """SELECT a.vec_id, graft_cosine(a.v, a.v) AS c
          |FROM ext_emb a WHERE a.vec_id < 3 ORDER BY a.vec_id""".stripMargin)
        .collect()
      assert(viaSql.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-12))

      ext.stop()
      // un-extended session: declarative form, no rewrite
      val plain = newSession(extended = false)
      try {
        val df2 = declarativeCosineQuery(plain)
        assert(!df2.queryExecution.optimizedPlan.toString.contains("graft_cosine"))
        val unfused = df2.collect().map(r =>
          (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        assert(fused.keySet == unfused.keySet)
        fused.foreach { case (k, v) =>
          assert(v == unfused(k), s"fused/unfused diverge at $k: $v vs ${unfused(k)}")
        }
      } finally plain.stop()
    } finally if (!ext.sparkContext.isStopped) ext.stop()
  }

  /** Pathological inputs where the fused expression could diverge from
    * the declarative form if it cut corners: unequal lengths (zip_with
    * pads with nulls → fold poisons to NULL), null elements (same),
    * zero norms (divide-by-zero → NULL). The rewrite must be
    * result-identical on all of them, not just on well-formed 64-dim
    * embeddings. */
  test("fused cosine matches declarative NULL semantics on ragged/null/zero inputs") {
    SparkSession.getActiveSession.foreach(_.stop())

    // The fixture is a LocalRelation, which ConvertToLocalRelation
    // would constant-fold at optimization time — before the injected
    // rule runs. Exclude it so both forms execute at runtime through
    // codegen, which is the path that matters.
    def noLocalFold(s: SparkSession): SparkSession = {
      s.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      s
    }

    def pathologicalQuery(s: SparkSession) = {
      import s.implicits._
      val rows = Seq(
        (1L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0)),         // ragged
        (2L, Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),   // null element left
        (3L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0, null)),   // null element right
        (4L, Seq[java.lang.Double](0.0, 0.0, 0.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),    // zero norm
        (5L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](3.0, 2.0, 1.0))     // well-formed control
      ).toDF("id", "a", "b")
      rows.select(col("id"),
        graft.operators.Similarity.cosine(col("a"), col("b")).as("cos"))
        .orderBy("id")
    }

    def results(s: SparkSession): Seq[(Long, Option[Double])] =
      pathologicalQuery(s).collect().toSeq.map(r =>
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))

    val ext = noLocalFold(newSession(extended = true))
    val fused =
      try {
        val df = pathologicalQuery(ext)
        assert(df.queryExecution.optimizedPlan.toString.contains("graft_cosine"),
          "rewrite did not fire on the pathological fixture — test would be vacuous")
        results(ext)
      } finally ext.stop()

    val plain = noLocalFold(newSession(extended = false))
    val declarative =
      try results(plain)
      finally plain.stop()

    assert(fused == declarative,
      s"fused vs declarative diverge:\n  fused:       $fused\n  declarative: $declarative")
    // and the expected shape: 1–4 NULL, 5 defined
    assert(declarative.take(4).forall(_._2.isEmpty))
    assert(declarative.last._2.isDefined)
  }

  /** The guard FuseCosine documents: CosineSim yields NULL on a zero
    * norm, an ANSI divide throws there — rewriting an ANSI `/` would
    * silently swallow the user's error. Regression for a real bug:
    * Spark 4.1 wraps the divide's mode in NumericEvalContext, and
    * comparing the WRAPPER to EvalMode.ANSI is always-true, which made
    * the guard fire on nothing (caught by the scalac always-true
    * warning, invisible to the TRY-mode tests above). */
  test("ANSI-mode divide is left untouched by the rewrite") {
    SparkSession.getActiveSession.foreach(_.stop())
    val ext = newSession(extended = true)
    try {
      assert(ext.conf.get("spark.sql.ansi.enabled") == "true",
        "precondition: session must default to ANSI for this test to bite")
      def dot(x: Column, y: Column): Column =
        aggregate(zip_with(x, y, (p, r) => p * r),
          lit(0.0), (acc, el) => acc + el)
      val e = Tables.embeddings(ext, sfDir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val df = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          (dot(col("v"), col("qv")) /
            sqrt(dot(col("v"), col("v")) * dot(col("qv"), col("qv"))))
            .as("cos"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("graft_cosine"),
        s"FuseCosine rewrote an ANSI-mode divide — NULL-on-zero-norm would " +
          s"replace the ANSI error contract:\n$optimized")
      // the same pattern under TRY (what Similarity.cosine emits) DOES fuse
      val fusedDf = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          graft.operators.Similarity.cosine(col("v"), col("qv")).as("cos"))
      assert(fusedDf.queryExecution.optimizedPlan.toString.contains("graft_cosine"))
    } finally ext.stop()
  }

  test("graft_ngrams generator works in the SQL surface like explode") {
    // the injected-extension path must resolve the generator with no
    // imperative registration at all
    val s = newSession(extended = true)
    try {
      val sel = s.sql("SELECT graft_ngrams('A a, b! c', 2) AS ngram")
        .collect().map(_.getString(0)).toSeq
      assert(sel == Seq("a a", "a b", "b c"), sel)
      // LATERAL VIEW position with a join back to the source row
      s.sql("SELECT 1 AS id, 'x y z' AS t").createOrReplaceTempView("ng_src")
      val lv = s.sql(
        """SELECT id, ngram FROM ng_src
          |LATERAL VIEW graft_ngrams(t, 3) g AS ngram""".stripMargin)
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(lv == Seq((1, "x y z")), lv)
      // null text and short text yield no rows, not null rows
      assert(s.sql("SELECT graft_ngrams(CAST(NULL AS STRING), 2)").count() == 0)
      assert(s.sql("SELECT graft_ngrams('solo', 2)").count() == 0)
      // planned through GenerateExec, the same operator as explode
      val plan = s.sql("SELECT graft_ngrams('a b c', 2)")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Generate"), plan)
    } finally s.stop()
  }
}
