package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `Tables`' schema store: a table's footers are inferred once, and
  * again when its files change. */
class TablesSpec extends SparkSpec {

  /** Spark jobs `body` starts, counted by a listener. A fence job run
    * after `body` is awaited: the bus delivers events in order, so
    * every job of `body` has been counted once the fence's start is. */
  private def jobsOf(body: => Unit): Int = {
    val fence = "tables-spec-fence"
    val started = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == fence))
          fenced.countDown()
        else started.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS))
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  test("schema store: a second read starts no job; a rewrite is re-inferred") {
    import spark.implicits._
    val ds = SparkSpec.tempDir("tables").toString
    val path = s"$ds/things.parquet"
    Seq((1L, "a")).toDF("id", "name").write.parquet(path)
    assert(jobsOf(Tables.t(spark, ds, "things")) >= 1, "first read infers")
    assert(jobsOf(Tables.t(spark, ds, "things")) == 0, "second read infers again")
    assert(Tables.t(spark, ds, "things").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))

    // same path, one more column: the stored schema must not be served
    Seq((2L, "b", 0.5)).toDF("id", "name", "score")
      .write.mode("overwrite").parquet(path)
    val again = Tables.t(spark, ds, "things")
    assert(again.columns.toSeq == Seq("id", "name", "score"))
    assert(again.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 0.5)))
  }
}
