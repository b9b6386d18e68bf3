package graft

/** The one session shape every main and spec builds on: n_reducers
  * (shuffle partitions) = cpus, UTC, JVM case mapping, no UI — and the
  * `SPARK_GRAFT_CPUS` parse that feeds it. */
class GraftSessionSpec extends SparkSpec {

  test("built session: partitions = cpus, UTC, ICU off, UI off") {
    // SparkSpec's session is GraftSession.builder(4)
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.icu.caseMappings.enabled") == "false")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("cpus parse: positive integers win, anything else is host cores") {
    val host = Runtime.getRuntime.availableProcessors
    Seq(None, Some(""), Some("8.0"), Some("0"), Some("-2"), Some("four"))
      .foreach(v => assert(GraftSession.cpusOf(v) == host, s"env=$v"))
    assert(GraftSession.cpusOf(Some("3")) == 3)
    assert(GraftSession.cpusOf(Some(" 3 ")) == 3)
  }
}
