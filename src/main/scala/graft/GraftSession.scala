package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every entry point runs on — the Spark form of
  * the reference's `init_cluster(nMappers, nReducers)`
  * (`Master/Master.py:25-58`): `local[cpus]` executors, with
  * n_reducers ≙ `spark.sql.shuffle.partitions` = cpus, so per-task
  * load (the partition count) is the same for every main that runs
  * on it. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when it is a positive integer, else the host's
    * cores. */
  def cpus: Int = cpusOf(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Validated parse: a malformed value ('', '8.0', '0') must not turn
    * the master into `local[]` or abort a run — it falls back. */
  def cpusOf(env: Option[String]): Int =
    env.flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The tables directory of a main that takes no sf argument. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // ICU case mapping makes lower()/upper() ~30x slower (measured:
    // 25s -> 0.7s on the sf0.1 wordcount) and the ICU <clinit> alone
    // burns ~30s of CPU on first use. JVM case mapping is identical
    // on ASCII and matches the oracle.
    .config("spark.sql.icu.caseMappings.enabled", "false")
    .config("spark.ui.enabled", "false")

  def apply(cpus: Int): SparkSession = {
    // f"" interpolators use the JVM default locale; under a
    // comma-decimal locale every number a main prints would render
    // "1,08" and its JSON becomes unparseable. Pin ROOT process-wide.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def apply(): SparkSession = apply(cpus)

  /** JVM/codegen/parquet-footer startup costs land here instead of on
    * whichever query happens to run first. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).collect()
  }
}
