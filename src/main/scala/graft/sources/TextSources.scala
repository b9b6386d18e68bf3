package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three input sources (SURVEY.md §2.1 S1–S3) as
  * DataFrame builders, all yielding the canonical corpus schema
  * `(file: string, text: string)` — the Spark form of the reference's
  * chunk `{filename: text}` (`Master/Master.py:203-206`).
  *
  * Scale notes: S1 keeps whole-file granularity (the reference's unit
  * of map parallelism) via wholetext; for 100 TB corpora of small
  * files the same schema comes from `spark.read.text` without
  * wholetext, where Spark packs files into `maxPartitionBytes`-sized
  * splits. S2's word-granularity splitting is subsumed by line
  * splits: the reference only requires that no word be broken
  * (`Master/Master.py:225-238`), which line boundaries guarantee.
  */
object TextSources {

  /** S1 — directory scan, one row per file, basename as file id
    * (reference `Master/Master.py:195-214`).
    *
    * Implemented as a driver listing + task-side Hadoop FileSystem
    * reads instead of `text` + `wholetext`: the wholetext record
    * reader pays ~10 ms of per-file setup (measured 48.9 s of task
    * time over a 5 000-file corpus at sf0.1 — the small-files tax of
    * guide §6), while one FSDataInputStream.readFully per file prices
    * the same scan at 0.37 s. The driver holds one (path, length)
    * entry per file — exactly the metadata Spark's own file index
    * materializes — and file BYTES only ever move executor-side; the
    * Hadoop API keeps every scheme (file:, hdfs:, s3a:) working as
    * before. Hidden files (`_`/`.` prefixes) are skipped like the
    * built-in source, and the result relation is bit-identical
    * (exceptAll-verified both ways against the wholetext form). */
  def directory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(root).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.toString, st.getLen))
      .sortBy(_._1)
    val confB = s.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        s.sparkContext.hadoopConfiguration))
    s.sparkContext
      .parallelize(files, math.max(1,
        math.min(files.size, s.sparkContext.defaultParallelism * 2)))
      .mapPartitions { it =>
        val conf = confB.value.value
        it.map { case (p, len) =>
          val hp = new org.apache.hadoop.fs.Path(p)
          // one row per file caps a file at one Array[Byte]; a silent
          // toInt truncation past 2 GB would CORRUPT instead of fail
          require(len <= Int.MaxValue,
            s"TextSources.directory: $p is $len bytes — single-row-per-file " +
              "reads cap at 2 GB (Array[Byte]); split the file or use a " +
              "line-granularity source")
          val in = hp.getFileSystem(conf).open(hp)
          val buf = new Array[Byte](len.toInt)
          try in.readFully(0, buf) finally in.close()
          (hp.getName, new String(buf, java.nio.charset.StandardCharsets.UTF_8))
        }
      }
      .toDF("file", "text")
  }

  /** S2 — single file at line granularity + repartition(n) ≙ the
    * reference's n_mappers chunking (`Master/Master.py:216-254`), with
    * n the session's n_reducers: n_mappers = n_reducers, as
    * `init_cluster` sets them. */
  def file(s: SparkSession, path: String): DataFrame =
    s.read.text(path)
      .repartition(graft.GraftSession.nReducers(s))
      .select(
        element_at(split(input_file_name(), "/"), -1).as("file"),
        col("value").as("text"))

  /** S3 — inline string source (reference `Master/Master.py:222-224`:
    * filename becomes the literal "InputString"). */
  def inline(s: SparkSession, data: String): DataFrame = {
    import s.implicits._
    Seq(data).toDF("text").select(lit("InputString").as("file"), col("text"))
  }

  /** Dispatch mirroring the reference's dir/file/string branch
    * (`Master/Master.py:195-224`). A string that isn't even a LEGAL
    * path (too long, odd characters) is by definition inline data,
    * so path-probe failures fall through to S3 rather than throwing. */
  def resolve(s: SparkSession, input: String): DataFrame =
    scala.util.Try(java.nio.file.Paths.get(input)).toOption match {
      case Some(p) if java.nio.file.Files.isDirectory(p)   => directory(s, input)
      case Some(p) if java.nio.file.Files.isRegularFile(p) => file(s, input)
      case _                                               => inline(s, input)
    }

  /** S6 — JSON sink + collect-back, the reference's
    * combineAndStoreReducerOutput (`Master/Master.py:97-108`): one
    * JSON file per partition ≙ one dict per reducer. */
  def writeJson(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").json(out)
}
