package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // PIN the retrieval-oracle dump dataset UP FRONT: the bm25/hybrid
    // oracles read the landed idf sidecar unconditionally (no
    // ln-rederive fallback exists), this makes that true even for a
    // SPARK_GRAFT_ONLY subset dump that skips the retrieval queries,
    // and the explicit pin means queries noted against OTHER datasets
    // (staged rehearsal dirs) can never redirect this dump's literals
    graft.operators.Retrieval.noteDumpContext(spark, sfDir)
    // SPARK_GRAFT_ONLY=a,b — dump a subset (local iteration; the
    // driver always runs the full map)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of every query this run REGISTERED to dump (post
    // SPARK_GRAFT_ONLY filter): a rows-only query that throws would
    // otherwise vanish silently — no oracle entry, no output dir,
    // nothing left to flag it by
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq
        .filter(n => only.forall(_.contains(n)))
        .sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
