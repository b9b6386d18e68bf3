package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.Present

/** Avro source/sink over the `avro-mapred` Hadoop formats that ship
  * with the Spark distribution. The `spark-avro` DSv2 module is a
  * separate artifact that is NOT in this sandbox (offline resolver),
  * so the Kafka-ecosystem default format is wired through Spark's
  * Hadoop-file RDD API instead: DataFrame rows ⇄ Avro
  * `GenericRecord`s inside `mapPartitions` (schema parsed per
  * partition from its JSON — `Schema` instances never cross a task
  * boundary), container files written/read split-parallel by
  * `AvroKeyOutputFormat`/`AvroKeyInputFormat`.
  *
  * Scale shape: both directions are embarrassingly parallel (one Avro
  * container file per partition on write, Hadoop input splits on
  * read); no driver materialization anywhere. The deliberate
  * restriction to a flat three-column schema keeps the field mapping
  * hand-auditable — this is a format-roundtrip rung, not a general
  * Avro codec (the general mapping is exactly what `spark-avro`
  * would provide were it resolvable).
  */
object AvroIO {

  /** Avro schema (JSON) for the lineitem slice the roundtrip lands. */
  private val LineSchemaJson: String =
    """{"type":"record","name":"line","fields":[
      |{"name":"l_orderkey","type":"long"},
      |{"name":"l_quantity","type":"double"},
      |{"name":"l_returnflag","type":"string"}]}""".stripMargin

  // "d" prefix: the sanitized dataset path starts with '_' (leading
  // slash → underscore), and Hadoop's FileInputFormat hidden-path
  // filter silently rejects '_'/'.'-leading path segments — the read
  // would fail with "Input path does not exist" on an existing dir.
  // processScoped: the stage dir is wipe-then-write, so a shared path
  // would let a concurrent suite JVM and Verify JVM interleave
  // delete/write on the same dataset's containers (the exact hazard
  // Scratch.processScoped exists for).
  private def stageDir(tag: String, d: String): String =
    graft.Scratch.processScoped("graft_avro", tag,
      "d" + d.replaceAll("[^a-zA-Z0-9]", "_")).toString

  /** Write the (l_orderkey, l_quantity, l_returnflag) projection as
    * Avro container files — one file per partition, records built
    * executor-side. */
  def writeAvro(s: SparkSession, d: String, dir: String): Unit = {
    val schemaJson = LineSchemaJson
    val rows = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .rdd.mapPartitions { it =>
        val schema = new Schema.Parser().parse(schemaJson)
        it.map { r =>
          val rec: GenericRecord = new GenericData.Record(schema)
          rec.put("l_orderkey", r.getLong(0))
          rec.put("l_quantity", r.getDouble(1))
          rec.put("l_returnflag", r.getString(2))
          (new AvroKey[GenericRecord](rec), NullWritable.get())
        }
      }
    val job = Job.getInstance(s.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, new Schema.Parser().parse(schemaJson))
    // wipe-then-write: reruns overwrite instead of failing on the
    // Hadoop output-dir-exists check
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(job.getConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    rows.saveAsNewAPIHadoopFile(dir,
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      classOf[AvroKeyOutputFormat[GenericRecord]], job.getConfiguration)
  }

  /** Read the Avro container files back as a DataFrame. Records are
    * unpacked to plain values in the SAME map stage that deserializes
    * them (the Hadoop reader reuses record objects; Avro `Utf8`
    * strings are converted immediately). */
  def readAvro(s: SparkSession, dir: String): DataFrame = {
    val schemaJson = LineSchemaJson
    val job = Job.getInstance(s.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(job, new Schema.Parser().parse(schemaJson))
    val rdd = s.sparkContext.newAPIHadoopFile(dir,
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      job.getConfiguration)
      .map { case (k, _) =>
        val rec = k.datum()
        Row(rec.get("l_orderkey").asInstanceOf[Long],
          rec.get("l_quantity").asInstanceOf[Double],
          rec.get("l_returnflag").toString)
      }
    s.createDataFrame(rdd, StructType(Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_quantity", DoubleType, nullable = false),
      StructField("l_returnflag", StringType, nullable = false))))
  }

  /** Avro round trip — the third file format twin (parquet/ORC/CSV/
    * JSON/XML exist): lineitem columns land as Avro container files,
    * the aggregate runs over the read-back, and the hash gate
    * compares against DuckDB on the source parquet — schema + values
    * must survive the format exactly. */
  def avroRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = stageDir("lineitem", d)
    writeAvro(s, d, dir)
    readAvro(s, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .transform(Present.sorted(_, col("l_returnflag")))
  }

  /** Landed-once Avro files per dataset (consumers beyond the
    * roundtrip itself shouldn't re-pay the write). */
  private val avroLanded = new graft.Landed[String]("graft_avro")
  private def ensureAvro(s: SparkSession, d: String): String =
    avroLanded.root(d)(writeAvro(s, d, _))

  /** READER schema for [[avroEvolution]]: `l_quantity` dropped,
    * `l_tier` added with a default — the two legal evolution moves. */
  private val LineSchemaV2Json: String =
    """{"type":"record","name":"line","fields":[
      |{"name":"l_orderkey","type":"long"},
      |{"name":"l_returnflag","type":"string"},
      |{"name":"l_tier","type":"long","default":7}]}""".stripMargin

  /** Avro SCHEMA EVOLUTION — the format's defining feature and the
    * reason the Kafka ecosystem standardized on it: files written
    * under schema v1 are read under a DIFFERENT reader schema v2
    * (field dropped, field added with a default), and Avro's
    * writer/reader resolution — not any Spark-side rewrite — fills
    * the gap. The gate proves row mass survives the dropped column
    * and every legacy row surfaces the reader default (min = max =
    * 7); the files are the landed v1 containers, never rewritten. */
  def avroEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = ensureAvro(s, d)
    val job = Job.getInstance(s.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(job, new Schema.Parser().parse(LineSchemaV2Json))
    val rdd = s.sparkContext.newAPIHadoopFile(dir,
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      job.getConfiguration)
      .map { case (k, _) =>
        val rec = k.datum()
        Row(rec.get("l_orderkey").asInstanceOf[Long],
          rec.get("l_returnflag").toString,
          rec.get("l_tier").asInstanceOf[Long])
      }
    s.createDataFrame(rdd, StructType(Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_returnflag", StringType, nullable = false),
      StructField("l_tier", LongType, nullable = false))))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), min("l_tier").as("tier_min"),
        max("l_tier").as("tier_max"))
      .transform(Present.sorted(_, col("l_returnflag")))
  }

  /** LOGICAL TYPES schema for [[avroDecimal]]: decimal(12,2) as
    * scaled bytes + timestamp-micros as long — the two logical types
    * enterprise Avro data actually carries (money and instants).
    * The conversions are hand-rolled at the record boundary (unscaled
    * big-endian bytes ⇄ BigDecimal, epoch micros ⇄ timestamp) — the
    * exact mapping `spark-avro`'s conversions implement. */
  private val OrderDecSchemaJson: String =
    """{"type":"record","name":"ord","fields":[
      |{"name":"o_orderkey","type":"long"},
      |{"name":"price","type":{"type":"bytes","logicalType":"decimal",
      |  "precision":12,"scale":2}},
      |{"name":"ts","type":{"type":"long",
      |  "logicalType":"timestamp-micros"}}]}""".stripMargin

  /** Lands the orders slice under [[OrderDecSchemaJson]] once per
    * dataset: price as decimal bytes, o_orderdate as epoch micros. */
  private val avroDecLanded = new graft.Landed[String]("graft_avro")
  private def ensureAvroDec(s: SparkSession, d: String): String =
    avroDecLanded.root(d) { dir =>
      val schemaJson = OrderDecSchemaJson
      val rows = Tables.orders(s, d)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("decimal(12,2)").as("price"),
          // o_orderdate is TIMESTAMP_NTZ in the parquet; epoch micros
          // derive engine-side (session tz is pinned UTC everywhere)
          // so the record boundary ships a plain long
          unix_micros(col("o_orderdate").cast("timestamp")).as("ts"))
        .rdd.mapPartitions { it =>
          val schema = new Schema.Parser().parse(schemaJson)
          it.map { r =>
            val rec: GenericRecord = new GenericData.Record(schema)
            rec.put("o_orderkey", r.getLong(0))
            val bd = r.getDecimal(1).setScale(2)
            rec.put("price",
              java.nio.ByteBuffer.wrap(bd.unscaledValue().toByteArray))
            rec.put("ts", r.getLong(2))
            (new AvroKey[GenericRecord](rec), NullWritable.get())
          }
        }
      val job = Job.getInstance(s.sparkContext.hadoopConfiguration)
      AvroJob.setOutputKeySchema(job, new Schema.Parser().parse(schemaJson))
      rows.saveAsNewAPIHadoopFile(dir,
        classOf[AvroKey[GenericRecord]], classOf[NullWritable],
        classOf[AvroKeyOutputFormat[GenericRecord]], job.getConfiguration)
    }

  private def decOf(rec: GenericRecord, field: String): java.math.BigDecimal = {
    val buf = rec.get(field).asInstanceOf[java.nio.ByteBuffer]
    val bytes = new Array[Byte](buf.remaining()); buf.duplicate().get(bytes)
    new java.math.BigDecimal(new java.math.BigInteger(bytes), 2)
  }

  /** Avro LOGICAL TYPES roundtrip: decimal(12,2) survives as exact
    * scaled bytes (the sum-of-cents gate would drift under any
    * binary-float detour) and timestamp-micros as exact epoch micros
    * (min/max gate). Aggregated per order year — year derives from
    * the roundtripped micros, so a timezone or epoch-unit slip
    * hash-fails. */
  def avroDecimal(s: SparkSession, d: String): DataFrame = {
    val dir = ensureAvroDec(s, d)
    val schemaJson = OrderDecSchemaJson
    val job = Job.getInstance(s.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(job, new Schema.Parser().parse(schemaJson))
    val rdd = s.sparkContext.newAPIHadoopFile(dir,
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      job.getConfiguration)
      .map { case (k, _) =>
        val rec = k.datum()
        Row(rec.get("o_orderkey").asInstanceOf[Long],
          decOf(rec, "price"),
          rec.get("ts").asInstanceOf[Long])
      }
    s.createDataFrame(rdd, StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("price", DecimalType(12, 2), nullable = false),
      StructField("ts_micros", LongType, nullable = false))))
      .groupBy(year(timestamp_micros(col("ts_micros"))).as("yr"))
      .agg(count(lit(1)).as("n"),
        sum(col("price") * 100).cast("long").as("cents"),
        min("ts_micros").as("ts_min"), max("ts_micros").as("ts_max"))
      .transform(Present.sorted(_, col("yr")))
  }

  /** READER schema for [[avroDecimalEvolution]]: the decimal WIDENS
    * to precision 14 (same scale — the bytes resolve unchanged under
    * Avro's schema resolution), timestamp dropped, `adj_cents` added
    * with a default — logical types composed with the evolution moves
    * the plain-type twin proves. */
  private val OrderDecV2Json: String =
    """{"type":"record","name":"ord","fields":[
      |{"name":"o_orderkey","type":"long"},
      |{"name":"price","type":{"type":"bytes","logicalType":"decimal",
      |  "precision":14,"scale":2}},
      |{"name":"adj_cents","type":"long","default":25}]}""".stripMargin

  /** v1 logical-type containers read under the v2 reader schema: row
    * mass and the exact decimal sum survive the widened precision,
    * and every legacy row surfaces the reader default. */
  def avroDecimalEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = ensureAvroDec(s, d)
    val job = Job.getInstance(s.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(job, new Schema.Parser().parse(OrderDecV2Json))
    val rdd = s.sparkContext.newAPIHadoopFile(dir,
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      job.getConfiguration)
      .map { case (k, _) =>
        val rec = k.datum()
        Row(rec.get("o_orderkey").asInstanceOf[Long],
          decOf(rec, "price"),
          rec.get("adj_cents").asInstanceOf[Long])
      }
    s.createDataFrame(rdd, StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("price", DecimalType(14, 2), nullable = false),
      StructField("adj_cents", LongType, nullable = false))))
      .agg(count(lit(1)).as("n"),
        sum(col("price") * 100).cast("long").as("cents"),
        min("adj_cents").as("adj_min"), max("adj_cents").as("adj_max"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "avro_roundtrip" -> avroRoundtrip _,
    "avro_evolution" -> avroEvolution _,
    "avro_decimal" -> avroDecimal _,
    "avro_decimal_evolution" -> avroDecimalEvolution _,
  )

  val oracle: Map[String, String] = Map(
    // same replay as orc_roundtrip: the format changes the files,
    // never the answer
    "avro_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // evolution must preserve row mass under the dropped column and
    // fill the added column with the READER default on every row
    "avro_evolution" ->
      """SELECT l_returnflag, count(*) AS n,
        |  7::BIGINT AS tier_min, 7::BIGINT AS tier_max
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // the decimal sum replays exactly (both engines sum a scale-2
    // decimal — any float detour in the bytes mapping drifts), and
    // the min/max micros pin the timestamp-micros epoch/unit mapping
    "avro_decimal" ->
      """SELECT year(o_orderdate) AS yr, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
        |    AS cents,
        |  min(epoch_us(o_orderdate)) AS ts_min,
        |  max(epoch_us(o_orderdate)) AS ts_max
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin,
    "avro_decimal_evolution" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
        |    AS cents,
        |  25::BIGINT AS adj_min, 25::BIGINT AS adj_max
        |FROM orders""".stripMargin,
  )
}
