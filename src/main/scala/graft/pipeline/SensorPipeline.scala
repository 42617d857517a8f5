package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The SIMPSS dataflow, re-expressed as pure DataFrame → DataFrame stages
  * (reference: PCampi/unimib-simpss — see SURVEY.md §2.A and citations
  * below). Batch and streaming share these functions unchanged; the
  * streaming layer only swaps the source/sink.
  *
  * Scale notes: every stage is narrow except the final keyed dedup, which
  * is a single hash aggregation with map-side partial combine (max_by) —
  * strictly cheaper than a window row_number (no per-partition sort, no
  * full-row shuffle of losers). Each line is parsed once, and the
  * sensor→group dimension (tiny by contract) is a hash map built once per
  * `enrich` call and shipped as a broadcast variable — there is no join.
  */
object SensorPipeline {

  /** Wire record: 9 sensor fields + producer-stamped time_received + seq
    * (arrival order; makes last-write-wins testable — SURVEY.md §7.4's
    * injectable-clock discipline).
    * Reference: field inventory at simpss/producers/mqtt_kafka_producer.py:202-205
    * and link_kafka_cassandra.py:93-105. */
  val wireSchema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("uptime", IntegerType),
    StructField("T", IntegerType),
    StructField("P", IntegerType),
    StructField("H", IntegerType),
    StructField("Ix", IntegerType),
    StructField("Iy", IntegerType),
    StructField("Iz", IntegerType),
    StructField("M", IntegerType),
    StructField("time_received", TimestampType),
    StructField("seq", LongType)))

  /** Wire→storage rename map (reference: link_kafka_cassandra.py:93-105,
    * applied by data_mapping/data_mapper.py:4-32). */
  val wireToStorage: Seq[(String, String)] = Seq(
    "time_received" -> "time_received",
    "id" -> "sensor_id",
    "uptime" -> "uptime",
    "T" -> "temperature",
    "P" -> "pressure",
    "H" -> "humidity",
    "Ix" -> "ix",
    "Iy" -> "iy",
    "Iz" -> "iz",
    "M" -> "mask")

  val pkCols: Seq[String] = Seq("sensor_group", "sensor_id", "time_received")

  private val nWireKeys = wireSchema.fields.length

  /** Dimension load with the reference's integrity checks
    * (utils.py:21-40): explicit schema, no nulls, no duplicate sensor_id,
    * trimmed group names. Fails fast at load like the reference. */
  def loadDim(spark: SparkSession, path: String): DataFrame = {
    val dim = spark.read
      .option("header", "true")
      .schema("sensor_id INT, group_id STRING")
      .csv(path)
      .select(col("sensor_id"), trim(col("group_id")).as("group_id"))
    require(dim.filter(col("sensor_id").isNull || col("group_id").isNull).isEmpty,
      s"dimension $path contains nulls")
    require(dim.groupBy("sensor_id").count().filter(col("count") > 1).isEmpty,
      s"dimension $path contains duplicate sensor_id")
    dim
  }

  /** Strict-arity JSON parse (reference: data_mapper.py:23-26 raises unless
    * the record has exactly the mapped keys; consumer.py:128-138 decodes).
    * Input: a DataFrame with a string column `value` (one JSON per row).
    * Output: parsed wire columns plus a `_violation` column — null for
    * clean records, else a reason. Callers split on it (DLQ pattern,
    * improving on the reference's crash-the-pipeline behavior while
    * keeping its contract testable). */
  def parseStrict(raw: DataFrame): DataFrame = {
    val parsed = raw
      .withColumn("_keys", json_object_keys(col("value")))
      .withColumn("_rec", from_json(col("value"), wireSchema,
        Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss")))
    val fieldsNonNull = wireSchema.fieldNames
      .map(f => col("_rec").getField(f).isNotNull)
      .reduce(_ && _)
    parsed.withColumn("_violation",
      when(col("_keys").isNull, lit("malformed_json"))
        .when(size(col("_keys")) =!= nWireKeys, lit("wrong_arity"))
        .when(!fieldsNonNull, lit("missing_or_untyped_field")))
      .select(wireSchema.fieldNames.map(f => col(s"_rec.$f").as(f)) :+ col("_violation"): _*)
  }

  /** Split a parseStrict output into (clean, deadLetter). The clean side
    * is a generator, not a filter: a filter on `_violation` is pushed below
    * parseStrict's projection with the parse inlined into its condition
    * (a dozen `from_json` calls per line), while a generator's input is
    * never substituted, so each clean line is parsed once. `inline` of the
    * null that the CASE yields for a violation emits no row. */
  def quarantine(parsed: DataFrame): (DataFrame, DataFrame) = {
    val fields = parsed.columns.toSeq.filterNot(_ == "_violation").map(col)
    (parsed.select(inline(when(col("_violation").isNull, array(struct(fields: _*))))),
      parsed.filter(col("_violation").isNotNull))
  }

  /** Dimension-lookup enrichment (reference: mqtt_kafka_producer.py:203-209
    * — hash-map probe, KeyError on unknown id). The dimension is collected
    * once per call into a `sensor_id → group` map, validated (no null or
    * duplicate sensor_id: a map would silently keep one of two groups),
    * shipped once as a broadcast variable and probed per row, so the plan
    * holds no join and no per-query broadcast exchange, and its size does
    * not grow with the dimension. A streaming query therefore sees the
    * dimension as it was when its plan was built, as the reference's
    * start-up map does. In fail-fast mode an unknown sensor_id raises at
    * execution time, like the reference; otherwise the row is dropped. */
  def enrich(readings: DataFrame, dim: DataFrame, failFast: Boolean = true): DataFrame = {
    val rows = dim.select(col("sensor_id").cast(IntegerType), col("group_id").cast(StringType))
      .collect()
    require(!rows.exists(_.isNullAt(0)), "enrich: dimension contains a null sensor_id")
    val groups = rows.map(r => r.getInt(0) -> r.getString(1)).toMap
    require(groups.size == rows.length, "enrich: dimension contains duplicate sensor_id")
    val shipped = readings.sparkSession.sparkContext.broadcast(groups)
    val probe = udf((id: Int) => shipped.value.get(id).orNull)
    val enriched = readings.withColumn("sensor_group", probe(col("id")))
    if (failFast)
      enriched.withColumn("sensor_group",
        when(col("sensor_group").isNull,
          raise_error(concat(lit("unknown sensor id: "), col("id").cast("string"))))
          .otherwise(col("sensor_group")))
    else enriched.filter(col("sensor_group").isNotNull)
  }

  /** Key-rename projection in fixed storage column order (reference:
    * data_mapper.py:4-32 + cassandra_storage.py:85-86). Keeps `seq` and
    * `sensor_group` alongside. */
  def renameToStorage(df: DataFrame): DataFrame = {
    val renamed = wireToStorage.map { case (w, s) => col(w).as(s) }
    df.select(col("sensor_group") +: renamed :+ col("seq"): _*)
  }

  /** Last-write-wins keyed dedup — the batch/streaming image of Cassandra's
    * PK upsert (reference: cassandra_storage.py:88 + PK at
    * link_kafka_cassandra.py:45). One hash aggregation with partial
    * combine: `max_by(struct(payload), seq)` per PK. */
  def dedupLastWins(df: DataFrame, keys: Seq[String] = pkCols, orderCol: String = "seq"): DataFrame = {
    val payload = df.columns.toSeq.filterNot(keys.contains).filterNot(_ == orderCol)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), col(orderCol)).as("_latest"))
      .select(keys.map(col) ++ payload.map(c => col(s"_latest.$c").as(c)): _*)
  }

  /** Storage layout mirroring the Cassandra table: partitioned by
    * sensor_group (partition key), rows clustered by (sensor_id,
    * time_received) within each partition. */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.repartition(col("sensor_group"))
      .sortWithinPartitions("sensor_id", "time_received")
      .write.mode("overwrite")
      .partitionBy("sensor_group")
      .parquet(path)

  /** Full batch pipeline: NDJSON → strict parse → enrich → rename → dedup.
    * Returns the storage table in canonical order. */
  def run(spark: SparkSession, ndjsonPath: String, dimPath: String,
          failFast: Boolean = true): DataFrame = {
    val raw = spark.read.text(ndjsonPath)
    val (clean, _) = quarantine(parseStrict(raw))
    val enriched = enrich(clean, loadDim(spark, dimPath), failFast)
    val stored = dedupLastWins(renameToStorage(enriched))
    stored.select(
      col("time_received"), col("sensor_group"), col("sensor_id"),
      col("uptime"), col("temperature"), col("pressure"), col("humidity"),
      col("ix"), col("iy"), col("iz"), col("mask"))
      .orderBy(col("sensor_group"), col("sensor_id"), col("time_received"))
  }
}
