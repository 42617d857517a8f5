package graft

import org.apache.spark.sql.functions._
import graft.pipeline.SensorPipeline
import graft.pipeline.SensorPipeline._

class SensorPipelineSpec extends SparkSpec {

  private def dim = loadDim(spark, Fixtures.sensorDim)

  test("dim loads with trimmed groups, no nulls, no dup ids") {
    val d = dim
    assert(d.count() == 40)
    assert(d.filter(col("group_id").rlike("^\\s|\\s$")).isEmpty)
  }

  test("dim validation rejects duplicate sensor_id") {
    val p = java.nio.file.Files.createTempFile("dim", ".csv")
    java.nio.file.Files.writeString(p, "sensor_id,group_id\n1,g1\n1,g2\n")
    val e = intercept[IllegalArgumentException](loadDim(spark, p.toString))
    assert(e.getMessage.contains("duplicate"))
  }

  test("strict parse quarantines dirty records by kind") {
    // dirty fixture: 200 lines cycling clean / unknown-id / missing-key /
    // extra-key / malformed (tools/gen_sensor_fixture.py)
    val parsed = parseStrict(spark.read.text(Fixtures.sensorDirtyNdjson))
    val byViolation = parsed.groupBy("_violation").count()
      .collect().map(r => Option(r.getString(0)).getOrElse("clean") -> r.getLong(1)).toMap
    assert(byViolation("clean") == 80) // clean + unknown-id (parse-clean, enrich-fatal)
    assert(byViolation("wrong_arity") == 80) // missing-key + extra-key
    assert(byViolation("malformed_json") == 40)
  }

  test("enrich fail-fast raises on unknown sensor id") {
    val (clean, _) = quarantine(parseStrict(spark.read.text(Fixtures.sensorDirtyNdjson)))
    val e = intercept[Exception](enrich(clean, dim, failFast = true).collect())
    assert(e.getMessage.contains("unknown sensor id") ||
      e.getCause != null && e.getCause.getMessage.contains("unknown sensor id"))
  }

  test("enrich drop mode filters unknown ids") {
    val (clean, _) = quarantine(parseStrict(spark.read.text(Fixtures.sensorDirtyNdjson)))
    assert(clean.count() == 80)
    assert(enrich(clean, dim, failFast = false).count() == 40)
  }

  test("enrich rejects a dimension with a duplicate or null sensor_id") {
    import spark.implicits._
    // a join would fan a duplicate id out into extra rows and a map would
    // keep one of its groups; enrich refuses both before planning anything
    val (clean, _) = quarantine(parseStrict(spark.read.text(Fixtures.sensorNdjson)))
    val dup = Seq((Option(100), "g1"), (Option(101), "g2"), (Option(100), "g3"))
      .toDF("sensor_id", "group_id")
    val nul = Seq((Option(100), "g1"), (Option.empty[Int], "g2")).toDF("sensor_id", "group_id")
    for ((d, why) <- Seq(dup -> "duplicate sensor_id", nul -> "null sensor_id");
         failFast <- Seq(true, false)) {
      val e = intercept[IllegalArgumentException](enrich(clean, d, failFast))
      assert(e.getMessage.contains(why), e.getMessage)
    }
  }

  test("dedup keeps the record with the highest seq per PK") {
    import spark.implicits._
    val df = Seq(
      ("g1", 1, "2024-03-01 10:00:00", 10, 0L),
      ("g1", 1, "2024-03-01 10:00:00", 20, 5L),
      ("g1", 1, "2024-03-01 10:00:00", 15, 3L),
      ("g1", 2, "2024-03-01 10:00:00", 7, 1L))
      .toDF("sensor_group", "sensor_id", "ts", "temperature", "seq")
      .withColumn("time_received", col("ts").cast("timestamp")).drop("ts")
    val out = dedupLastWins(df)
    assert(out.count() == 2)
    val winner = out.filter(col("sensor_id") === 1).select("temperature").head().getInt(0)
    assert(winner == 20)
  }

  test("dedup is idempotent") {
    val once = SensorPipeline.run(spark, Fixtures.sensorNdjson, Fixtures.sensorDim)
    val again = dedupLastWins(
      once.withColumn("seq", lit(0L)))
    assert(again.count() == once.count())
  }

  test("full batch pipeline matches fixture expectations") {
    val out = SensorPipeline.run(spark, Fixtures.sensorNdjson, Fixtures.sensorDim)
    assert(out.count() == 2187) // deduped from 2472 raw lines
    assert(out.columns.toSeq == Seq("time_received", "sensor_group", "sensor_id",
      "uptime", "temperature", "pressure", "humidity", "ix", "iy", "iz", "mask"))
    // PK uniqueness — the upsert invariant
    assert(out.groupBy("sensor_group", "sensor_id", "time_received")
      .count().filter(col("count") > 1).isEmpty)
  }

  test("typed Dataset[SensorReading] view round-trips the pipeline output") {
    val ds = graft.core.SensorReading.pipeline(spark, Fixtures.sensorNdjson, Fixtures.sensorDim)
    val first = ds.head()
    assert(first.sensor_group.startsWith("g"))
    assert(ds.filter((r: graft.core.SensorReading) => r.sensor_id >= 100).count() == ds.count())
  }

  test("writePartitioned lays out one directory per sensor_group") {
    val out = SensorPipeline.run(spark, Fixtures.sensorNdjson, Fixtures.sensorDim)
    val dir = java.nio.file.Files.createTempDirectory("store").toString
    writePartitioned(out, dir)
    val groups = new java.io.File(dir).list().filter(_.startsWith("sensor_group="))
    assert(groups.toSet == Set("sensor_group=g1", "sensor_group=g2", "sensor_group=g3", "sensor_group=g4"))
  }
}
