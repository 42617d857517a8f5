package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.core.Tables

/** Corpus-vintage resilience (VERDICT round-5 item 1).
  *
  * The driver has shipped events.parquet with `ts` as TIMESTAMP(NANOS)
  * (surfaced as LONG via nanosAsLong) and, since round 5, TIMESTAMP_MICROS
  * (surfaced as TIMESTAMP). A hardcoded nanos assumption in Tables.load
  * zeroed round 5's whole correctness signal, so this spec fabricates one
  * fixture of each READ type and requires both to load to identical
  * timestamps. The legacy vintage is modeled as a plain INT64 `ts` — the
  * exact post-read shape nanosAsLong produces for NANOS files, and the only
  * shape Tables.load can branch on.
  */
class TablesSpec extends SparkSpec {

  // 2026-01-02T03:04:05.123456Z in micros since epoch.
  private val micros = 1767323045123456L

  test("events ts as TIMESTAMP_MICROS (current vintage) loads untouched") {
    val dir = tempDir("tables-micros")
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      spark.range(1).select(
        timestamp_micros(lit(micros)).as("ts"), lit("click").as("etype"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    } finally prev.fold(spark.conf.unset("spark.sql.parquet.outputTimestampType"))(
      spark.conf.set("spark.sql.parquet.outputTimestampType", _))
    val df = Tables.load(spark, dir.toString, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select(unix_micros(col("ts"))).head.getLong(0)
    assert(got == micros, s"micros vintage corrupted: $got vs $micros")
  }

  test("events ts as TIMESTAMP_NTZ (driver's round-5+ vintage) casts to session-UTC TIMESTAMP") {
    val dir = tempDir("tables-ntz")
    spark.range(1).select(
      timestamp_micros(lit(micros)).cast(TimestampNTZType).as("ts"),
      lit("click").as("etype"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType, "fixture must read as NTZ")
    val df = Tables.load(spark, dir.toString, "events")
    assert(df.schema("ts").dataType == TimestampType)
    // Session zone is UTC, so the naive instant reinterprets losslessly.
    val got = df.select(unix_micros(col("ts"))).head.getLong(0)
    assert(got == micros, s"ntz vintage misconverted: $got vs $micros")
  }

  test("events ts as LONG nanos (legacy vintage) converts via div 1000") {
    val dir = tempDir("tables-nanos")
    spark.range(1).select(
      lit(micros * 1000L).as("ts"), lit("click").as("etype"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == LongType, "fixture must read as LONG")
    val df = Tables.load(spark, dir.toString, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select(unix_micros(col("ts"))).head.getLong(0)
    assert(got == micros, s"nanos vintage misconverted: $got vs $micros")
  }

  test("non-events tables never get the ts rewrite") {
    val dir = tempDir("tables-other")
    spark.range(1).select(lit(42L).as("ts")).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    val df = Tables.load(spark, dir.toString, "lineitem")
    assert(df.schema("ts").dataType == LongType, "only events.ts is converted")
  }

  test("driver corpus: load-bearing column types hold post-normalization") {
    // Early-warning gate for the NEXT corpus regeneration: only the
    // columns the query surface actually computes on, by name, so a type
    // drift fails HERE with the column spelled out instead of as a dozen
    // cryptic analysis errors downstream. Deliberately NOT a full-schema
    // assertion — added columns or nullability changes are benign drift
    // this gate must not veto.
    import org.apache.spark.sql.types._
    val d = sf("sf0.001")
    val expect: Seq[(String, String, DataType)] = Seq(
      ("events", "ts", TimestampType), // post-normalization, any vintage
      ("events", "event_id", LongType),
      ("events", "user_id", LongType),
      ("events", "event_type", StringType),
      ("events", "value", DoubleType),
      ("events", "props", StringType),
      ("documents", "doc_id", LongType),
      ("documents", "text", StringType),
      ("documents", "lang", StringType),
      ("documents", "source", StringType),
      ("embeddings", "vec_id", LongType),
      ("embeddings", "embedding", ArrayType(FloatType)),
      ("embeddings", "label", IntegerType),
      ("lineitem", "l_orderkey", LongType),
      ("lineitem", "l_partkey", LongType),
      ("lineitem", "l_quantity", DoubleType),
      ("lineitem", "l_extendedprice", DoubleType),
      ("lineitem", "l_discount", DoubleType),
      ("lineitem", "l_shipdate", TimestampNTZType),
      ("orders", "o_orderkey", LongType),
      ("orders", "o_custkey", LongType),
      ("orders", "o_totalprice", DoubleType),
      ("orders", "o_orderdate", TimestampNTZType),
      ("customer", "c_custkey", LongType),
      ("customer", "c_acctbal", DoubleType),
      ("part", "p_partkey", LongType),
      ("part", "p_size", IntegerType),
      ("nation", "n_nationkey", IntegerType),
      ("region", "r_regionkey", IntegerType))
    val loaded = expect.map(_._1).distinct
      .map(t => t -> Tables.load(spark, d, t).schema).toMap
    val bad = expect.flatMap { case (t, c, want) =>
      loaded(t).find(_.name == c) match {
        case None => Some(s"$t.$c: MISSING (corpus drift)")
        case Some(f) if !(f.dataType == want ||
            // timestamp columns may arrive NTZ or UTC depending on the
            // corpus vintage — both are computable for these queries
            (want == TimestampNTZType && f.dataType == TimestampType)) =>
          Some(s"$t.$c: ${f.dataType} (expected $want)")
        case _ => None
      }
    }
    assert(bad.isEmpty, s"driver corpus drifted:\n  ${bad.mkString("\n  ")}")
  }

  test("registerAll isolates a poisoned table: the other views still register") {
    val src = Paths.get(sf("sf0.001"))
    val dir = tempDir("tables-poison")
    Tables.all.foreach { n =>
      val from = src.resolve(s"$n.parquet")
      val to = dir.resolve(s"$n.parquet")
      if (Files.isDirectory(from)) {
        Files.walk(from).forEach { p =>
          val dest = to.resolve(from.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(dest)
          else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
        }
      } else Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    }
    // Poison events: not parquet at all.
    Files.write(dir.resolve("events.parquet"), "not a parquet file".getBytes)
    val failed = Tables.registerAll(spark, dir.toString)
    try {
      assert(failed.map(_._1) == Seq("events"),
        s"exactly the poisoned table should fail, got ${failed.map(_._1)}")
      // Non-dependent views survive and are queryable.
      assert(spark.sql("SELECT count(*) FROM lineitem").head.getLong(0) > 0)
      assert(spark.sql("SELECT count(*) FROM region").head.getLong(0) > 0)
    } finally Tables.all.foreach(n => spark.catalog.dropTempView(n))
  }

  // ---------------------------------------------- Parallel.fanOut gates

  test("fanOut spreads a small input across partitions, content unchanged") {
    import graft.core.Parallel
    val df = spark.range(0, 10000).selectExpr(
      "id", "repeat('x', 64) as text") // ~640 KB estimate, sub-ceiling
    val out = Parallel.fanOut(df)
    assert(out.rdd.getNumPartitions > 1,
      s"expected fan-out, got ${out.rdd.getNumPartitions} partition(s)")
    assert(out.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    // same rows, only placement changed
    assert(out.selectExpr("sum(id)", "count(*)").head ==
      df.selectExpr("sum(id)", "count(*)").head)
  }

  test("fanOut is identity past the size ceiling (scale no-op)") {
    import graft.core.Parallel
    // Catalyst estimates range at 8 bytes/row: 2^30 rows ≈ 8 GB >> ceiling
    val big = spark.range(0, 1L << 30).toDF()
    assert(Parallel.fanOut(big).queryExecution.analyzed
      .sameResult(big.queryExecution.analyzed), "big input must be untouched")
    // near-empty input: width derives from size, stays single-partition
    val tiny = spark.range(0, 10).toDF()
    assert(Parallel.fanOut(tiny).queryExecution.analyzed
      .sameResult(tiny.queryExecution.analyzed), "tiny input must be untouched")
  }
}
