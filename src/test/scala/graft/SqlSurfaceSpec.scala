package graft

import graft.core.Tables
import graft.operators.RelationalSql

/** SQL-surface equivalence (SURVEY.md §2.B extensibility row "SQL
  * injection" + VERDICT round-2 item 5): every relational query must be
  * expressible as `spark.sql` text over the registered views and produce
  * EXACTLY the DataFrame form's result — same column names, same rows,
  * same order. This is the surface a SQL-first user types; equality here
  * proves the two faces share one semantics (both compile to the same
  * Catalyst plans). SQL texts exist only for the q-series and Q20; the
  * x-series extras faces have none, and their values are checked
  * against the DuckDB oracle SQL (`ExtrasOracle`) instead. */
class SqlSurfaceSpec extends SparkSpec {

  private lazy val dir = sf("sf0.001")

  private def assertSame(name: String, sqlText: String): Unit = {
    val viaDf = SparkEntry.queries(name)(spark, dir)
    val viaSql = spark.sql(sqlText)
    assert(viaSql.columns.toSeq == viaDf.columns.toSeq,
      s"$name: column mismatch ${viaSql.columns.toSeq} vs ${viaDf.columns.toSeq}")
    val a = viaSql.collect().toSeq
    val b = viaDf.collect().toSeq
    assert(a.size == b.size, s"$name: ${a.size} SQL rows vs ${b.size} DataFrame rows")
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"$name: row $i differs — SQL $x vs DataFrame $y")
    }
  }

  test("Q1-Q19 + Q21: spark.sql text over registered views equals the DataFrame form") {
    Tables.registerAll(spark, dir)
    RelationalSql.sql.toSeq.sortBy(_._1).foreach { case (name, text) =>
      withClue(name)(assertSame(name, text))
    }
    // Q1-Q19 with q05 contributing two entries (left + full outer),
    // q06 two, q12 four (set + multiset forms), plus Q21 and Q22 = 26
    // texts (the as-of twins are correlated lookups — Spark SQL has no
    // ASOF)
    assert(RelationalSql.sql.size == 26, "every relational query needs a SQL twin")
  }

  test("x49: registered kll_* SQL functions answer the sketch rollup") {
    Tables.registerAll(spark, dir)
    // estimates are randomized (KLL compaction), so the SQL face is
    // checked structurally — same groups, EXACT deterministic counts,
    // estimates inside the group's value range — not cell-exactly
    val viaDf = SparkEntry.queries("x49_kll_quantiles")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // natural call forms on purpose: the DECIMAL column and DECIMAL
    // rank literals must be accepted (the registration casts them)
    val viaSql = spark.sql(
      """WITH per AS (
        |  SELECT l_returnflag AS grp, kll_sketch_agg(l_extendedprice) AS sk
        |  FROM lineitem GROUP BY l_returnflag),
        |u AS (SELECT * FROM per
        |      UNION ALL SELECT 'TOTAL' AS grp, kll_union_agg(sk) AS sk FROM per)
        |SELECT grp, kll_count(sk) AS n,
        |       kll_quantile(sk, 0.5) AS p50,
        |       kll_quantile(sk, 0.95) AS p95
        |FROM u ORDER BY grp""".stripMargin).collect()
    assert(viaSql.map(_.getString(0)).toSeq == viaDf.keys.toSeq.sorted)
    val Array(lo, hi) = spark.sql(
      "SELECT CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem")
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    viaSql.foreach { r =>
      assert(r.getLong(1) == viaDf(r.getString(0)), s"${r.getString(0)}: count drift")
      Seq(r.getDouble(2), r.getDouble(3)).foreach(q =>
        assert(q >= lo && q <= hi, s"${r.getString(0)}: estimate $q outside [$lo, $hi]"))
      assert(r.getDouble(2) <= r.getDouble(3), "p50 above p95")
    }
  }

  test("Q20: the pipeline as one SQL statement equals SensorPipeline.run") {
    spark.read.text(Fixtures.sensorNdjson).createOrReplaceTempView("sensor_lines")
    spark.read.option("header", "true")
      .schema("sensor_id INT, group_id STRING")
      .csv(Fixtures.sensorDim)
      .createOrReplaceTempView("sensor_dim_raw")
    assertSame("q20_sensor_pipeline", RelationalSql.q20Sql)
  }
}
