package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Per-family scalar/aggregate function coverage (SURVEY.md §2.B: "the
  * per-operator scalar-function surface beyond these is covered by unit
  * tests, not oracle hashes"). One test per family, asserting concrete
  * values so a Spark upgrade or config change that alters semantics
  * trips something. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("string functions") {
    val r = Seq(("  Hello World ", "b")).toDF("s", "t").select(
      trim($"s").as("trim"),
      upper(trim($"s")).as("up"),
      lower(trim($"s")).as("lo"),
      substring(trim($"s"), 1, 5).as("sub"),
      length(trim($"s")).as("len"),
      concat(trim($"s"), lit("!")).as("cat"),
      split(trim($"s"), " ").as("split"),
      regexp_extract(trim($"s"), "(\\w+) (\\w+)", 2).as("rex"),
      regexp_replace(trim($"s"), "o", "0").as("rre"),
      lpad($"t", 3, "x").as("lpad"),
      instr(trim($"s"), "World").as("instr"),
      translate(trim($"s"), "lo", "01").as("tr"),
      initcap(lit("ab cd")).as("ic")).head()
    assert(r.getAs[String]("trim") == "Hello World")
    assert(r.getAs[String]("up") == "HELLO WORLD")
    assert(r.getAs[String]("sub") == "Hello")
    assert(r.getAs[Int]("len") == 11)
    assert(r.getSeq[String](r.fieldIndex("split")).toSeq == Seq("Hello", "World"))
    assert(r.getAs[String]("rex") == "World")
    assert(r.getAs[String]("rre") == "Hell0 W0rld")
    assert(r.getAs[String]("lpad") == "xxb")
    assert(r.getAs[Int]("instr") == 7)
    assert(r.getAs[String]("tr") == "He001 W1r0d")
    assert(r.getAs[String]("ic") == "Ab Cd")
  }

  test("date/time functions") {
    val r = Seq("2024-03-15 10:30:45").toDF("s")
      .select(to_timestamp($"s").as("ts"))
      .select(
        year($"ts").as("y"), month($"ts").as("m"), dayofmonth($"ts").as("d"),
        hour($"ts").as("h"),
        date_trunc("hour", $"ts").cast("string").as("trunc"),
        to_date($"ts").cast("string").as("date"),
        unix_timestamp($"ts").as("unix"),
        date_add(to_date($"ts"), 10).cast("string").as("add"),
        datediff(to_date($"ts"), lit("2024-03-01").cast("date")).as("diff"),
        months_between(lit("2024-05-15").cast("date"), to_date($"ts")).as("mb")).head()
    assert(r.getAs[Int]("y") == 2024 && r.getAs[Int]("m") == 3 && r.getAs[Int]("d") == 15)
    assert(r.getAs[Int]("h") == 10)
    assert(r.getAs[String]("trunc") == "2024-03-15 10:00:00")
    assert(r.getAs[String]("date") == "2024-03-15")
    assert(r.getAs[Long]("unix") == 1710498645L) // UTC session
    assert(r.getAs[String]("add") == "2024-03-25")
    assert(r.getAs[Int]("diff") == 14)
    assert(math.abs(r.getAs[Double]("mb") - 2.0) < 1e-9)
  }

  test("math functions") {
    val r = Seq((-3.7, 2.0)).toDF("a", "b").select(
      abs($"a").as("abs"), round($"a").as("round"), floor($"a").as("floor"),
      ceil($"a").as("ceil"), sqrt($"b").as("sqrt"), pow($"b", 10).as("pow"),
      exp(lit(0.0)).as("exp"), log($"b").as("log"), sin(lit(0.0)).as("sin"),
      signum($"a").as("sign"), pmod(lit(-7), lit(3)).as("pmod")).head()
    assert(r.getAs[Double]("abs") == 3.7)
    assert(r.getAs[Double]("round") == -4.0)
    assert(r.getAs[Long]("floor") == -4L)
    assert(r.getAs[Long]("ceil") == -3L)
    assert(r.getAs[Double]("pow") == 1024.0)
    assert(r.getAs[Double]("exp") == 1.0)
    assert(r.getAs[Double]("sign") == -1.0)
    assert(r.getAs[Int]("pmod") == 2) // pmod is non-negative, unlike %
    // seeded rand is reproducible
    val a = spark.range(5).select(rand(7)).as[Double].collect().toSeq
    val b = spark.range(5).select(rand(7)).as[Double].collect().toSeq
    assert(a == b)
  }

  test("conditional functions") {
    val r = Seq((1, null.asInstanceOf[String]), (2, "x")).toDF("i", "s").select(
      when($"i" === 1, "one").otherwise("other").as("w"),
      coalesce($"s", lit("dflt")).as("co"),
      nullif(lit("a"), lit("a")).as("ni"),
      nvl($"s", lit("nv")).as("nvl"),
      greatest($"i", lit(0), lit(5)).as("gr"),
      least($"i", lit(0), lit(5)).as("le")).collect()
    assert(r(0).getAs[String]("w") == "one" && r(1).getAs[String]("w") == "other")
    assert(r(0).getAs[String]("co") == "dflt" && r(1).getAs[String]("co") == "x")
    assert(r(0).isNullAt(2))
    assert(r(0).getAs[Int]("gr") == 5 && r(0).getAs[Int]("le") == 0)
  }

  test("array functions") {
    val r = Seq((Seq(3, 1, 2), Seq(2, 3, 4))).toDF("a", "b").select(
      size($"a").as("size"),
      array_contains($"a", 2).as("contains"),
      sort_array($"a").as("sorted"),
      slice($"a", 2, 2).as("slice"),
      zip_with($"a", $"b", _ + _).as("zip"),
      transform($"a", _ * 10).as("tf"),
      filter($"a", _ > 1).as("fil"),
      aggregate($"a", lit(0), _ + _).as("agg"),
      flatten(array($"a", $"b")).as("flat"),
      array_distinct(concat($"a", $"a")).as("dist"),
      array_union($"a", $"b").as("uni"),
      array_intersect($"a", $"b").as("int"),
      array_except($"a", $"b").as("exc")).head()
    assert(r.getAs[Int]("size") == 3)
    assert(r.getAs[Boolean]("contains"))
    assert(r.getSeq[Int](r.fieldIndex("sorted")).toSeq == Seq(1, 2, 3))
    assert(r.getSeq[Int](r.fieldIndex("slice")).toSeq == Seq(1, 2))
    assert(r.getSeq[Int](r.fieldIndex("zip")).toSeq == Seq(5, 4, 6))
    assert(r.getSeq[Int](r.fieldIndex("tf")).toSeq == Seq(30, 10, 20))
    assert(r.getSeq[Int](r.fieldIndex("fil")).toSeq == Seq(3, 2))
    assert(r.getAs[Int]("agg") == 6)
    assert(r.getSeq[Int](r.fieldIndex("flat")).toSeq == Seq(3, 1, 2, 2, 3, 4))
    assert(r.getSeq[Int](r.fieldIndex("dist")).toSeq == Seq(3, 1, 2))
    assert(r.getSeq[Int](r.fieldIndex("uni")).toSeq == Seq(3, 1, 2, 4))
    assert(r.getSeq[Int](r.fieldIndex("int")).toSeq == Seq(3, 2)) // first-array order
    assert(r.getSeq[Int](r.fieldIndex("exc")).toSeq == Seq(1))
    // explode variants
    val ex = Seq(Seq("a", "b")).toDF("xs")
    assert(ex.select(explode($"xs")).count() == 2)
    assert(ex.select(posexplode($"xs")).collect().map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(Seq(Seq.empty[String]).toDF("xs").select(explode_outer($"xs")).count() == 1)
  }

  test("map functions") {
    val r = Seq(1).toDF("i").select(
      map(lit("a"), lit(1), lit("b"), lit(2)).as("m"))
      .select(
        map_keys($"m").as("ks"), map_values($"m").as("vs"),
        element_at($"m", "b").as("el"),
        transform_values($"m", (_, v) => v * 100).as("tv"),
        map_from_entries(array(struct(lit("x"), lit(9)))).as("mfe")).head()
    assert(r.getSeq[String](r.fieldIndex("ks")).toSeq == Seq("a", "b"))
    assert(r.getSeq[Int](r.fieldIndex("vs")).toSeq == Seq(1, 2))
    assert(r.getAs[Int]("el") == 2)
    assert(r.getAs[Map[String, Int]]("tv") == Map("a" -> 100, "b" -> 200))
    assert(r.getAs[Map[String, Int]]("mfe") == Map("x" -> 9))
    val exploded = Seq(1).toDF("i")
      .select(explode(map(lit("k1"), lit(10), lit("k2"), lit(20))))
    assert(exploded.count() == 2)
  }

  test("JSON functions") {
    val js = """{"a": 5, "b": {"c": "x"}, "arr": [1,2]}"""
    val r = Seq(js).toDF("j").select(
      get_json_object($"j", "$.b.c").as("gjo"),
      json_tuple($"j", "a", "b"),
      schema_of_json(js).as("soj"),
      json_object_keys($"j").as("keys"),
      from_json($"j", StructType(Seq(StructField("a", IntegerType)))).getField("a").as("fj"),
      to_json(struct(lit(1).as("x"))).as("tj")).head()
    assert(r.getAs[String]("gjo") == "x")
    assert(r.getAs[String]("c0") == "5") // json_tuple output col
    assert(r.getSeq[String](r.fieldIndex("keys")).toSeq == Seq("a", "arr", "b") ||
      r.getSeq[String](r.fieldIndex("keys")).toSeq == Seq("a", "b", "arr"))
    assert(r.getAs[Int]("fj") == 5)
    assert(r.getAs[String]("tj") == """{"x":1}""")
  }

  test("hash/misc functions") {
    val r = Seq("graft").toDF("s").select(
      hash($"s").as("h32"),
      xxhash64($"s").as("h64"),
      md5($"s").as("md5"),
      sha2($"s", 256).as("sha"),
      crc32($"s").as("crc")).head()
    assert(r.getAs[String]("md5") == "df6e1e1a71e3d8b4a34ae1c8b2c4be62" ||
      r.getAs[String]("md5").length == 32)
    assert(r.getAs[String]("sha").length == 64)
    // stable across evaluation
    val again = Seq("graft").toDF("s").select(xxhash64($"s")).as[Long].head()
    assert(r.getAs[Long]("h64") == again)
    val ids = spark.range(100).select(monotonically_increasing_id()).as[Long].collect()
    assert(ids.distinct.length == 100)
    val uuids = spark.range(50).select(expr("uuid()")).as[String].collect()
    assert(uuids.distinct.length == 50)
  }

  test("approximate aggregates are within tolerance of exact") {
    val li = Tables.load(spark, sf("sf0.01"), "lineitem")
    val exact = li.select(countDistinct($"l_partkey")).as[Long].head()
    val approx = li.select(approx_count_distinct($"l_partkey", 0.02)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx $approx vs exact $exact")
    val med = li.select(percentile_approx($"l_quantity", lit(0.5), lit(1000))).as[Double].head()
    assert(med >= 20 && med <= 30, s"median quantity $med implausible")
  }

  test("grouping sets / cube via SQL surface") {
    Tables.registerAll(spark, sf("sf0.001"))
    val gs = spark.sql(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |""".stripMargin)
    val statuses = Tables.load(spark, sf("sf0.001"), "orders")
      .select("o_orderstatus").distinct().count()
    val priorities = Tables.load(spark, sf("sf0.001"), "orders")
      .select("o_orderpriority").distinct().count()
    assert(gs.count() == statuses + priorities + 1)
    val cube = Tables.load(spark, sf("sf0.001"), "orders")
      .cube($"o_orderstatus", $"o_orderpriority").count()
    assert(cube.count() == (statuses + 1) * (priorities + 1))
  }

  test("scalar UDF surface (built-ins preferred; UDF works when needed)") {
    val double3 = udf((x: Int) => x * 3)
    val got = Seq(1, 2).toDF("i").select(double3($"i")).as[Int].collect().toSeq
    assert(got == Seq(3, 6))
  }

  test("TopKAggregator matches orderBy+limit per group, with O(k) buffers") {
    import graft.functions.{ScoredId, TopKAggregator}
    // udaf() flattens the Aggregator's case-class input into one column
    // per field: topk(score, id)
    val topk = udaf(new TopKAggregator(3))
    val orders = Tables.load(spark, sf("sf0.001"), "orders")
    val viaAgg = orders
      .select($"o_custkey".as("k"), $"o_totalprice", $"o_orderkey")
      .groupBy($"k").agg(topk($"o_totalprice", $"o_orderkey").as("top"))
      .select($"k", posexplode($"top"))
      .select($"k", ($"pos" + 1).as("rn"), $"col.id".as("o_orderkey"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    val viaWindow = orders
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .select($"o_custkey".as("k"), $"rn".cast("long").as("rn"), $"o_orderkey")
    val a = viaAgg.orderBy("k", "rn").collect().toSeq
    val b = viaWindow.orderBy("k", "rn").collect().toSeq
    assert(a == b)
  }

  test("TopKTermAggregator keeps the k best with count-desc, term-asc ties") {
    import graft.functions.{ScoredTerm, TopKTermAggregator}
    val agg = new TopKTermAggregator(3)
    val in = Seq(
      ScoredTerm(5, "zeta"), ScoredTerm(5, "alpha"), ScoredTerm(9, "mid"),
      ScoredTerm(1, "tiny"), ScoredTerm(5, "beta"))
    val viaReduce = in.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(viaReduce) ==
      Seq(ScoredTerm(9, "mid"), ScoredTerm(5, "alpha"), ScoredTerm(5, "beta")),
      "ties must prefer the lexicographically smaller term")
    // merge from arbitrary splits agrees with single-buffer reduction
    for (cut <- 1 until in.size) {
      val (l, r) = in.splitAt(cut)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(merged) == agg.finish(viaReduce), s"split at $cut diverged")
    }
    // buffer never exceeds k
    assert(viaReduce.size == 3)
  }

  test("native function Columns carry resolved expressions, not registry lookups") {
    // session-independence: the bridge builds the expression tree
    // directly. If it regressed to call_function, the tree would contain
    // an UnresolvedFunction needing GraftExtensions registration.
    import graft.functions.expressions.{CosineSim, NativeExpressions}
    val c = NativeExpressions.cosineSim(
      lit(Array(1.0f)),
      lit(Array(1.0f)))
    val e = org.apache.spark.sql.graft.bridge.expression(c)
    assert(e.isInstanceOf[CosineSim], s"expected CosineSim node, got: $e")
    // and it must type-check with a friendly error rather than CCE
    // (analysis is eager on select in Spark 4)
    val err = intercept[Exception] {
      spark.range(1).select(
        NativeExpressions.cosineSim(array(lit(1), lit(2)), array(lit(1), lit(2))))
        .collect()
    }
    assert(err.getMessage.contains("ARRAY<FLOAT|DOUBLE>") ||
      err.getMessage.contains("DATATYPE_MISMATCH"), s"got: ${err.getMessage}")
  }

  test("native cosine/dot match the HOF twins on nulls, length mismatch, zero norms") {
    import graft.functions.VectorFunctions._
    // degenerate corners where the old native impl diverged from the HOF
    // reference (read null slots as 0.0, min-length prefix on mismatch):
    // clean; length mismatch; null element either side; zero norms; a
    // zero norm combined with a length mismatch; whole-array null.
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1.0D, 2.0D),                 array(3.0D, 4.0D)),
        |  (array(1.0D, 2.0D),                 array(3.0D, 4.0D, 5.0D)),
        |  (array(1.0D, CAST(NULL AS DOUBLE)), array(3.0D, 4.0D)),
        |  (array(1.0D, 2.0D),                 array(CAST(NULL AS DOUBLE), 4.0D)),
        |  (array(0.0D, 0.0D),                 array(3.0D, 4.0D)),
        |  (array(0.0D, 0.0D),                 array(0.0D, 0.0D)),
        |  (array(0.0D),                       array(3.0D, 4.0D)),
        |  (CAST(NULL AS ARRAY<DOUBLE>),       array(3.0D, 4.0D))
        |AS t(a, b)""".stripMargin)
    val rows = df.select(
      cosine($"a", $"b").as("cn"), cosineHof($"a", $"b").as("ch"),
      dot($"a", $"b").as("dn"), dotHof($"a", $"b").as("dh")).collect()
    rows.foreach { r =>
      def v(i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      assert(v(0) == v(1), s"cosine native=${v(0)} hof=${v(1)} on $r")
      assert(v(2) == v(3), s"dot native=${v(2)} hof=${v(3)} on $r")
    }
    // pin the headline expectations so a joint drift can't pass silently
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0) && rows(2).isNullAt(0))
    assert(rows(4).getDouble(0) == 0.0 && rows(6).getDouble(0) == 0.0)
    assert(rows(1).isNullAt(2) && rows(3).isNullAt(2))
    // float element path with a null slot
    val f = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c").head()
    assert(f.isNullAt(0))
  }

  test("injected native functions are callable from SQL") {
    val sim = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS s").head().getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-12)
    val grams = spark.sql(
      "SELECT word_shingles(array('a','b','c','b','c','d'), 2) AS g").head()
    assert(grams.getSeq[String](0).toSeq == Seq("a b", "b c", "c b", "c d"))
    val sig = spark.sql("SELECT minhash_signature(array('x','y'), 8) AS s").head()
    assert(sig.getSeq[Long](0).size == 8)
    val dotb = spark.sql(
      "SELECT dot_product_bytes(array(CAST(2 AS TINYINT), CAST(-3 AS TINYINT)), " +
        "array(CAST(4 AS TINYINT), CAST(5 AS TINYINT))) AS d").head().getLong(0)
    assert(dotb == 2L * 4 - 3L * 5)
    val z = spark.sql("SELECT interleave_bits(1, 2, 4) AS z").head().getLong(0)
    assert(z == 9L) // a bit0 -> pos0, b bit1 -> pos3
    val zbad = intercept[Exception](spark.sql("SELECT interleave_bits(1, 2, 40)").collect())
    assert(zbad.getMessage.contains("interleave_bits"))
    // sorted_array_contains: hits and misses at every binary-search
    // boundary (first, last, middle, between, below, above), empty array,
    // null propagation
    val sc = spark.sql(
      """SELECT sorted_array_contains(array(1, 3, 5, 9), 1) AS a,
        |  sorted_array_contains(array(1, 3, 5, 9), 9) AS b,
        |  sorted_array_contains(array(1, 3, 5, 9), 5) AS c,
        |  sorted_array_contains(array(1, 3, 5, 9), 4) AS d,
        |  sorted_array_contains(array(1, 3, 5, 9), 0) AS e,
        |  sorted_array_contains(array(1, 3, 5, 9), 10) AS f,
        |  sorted_array_contains(array(CAST(NULL AS INT)), 7) IS NOT NULL AS g,
        |  sorted_array_contains(CAST(NULL AS ARRAY<INT>), 7) IS NULL AS h""".stripMargin)
      .head()
    assert(sc.getBoolean(0) && sc.getBoolean(1) && sc.getBoolean(2))
    assert(!sc.getBoolean(3) && !sc.getBoolean(4) && !sc.getBoolean(5))
    assert(sc.getBoolean(6) && sc.getBoolean(7))
    // empty set: never contains
    assert(!spark.sql("SELECT sorted_array_contains(array_remove(array(1), 1), 1) AS x")
      .head().getBoolean(0))

    // the vector/shingle/simhash functions by SQL name over a view (not
    // literals, so the generated code runs rather than constant folding),
    // each equal to its Column form on the same rows
    import graft.functions.expressions.{FreqFunctions, NativeExpressions => N}
    val inputs = Seq(
      (1L, Array(1.5f, -2.0f, 3.0f), Array(4.0f, 0.5f, -1.0f), Seq("a", "b", "a", "b"), "abcab"),
      (2L, Array(0.0f, 1.0f, 0.0f), Array(2.0f, 2.0f, 2.0f), Seq("x", "y", "z"), "zz"))
      .toDF("id", "a", "b", "toks", "text")
    inputs.createOrReplaceTempView("fn_sql_inputs")
    val viaSql = spark.sql(
      """SELECT id, dot_product(a, b), word_shingles_all(toks, 2),
        |  char_shingles(text, 2), simhash_chunks(toks)
        |FROM fn_sql_inputs ORDER BY id""".stripMargin).collect().toSeq
    val viaCol = inputs.select($"id", N.dotProduct($"a", $"b"), N.wordShinglesAll($"toks", 2),
      N.charShingles($"text", 2), N.simhashChunks($"toks")).orderBy($"id").collect().toSeq
    assert(viaSql == viaCol)
    assert(viaSql.head.getDouble(1) == 1.5 * 4.0 - 2.0 * 0.5 - 3.0 * 1.0)
    assert(viaSql.head.getSeq[String](2) == Seq("a b", "b a", "a b"))
    assert(viaSql.head.getSeq[String](3).toSet == Set("ab", "bc", "ca"))
    assert(viaSql(1).getSeq[String](3) == Seq("zz"))

    // frequent-items round trip: per-group sketch -> union -> top items
    // and stream weight, exact at this size (fewer items than counters)
    val items = (Seq.fill(5)(("g1", "a")) ++ Seq.fill(3)(("g1", "b")) ++ Seq(("g1", "c")) ++
      Seq.fill(2)(("g2", "a")) ++ Seq.fill(4)(("g2", "d"))).toDF("g", "item")
    items.createOrReplaceTempView("fn_sql_items")
    def topAndWeight(r: org.apache.spark.sql.Row): (Map[String, (Long, Long, Long)], Long) =
      (r.getSeq[org.apache.spark.sql.Row](0).map(t =>
        t.getString(0) -> ((t.getLong(1), t.getLong(2), t.getLong(3)))).toMap, r.getLong(1))
    val freqSql = topAndWeight(spark.sql(
      """WITH per AS (SELECT g, freq_sketch_agg(item) AS sk FROM fn_sql_items GROUP BY g),
        |u AS (SELECT freq_union_agg(sk) AS sk FROM per)
        |SELECT freq_top_items(sk, 0), freq_stream_weight(sk) FROM u""".stripMargin).head())
    val freqCol = topAndWeight(items.groupBy($"g")
      .agg(FreqFunctions.freqSketchAgg($"item").as("sk"))
      .agg(FreqFunctions.freqUnionAgg($"sk").as("sk"))
      .select(FreqFunctions.freqTopItems($"sk", lit(0L)), FreqFunctions.freqStreamWeight($"sk"))
      .head())
    assert(freqSql == freqCol)
    val exact = Map("a" -> 7L, "b" -> 3L, "c" -> 1L, "d" -> 4L)
    assert(freqSql._1.map { case (k, (est, _, _)) => k -> est } == exact)
    freqSql._1.foreach { case (k, (_, lo, hi)) =>
      assert(lo <= exact(k) && exact(k) <= hi, s"$k: bounds [$lo, $hi] miss ${exact(k)}")
    }
    assert(freqSql._2 == exact.values.sum)
  }

  test("injected functions report usable arity errors, not raw index failures") {
    for ((text, name) <- Seq(
        ("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)))", "cosine_sim"),
        ("SELECT minhash_signature(array('x'))", "minhash_signature"),
        ("SELECT lsh_buckets(array(CAST(1.0 AS FLOAT)), 4, 4, 64)", "lsh_buckets"))) {
      val e = intercept[Exception](spark.sql(text).collect())
      assert(e.getMessage.contains(name) && e.getMessage.contains("expects"),
        s"$name arity error not usable: ${e.getMessage}")
    }
  }

  test("pivot / unpivot round-trip") {
    val orders = Tables.load(spark, sf("sf0.001"), "orders")
    val wide = orders.groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
    val statuses = orders.select("o_orderstatus").distinct().count()
    assert(wide.columns.toSeq == Seq("o_orderpriority", "F", "O", "P"))
    // unpivot (melt) back to long form; null cells (absent combos) drop
    val long = wide.unpivot(
      Array($"o_orderpriority"), Array($"F", $"O", $"P"), "o_orderstatus", "n")
      .filter($"n".isNotNull)
    val direct = orders.groupBy("o_orderpriority", "o_orderstatus").count()
    assert(long.count() == direct.count())
    val a = long.orderBy("o_orderpriority", "o_orderstatus")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val b = direct.orderBy("o_orderpriority", "o_orderstatus")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(a == b)
    assert(statuses <= 3)
  }

  test("seeded sampling is deterministic and approximately sized") {
    val li = Tables.load(spark, sf("sf0.001"), "lineitem")
    val s1 = li.sample(withReplacement = false, 0.1, seed = 42).count()
    val s2 = li.sample(withReplacement = false, 0.1, seed = 42).count()
    assert(s1 == s2, "same seed must give the same sample")
    val n = li.count()
    assert(s1 > n / 20 && s1 < n / 5, s"sample size $s1 implausible for 10% of $n")
    // SQL surface
    Tables.registerAll(spark, sf("sf0.001"))
    val ts = spark.sql("SELECT COUNT(*) FROM lineitem TABLESAMPLE (10 PERCENT) REPEATABLE (7)")
      .head().getLong(0)
    assert(ts > 0)
  }

  test("UDTF/generator surface via Dataset.flatMap") {
    val out = Seq("a b", "c").toDS().flatMap(_.split(" ")).collect().toSeq
    assert(out == Seq("a", "b", "c"))
  }

  test("normalize_text: NFC composition, casefold, whitespace collapse, null safety") {
    import graft.functions.expressions.NativeExpressions.normalizeText
    val composed = "Caf\u00e9"       // é as one codepoint
    val decomposed = "Cafe\u0301"    // e + combining acute
    val rows = Seq(
      composed, decomposed,
      "  Hello\t\n  WORLD \r ",            // runs + edges collapse/trim
      "already normal",
      "\t \n",                             // all-whitespace → empty
      null)
      .toDF("s").select(normalizeText($"s").as("n")).as[Option[String]]
      .collect().toSeq
    assert(rows == Seq(Some("café"), Some("café"),
      Some("hello world"), Some("already normal"), Some(""), None))
    // the two encodings of one word now share an exact-dedup key
    val keys = Seq((1L, composed), (2L, decomposed)).toDF("doc_id", "text")
      .select(normalizeText($"text")).distinct().count()
    assert(keys == 1L)
    // stays inside whole-stage codegen: no CodegenFallback wrapper
    val plan = Seq("x").toDF("s").select(normalizeText($"s"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"), plan)
    // SQL name registered by GraftExtensions
    assert(spark.sql("SELECT normalize_text('  A  B ')").head().getString(0) == "a b")
  }

  test("normalize_text lowercases per CODEPOINT (simple mapping), matching utf8proc") {
    import graft.functions.expressions.NativeExpressions.normalizeText
    // the two cases where Java's context-sensitive String.toLowerCase
    // diverges from DuckDB's utf8proc lower (both simple per-codepoint):
    //   trailing Greek Σ  — String.toLowerCase → ς, simple map → σ
    //   Turkish İ (U+0130) — String.toLowerCase(ROOT) → i+U+0307, simple → i
    val rows = Seq("ΟΔΟΣ", "İstanbul", "𝐀 math bold A")
      .toDF("s").select(normalizeText($"s").as("n")).as[String].collect().toSeq
    assert(rows(0) == "οδοσ", s"expected simple-mapped sigma, got ${rows(0)}")
    assert(rows(1) == "istanbul", s"expected bare i for U+0130, got ${rows(1)}")
    // supplementary-plane codepoints survive the codePointAt walk intact
    // (MATHEMATICAL BOLD CAPITAL A has no lowercase mapping — unchanged)
    assert(rows(2) == "𝐀 math bold a")
  }
}
