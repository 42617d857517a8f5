package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.pipeline.SensorPipeline

/** Property-based invariants (SURVEY.md §5.2 item 2): rename round-trip,
  * strict-arity rejection, dedup idempotence/winner-selection — checked
  * over generated inputs, driven through the real Spark operators. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampler: ScalaCheck generators driven by fixed seeds
    * (the scalatest bridge artifact is not on the offline classpath). */
  private def forAllSamples[T](gen: Gen[T], n: Int = 12)(f: T => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach(f)
    }

  private val wireKeys =
    Seq("id", "uptime", "T", "P", "H", "Ix", "Iy", "Iz", "M", "time_received", "seq")

  private def jsonOf(fields: Map[String, String]): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def record(id: Int, sec: Int, seq: Long, extra: Map[String, String] = Map.empty,
                     drop: Set[String] = Set.empty): String = {
    val base = Map(
      "id" -> id.toString, "uptime" -> "1", "T" -> "20", "P" -> "1000", "H" -> "50",
      "Ix" -> "0", "Iy" -> "0", "Iz" -> "0", "M" -> "1",
      "time_received" -> f""""2024-03-01T10:00:$sec%02d"""", "seq" -> seq.toString)
    jsonOf(base -- drop ++ extra)
  }

  test("property: word_shingles_all equals the positional HOF composition") {
    val tokGen = Gen.listOfN(12, Gen.oneOf("a", "bb", "ccc", "dd", "e"))
      .flatMap(l => Gen.choose(0, 12).map(l.take))
    forAllSamples(Gen.zip(tokGen, Gen.choose(1, 5))) { case (toks, n) =>
      val df = Seq(toks).toDF("w")
      val native = df.select(graft.functions.expressions.NativeExpressions
        .wordShinglesAll(col("w"), n)).as[Seq[String]].head()
      val expected = toks.sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toSeq
      assert(native == expected, s"toks=$toks n=$n")
    }
  }

  test("property: dot_product_bytes equals the BigInt fold on random codes") {
    val byteGen = Gen.choose(-127, 127).map(_.toByte)
    val vecGen = Gen.choose(0, 16).flatMap(len => Gen.listOfN(len, byteGen))
    forAllSamples(Gen.zip(vecGen, vecGen)) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val got = df.select(graft.functions.expressions.NativeExpressions
        .dotProductBytes(col("a"), col("b"))).collect()(0)
      if (a.length != b.length) assert(got.isNullAt(0), s"a=$a b=$b")
      else {
        val expected = a.zip(b).map { case (x, y) => x.toLong * y.toLong }.sum
        assert(!got.isNullAt(0) && got.getLong(0) == expected, s"a=$a b=$b")
      }
    }
  }

  test("property: interleave_bits round-trips both operands (bit de-interleave)") {
    val bits = 12
    val ordGen = Gen.choose(0, (1 << bits) - 1)
    forAllSamples(Gen.zip(ordGen, ordGen)) { case (x, y) =>
      val z = Seq((x, y)).toDF("a", "b")
        .select(graft.functions.expressions.NativeExpressions
          .interleaveBits(col("a"), col("b"), bits)).as[Long].head()
      def extract(offset: Int): Int =
        (0 until bits).map(i => (((z >> (2 * i + offset)) & 1L) << i).toInt).sum
      assert(extract(0) == x && extract(1) == y, s"x=$x y=$y z=$z")
    }
  }

  test("property: parseStrict accepts exactly the 11-key records") {
    val dropGen = Gen.oneOf(wireKeys)
    val extraGen = Gen.alphaLowerStr.suchThat(s => s.nonEmpty && !wireKeys.contains(s))
    val tupleGen = for {
      id <- Gen.choose(100, 139); sec <- Gen.choose(0, 59)
      dropKey <- dropGen; extraKey <- extraGen
    } yield (id, sec, dropKey, extraKey)
    forAllSamples(tupleGen) { case (id, sec, dropKey, extraKey) =>
        val good = record(id, sec, 1)
        val missing = record(id, sec, 1, drop = Set(dropKey))
        val extra = record(id, sec, 1, extra = Map(extraKey -> "9"))
        val parsed = SensorPipeline.parseStrict(
          Seq(good, missing, extra).toDF("value"))
        val v = parsed.select("_violation").as[Option[String]].collect()
        assert(v(0).isEmpty, s"clean record rejected: ${v(0)}")
        assert(v(1).nonEmpty, s"missing $dropKey accepted")
        assert(v(2).nonEmpty, s"extra $extraKey accepted")
    }
  }

  test("property: rename round-trips (wire -> storage -> wire)") {
    // renameToStorage is a bijection on the wire columns
    val storageToWire = SensorPipeline.wireToStorage.map(_.swap).toMap
    assert(SensorPipeline.wireToStorage.map(_._2).distinct.size ==
      SensorPipeline.wireToStorage.size)
    val idSec = for { id <- Gen.choose(100, 139); sec <- Gen.choose(0, 59) } yield (id, sec)
    forAllSamples(idSec, n = 6) { case (id, sec) =>
      val (clean, _) = SensorPipeline.quarantine(
        SensorPipeline.parseStrict(Seq(record(id, sec, 7)).toDF("value")))
      val enriched = clean.withColumn("sensor_group", lit("g1"))
      val stored = SensorPipeline.renameToStorage(enriched)
      val back = stored.select(
        storageToWire.toSeq.map { case (s, w) => col(s).as(w) }: _*)
      val orig = clean.select(back.columns.map(col): _*)
      assert(back.collect().toSeq == orig.collect().toSeq)
    }
  }

  test("property: dedupLastWins keeps exactly the max-seq row per PK and is idempotent") {
    val gen = Gen.listOfN(30, for {
      sensor <- Gen.choose(1, 4)
      sec <- Gen.choose(0, 2)
      seq <- Gen.choose(0L, 1000L)
      temp <- Gen.choose(-40, 60)
    } yield (s"g${sensor % 2}", sensor, f"2024-03-01 10:00:$sec%02d", temp, seq))
    forAllSamples(gen, n = 8) { rows0 =>
      // drop (PK, seq) collisions so the winner is well-defined
      val rows: List[(String, Int, String, Int, Long)] =
        rows0.distinctBy(r => (r._1, r._2, r._3, r._5))
      val df = rows.toDF("sensor_group", "sensor_id", "ts", "temperature", "seq")
        .withColumn("time_received", col("ts").cast("timestamp")).drop("ts")
      val out = SensorPipeline.dedupLastWins(df)
      // model: per PK, the row with the highest seq wins
      val expect = rows.groupBy(r => (r._1, r._2, r._3))
        .map { case (k, vs) => k -> vs.maxBy(_._5)._4 }
      val got = out.select($"sensor_group", $"sensor_id",
        date_format($"time_received", "yyyy-MM-dd HH:mm:ss"), $"temperature")
        .as[(String, Int, String, Int)].collect()
        .map(r => ((r._1, r._2, r._3), r._4)).toMap
      assert(got == expect)
      // idempotent
      val again = SensorPipeline.dedupLastWins(out.withColumn("seq", lit(0L)))
      assert(again.count() == out.count())
    }
  }

  test("property: hashed-key exact dedup equals raw-text grouping on adversarial strings") {
    // x44's identity must hold beyond the corpus: empty strings, shared
    // prefixes, multi-byte unicode (length() counts CHARS, xxhash64 runs
    // over UTF-8 BYTES — two docs equal in one and not the other is
    // exactly what the composite key must separate), and planted exact
    // duplicates across doc_ids.
    val textGen = Gen.oneOf(
      Gen.const(""),
      Gen.listOfN(6, Gen.oneOf("a", "ab", "aba", "日本", "é", " ", " x"))
        .map(_.mkString),
      Gen.alphaStr.map(_.take(12)))
    val gen = Gen.listOfN(24, textGen)
    forAllSamples(gen, n = 8) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def rows(hashed: Boolean): Seq[(Long, Long)] =
        graft.operators.Dedup.exactDedup(docs, hashContent = hashed)
          .as[(Long, Long)].collect().sorted.toSeq
      assert(rows(true) == rows(false), s"texts=$texts")
    }
  }

  /** Driver-side twin of Sampling.hashBucket: md5("key:salt") first 8
    * hex chars as a long — the independent reimplementation the
    * upsample property compares the engine against. */
  private def bucketOf(key: String, salt: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$key:$salt".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(8), 16)
  }

  test("property: upsampleEpochs equals the arithmetic recomputed from first principles") {
    // arbitrary fractional epoch weights in [0, 3): the engine's
    // (doc, copy) multiset must equal an independent driver-side
    // recompute of floor(w) + (md5 bucket < frac(w) * 2^32)
    val wGen = Gen.choose(0, 2999).map(_ / 1000.0)
    forAllSamples(Gen.zip(wGen, wGen), n = 8) { case (w0, w1) =>
      val weights = Map("s0" -> w0, "s1" -> w1)
      val d = spark.range(300).select($"id".as("doc_id"),
        concat(lit("s"), ($"id" % 2).cast("string")).as("source"))
      val got = graft.operators.Sampling
        .upsampleEpochs(d, $"doc_id", "prop", weights)
        .select($"doc_id", $"copy").as[(Long, Long)].collect().toSet
      val expected = (0L until 300L).flatMap { id =>
        val w = weights(s"s${id % 2}")
        val frac = w - math.floor(w)
        val extra = if (bucketOf(id.toString, "prop") < frac * 4294967296.0) 1 else 0
        (0L until (math.floor(w).toLong + extra)).map(c => (id, c))
      }.toSet
      assert(got == expected, s"w0=$w0 w1=$w1")
    }
  }

  test("property: tfIdfTopK equals a from-scratch reimplementation on random corpora") {
    val docGen = Gen.listOfN(8, Gen.oneOf("ant", "bee", "cat", "dog", "elk", "fox"))
      .map(_.mkString(" "))
    forAllSamples(Gen.listOfN(6, docGen), n = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val k = 3
      val got = graft.operators.TextAnalysis.tfIdfTopK(docs, k)
        .select($"doc_id", $"rank", $"term", $"tf", $"df", $"score")
        .as[(Long, Int, String, Long, Long, Double)].collect().toSet
      // independent recompute: same rounding discipline (HALF_UP at 6
      // decimals), same (score desc, term asc) rank order
      val n = texts.size
      val tf = texts.zipWithIndex.flatMap { case (t, i) =>
        t.split(" ").filter(_.nonEmpty).groupBy(identity)
          .map { case (term, hits) => (i.toLong, term, hits.length.toLong) }
      }
      val df = tf.groupBy(_._2).map { case (term, rs) => term -> rs.size.toLong }
      val expected = tf.map { case (id, term, f) =>
        val score = BigDecimal(f * math.log(n.toDouble / df(term)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, term, f, df(term), score)
      }.groupBy(_._1).flatMap { case (id, rs) =>
        rs.sortBy(r => (-r._5, r._2)).take(k).zipWithIndex.map {
          case ((_, term, f, d, s), i) => (id, i + 1, term, f, d, s)
        }
      }.toSet
      assert(got == expected, s"texts=$texts")
    }
  }

  test("property: prefixSum equals a from-scratch per-group scan on random data") {
    val rowGen = Gen.listOfN(40,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0L, 50L)))
    forAllSamples(rowGen, n = 8) { rows =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (i.toLong, g, v) }
        .toDF("id", "g", "v").repartition(5)
      val got = graft.operators.Sampling
        .prefixSum(df, Seq("g"), Seq($"id"), "v", "cum", numPartitions = 4)
        .select($"id", $"cum").as[(Long, Long)].collect().toMap
      val expected = rows.zipWithIndex
        .map { case ((g, v), i) => (i.toLong, g, v) }
        .groupBy(_._2).values.flatMap { grp =>
          grp.sortBy(_._1).scanLeft((0L, 0L)) { case ((_, acc), (id, _, v)) =>
            (id, acc + v)
          }.tail
        }.toMap
      assert(got == expected, s"rows=$rows")
    }
  }

  test("property: binned interval count equals brute force on random intervals/points") {
    def day(n: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(9000L + n))
    val ivGen = Gen.listOfN(10,
      Gen.zip(Gen.choose(0, 80), Gen.choose(0, 15)))
    val ptGen = Gen.listOfN(25, Gen.choose(0, 95))
    forAllSamples(Gen.zip(ivGen, ptGen, Gen.choose(1, 20)), n = 8) {
      case (ivs, pts, binDays) =>
        val iv = ivs.zipWithIndex
          .map { case ((s, len), i) => (i.toLong, day(s), day(s + len)) }
          .toDF("id", "d0", "d1")
        val p = pts.map(d => Tuple1(day(d))).toDF("d")
        val got = graft.operators.IntervalJoin.pointInIntervalCount(iv, p, binDays)
          .as[(Long, Long)].collect().toMap
        val expected = ivs.zipWithIndex.map { case ((s, len), i) =>
          i.toLong -> pts.count(d => d >= s && d <= s + len).toLong
        }.toMap
        assert(got == expected, s"ivs=$ivs pts=$pts binDays=$binDays")
    }
  }

  test("property: SNM pairs equal a from-scratch recompute on random corpora") {
    val docGen = Gen.listOfN(10, Gen.oneOf("ant", "bee", "cat", "dog"))
      .map(_.mkString(" "))
    forAllSamples(Gen.zip(Gen.listOfN(12, docGen), Gen.choose(2, 5)), n = 6) {
      case (texts, w) =>
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val got = graft.operators.Dedup.sortedNeighborhoodPairs(docs, w)
          .select($"d1", $"d2", $"inter", $"uni")
          .as[(Long, Long, Int, Int)].collect().toSet
        // from scratch: texts are already normal (lowercase, single
        // spaces), so the sort key is the text itself
        val ranked = texts.zipWithIndex.map { case (t, i) => (t, i.toLong) }
          .sorted.map(_._2).zipWithIndex.map { case (id, r) => (r, id) }
        def shingles(t: String) =
          t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
            .map(_.mkString(" ")).toSet
        val expected = (for {
          (ra, ida) <- ranked
          (rb, idb) <- ranked
          if rb > ra && rb - ra <= w - 1
          sa = shingles(texts(ida.toInt))
          sb = shingles(texts(idb.toInt))
          if sa.nonEmpty && sb.nonEmpty
          inter = (sa intersect sb).size
          uni = (sa union sb).size
          if 2 * inter >= uni
        } yield (math.min(ida, idb), math.max(ida, idb), inter, uni)).toSet
        assert(got == expected, s"texts=$texts w=$w")
    }
  }

  test("property: winsorize equals a from-scratch recompute on random groups") {
    def dec4(d: Double) =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    // Spark `percentile`: index p*(n-1), linear interpolation over the
    // sorted doubles — recomputed here, then the same DECIMAL(18,4) image
    def pct(sorted: Vector[Double], p: Double): BigDecimal = {
      val pos = p * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      dec4(sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo)))
    }
    val grpGen = Gen.listOfN(30,
      Gen.zip(Gen.oneOf("g1", "g2"), Gen.choose(-100.0, 100.0)))
    forAllSamples(grpGen, n = 8) { rows =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (i.toLong, g, v) }.toDF("id", "grp", "value")
      val got = graft.operators.Analytics
        .winsorize(df, Seq("grp"), "value", 0.1, 0.9)
        .select($"grp", $"n", $"n_lo", $"n_hi", $"sum_w")
        .as[(String, Long, Long, Long, Double)].collect()
        .map { case (g, n, l, h, s) => g -> ((n, l, h, s)) }.toMap
      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        val vs = rs.map(_._2).sorted.toVector
        val (pLo, pHi) = (pct(vs, 0.1), pct(vs, 0.9))
        val decs = vs.map(dec4)
        val sumW = decs.map(d => d.max(pLo).min(pHi)).sum
        g -> ((vs.length.toLong, decs.count(_ < pLo).toLong,
          decs.count(_ > pHi).toLong, sumW.toDouble))
      }
      assert(got == expected, s"rows=$rows")
    }
  }

  test("property: scd2Merge equals the from-scratch rebuild at every batch boundary") {
    // random logs: few keys, few attr values (nulls included) so runs
    // collapse and change; ts strictly increasing per row index (the
    // append contract holds for ANY prefix/suffix cut)
    val logGen = Gen.listOfN(24,
      Gen.zip(Gen.choose(1L, 3L), Gen.oneOf(Some("a"), Some("b"), None)))
    forAllSamples(Gen.zip(logGen, Gen.choose(1, 23)), n = 10) { case (rows, cut) =>
      val all = rows.zipWithIndex.map { case ((k, a), i) =>
        (k, a, new java.sql.Timestamp(1700000000000L + i * 60000L), i.toLong)
      }
      val (oldL, newL) = all.splitAt(cut)
      val oldDf = oldL.toDF("k", "attr", "ts", "tb")
      val newDf = newL.toDF("k", "attr", "ts", "tb")
      def rows6(df: org.apache.spark.sql.DataFrame) = df
        .select($"k", $"attr", $"effective_from", $"effective_to",
          $"version", $"is_current")
        .as[(Long, Option[String], java.sql.Timestamp,
          Option[java.sql.Timestamp], Long, Boolean)].collect().toSet
      val merged = graft.operators.Analytics.scd2Merge(
        graft.operators.Analytics.scd2Build(oldDf, Seq("k"), "attr", "ts", "tb"),
        newDf, Seq("k"), "attr", "ts", "tb")
      val rebuilt = graft.operators.Analytics
        .scd2Build(all.toDF("k", "attr", "ts", "tb"), Seq("k"), "attr", "ts", "tb")
      assert(rows6(merged) == rows6(rebuilt), s"cut=$cut rows=$rows")
    }
  }

  test("property: the incremental cross probe (disk index) equals batch x169 on random corpora") {
    import graft.operators.Dedup
    // tiny vocabulary forces heavy gram sharing, so the df prune
    // (maxDf = 8), the minInter miner AND the Jaccard accept all see
    // both branches across samples; the random ref/cand split exercises
    // arbitrary index shapes including empty-overlap ones
    val docGen = for {
      len <- Gen.choose(5, 10)
      ws <- Gen.listOfN(len, Gen.oneOf("red", "blue", "green", "gold",
        "pink", "teal", "onyx", "jade"))
      lang <- Gen.oneOf("en", "fr")
      ref <- Gen.oneOf(true, false)
    } yield (ws.mkString(" "), lang, ref)
    var nonTrivial = 0
    forAllSamples(Gen.choose(8, 14).flatMap(Gen.listOfN(_, docGen)), n = 6) { docs =>
      val rows = docs.zipWithIndex.map { case ((t, l, r), i) =>
        // every 4th doc is a one-word-appended near-copy of doc 0 (its
        // ref flag stays random), so accepted pairs exist and often
        // straddle the split — the rest of the corpus stays random soup
        if (i > 0 && i % 4 == 0)
          (i.toLong, docs.head._2, docs.head._1 + " extraword", r)
        else (i.toLong, l, t, r)
      }
      if (rows.exists(_._4) && rows.exists(!_._4)) {
        val cand = rows.filterNot(_._4).map(r => (r._1, r._2, r._3))
          .toDF("doc_id", "lang", "text")
        val ref = rows.filter(_._4).map(r => (r._1, r._2, r._3))
          .toDF("doc_id", "lang", "text")
        val batch = Dedup.crossNearDupProbe(cand, ref, maxDf = 8)
          .as[(Long, Long, Long, Long)].collect().toSet
        val dir = tempDir("xprop").toString
        Dedup.saveCrossProbeIndex(ref, s"$dir/idx")
        val incr = Dedup.crossProbeIndexed(cand, s"$dir/idx", maxDf = 8)
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(incr == batch,
          s"docs=$rows\nmissing: ${batch -- incr}; extra: ${incr -- batch}")
        if (batch.nonEmpty) nonTrivial += 1
      }
    }
    assert(nonTrivial > 0, "every sample degenerated to zero pairs — weak generator")
  }

  test("property: O(delta) appends equal a full rebuild on random corpora and splits") {
    import graft.operators.Dedup
    // the same tiny-vocabulary soup as the incremental-probe property,
    // with the REFERENCE side further split into a base build plus up
    // to two appended deliveries — arbitrary delta shapes including
    // empty and fully-overlapping-gram ones; the appended index must
    // probe exactly like an index rebuilt over the whole reference
    val docGen = for {
      len <- Gen.choose(5, 10)
      ws <- Gen.listOfN(len, Gen.oneOf("red", "blue", "green", "gold",
        "pink", "teal", "onyx", "jade"))
      lang <- Gen.oneOf("en", "fr")
      part <- Gen.choose(0, 3) // 0 = candidate; 1..3 = base/d1/d2
    } yield (ws.mkString(" "), lang, part)
    var nonTrivial = 0
    forAllSamples(Gen.choose(10, 16).flatMap(Gen.listOfN(_, docGen)), n = 6) { docs =>
      val rows = docs.zipWithIndex.map { case ((t, l, p), i) =>
        if (i > 0 && i % 4 == 0)
          (i.toLong, docs.head._2, docs.head._1 + " extraword", p)
        else (i.toLong, l, t, p)
      }
      def side(p: Int) = rows.filter(_._4 == p).map(r => (r._1, r._2, r._3))
        .toDF("doc_id", "lang", "text")
      if (rows.exists(_._4 == 0) && rows.exists(_._4 == 1)) {
        val cand = side(0)
        val dir = tempDir("xapp_prop").toString
        Dedup.saveCrossProbeIndex(side(1), s"$dir/idx")
        for (p <- 2 to 3 if rows.exists(_._4 == p))
          Dedup.appendToCrossProbeIndex(side(p), s"$dir/idx")
        val viaAppend = Dedup.crossProbeIndexed(cand, s"$dir/idx", maxDf = 8)
          .as[(Long, Long, Long, Long)].collect().toSet
        val ref = rows.filter(_._4 > 0).map(r => (r._1, r._2, r._3))
          .toDF("doc_id", "lang", "text")
        val batch = Dedup.crossNearDupProbe(cand, ref, maxDf = 8)
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(viaAppend == batch,
          s"docs=$rows\nmissing: ${batch -- viaAppend}; extra: ${viaAppend -- batch}")
        if (batch.nonEmpty) nonTrivial += 1
      }
    }
    assert(nonTrivial > 0, "every sample degenerated to zero pairs — weak generator")
  }

  test("property: the semantic probe through the persisted index equals the in-run fit on random embeddings") {
    import graft.operators.Similarity
    // random 3-d float vectors, random reference/candidate split: the
    // float->parquet->float round trip, the codebook collect, and the
    // partitioned-lists read must all be lossless — any drift breaks
    // the verdict equality (n_dups, keep, best match, best cosine)
    val vecGen = Gen.listOfN(3, Gen.choose(-100, 100).map(_ / 37.0f))
    val rowGen = Gen.zip(vecGen, Gen.oneOf(true, false))
    var nonTrivial = 0
    forAllSamples(Gen.choose(8, 14).flatMap(Gen.listOfN(_, rowGen)), n = 6) { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((v, r), i) => (i.toLong, v, r) }
      if (rows.count(_._3) >= 2 && rows.exists(!_._3)) {
        val ref = rows.filter(_._3).map(r => (r._1, r._2))
          .toDF("vec_id", "embedding")
        val cand = rows.filterNot(_._3).map(r => (r._1, r._2))
          .toDF("vec_id", "embedding")
        val batch = Similarity.crossSemProbe(cand, ref, k = 2, iters = 1)
          .collect().map(_.toSeq).toSet
        val dir = tempDir("semprop").toString
        Similarity.saveSemRefIndex(ref, s"$dir/idx", k = 2, iters = 1)
        val viaIdx = Similarity.semProbeAgainst(cand, s"$dir/idx")
          .collect().map(_.toSeq).toSet
        assert(viaIdx == batch,
          s"rows=$rows\nmissing: ${batch -- viaIdx}; extra: ${viaIdx -- batch}")
        if (batch.exists(r => r(2).asInstanceOf[Long] > 0L)) nonTrivial += 1
      }
    }
    assert(nonTrivial > 0, "every sample degenerated to zero hits — weak generator")
  }
}
