package graft

import java.nio.file.{Files, Paths}

/** The correctness dump's failure contract (round-5 post-mortem): a
  * query that cannot run must still leave a READABLE parquet result dir
  * (an error marker that can never match an oracle) plus a status row —
  * so a driver-side comparator that iterates the oracle keys and opens
  * each dir degrades to per-query FAILs, never to a crashed loop and an
  * empty round record.
  */
class VerifySpec extends SparkSpec {

  test("Verify leaves readable error markers and full status when the corpus is broken") {
    // a corpus with ONLY region.parquet: every sf-reading query fails at
    // load; q20 (committed fixtures) still passes — both paths exercised
    val corpus = tempDir("verify-broken")
    Files.copy(Paths.get(sf("sf0.001"), "region.parquet"),
      corpus.resolve("region.parquet"))
    val out = tempDir("verify-out").toString

    Verify.run(spark, corpus.toString, out)

    // oracle map written up front
    assert(Files.exists(Paths.get(out, "oracle_sql.json")))
    // every query key has a readable parquet dir — result or marker
    SparkEntry.queries.keys.foreach { name =>
      val df = spark.read.parquet(s"$out/$name")
      if (name == "q20_sensor_pipeline")
        assert(!df.columns.contains("_verify_error") && df.count() > 0,
          s"$name should have genuinely run")
      else {
        assert(df.columns.toSeq == Seq("_verify_error"),
          s"$name should carry the error marker, got ${df.columns.toSeq}")
        assert(df.count() == 1)
      }
    }
    // status carries one terminal row per query, none left "running"
    val status = Files.readString(Paths.get(out, "_status.json"))
    SparkEntry.queries.keys.foreach { name =>
      assert(status.contains("\"" + name + "\""), s"$name missing from status")
    }
    assert(!status.contains("\"running\""), "no query may end in 'running'")
  }
}
