package graft

import org.apache.spark.sql.functions._
import graft.core.DeltaIndex
import graft.operators.Dedup

/** Mechanics of the generation-manifest index layout — the one commit
  * protocol of every index artifact: manifest round-trip,
  * commit-collision detection, vacuum retention, and each writer's
  * crash points (inside the data write, before the commit, before the
  * vacuum). */
class DeltaIndexSpec extends SparkSpec {
  import spark.implicits._

  private def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")

  test("manifest renders and parses losslessly; malformed input fails loudly") {
    val m = DeltaIndex.Manifest(7L,
      Map("n" -> "3", "hashGrams" -> "false"),
      Map("grams" -> Vector("grams/g" + "0" * 19, "grams/g" + "0" * 18 + "7"),
        "df" -> Vector("df/g" + "0" * 18 + "7")))
    assert(DeltaIndex.parse(DeltaIndex.render(m)) == m)
    intercept[IllegalArgumentException] { DeltaIndex.parse("gibberish") }
    intercept[IllegalArgumentException] {
      DeltaIndex.parse("gen=1\nwat:x=y\n")
    }
    intercept[IllegalArgumentException] {
      DeltaIndex.parse("param:n=3\n") // no gen line
    }
    // values that would corrupt the line format are refused at render
    intercept[IllegalArgumentException] {
      DeltaIndex.render(DeltaIndex.Manifest(0L, Map("a" -> "b,c"), Map.empty))
    }
  }

  test("committing an already-committed generation fails instead of clobbering") {
    val dir = tempDir("dix_commit").toString
    val m0 = DeltaIndex.Manifest(0L, Map.empty, Map("p" -> Vector("p/g" + "0" * 19)))
    DeltaIndex.commit(spark, dir, m0)
    intercept[java.io.IOException] { DeltaIndex.commit(spark, dir, m0) }
    assert(DeltaIndex.latest(spark, dir) == m0)
    // a missing pinned generation is a loud error too
    intercept[IllegalArgumentException] { DeltaIndex.at(spark, dir, 5L) }
  }

  test("vacuum drops superseded df generations, crashed-append orphans, and old manifests — probes unchanged") {
    val dir = tempDir("dix_vacuum").toString
    val idx = s"$dir/idx"
    val ref = Seq((100L, "en", blk("one")), (101L, "en", blk("two")))
      .toDF("doc_id", "lang", "text")
    Dedup.saveCrossProbeIndex(ref, idx)
    Dedup.appendToCrossProbeIndex(
      Seq((1L, "en", blk("three"))).toDF("doc_id", "lang", "text"), idx)
    Dedup.appendToCrossProbeIndex(
      Seq((2L, "en", blk("four"))).toDF("doc_id", "lang", "text"), idx)
    // plant a crashed append (data dir no manifest references) and an
    // orphan tmp manifest
    val orphan = java.nio.file.Paths.get(s"$idx/grams/g${"9" * 19}")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-0.parquet"),
      "junk".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idx/.manifest_x.tmp.dead"),
      "junk".getBytes("UTF-8"))
    val probe = Seq((9L, "en", blk("three"))).toDF("doc_id", "lang", "text")
    val before = Dedup.crossProbeIndexed(probe, idx, maxDf = 100)
      .collect().map(_.toSeq).toSet
    assert(before.nonEmpty)
    val stats = DeltaIndex.vacuum(spark, idx, keepGenerations = 2)
    // only the planted orphan: df is appendable like grams/sizes since
    // round 20 (deltas merged read-side), so every generation dir
    // survives in the kept manifests
    assert(stats.deletedDirs == 1, stats)
    assert(stats.deletedManifests == 1, stats)
    assert(stats.deletedTmp == 1, stats)
    assert(!java.nio.file.Files.exists(orphan))
    val kept = DeltaIndex.latest(spark, idx)
    assert(kept.dirs("df").head.startsWith(s"df/g${"0" * 19}-") &&
      kept.dirs("grams").head.startsWith(s"grams/g${"0" * 19}-"), kept)
    for (d <- kept.parts.values.flatten)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx/$d")), d)
    val after = Dedup.crossProbeIndexed(probe, idx, maxDf = 100)
      .collect().map(_.toSeq).toSet
    assert(after == before, "vacuum changed probe results")
    // idempotent: nothing left to collect on a second pass
    val again = DeltaIndex.vacuum(spark, idx, keepGenerations = 2)
    assert(again == DeltaIndex.VacuumStats(0, 0, 0, 0), again)
  }

  test("compaction folds many append generations into one — probe results identical, params preserved") {
    val dir = tempDir("dix_compact").toString
    val idx = s"$dir/idx"
    Dedup.saveCrossProbeIndex(
      Seq((100L, "en", blk("one"))).toDF("doc_id", "lang", "text"), idx)
    for (i <- 1 to 3)
      Dedup.appendToCrossProbeIndex(
        Seq((i.toLong, "en", blk(s"tag$i"))).toDF("doc_id", "lang", "text"),
        idx)
    val probe = Seq((9L, "en", blk("tag2"))).toDF("doc_id", "lang", "text")
    val before = Dedup.crossProbeIndexed(probe, idx, maxDf = 100)
      .collect().map(_.toSeq).toSet
    assert(before.nonEmpty)
    assert(DeltaIndex.latest(spark, idx).dirs("grams").length == 4)
    Dedup.compactCrossProbeIndex(spark, idx)
    val m = DeltaIndex.latest(spark, idx)
    // build 0, appends 1-3, compaction 4: numbering never restarts
    assert(m.gen == 4L && m.dirs("grams").length == 1 &&
      m.dirs("sizes").length == 1, m)
    assert(new java.io.File(dir).list().toSeq == Seq("idx"),
      "compaction wrote beside the root")
    assert(m.params("n") == "3" && m.params("hashGrams") == "false", m)
    assert(Dedup.crossProbeIndexed(probe, idx, maxDf = 100)
      .collect().map(_.toSeq).toSet == before,
      "compaction changed probe results")
    // and the compacted index accepts further appends + replay guard
    Dedup.appendToCrossProbeIndex(
      Seq((50L, "en", blk("more"))).toDF("doc_id", "lang", "text"), idx)
    intercept[IllegalArgumentException] {
      Dedup.appendToCrossProbeIndex(
        Seq((1L, "en", blk("tag1"))).toDF("doc_id", "lang", "text"), idx)
    }
  }

  test("compacting a battery root keeps every tier: texts, params, nested sem — the gate still routes") {
    val dir = tempDir("dix_compact_bat").toString
    val idx = s"$dir/idx"
    Dedup.saveAcceptanceIndex(
      Seq((100L, "en", blk("alpha"))).toDF("doc_id", "lang", "text"),
      Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
        .toDF("vec_id", "embedding"),
      idx, k = 2, iters = 1)
    Dedup.appendToAcceptanceIndex(
      Seq((10L, "en", blk("gamma"))).toDF("doc_id", "lang", "text"),
      Seq(10L -> Array(0.7f, 0.71f)).toDF("vec_id", "embedding"), idx)
    Dedup.compactCrossProbeIndex(spark, idx)
    val m = DeltaIndex.latest(spark, idx)
    assert(m.gen == 2L && m.parts.keySet ==
      Set("texts", "grams", "df", "sizes"), m)
    assert(m.parts.values.forall(_.length == 1), m)
    assert(m.params("semGen") == "1", m)
    // exact tier (texts survived), surface tier, and the PINNED sem
    // generation all still fire through the compacted battery
    val cand = Seq(
      (20L, "en", blk("gamma"), Seq(0.5f, -0.87f)),
      (21L, "en", "novel words here", Seq(0.69f, 0.72f)))
      .toDF("doc_id", "lang", "text", "embedding")
    val out = Dedup.acceptanceGateIndexed(cand, idx, tau = 0.9)
      .select($"cand_id", $"exact_ref", $"n_sem", $"verdict")
      .as[(Long, Option[Long], Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(20L) == ((20L, Some(10L), 0L, "reject")), out)
    assert(out(21L) == ((21L, None, 1L, "review")), out)
    // semantic roots refuse this path (their lists are partitioned)
    intercept[IllegalArgumentException] {
      Dedup.compactCrossProbeIndex(spark, s"$idx/sem")
    }
  }

  test("vacuum recurses into nested artifacts (the battery's sem sub-index)") {
    val dir = tempDir("dix_vac_nested").toString
    val idx = s"$dir/idx"
    val ref = Seq((100L, "en", blk("alpha"))).toDF("doc_id", "lang", "text")
    val refVecs = Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    Dedup.saveAcceptanceIndex(ref, refVecs, idx, k = 2, iters = 1)
    Dedup.appendToAcceptanceIndex(
      Seq((10L, "en", blk("gamma"))).toDF("doc_id", "lang", "text"),
      Seq(10L -> Array(0.7f, 0.71f)).toDF("vec_id", "embedding"),
      idx)
    val stats = DeltaIndex.vacuum(spark, idx, keepGenerations = 1)
    assert(stats.nested == 1, stats)
    // both levels retain only their newest manifest, and the gate still
    // sees the whole battery (every appendable dir survived)
    assert(stats.deletedManifests == 1, stats)
    val cand = Seq((20L, "en", blk("gamma"), Seq(0.99f, 0.01f)))
      .toDF("doc_id", "lang", "text", "embedding")
    val out = Dedup.acceptanceGateIndexed(cand, idx, tau = 0.9)
      .select($"cand_id", $"exact_ref", $"verdict")
      .as[(Long, Option[Long], String)].collect().toSeq
    assert(out == Seq((20L, Some(10L), "reject")), out)
  }

  // ------------- crash points of the one commit protocol -------------

  import java.nio.file.Files
  import org.apache.hadoop.fs.Path
  import graft.operators.Similarity

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** One index writer under test: `build` makes the old generation at a
    * root, `op` is the writer, `next` the writer that follows a crash
    * (told whether the crashed one committed), `read` a reader's whole
    * answer with the generation it resolved. `lastPart` is the part the
    * writer fills last, so the data-write crash lands after the earlier
    * parts did; `vacuums` says whether the writer reclaims what a
    * crashed attempt left (appends leave that to [[DeltaIndex.vacuum]]). */
  private case class Writer(build: String => Unit, op: String => Unit,
                            next: (String, Boolean) => Unit,
                            read: String => (Long, Set[Seq[Any]]),
                            lastPart: String, vacuums: Boolean)

  /** Data dirs on disk that no manifest on disk names. */
  private def orphans(root: String): Set[String] = {
    val f = new java.io.File(root)
    val onDisk = f.listFiles().filter(d => d.isDirectory && d.getName != "sem")
      .flatMap(p => Option(p.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("g")).map(g => s"${p.getName}/$g")).toSet
    val named = f.list().filter(_.matches("""manifest_\d{19}\.txt"""))
      .map(n => DeltaIndex.parse(new String(Files.readAllBytes(
        java.nio.file.Paths.get(root, n)), "UTF-8")))
      .flatMap(_.parts.values.flatten).toSet
    onDisk -- named
  }

  /** Crash `w` at each of the three points and check what is left: a
    * reader resolves the old generation or the new one, complete (its
    * whole answer equals one of them exactly), nothing exists beside
    * the root, and the next writer proceeds. */
  private def checkCrashPoints(w: Writer): Unit = {
    val twin = s"${tempDir("dix_twin")}/idx"
    w.build(twin)
    val old = w.read(twin)
    w.op(twin)
    val fresh = w.read(twin)
    assert(fresh != old, "vacuous: the writer changed nothing a reader sees")
    def isManifest(p: Path) = p.getName.matches("""manifest_\d{19}\.txt""")
    val points: Seq[(String, Boolean, String => (CrashFs.Step, Path) => Boolean)] = Seq(
      ("inside the data write", false, root => (s, p) =>
        s == CrashFs.Create && p.toUri.getPath.startsWith(s"$root/") &&
          p.toUri.getPath.contains(s"/${w.lastPart}/") &&
          p.getName.startsWith("part-")),
      ("after the data write, before the commit", false, root => (s, p) =>
        s == CrashFs.Rename && p.getParent.toUri.getPath == root && isManifest(p)),
      ("after the commit, before the vacuum", true, root => (s, p) =>
        s == CrashFs.Renamed && p.getParent.toUri.getPath == root && isManifest(p)))
    for ((point, commits, crashAt) <- points) {
      val parent = tempDir("dix_crash").toString
      val root = s"$parent/idx"
      w.build(root)
      CrashFs.crashing(spark)(crashAt(root))(w.op(root))
      val seen = w.read(root)
      assert(seen == (if (commits) fresh else old),
        s"crash $point: a reader saw $seen; old $old, new $fresh")
      assert(new java.io.File(parent).list().toSeq == Seq("idx"),
        s"crash $point left ${new java.io.File(parent).list().toSeq}")
      w.next(root, commits)
      val after = w.read(root)
      if (commits) assert(after._1 > seen._1, s"crash $point: the next writer did not commit")
      else assert(after == fresh, s"crash $point: the retry read $after, expected $fresh")
      assert(new java.io.File(parent).list().toSeq == Seq("idx"),
        s"after crash $point: ${new java.io.File(parent).list().toSeq}")
      if (w.vacuums)
        assert(orphans(root).isEmpty, s"after crash $point: orphans ${orphans(root)}")
    }
  }

  test("publish: a crash at each step leaves the old or new generation whole, nothing beside the root") {
    // the torn pair publish exists for: decontamination grams + bloom
    val refA = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val refB = Seq((2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val cand = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    checkCrashPoints(Writer(
      build = Dedup.saveDecontamIndex(refA, _),
      op = Dedup.saveDecontamIndex(refB, _),
      next = (root, _) => Dedup.saveDecontamIndex(refB, root),
      read = root => (DeltaIndex.latest(spark, root).gen,
        rows(Dedup.decontaminateWithIndex(cand, root))),
      lastPart = "bloom", vacuums = true))
  }

  test("publish: a lost commit race re-commits at the next generation and the last committer wins") {
    val dir = tempDir("dix_race").toString
    val root = s"$dir/a"
    def put(v: String)(d: String): Unit =
      Seq(v).toDF("v").write.mode("overwrite").parquet(s"$d/t")
    def value() = spark.read.parquet(s"${DeltaIndex.current(spark, root)}/t")
      .as[String].collect().toSeq
    DeltaIndex.publish(spark, root)(put("first"))
    DeltaIndex.publish(spark, root) { d =>
      put("mine")(d)
      // a foreign writer commits generation 1 while this one writes
      val other = DeltaIndex.deltaDir("data", 1L)
      put("theirs")(s"$root/$other")
      DeltaIndex.commit(spark, root,
        DeltaIndex.Manifest(1L, Map.empty, Map("data" -> Vector(other))))
    }
    assert(DeltaIndex.latest(spark, root).gen == 2L)
    assert(value() == Seq("mine"))
    // the vacuum kept only the winner
    assert(new java.io.File(s"$root/data").list().toSeq ==
      Seq(new java.io.File(DeltaIndex.current(spark, root)).getName))
    assert(new java.io.File(dir).list().toSeq == Seq("a"))
  }

  test("append: a crash at each step leaves the old or new generation whole, nothing beside the root") {
    val ref = Seq((100L, "en", blk("one")), (101L, "en", blk("two")))
      .toDF("doc_id", "lang", "text")
    val d1 = Seq((1L, "en", blk("three"))).toDF("doc_id", "lang", "text")
    val d2 = Seq((2L, "en", blk("four"))).toDF("doc_id", "lang", "text")
    val probe = Seq((9L, "en", blk("three")), (8L, "en", blk("four")))
      .toDF("doc_id", "lang", "text")
    checkCrashPoints(Writer(
      build = Dedup.saveCrossProbeIndex(ref, _),
      op = Dedup.appendToCrossProbeIndex(d1, _),
      next = (root, committed) =>
        Dedup.appendToCrossProbeIndex(if (committed) d2 else d1, root),
      read = root => (DeltaIndex.latest(spark, root).gen,
        rows(Dedup.crossProbeIndexed(probe, root, maxDf = 100))),
      lastPart = "sizes", vacuums = false))
  }

  test("compaction: a crash at each step leaves the old or new generation whole, nothing beside the root") {
    val ref = Seq((100L, "en", blk("one")), (101L, "en", blk("two")))
      .toDF("doc_id", "lang", "text")
    val probe = Seq((9L, "en", blk("three")), (8L, "en", blk("one")))
      .toDF("doc_id", "lang", "text")
    checkCrashPoints(Writer(
      build = { root =>
        Dedup.saveCrossProbeIndex(ref, root)
        for (i <- 1 to 2)
          Dedup.appendToCrossProbeIndex(
            Seq((i.toLong, "en", blk(Seq("three", "four")(i - 1))))
              .toDF("doc_id", "lang", "text"), root)
      },
      op = Dedup.compactCrossProbeIndex(spark, _),
      next = (root, _) => Dedup.compactCrossProbeIndex(spark, root),
      // the dir count tells the compacted generation from the old one
      read = { root =>
        val m = DeltaIndex.latest(spark, root)
        (m.gen, rows(Dedup.crossProbeIndexed(probe, root, maxDf = 100)) +
          Seq(m.dirs("grams").length))
      },
      lastPart = "sizes", vacuums = true))
  }

  test("semantic rebuild: a crash at each step leaves the old or new generation whole, nothing beside the root") {
    // the x178 geometry: the refit with k=3 co-clusters the paraphrase
    val ref = Seq(
      0L -> Array(1f, 0f), 2L -> Array(1f, 0.01f), 4L -> Array(1f, -0.01f),
      1L -> Array(0f, 1f), 3L -> Array(0.01f, 1f), 5L -> Array(-0.01f, 1f)
    ).toDF("vec_id", "embedding")
    val d1 = Seq(10L -> Array(0.64279f, 0.76604f),
      11L -> Array(0.643f, 0.766f), 12L -> Array(0.6428f, 0.766f))
      .toDF("vec_id", "embedding")
    val cand = Seq(100L -> Array(0.75471f, 0.65606f)).toDF("vec_id", "embedding")
    checkCrashPoints(Writer(
      build = { root =>
        Similarity.saveSemRefIndex(ref, root, k = 2, iters = 1)
        Similarity.appendToSemRefIndex(d1, root)
      },
      op = Similarity.rebuildSemRefIndex(spark, _, k = 3, iters = 2),
      next = (root, _) => Similarity.rebuildSemRefIndex(spark, root, k = 3, iters = 2),
      read = root => (DeltaIndex.latest(spark, root).gen,
        rows(Similarity.semProbeAgainst(cand, root, tau = 0.98)
          .select($"cand_id", $"n_dups", $"keep"))),
      lastPart = "ids", vacuums = true))
  }
}
