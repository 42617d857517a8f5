package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession for the whole JVM test run.
  *
  * Suites run ONE AFTER ANOTHER: `Test / fork := true` runs every suite
  * in one forked JVM, and sbt runs forked suites sequentially unless
  * `testForkedParallel` is set (it is not). Tests inside a suite run in
  * order too. What does run concurrently is the work a test leaves
  * behind on Spark's own threads — a streaming query it started and did
  * not stop keeps running into the next tests. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp dir, deleted with everything in it when the suite ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  // cleanup, not a check: a dir that cannot be deleted is reported, and
  // the suite's result stands
  override def afterAll(): Unit =
    try tempDirs.forEach { d =>
      try graft.core.Fs.deleteRecursively(d.toFile)
      catch { case e: java.io.IOException => System.err.println(s"[spec] kept $d: $e") }
    } finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.builder("graft-test", Some("local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      // transformWithState needs the RocksDB state store provider, and
      // some specs start such queries without setting it themselves
      // (x91's novelty gate in ExtrasSpec): a session-wide default keeps
      // them independent of which test ran before, and makes the
      // per-test save/restore blocks in StreamingOpsSpec no-ops.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
