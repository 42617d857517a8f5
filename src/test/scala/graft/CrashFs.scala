package graft

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem with one armed crash point. While
  * [[CrashFs.crashing]] runs, the first create or rename its predicate
  * matches throws — before a file is created, before a rename, or just
  * after a rename — leaving the files exactly as a process death at
  * that step would. Driver and executor threads share the JVM in local
  * mode, so the crash fires inside Spark write tasks too. */
class CrashFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CrashFs.check(CrashFs.Create, f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.check(CrashFs.Rename, dst)
    val ok = super.rename(src, dst)
    if (ok) CrashFs.check(CrashFs.Renamed, dst)
    ok
  }
}

object CrashFs {
  sealed trait Step
  /** Before a file is created. */
  case object Create extends Step
  /** Before a rename to the given destination. */
  case object Rename extends Step
  /** Right after a rename to the given destination succeeded. */
  case object Renamed extends Step

  private val Marker = "CrashFs: simulated crash"

  @volatile private var when: (Step, Path) => Boolean = (_, _) => false
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(true)

  private def check(step: Step, p: Path): Unit =
    if (when(step, p) && fired.compareAndSet(false, true))
      throw new RuntimeException(s"$Marker at $step $p")

  /** Run `body` with `file:` paths served by CrashFs and the crash
    * armed at the first (step, path) `crashWhen` matches. Asserts the
    * crash fired and that `body` failed because of it. The filesystem
    * cache is off for the block, so every lookup gets a CrashFs. The
    * swap is made on the shared session's Hadoop conf, so it reaches
    * every `file:` access in the JVM while the block runs; that is safe
    * because suites run one after another (see [[SparkSpec]]), provided
    * the calling test leaves no streaming query of its own running. */
  def crashing(spark: SparkSession)(crashWhen: (Step, Path) => Boolean)
              (body: => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Option(conf.get("fs.file.impl"))
    conf.set("fs.file.impl", classOf[CrashFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    when = crashWhen
    fired.set(false)
    val failure =
      try { body; None }
      catch { case scala.util.control.NonFatal(e) => Some(e) }
      finally {
        when = (_, _) => false
        fired.set(true)
        saved.fold(conf.unset("fs.file.impl"))(conf.set("fs.file.impl", _))
        conf.unset("fs.file.impl.disable.cache")
      }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    failure match {
      case Some(e) if chain(e).exists(t => Option(t.getMessage).exists(_.contains(Marker))) => ()
      case Some(e) => throw new AssertionError("failed, but not at the armed crash", e)
      case None => throw new AssertionError("the armed crash never fired")
    }
  }
}
