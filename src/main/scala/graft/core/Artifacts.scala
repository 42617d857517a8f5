package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Atomic publish for multi-file index artifacts (BM25 postings+stats,
  * decontamination grams+bloom, verified-pairs sets, IVF codebooks).
  *
  * The failure mode this closes: an index directory holding TWO
  * interdependent artifacts written sequentially (grams then bloom) can
  * be left half-new by a crash between the writes — new grams paired
  * with a stale bloom silently re-admits contamination (false negatives,
  * the one error class the bloom design otherwise rules out). Writing
  * everything under `<path>.staging` and RENAMING the directory into
  * place makes the pair switch together: readers see the old complete
  * index or the new complete index, never a mix.
  *
  * Rename is atomic on HDFS and POSIX filesystems. On object stores
  * (S3A) rename is copy+delete — there the publish is not atomic but
  * still all-or-nothing per artifact pair up to the final swap window;
  * production object-store deployments should front this with a
  * manifest/catalog pointer swap instead.
  *
  * The swap is rename-ASIDE, not delete-then-rename: the previous index
  * moves to `<path>.old` before the staging dir takes its place, so no
  * crash point destroys the only complete copy. A crash between the two
  * renames leaves `<path>` briefly missing with `<path>.old` complete —
  * the next [[publishAtomic]] (or an explicit [[recover]]) restores it,
  * and readers bridge the window READ-ONLY via [[readablePath]].
  *
  * Concurrency contract: publishes to one path are serialized by an
  * in-process lock (same single-writer discipline as the sensor store's
  * upsert lock — all supported writers run on the one driver
  * JVM that owns the artifact). Readers never mutate: an earlier design
  * had the read path call [[recover]], which races an in-flight publish
  * — between the writer's target→aside and staging→target renames a
  * concurrent reader would restore aside back to target, and on
  * HDFS-semantics filesystems (rename moves src INTO an existing dst
  * dir) the writer's final rename would then "succeed" by nesting the
  * new index inside the restored old one: a silent publish loss.
  * [[verifyPublished]] additionally detects that nesting shape and
  * fails loudly instead of reporting a publish that never happened.
  */
object Artifacts {

  /** Per-path publish locks (canonicalized so two spellings of one path
    * share a lock). In-process only: a second JVM publishing the same
    * path is outside the single-writer contract, exactly like the
    * sensor store. */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockFor(path: String): Object =
    publishLocks.computeIfAbsent(
      try new java.io.File(path).getCanonicalPath
      catch { case _: java.io.IOException =>
        new java.io.File(path).toPath.toAbsolutePath.normalize.toString },
      _ => new Object())

  /** Run `write` against a staging directory, then swap it into `path`.
    * Any failure inside `write` leaves the current `path` untouched;
    * a rename failure after the aside-move restores the previous index
    * (and reports whether that restore itself succeeded). */
  def publishAtomic(spark: SparkSession, path: String)(write: String => Unit): Unit =
    lockFor(path).synchronized {
      val target = new Path(path)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val staging = new Path(path + ".staging")
      val aside = new Path(path + ".old")
      recover(spark, path)
      if (fs.exists(staging)) fs.delete(staging, true)
      write(staging.toString)
      // Unique publish marker: snapshotSig fingerprints a publish from
      // its (path, length, mtime) listing, which collides when two
      // byte-identical-size republishes land within the filesystem's
      // mtime granularity. A fresh random basename (underscore-prefixed,
      // so Spark/DuckDB table readers ignore it) makes every publish
      // observably distinct to signature-keyed caches.
      val marker = new Path(staging,
        s"_publish_${java.util.UUID.randomUUID().toString}")
      fs.create(marker, true).close()
      if (fs.exists(aside)) fs.delete(aside, true)
      if (fs.exists(target) && !fs.rename(target, aside))
        throw new java.io.IOException(
          s"publishAtomic: aside-rename $target -> $aside failed")
      if (!fs.rename(staging, target)) {
        // restore the previous index before failing — never leave
        // nothing; a failed restore is part of the diagnosis
        val restored = fs.exists(aside) && fs.rename(aside, target)
        throw new java.io.IOException(
          s"publishAtomic: rename $staging -> $target failed; " +
            (if (restored) s"previous index restored at $target"
             else s"restore of previous index ALSO failed — $target is missing"))
      }
      verifyPublished(fs, target, staging)
      fs.delete(aside, true)
    }

  /** Post-rename layout check: on HDFS-semantics filesystems
    * rename(src, dst) with dst an existing directory moves src INTO
    * dst, returning true while nesting `<path>.staging` inside a
    * resurrected old index — the rename "succeeded" but nothing was
    * published. The nested staging basename is the fingerprint of that
    * shape; detect it (and delete the nested orphan) before the old
    * copy is dropped, so a lost publish throws instead of passing. */
  private def verifyPublished(fs: org.apache.hadoop.fs.FileSystem,
                              target: Path, staging: Path): Unit = {
    val nested = new Path(target, staging.getName)
    if (fs.exists(nested)) {
      fs.delete(nested, true)
      throw new java.io.IOException(
        s"publishAtomic: $staging was nested INSIDE $target instead of replacing it " +
          "(concurrent recreation of the target mid-swap?) — publish did not happen; " +
          "previous index left in place")
    }
    if (!fs.exists(target))
      throw new java.io.IOException(
        s"publishAtomic: $target missing after a successful rename report")
  }

  /** Heal the crash-between-renames window: if `path` is missing but a
    * complete `<path>.old` exists, rename it back. Idempotent; no-op
    * when `path` exists. Returns true if a restore happened; THROWS if
    * a restore was needed and the rename failed (a silent false return
    * here surfaced later as an unrelated 'path does not exist' read
    * error). WRITER-SIDE only — readers use [[readablePath]], which
    * never mutates and therefore cannot race an in-flight publish. */
  def recover(spark: SparkSession, path: String): Boolean =
    lockFor(path).synchronized {
      val target = new Path(path)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val aside = new Path(path + ".old")
      if (!fs.exists(target) && fs.exists(aside)) {
        if (!fs.rename(aside, target))
          throw new java.io.IOException(
            s"recover: rename $aside -> $target failed — artifact unreadable at both paths")
        true
      } else false
    }

  /** The directory a READER should load `path` from right now: `path`
    * itself normally; `<path>.old` during the crash/publish window
    * where the live dir is momentarily aside. Pure lookup, no renames —
    * safe against a concurrent [[publishAtomic]] (the reader sees the
    * previous complete snapshot either way). Resolve ONCE per logical
    * read so multi-part artifacts (codebook + lists) come from the same
    * snapshot. */
  def readablePath(spark: SparkSession, path: String): String = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new Path(path + ".old")
    if (!fs.exists(target) && fs.exists(aside)) aside.toString else path
  }

  /** A snapshot IDENTITY for the artifact readable at `root` right now:
    * the resolved root plus every file's (name, length, mtime) under it,
    * recursively. Each [[publishAtomic]] writes brand-new files into the
    * staging dir before the swap, so the signature changes on EVERY
    * publish even when the resolved root path does not — which is the
    * normal case (`readablePath` returns `path` whenever it exists).
    * Long-lived readers that cache a driver-side piece of a multi-part
    * artifact (e.g. the IVF codebook next to its posting lists) must key
    * the cache on this, not on the path: a path-keyed cache serves STALE
    * centroids against freshly re-read new lists after a mid-stream
    * republish. The `_publish_<uuid>` marker [[publishAtomic]] drops in
    * every snapshot guarantees distinct signatures even for
    * byte-identical republishes inside the filesystem's mtime
    * granularity. One recursive listing per call — cheap at KB-scale
    * artifact roots, and only the metadata is touched. */
  def snapshotSig(spark: SparkSession, root: String): String = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sb = new StringBuilder(root)
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        entries += s"${st.getPath.toUri.getPath}|${st.getLen}|${st.getModificationTime}"
      }
      entries.sorted.foreach { e => sb.append('\n').append(e) }
    }
    sb.toString
  }
}
