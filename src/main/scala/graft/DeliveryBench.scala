package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delivery-loop benchmark (VERDICT r19 ask 2): price the composed
  * curation loop end-to-end at the bench scale factor — build the
  * acceptance battery on a reference slice of `documents`, then run N
  * sequential vendor deliveries through [[graft.operators.Dedup
  * .processDelivery]] (gate → drift check → O(delta) append → ledger),
  * recording per-delivery wall seconds and bytes written.
  *
  * What the record proves: the x175 O(delta) claim at measurement
  * grain. Appends write delta dirs plus one manifest rename, so
  * per-delivery cost and bytes must stay FLAT as the index grows —
  * per-delivery growth is the only way the generation-manifest design
  * can silently rot (each delivery here is same-sized by construction,
  * so the flat line is directly readable). Probe cost (the gate) reads
  * the whole index once per delivery; that part grows with index
  * content, not with generation count, and compaction (exercised by
  * its own spec, disabled here so the append line stays pure) bounds
  * the file-count side.
  */
object DeliveryBench {

  /** Deliveries per run — enough points to read a slope. */
  val Deliveries = 8

  final case class Result(deliveries: Int, buildSec: Double,
                          perSec: Seq[Double], perBytes: Seq[Long],
                          perAdmitted: Seq[Long], driftFlags: Int,
                          ok: Boolean)

  private def du(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** One corpus slice as a delivery frame (doc_id, lang, text,
    * embedding) — embeddings pair by doc_id == vec_id (the corpus
    * contract; docs beyond the embeddings table carry null vectors,
    * the real-delivery shape the empty-delta path must survive). */
  private def slice(docs: DataFrame, emb: DataFrame,
                    pred: org.apache.spark.sql.Column): DataFrame =
    docs.filter(pred)
      .join(emb.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("text"), col("embedding"))

  def run(spark: SparkSession, sfDir: String,
          deliveries: Int = Deliveries): Result = {
    import graft.operators.Dedup
    val base = java.nio.file.Files.createTempDirectory("graft_dbench").toString
    val (idx, led) = (s"$base/idx", s"$base/led")
    try {
      val docs = graft.core.Tables.load(spark, sfDir, "documents")
      val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
      val refPred = col("doc_id") % (deliveries + 8) < 8
      val t0 = System.nanoTime()
      Dedup.saveAcceptanceIndex(
        docs.filter(refPred).select(col("doc_id"), col("lang"), col("text")),
        emb.join(docs.filter(refPred).select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi"),
        idx)
      val buildSec = (System.nanoTime() - t0) / 1e9
      var lastBytes = du(spark, idx) + du(spark, led)
      val stats = (0 until deliveries).map { i =>
        val d = slice(docs, emb, col("doc_id") % (deliveries + 8) === 8 + i)
        val td = System.nanoTime()
        val o = Dedup.processDelivery(d, idx, led,
          // both maintenance policies off so the record prices the PURE
          // append line (each is spec-gated on its own scenario): a
          // mid-run compaction or rebuild spike would read as append
          // growth. Drift CHECKS still run — tiny random-slice
          // deliveries flag PSI noisily (18-vector samples over 8
          // bins), so the record counts the flags instead of paying
          // their rebuilds
          rebuildOnDrift = false, compactAfter = deliveries + 100)
        val sec = (System.nanoTime() - td) / 1e9
        val bytes = du(spark, idx) + du(spark, led)
        val written = bytes - lastBytes
        lastBytes = bytes
        val flagged = o.drift.select(col("rebuild")).limit(1)
          .collect().headOption.exists(_.getLong(0) == 1L)
        (sec, written, o.admitted, flagged)
      }
      Result(deliveries, buildSec, stats.map(_._1), stats.map(_._2),
        stats.map(_._3), stats.count(_._4),
        ok = stats.forall(s => s._2 > 0L))
    } finally {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Mean of the last two points over the mean of the first two — ~1
    * is the O(delta) signature; growth with index size reads directly
    * as > 1. -1 with fewer than 4 points. */
  def flatRatio(xs: Seq[Double]): Double =
    if (xs.length < 4) -1.0
    else (xs.takeRight(2).sum / 2.0) / math.max(xs.take(2).sum / 2.0, 1e-9)

  /** The full JSON record line. */
  def record(r: Result): String = {
    def d2(v: Double) = Bench.fmt(v, "%.2f")
    s"""{"metric":"delivery_loop","deliveries":${r.deliveries},""" +
      s""""build_sec":${d2(r.buildSec)},""" +
      s""""per_delivery_sec":[${r.perSec.map(d2).mkString(",")}],""" +
      s""""per_delivery_bytes":[${r.perBytes.mkString(",")}],""" +
      s""""per_delivery_admitted":[${r.perAdmitted.mkString(",")}],""" +
      s""""flat_ratio_sec":${d2(flatRatio(r.perSec))},""" +
      s""""flat_ratio_bytes":${d2(flatRatio(r.perBytes.map(_.toDouble)))},""" +
      s""""drift_flags":${r.driftFlags},"ok":${r.ok}}"""
  }
}
