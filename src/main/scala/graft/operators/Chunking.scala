package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Document chunking: split long documents into fixed-size token windows
  * with configurable overlap — the step between raw corpus prep
  * ([[DocPrep]]) and sequence packing ([[Sampling.packSequences]]) in an
  * LLM training pipeline (context windows, embedding inputs, retrieval
  * passages all consume chunks, not whole documents).
  *
  * Scale shape: a pure per-row generator — tokenize, compute window
  * starts, `posexplode` a slice per start. No shuffle, no state, no
  * driver involvement; output size is input tokens × (chunkSize/stride)
  * overlap factor, linear in the corpus. The generator runs inside
  * whole-stage codegen (built-in `sequence`/`slice`/`posexplode` only).
  */
object Chunking {

  /** Cut each document's whitespace tokens into windows of `chunkSize`
    * tokens starting every `stride` tokens: starts 0, stride, 2·stride, …
    * while start < n_tokens, window = tokens[start, start+chunkSize).
    * Trailing windows may be shorter than `chunkSize`; empty documents
    * yield no chunks (not an empty chunk). `stride <= chunkSize` keeps
    * windows contiguous-or-overlapping (overlap = chunkSize − stride);
    * `stride == chunkSize` is exact tiling.
    *
    * Output: the id column, `chunk_id` (0-based window ordinal),
    * `n_chunk_tokens`, and `chunk` (the window re-joined with single
    * spaces — whitespace runs are NOT preserved, same normalization as
    * every token-based operator here). */
  def chunkDocuments(docs: DataFrame, idCol: Column, textCol: Column,
                     chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0, s"chunkDocuments: chunkSize=$chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"chunkDocuments: stride=$stride must be in [1, chunkSize=$chunkSize]")
    docs
      .select(idCol.as("_id"), TextAnalysis.wsTokens(textCol).as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col("_id"), col("_toks"),
        posexplode(sequence(lit(0), size(col("_toks")) - 1, lit(stride))))
      .select(col("_id"),
        col("pos").cast("long").as("chunk_id"),
        slice(col("_toks"), col("col") + 1, lit(chunkSize)).as("_win"))
      .select(col("_id"), col("chunk_id"),
        size(col("_win")).cast("long").as("n_chunk_tokens"),
        array_join(col("_win"), " ").as("chunk"))
  }

  /** x41's window geometry, shared with the DuckDB oracle. */
  private[graft] val ChunkSize: Int = 64
  private[graft] val ChunkStride: Int = 48

  /** x41: documents cut into 64-token windows every 48 tokens (16-token
    * overlap). Oracle: the same slicing via UNNEST(range(...)) in DuckDB. */
  def chunkQuery(spark: SparkSession, dir: String): DataFrame =
    chunkDocuments(Tables.load(spark, dir, "documents"),
        col("doc_id"), col("text"), ChunkSize, ChunkStride)
      .withColumnRenamed("_id", "doc_id")
      .orderBy(col("doc_id"), col("chunk_id"))

  // ------------------------------------ content-defined chunking (x72)

  /** x72's boundary divisor, shared with the DuckDB oracle: a token closes
    * a chunk when its hash bucket ≡ 0 (mod 8), so chunks average ~8
    * tokens. */
  private[graft] val CdcDivisor: Int = 8

  /** CONTENT-DEFINED chunking: a token CLOSES its chunk when its own
    * hash ([[Sampling.hashBucket]], md5-derived so both engines agree
    * bit-for-bit) is ≡ 0 mod `divisor` — the gear/rolling-hash boundary
    * family behind dedup storage (LBFS, restic, casync) and
    * dedup-friendly corpus chunking. Unlike [[chunkDocuments]]'s fixed
    * stride, boundaries depend only on LOCAL content, so an insertion
    * shifts at most the chunk it lands in: every chunk after the next
    * boundary re-synchronizes byte-identically (spec-proven), which is
    * what makes chunk-hash dedup survive edits.
    *
    * Production CDC adds a max-chunk cap (forced boundary) to bound the
    * pathological no-boundary run; that cap is a sequential fold (each
    * forced boundary shifts later ones), so the cross-engine-exact form
    * here keeps the pure per-token rule and leaves capping to the
    * consumer (cap tokens-per-chunk downstream with x41 over the
    * oversized chunks).
    *
    * Scale shape: posexplode → one per-doc window sum (docs partition
    * the work; a document's tokens sort within its partition) → one
    * hash agg back to chunks. The chunk text reassembles from the
    * order-carrying (pos, tok) structs — deterministic, no
    * collect_list-order dependence. */
  def cdcChunks(docs: DataFrame, idCol: Column, textCol: Column,
                divisor: Int): DataFrame = {
    require(divisor > 0, s"cdcChunks: divisor=$divisor")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(idCol.as("_id"), posexplode(TextAnalysis.wsTokens(textCol)))
      .withColumnRenamed("col", "tok")
      .withColumn("_bd",
        when(Sampling.hashBucket(col("tok"), "cdc") % divisor === 0, 1L)
          .otherwise(0L))
      .withColumn("chunk_id", coalesce(sum(col("_bd")).over(w), lit(0L)))
      .groupBy(col("_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_chunk_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("chunk"))
  }

  /** x72: content-defined chunks of every document. */
  def cdcQuery(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(Tables.load(spark, dir, "documents"),
        col("doc_id"), col("text"), CdcDivisor)
      .withColumnRenamed("_id", "doc_id")
      .orderBy(col("doc_id"), col("chunk_id"))
}
