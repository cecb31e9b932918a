package graft.multimodal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.IndexScratch
import graft.core.Materialize.MatOps
import graft.sinks.Sinks

/** Persisted CONTENT-ADDRESSED chunk store over content-defined chunks
  * — the production form of [[Multimodal.mmChunkCdcDedup]], which
  * recomputed every chunk digest corpus-wide per call. A real blob
  * store keeps exactly this state between crawls: append a batch,
  * dedup its chunks against the persisted digest set, tombstone
  * deleted assets — only the batch is ever chunked. Reference
  * analogue: storage.rs's dedup-by-content identity, lifted to chunk
  * grain (the `SpanIndexStore` build/append/replay contract applied to
  * storage dedup).
  *
  * Persisted state per corpus (under `basePath`):
  *  - `chunks/`: the content-addressed store — ONE row per distinct
  *    chunk `(chunk_md5, chunk_bytes)`, BUCKETED by `chunk_md5` so the
  *    append-time digest dedup anti-join bucket-scans the store side
  *    and shuffles only the batch.
  *  - `manifest/`: per-document chunk lists
  *    `(doc_id, off, chunk_bytes, chunk_md5)` — what reassembles a
  *    blob from the store (plain parquet, appended per batch,
  *    id-guarded).
  *  - `meta/`: the kernel's high-water mark (`IndexScratch.HighWater`),
  *    the batch commit point.
  *  - `tombstones/`: the kernel's deleted-id set, if any delete ever
  *    ran — the live manifest view hides those documents (a delete
  *    writes O(deleted ids), never O(store)).
  *
  * Chunk rows are digest-deduped against the PHYSICAL store, so a
  * replayed half never double-inserts a digest. Appending a batch then
  * reading equals rebuilding over the union bit-for-bit (chunk
  * boundaries are position-local functions of each document — the CDC
  * property — so batch composition cannot change any chunk;
  * spec-pinned).
  *
  * Scale shape: per batch, only the batch's text is chunked (one
  * map-side generate of narrow digest rows); history contributes
  * through one anti-join against the md5-bucketed chunks table and one
  * doc-id anti-join against the manifest; appended state is one row
  * per NEW distinct digest plus batch-sized manifest rows. Nothing
  * rewrites or rescans the accumulated corpus.
  */
object ChunkStore {

  private def chunks(basePath: String): IndexScratch.Part =
    IndexScratch.Part(basePath, "chunks", "chunk_md5")

  private def tombstones(basePath: String): IndexScratch.Tombstones =
    IndexScratch.Tombstones(basePath, "doc_id")

  /** CDC chunk rows of a doc frame — ONE definition with the full-scan
    * entries (`Multimodal.cdcChunksOf`), so the store can never drift
    * from the recompute semantics the oracle replays.
    */
  private def chunksOf(docs: DataFrame): DataFrame =
    Multimodal.cdcChunksOf(docs.sparkSession, docs)

  /** The batch's distinct-digest rows (md5 determines content and
    * therefore bytes, so `first` is well-defined — min for determinism).
    */
  private def digestRows(chunks: DataFrame): DataFrame =
    chunks.groupBy("chunk_md5").agg(min(col("chunk_bytes")).as("chunk_bytes"))

  /** Initial build over the first crawl. */
  def buildChunkStore(docs: DataFrame, basePath: String): Unit = {
    val d = docs.select("doc_id", "text").materializeOnce()
    val ch = chunksOf(d).materializeOnce()
    chunks(basePath).overwrite(digestRows(ch))
    ch.select("doc_id", "off", "chunk_bytes", "chunk_md5")
      .write.mode(SaveMode.Overwrite).parquet(s"$basePath/manifest")
    IndexScratch.HighWater(basePath).commit(docs.sparkSession,
      d.agg(max(col("doc_id"))).head().getLong(0))
  }

  /** Append one new crawl batch: chunk it, store only the digests the
    * store lacks, append its id-guarded manifest rows, commit the
    * high-water mark.
    */
  def appendChunkBatch(batch: DataFrame, basePath: String): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text").materializeOnce()
    val hw = IndexScratch.HighWater(basePath)
    hw.admit(b, spark.read.parquet(s"$basePath/manifest"), "appendChunkBatch")
      .foreach { batchMax =>
        val ch = chunksOf(b).materializeOnce()
        // content-addressed dedup: only digests the PHYSICAL store lacks
        // land (pinned before the append reads the table it writes)
        val newDigests = digestRows(ch)
          .join(chunks(basePath).physical(spark).select("chunk_md5"),
            Seq("chunk_md5"), "left_anti")
          .materializeOnce(eager = true)
        val manifestRows = ch.select("doc_id", "off", "chunk_bytes", "chunk_md5")
          .join(spark.read.parquet(s"$basePath/manifest").select("doc_id").distinct(),
            Seq("doc_id"), "left_anti")
          .materializeOnce(eager = true)
        chunks(basePath).append(newDigests)
        manifestRows.write.mode(SaveMode.Append).parquet(s"$basePath/manifest")
        hw.commit(spark, batchMax)
      }
  }

  /** Tombstone-delete documents from the store. The live manifest hides
    * their rows; chunks referenced by nothing live stop counting in
    * [[storageStats]] (they remain physically present until
    * [[compactChunkStore]], exactly like a real blob store's deferred
    * garbage collection).
    */
  def deleteChunkDocs(delIds: DataFrame, basePath: String): Unit =
    tombstones(basePath).merge(delIds)

  /** The live manifest: physical rows minus tombstoned documents. */
  def liveManifest(spark: SparkSession, basePath: String): DataFrame =
    tombstones(basePath).live(spark.read.parquet(s"$basePath/manifest"))

  /** Fold tombstones into the physical state: rewrite the manifest
    * without deleted documents, drop store chunks no live manifest row
    * references (the deferred GC), clear the tombstone set. Stats are
    * unchanged (the filter moves from plan to storage).
    */
  def compactChunkStore(spark: SparkSession, basePath: String): Unit =
    tombstones(basePath).compact(spark) { t =>
      val live = tombstones(basePath)
        .hide(spark.read.parquet(s"$basePath/manifest"), Some(t))
        .materializeOnce(eager = true)
      val survivors = chunks(basePath).physical(spark)
        .join(live.select("chunk_md5").distinct(), Seq("chunk_md5"), "left_semi")
        .materializeOnce(eager = true)
      chunks(basePath).overwrite(survivors)
      Sinks.swapRewrite(spark, live, s"$basePath/manifest")
    }

  /** The per-source storage-dedup rollup SERVED FROM THE STORE — the
    * same accounting as the full-scan [[Multimodal.mmChunkCdcDedup]],
    * but totals come from the live manifest and unique-chunk bytes
    * come from the content-addressed CHUNKS table (joined by digest),
    * so a missed append, a duplicated digest row, a lost manifest row,
    * or a mis-sized stored chunk each move a committed number. Work is
    * store-sized (narrow digest rows), never re-chunking the corpus.
    */
  def storageStats(spark: SparkSession, basePath: String,
      docs: DataFrame): DataFrame = {
    val m = liveManifest(spark, basePath)
      .join(docs.select("doc_id", "source"), "doc_id")
    val totals = m.groupBy("source").agg(
      count(lit(1)).as("n_chunks"),
      sum(col("chunk_bytes")).as("total_bytes"))
    val uniques = m.select("source", "chunk_md5").distinct()
      .join(chunks(basePath).physical(spark), "chunk_md5")
      .groupBy("source").agg(
        count(lit(1)).as("n_unique_chunks"),
        sum(col("chunk_bytes")).as("unique_bytes"))
    totals.join(uniques, "source")
      .select(col("source"), col("n_chunks"), col("n_unique_chunks"),
        col("total_bytes"), col("unique_bytes"),
        expr("CAST((1000000 * unique_bytes) DIV total_bytes AS BIGINT)")
          .as("unique_ppm"))
      .orderBy("source") // source-table-sized output: bounded sort
  }

  /** One crawl-SYNC step: absorb the upstream's monotone new slice —
    * the chunk store's entry in the crawl cycle.
    *
    * @return the number of new documents absorbed
    */
  def chunkSync(upstream: DataFrame, basePath: String): Long =
    IndexScratch.HighWater(basePath).sync(upstream.select("doc_id", "text"))(
      appendChunkBatch(_, basePath))

  /** Build-if-missing of the incremental chunk-store verification
    * artifact (the kernel's four-fifths split). Build-only — no
    * tombstones — so the gated entry's oracle can replay the full-scan
    * recompute.
    */
  def ensureChunkStore(spark: SparkSession, dir: String): String =
    IndexScratch.HighWater.ensureSplit(spark, dir, "chunkstore")(
      buildChunkStore, appendChunkBatch)

  /** Query entry: the storage-dedup rollup off the batch-built store —
    * hash-checked against the FULL-SCAN `mm_chunk_cdc_dedup` oracle
    * (the incremental construction must be indistinguishable from the
    * corpus-wide recompute; ChunkStoreSpec pins the same equality at
    * the API level plus append == rebuild and crash replay).
    */
  def mmChunkCdcIncremental(spark: SparkSession, dir: String): DataFrame =
    storageStats(spark, ensureChunkStore(spark, dir),
      graft.core.Tables.documents(spark, dir))
}
