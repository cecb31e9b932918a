package graft.dedup

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.IndexScratch
import graft.core.Materialize.MatOps

/** Incremental CROSS-DOC SPAN dedup — the crawl-to-crawl form of the
  * `span_dedup`/`span_trim` family, which recomputed corpus-wide
  * positional grams on every call (the last recompute-only dedup
  * family). Reference analogue: the diff-driven sync loop
  * (sync_service.rs new/changed classes) applied to Lee et al.-style
  * span removal.
  *
  * Persisted state per corpus (under `basePath`):
  *  - `grams/`: per-gram ownership partials `(g, dmin, dmax)`, BUCKETED
  *    by `g` — one row per (gram, batch). min/max are associative, so
  *    appended partials re-aggregate to exactly the full-corpus state:
  *    a gram is cross-doc duplicated iff min(dmin) ≠ max(dmax) (the
  *    `spanGrams` min≠max trick), and its first owner is min(dmin).
  *  - `report/`: the per-document `span_trim` rows of every batch
  *    processed so far (plain parquet, appended per batch).
  *  - `meta/`: the kernel's high-water mark (`IndexScratch.HighWater`),
  *    the batch commit point.
  *
  * Why appending works (the `appendLabels` argument): with MONOTONE
  * crawl ids (every new batch's ids exceed all indexed ids), a new
  * batch can never change an OLD document's trim report. A gram that
  * first becomes duplicated through a new doc has its first owner in
  * the old corpus — and the owner KEEPS its copy, so the old doc's
  * report is already correct; a gram already duplicated among old docs
  * changed nothing. New-batch positions are trimmed against the MERGED
  * gram state (old partials ∪ batch partials), so within-batch and
  * batch-vs-history duplication are both caught. [[appendSpanBatch]]
  * enforces the monotone-id precondition loudly instead of silently
  * drifting from the full-scan semantics.
  *
  * Scale shape: per batch, only the batch's text is scanned (narrow
  * `(doc_id, pos, g)` rows); the history contributes through one join
  * against the g-bucketed gram table (bucket-scanned — only the
  * batch-sized key set shuffles); appended state is one row per
  * distinct batch gram; the report append is batch-sized. Nothing ever
  * rewrites or rescans the accumulated corpus.
  */
object SpanIndexStore {

  private val N = 3

  private def grams(basePath: String): IndexScratch.Part =
    IndexScratch.Part(basePath, "grams", "g")

  /** Per-gram ownership partial of one document frame. */
  private def gramState(docs: DataFrame): DataFrame =
    Dedup.spanGramsOf(docs, N).groupBy("g")
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))

  /** Initial build over the first crawl: gram partials + its trim
    * report (the plain full-scan `spanTrimDocs` — the first batch HAS
    * no history).
    */
  def buildSpanIndex(docs: DataFrame, basePath: String): Unit = {
    val d = docs.select("doc_id", "text").materializeOnce()
    grams(basePath).overwrite(gramState(d))
    Dedup.spanTrimDocs(d, N).write.mode(SaveMode.Overwrite)
      .parquet(s"$basePath/report")
    IndexScratch.HighWater(basePath).commit(docs.sparkSession,
      d.agg(max(col("doc_id"))).head().getLong(0))
  }

  /** Process one new crawl batch: trim it against the merged gram
    * state, append its gram partials and report rows, commit the
    * high-water mark. Old documents' rows are untouched by construction
    * (see the object doc); the report append is id-guarded, and
    * duplicated gram PARTIALS from a replayed half are harmless by
    * construction (min/max over duplicated partials is the same
    * min/max).
    */
  def appendSpanBatch(batch: DataFrame, basePath: String): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text").materializeOnce()
    val hw = IndexScratch.HighWater(basePath)
    // out-of-order ids could re-own grams and invalidate committed reports
    hw.admit(b, spark.read.parquet(s"$basePath/report"), "appendSpanBatch")
      .foreach { batchMax =>
        // batch positional grams feed both the state partial and the match
        val bGrams = Dedup.spanGramsOf(b, N).materializeOnce()
        val batchState = bGrams.groupBy("g")
          .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
          .materializeOnce(eager = true) // pinned before the table it reads from is appended to
        val old = grams(basePath).physical(spark)
        // merged per-gram state restricted to the BATCH's grams — the only
        // grams that can affect the batch report. The old side bucket-scans.
        val merged = old.join(batchState.select("g"), Seq("g"), "left_semi")
          .unionByName(batchState)
          .groupBy("g")
          .agg(min(col("dmin")).as("dmin"), max(col("dmax")).as("dmax"))
        val dupG = merged.filter(col("dmin") =!= col("dmax"))
          .select(col("g"), col("dmin").as("d0"))
        val matched = bGrams.join(dupG, "g")
          .filter(col("doc_id") =!= col("d0"))
          .select("doc_id", "pos")
        // id-guard against the CURRENT report, pinned before the append
        // reads the path it writes
        val report = Dedup.spanTrimReport(b, Dedup.trimIntervals(matched, N))
          .join(spark.read.parquet(s"$basePath/report").select("doc_id"),
            Seq("doc_id"), "left_anti")
          .materializeOnce(eager = true)
        grams(basePath).append(batchState)
        report.write.mode(SaveMode.Append).parquet(s"$basePath/report")
        hw.commit(spark, batchMax)
      }
  }

  /** One crawl-SYNC step: absorb the upstream's monotone NEW slice
    * (ids above the committed high-water mark) — the span store's
    * entry in `Pipeline.crawlCycle`. Vanished documents are out of
    * scope by design: trim reports are append-only crawl history
    * (first-owner-keeps is stable under monotone ids); removing a
    * document's report means a rebuild.
    *
    * @return the number of new documents absorbed
    */
  def spanSync(upstream: DataFrame, basePath: String): Long =
    IndexScratch.HighWater(basePath).sync(upstream.select("doc_id", "text"))(
      appendSpanBatch(_, basePath))

  /** Build-if-missing of the incremental-span verification artifact
    * (the kernel's four-fifths split: build, then one crawl batch).
    */
  def ensureSpanIndex(spark: SparkSession, dir: String): String =
    IndexScratch.HighWater.ensureSplit(spark, dir, "spaninc")(
      buildSpanIndex, appendSpanBatch)

  /** Query entry: the accumulated per-document trim report — built
    * batch-by-batch, hash-checked against the FULL-SCAN `span_trim`
    * oracle over the whole corpus (the incremental construction must
    * be indistinguishable from the recompute; SpanIndexSpec pins the
    * same equality at the API level plus old-rows-untouched).
    */
  def spanTrimIncremental(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureSpanIndex(spark, dir)
    spark.read.parquet(s"$base/report")
      .select("doc_id", "n_tokens", "dup_tokens", "n_spans", "keep_ratio6")
  }
}
