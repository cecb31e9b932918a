package graft.core

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, max, min}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Materialize.MatOps
import graft.sinks.Sinks

/** Shared plumbing for persisted index stores: a deterministic
  * per-corpus scratch location, a cheap source-content fingerprint, the
  * build-if-missing-or-stale marker protocol, and the STORE KERNEL —
  * the storage format and write order every incremental store
  * (`MinhashIndexStore`, `VectorIndexStore`, `SpanIndexStore`,
  * `SearchIndexStore`, `ChunkStore`, `DecisionStore`) keeps its state
  * in. The stores own only their payload transforms, their query side
  * and their own contract; nothing here is vector- or dedup-specific.
  *
  * The kernel's four primitives:
  *  - [[Part]]: one bucketed table of a store, `<base>/<name>`,
  *    bucketed by one key into [[Buckets]] buckets under the catalog
  *    name `graft_idx_<md5(base)[:10]>_<name>`.
  *  - [[Tombstones]]: the store's deleted-id set at `<base>/tombstones`.
  *  - [[HighWater]]: the monotone crawl mark `max_doc` in `<base>/meta`.
  *  - [[CrawlDiff]]: the reference's diff loop (sync_service.rs
  *    new / deleted classes) against a store's live ids.
  *
  * COMMIT-POINT AND REPLAY CONTRACT (at-least-once delivery). A store
  * mutation writes several artifacts in a fixed order; a crash may stop
  * it between any two, and the recovery story is always "replay the
  * same call". That holds because:
  *  - every data append is GUARDED against the PHYSICAL rows of its own
  *    artifact (tombstoned rows included — they are what duplicates), so
  *    a replay lands only the half that did not land, and each artifact
  *    is guarded independently of the others;
  *  - each mutation has ONE commit point, written LAST: the `meta` row
  *    (the high-water mark, or a recount the store's queries read), or
  *    — for a store whose classifier reads a table — that table. Until
  *    the commit point lands the replay still classifies the batch as
  *    pending and redoes the guarded writes; after it, the replay is a
  *    no-op;
  *  - every mutation is pinned (`materializeOnce(eager = true)`) before
  *    it overwrites or appends to anything it read, so no plan ever
  *    reads the artifact it is writing;
  *  - deletes are tombstones: an id-set union, idempotent, written
  *    before any append of the same cycle, so a same-cycle replacement
  *    (old id out, new id in) is never visible twice;
  *  - a no-op replay still rewrites a recounted `meta`, so a crash
  *    between the last data write and its recount heals on replay.
  */
object IndexScratch {

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Versioned per-corpus scratch location for query-entry indexes.
    * v2: quantizer training moved to exact integer-quantized Lloyd
    * arithmetic — artifacts trained by the v1 float path are no longer
    * bit-compatible with the training-replay oracles, so the version
    * bump forces a rebuild rather than trusting a stale cache.
    */
  def scratchBase(dir: String, kind: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-index-v2-$kind-${md5hex(dir).take(10)}"

  /** Hadoop-FS existence probe (works for any configured filesystem,
    * not just local paths — the stores' artifacts live wherever the
    * cluster's default FS puts them).
    */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recursive Hadoop-FS delete; a missing path is a no-op. */
  def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** True when `path` holds at least one actual DATA file (recursive,
    * skipping `_SUCCESS`/dot markers). `pathExists` is NOT enough for
    * a partitioned parquet sink: a committed write whose transform
    * produced zero rows leaves the directory with `_SUCCESS` and no
    * part files, and `spark.read.parquet` on that THROWS ("unable to
    * infer schema") instead of returning zero rows — so empty-state
    * guards must probe for data files, not the directory.
    */
  def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) return true
    }
    false
  }

  /** Cheap content fingerprint of a source table directory: relative
    * paths, sizes, and mtimes of its data files, recursively
    * (hive-partitioned sources keep data in subdirectories — a
    * top-level listing would fingerprint as empty). Filesystem metadata
    * only — no Spark job, no data read. Catches in-place regeneration
    * of the source corpus, which a path-keyed marker alone cannot; a
    * touched-but-equal source costs one spurious rebuild — the safe
    * direction. Limitation (accepted): a rewrite that preserves every
    * file's name, length, AND mtime is indistinguishable — closing that
    * would mean reading data, which at index-store scale is the build.
    */
  def sourceFingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val it = fs.listFiles(p, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      val base = p.toUri.getPath
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath.stripPrefix(base)
        entries += s"$rel:${f.getLen}:${f.getModificationTime}"
      }
      md5hex(entries.sorted.mkString("\n"))
    }
  }

  /** Build-if-missing-or-stale: the completion marker is stamped with
    * the SOURCE fingerprint, so a crashed half-written build (no
    * marker) and an in-place source regeneration (fingerprint mismatch)
    * both rebuild; Overwrite semantics make the rebuild safe.
    */
  def ensureBuilt(basePath: String, fingerprint: String)(
      build: => Unit): Unit = {
    val marker = java.nio.file.Paths.get(basePath, "_INDEX_OK")
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == fingerprint
    if (!fresh) {
      build
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.write(marker, fingerprint.getBytes("UTF-8"))
    }
  }

  // --- the store kernel -------------------------------------------------

  /** The one bucket count of every store part. */
  val Buckets = 32

  /** Overwrite `path` with a small frame as ONE parquet file — the
    * tombstone sets, dead maps and meta rows, which are read whole and
    * broadcast, so one file per write keeps them one footer each.
    */
  def overwriteSmall(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** Overwrite `<basePath>/meta` with one row of named longs — the
    * commit point of every store that keeps one.
    */
  def writeMeta(spark: SparkSession, basePath: String,
      cols: (String, Long)*): Unit = {
    val schema = StructType(cols.map { case (n, _) => StructField(n, LongType, nullable = false) })
    overwriteSmall(spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(cols.map(_._2))), schema),
      s"$basePath/meta")
  }

  /** The `meta` row, when one was ever written (stores written before
    * their meta existed fall back to a recount, at the caller).
    */
  def readMeta(spark: SparkSession, basePath: String): Option[DataFrame] =
    if (pathExists(spark, s"$basePath/meta")) Some(spark.read.parquet(s"$basePath/meta"))
    else None

  /** One bucketed part of a store. Bucketing metadata lives in the
    * catalog and dies with the writing session, while the files persist
    * at [[path]]; [[physical]] re-registers the entry when it is missing
    * and re-lists the files on every call (appends can arrive from
    * another session — a streaming gate's foreachBatch clone — and a
    * stale relation cache would hide them from the guards and the
    * readers). Catalog names are stable per location and unique across
    * locations.
    */
  final case class Part(basePath: String, name: String, key: String) {
    val path: String = s"$basePath/$name"
    val table: String = "graft_idx_" + md5hex(basePath).take(10) + "_" + name

    private def restore(spark: SparkSession): Unit =
      Sinks.restoreBucketed(spark, table, path, key, Buckets)

    /** Write the part from scratch (build, compaction). */
    def overwrite(df: DataFrame): Unit =
      Sinks.writeBucketed(df, table, key, Buckets, Some(path))

    /** Append guarded rows; exchange-free reads survive the append. */
    def append(df: DataFrame): Unit = {
      restore(df.sparkSession)
      Sinks.appendBucketed(df, table, key, Buckets)
    }

    /** Every row on disk, tombstoned or not — what append guards key on. */
    def physical(spark: SparkSession): DataFrame = {
      restore(spark)
      spark.catalog.refreshTable(table)
      spark.table(table)
    }
  }

  /** A store's deleted-id set: O(ids deleted so far), never O(store).
    * Readers hide its ids with a broadcast anti-join (the set is
    * delete-batch-sized, so the streamed bucketed side keeps its
    * exchange-free layout); a compaction folds it into the parts and
    * clears it. A deleted id stays deleted even if re-appended (append
    * guards key on physical rows); compact first to resurrect it.
    */
  final case class Tombstones(basePath: String, key: String) {
    val path: String = s"$basePath/tombstones"

    def read(spark: SparkSession): Option[DataFrame] =
      if (pathExists(spark, path)) Some(spark.read.parquet(path)) else None

    def hide(df: DataFrame, tomb: Option[DataFrame]): DataFrame =
      tomb.map(t => df.join(broadcast(t.select(key)), Seq(key), "left_anti"))
        .getOrElse(df)

    /** `df` minus the ids tombstoned now. */
    def live(df: DataFrame): DataFrame = hide(df, read(df.sparkSession))

    /** Union `ids` into the set (idempotent; unknown ids are no-ops);
      * returns the merged set, pinned.
      */
    def merge(ids: DataFrame): DataFrame = {
      val del = ids.select(key).distinct()
      val merged = read(ids.sparkSession)
        .map(_.select(key).unionByName(del).distinct())
        .getOrElse(del)
        .materializeOnce(eager = true) // pin before overwriting what it read
      overwriteSmall(merged, path)
      merged
    }

    /** Fold the set into the store (`fold` gets it pinned and rewrites
      * the parts without its ids), then clear it. No set, no work.
      */
    def compact(spark: SparkSession)(fold: DataFrame => Unit): Unit =
      read(spark).foreach { t =>
        fold(t.materializeOnce(eager = true))
        clear(spark)
      }

    def clear(spark: SparkSession): Unit = deletePath(spark, path)
  }

  /** The monotone crawl mark of an append-only store: `meta.max_doc`,
    * the largest `doc_id` committed. With MONOTONE crawl ids every new
    * batch's ids exceed the mark, so the mark alone tells a new batch
    * from a replay, and the meta write is the batch's commit point.
    */
  final case class HighWater(basePath: String) {

    def mark(spark: SparkSession): Long =
      spark.read.parquet(s"$basePath/meta").head().getLong(0)

    def commit(spark: SparkSession, maxDoc: Long): Unit =
      writeMeta(spark, basePath, "max_doc" -> maxDoc)

    /** The replay guard for a `doc_id` batch: `Some(batch max)` when the
      * batch lies above the mark (append it, then [[commit]]); `None`
      * for an empty batch or a replay of a committed one (every id
      * already in `recorded`, the artifact the store guards its
      * appends with). A batch reaching at or below the mark with ids
      * `recorded` lacks is out of order and fails loudly: it could
      * change what committed batches already recorded.
      */
    def admit(batch: DataFrame, recorded: => DataFrame, op: String): Option[Long] = {
      if (batch.isEmpty) return None
      val indexedMax = mark(batch.sparkSession)
      val bounds = batch.agg(min(col("doc_id")), max(col("doc_id"))).head()
      if (bounds.getLong(0) > indexedMax) Some(bounds.getLong(1))
      else {
        val unrecorded = batch.select("doc_id")
          .join(recorded.select("doc_id"), Seq("doc_id"), "left_anti")
        require(unrecorded.isEmpty,
          s"$op needs monotone crawl ids: batch min ${bounds.getLong(0)} <= " +
            s"indexed max $indexedMax and the batch holds unrecorded ids — " +
            "not a replay of a committed batch")
        None
      }
    }

    /** One crawl-sync step: hand the upstream's slice above the mark to
      * `append` (one scan feeds the count and the append).
      *
      * @return the number of new documents absorbed
      */
    def sync(upstream: DataFrame)(append: DataFrame => Unit): Long = {
      val batch = upstream.filter(col("doc_id") > mark(upstream.sparkSession))
        .materializeOnce()
      val n = batch.count()
      if (n > 0) append(batch)
      n
    }
  }

  object HighWater {

    /** The build/crawl split of a corpus: the `doc_id` at four-fifths of
      * its id range. Ids at or below it are the older corpus a frozen
      * artifact is built from; the ids above it play the new crawl.
      */
    def splitDoc(docs: DataFrame): Long = {
      val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      lo + (hi - lo) * 4 / 5
    }

    /** Build-if-missing of an incremental verification artifact over a
      * corpus's `(doc_id, text)`: the older four-fifths (by doc_id — the
      * monotone-id split) go to `build`, the newest fifth arrives as one
      * crawl batch through `append`. Deterministic given the corpus.
      */
    def ensureSplit(spark: SparkSession, dir: String, kind: String)(
        build: (DataFrame, String) => Unit,
        append: (DataFrame, String) => Unit): String = {
      val base = scratchBase(dir, kind)
      ensureBuilt(base, sourceFingerprint(spark, s"$dir/documents.parquet")) {
        // a crashed previous attempt may have left tombstones; the build
        // overwrites every other artifact
        Tombstones(base, "doc_id").clear(spark)
        val docs = Tables.documents(spark, dir).select("doc_id", "text")
        val t = splitDoc(docs)
        build(docs.filter(col("doc_id") <= t), base)
        append(docs.filter(col("doc_id") > t), base)
      }
      base
    }
  }

  /** The crawl-diff classifier: given a store's LIVE rows and the
    * crawl's full current state, ids live but absent upstream are
    * DELETED, upstream ids the store lacks are NEW. Both id frames are
    * pinned before the store is mutated, and the deletes are applied
    * before the caller appends anything.
    */
  object CrawlDiff {

    /** The delete half alone: tombstone live ids absent from `upIds`.
      *
      * @return the number of ids deleted
      */
    def deletesFirst(live: DataFrame, upIds: DataFrame, key: String)(
        delete: DataFrame => Unit): Long = {
      val deleted = live.select(key).join(upIds, Seq(key), "left_anti")
        .materializeOnce(eager = true) // pin before the store is mutated
      val n = deleted.count()
      if (n > 0) delete(deleted)
      n
    }

    /** Both halves: deletes applied, NEW ids returned pinned.
      *
      * @return (new ids, number of ids deleted)
      */
    def apply(live: DataFrame, upstream: DataFrame, key: String)(
        delete: DataFrame => Unit): (DataFrame, Long) = {
      val upIds = upstream.select(key).materializeOnce()
      val newIds = upIds.join(live.select(key), Seq(key), "left_anti")
        .materializeOnce(eager = true)
      (newIds, deletesFirst(live, upIds, key)(delete))
    }
  }
}
