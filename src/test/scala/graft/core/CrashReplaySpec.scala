package graft.core

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Materialize.MatOps
import graft.curate.DecisionStore
import graft.dedup.{Dedup, MinhashIndexStore}
import graft.index.SearchIndexStore
import graft.sim.VectorIndexStore

/** Crash-REPLAY contracts for the persisted stores: each mutation
  * writes several artifacts in a fixed order, and the documented
  * recovery story is "replay the batch". These specs simulate a crash
  * between two writes by snapshotting the artifact that would not have
  * landed and restoring it after a full mutation, then assert the
  * replay repairs the store to the rebuilt-from-scratch state.
  */
class CrashReplaySpec extends SparkSpec {

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(Files.delete(_))

  private def snapshot(dir: String): Path = {
    val snap = Files.createTempDirectory("graft-crash-snap").resolve("d")
    copyTree(Paths.get(dir), snap)
    snap
  }

  private def restore(snap: Path, dir: String): Unit = {
    deleteTree(Paths.get(dir))
    copyTree(snap, Paths.get(dir))
  }

  private def docs: DataFrame =
    Tables.documents(spark, sf).select("doc_id", "text")

  private def freshBase(tag: String): String =
    Files.createTempDirectory(s"graft-crash-$tag").toString + "/idx"

  test("appendToIndex replay repairs a crash between the sets and banded appends") {
    val base = freshBase("mh")
    val existing = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 0)
    val probe = docs.filter(col("doc_id") % 5 === 0)
    MinhashIndexStore.build(existing, base)
    def gate: Seq[String] =
      MinhashIndexStore.dedupIncrementalAgainstIndex(probe, base)
        .collect().map(_.toString).sorted.toSeq
    val full = Dedup.dedupIncrementalDocs(probe, existing.unionByName(batch))
      .collect().map(_.toString).sorted.toSeq
    // crash simulation: the sets append landed, the banded append did
    // not — restore the pre-append banded directory after a full append
    val bandedSnap = snapshot(s"$base/banded")
    MinhashIndexStore.appendToIndex(batch, base)
    assert(gate == full)
    restore(bandedSnap, s"$base/banded")
    // the crashed state must actually be broken, or this spec has no power
    assert(gate != full, "batch slice contributes no band candidates — widen it")
    // replay: the batch ids are already in the sets table, so the
    // banded half must be guarded INDEPENDENTLY or it stays empty
    MinhashIndexStore.appendToIndex(batch, base)
    assert(gate == full)
  }

  test("upsertDocs after a crashed append never reuses an occupied postings generation") {
    val base = freshBase("sidx-gen")
    SearchIndexStore.build(docs.filter(col("doc_id") < 100), base)
    def rev(n: Int): DataFrame = docs.filter(col("doc_id") === 3)
      .select(col("doc_id"), concat(col("text"), lit(s" rev$n")).as("text"))
    // crash simulation: dead map + postings(gen 1) landed, docstats did not
    val statsSnap = snapshot(s"$base/docstats")
    assert(SearchIndexStore.upsertDocs(rev(2), base) == ((0L, 1L)))
    restore(statsSnap, s"$base/docstats")
    // upstream moved again before the retry: DIFFERENT content arrives.
    // Its generation must clear the orphaned postings gen 1, or the
    // (doc_id, gen) guard drops the new postings while the docstats row
    // lands and the index serves rev2's postings under rev3's hash.
    assert(SearchIndexStore.upsertDocs(rev(3), base) == ((1L, 0L)))
    val rebuilt = freshBase("sidx-gen-rebuilt")
    SearchIndexStore.build(
      docs.filter(col("doc_id") < 100 && col("doc_id") =!= 3).unionByName(rev(3)),
      rebuilt)
    def served(b: String): Seq[String] =
      SearchIndexStore.invertedIndexOf(spark, b)
        .collect().map(_.toString).sorted.toSeq
    assert(served(base) == served(rebuilt))
    assert(SearchIndexStore.loadDocStats(spark, base).count() == 100)
    // identical replay of the repaired revision: clean no-op
    assert(SearchIndexStore.upsertDocs(rev(3), base) == ((0L, 0L)))
  }

  test("a no-op upsert replay still repairs a stale meta row") {
    val base = freshBase("sidx-meta")
    SearchIndexStore.build(docs.filter(col("doc_id") < 100), base)
    val metaSnap = snapshot(s"$base/meta")
    val rev2 = docs.filter(col("doc_id") === 3)
      .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text"))
    assert(SearchIndexStore.upsertDocs(rev2, base) == ((0L, 1L)))
    // crash simulation: both appends + dead landed, the meta write did
    // not — the replay below sees no effective mutation
    restore(metaSnap, s"$base/meta")
    def metaRow = spark.read.parquet(s"$base/meta")
      .select("n_docs", "total_tokens").head()
    val liveTokens = SearchIndexStore.loadDocStats(spark, base)
      .agg(sum("n_tokens")).head().getLong(0)
    assert(metaRow.getLong(1) != liveTokens, "rev2 did not change token count")
    assert(SearchIndexStore.upsertDocs(rev2, base) == ((0L, 0L)))
    assert(metaRow.getLong(0) == 100L && metaRow.getLong(1) == liveTokens)
  }

  /** Newest modification time of any file under `dir`. */
  private def newestWrite(dir: String): Long = {
    val it = Files.walk(Paths.get(dir)).iterator()
    var newest = 0L
    while (it.hasNext) {
      val p = it.next()
      if (Files.isRegularFile(p))
        newest = math.max(newest, Files.getLastModifiedTime(p).toMillis)
    }
    newest
  }

  /** Of two artifacts written by one mutation, the one written second:
    * restoring its snapshot simulates a crash between the two writes in
    * whatever order the mutation performs them.
    */
  private def writtenSecond(a: (String, Path), b: (String, Path)): (String, Path) =
    if (newestWrite(a._1) >= newestWrite(b._1)) a else b

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** A fresh corpus dir holding the `doc_id % 5 != 0` slice (the
    * decision store's crawl 1), with its decision store built.
    */
  private def decisionCorpus(tag: String): (String, String) = {
    val dir = Files.createTempDirectory(s"graft-crash-$tag").toString
    Tables.documents(spark, sf).filter(col("doc_id") % 5 =!= 0)
      .write.parquet(s"$dir/documents.parquet")
    (dir, DecisionStore.ensureDecisions(spark, dir))
  }

  private def crawl(keep: org.apache.spark.sql.Column): DataFrame =
    Tables.documents(spark, sf).filter(keep).select("doc_id", "text", "source")

  test("DecisionStore crawlSync replay after a crash inside its delete half tombstones the band index") {
    val (dir, base) = decisionCorpus("dec-del")
    val crawl1 = col("doc_id") % 5 =!= 0 && col("doc_id") % 7 =!= 0
    val crawl2 = crawl1 && col("doc_id") % 11 =!= 0
    // crawl 1 creates both tombstone sets
    assert(DecisionStore.crawlSync(spark, dir, crawl(crawl1))._2 > 0)
    val decTomb = s"$base/tombstones"
    val mhTomb = s"$base/mh/tombstones"
    val snaps = Seq(decTomb -> snapshot(decTomb), mhTomb -> snapshot(mhTomb))
    val (n2, d2) = DecisionStore.crawlSync(spark, dir, crawl(crawl2))
    assert(n2 == 0 && d2 > 0)
    val live = ids(DecisionStore.decisionTable(spark, dir))
    val (lost, snap) = writtenSecond(snaps(0), snaps(1))
    restore(snap, lost)
    DecisionStore.crawlSync(spark, dir, crawl(crawl2))
    // converged: the live table is the committed one, and every id
    // gone from it is also tombstoned in the band index, so no deleted
    // doc keeps acting as a duplicate source
    assert(ids(DecisionStore.decisionTable(spark, dir)) == live)
    val gone = ids(spark.read.parquet(s"$base/decisions")) -- live
    assert(gone.nonEmpty && gone.subsetOf(ids(spark.read.parquet(mhTomb))))
  }

  test("DecisionStore crawlSync replay after a crash inside its append half keeps the band index and verdicts") {
    val (dir, base) = decisionCorpus("dec-add")
    val decisions = s"$base/decisions"
    val mh = s"$base/mh"
    val snaps = Seq(decisions -> snapshot(decisions), mh -> snapshot(mh))
    val (nNew, nDel) = DecisionStore.crawlSync(spark, dir, crawl(lit(true)))
    assert(nNew > 0 && nDel == 0)
    def table = DecisionStore.decisionTable(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    def indexed = ids(spark.read.parquet(s"$mh/members"))
    val (committed, committedIndex) = (table, indexed)
    val (lost, snap) = writtenSecond(snaps(0), snaps(1))
    restore(snap, lost)
    DecisionStore.crawlSync(spark, dir, crawl(lit(true)))
    // the replay lands the lost half with the first attempt's verdicts
    assert(indexed == committedIndex)
    assert(table == committed)
  }

  test("crawlSyncVectors replay repairs meta.n after a crash between the codes append and its recount") {
    val base = freshBase("vsync-meta")
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    VectorIndexStore.buildIvfPq(emb.filter(col("vec_id") % 4 =!= 0), base)
    val metaSnap = snapshot(s"$base/meta")
    val (nNew, nDel) = VectorIndexStore.crawlSyncVectors(spark, base, emb)
    assert(nNew > 0 && nDel == 0)
    // crash simulation: lists and codes landed, the meta recount did not
    restore(metaSnap, s"$base/meta")
    def metaN = spark.read.parquet(s"$base/meta").head().getLong(0)
    assert(metaN != emb.count(), "the cycle added no vectors")
    assert(VectorIndexStore.crawlSyncVectors(spark, base, emb) == ((0L, 0L)))
    assert(metaN == emb.count())
    assert(VectorIndexStore.loadIvfPq(spark, base).n == emb.count())
  }

  test("kernel tombstones: a crash between a tombstone merge and its meta write replays to the committed state") {
    val base = freshBase("kernel-tomb")
    val part = IndexScratch.Part(base, "rows", "doc_id")
    val tomb = IndexScratch.Tombstones(base, "doc_id")
    part.overwrite(docs.select("doc_id"))
    def live = tomb.live(part.physical(spark))
    def delete(ids: DataFrame): Unit = {
      tomb.merge(ids)
      IndexScratch.writeMeta(spark, base, "n" -> live.count())
    }
    def metaN = spark.read.parquet(s"$base/meta").head().getLong(0)
    delete(docs.filter(col("doc_id") % 3 === 0))
    val metaSnap = snapshot(s"$base/meta")
    val second = docs.filter(col("doc_id") % 7 === 0)
    delete(second)
    val committed = (metaN, ids(live))
    // crash simulation: the merged set landed, the meta write did not
    restore(metaSnap, s"$base/meta")
    assert(metaN != committed._1, "the second delete hid no rows")
    delete(second)
    assert((metaN, ids(live)) == committed)
    // the replayed merge is an id-set union: no duplicate tombstones
    val set = spark.read.parquet(tomb.path)
    assert(set.count() == set.distinct().count())
    // compaction folds the set into the part and clears it
    tomb.compact(spark)(t => part.overwrite(
      tomb.hide(part.physical(spark), Some(t)).materializeOnce(eager = true)))
    assert(tomb.read(spark).isEmpty)
    assert(ids(part.physical(spark)) == committed._2)
  }

  test("kernel high-water: a crash between a data append and its meta commit replays to the committed state") {
    val base = freshBase("kernel-hw")
    val hw = IndexScratch.HighWater(base)
    val part = IndexScratch.Part(base, "rows", "doc_id")
    def range(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).withColumnRenamed("id", "doc_id")
    def absorb(batch: DataFrame): Unit = {
      val b = batch.materializeOnce()
      hw.admit(b, part.physical(spark), "absorb").foreach { batchMax =>
        part.append(b.join(part.physical(spark).select("doc_id"), Seq("doc_id"), "left_anti")
          .materializeOnce(eager = true))
        hw.commit(spark, batchMax)
      }
    }
    def rows = part.physical(spark).select("doc_id").collect().map(_.getLong(0)).toSeq
    part.overwrite(range(0, 200))
    hw.commit(spark, 199L)
    val metaSnap = snapshot(s"$base/meta")
    absorb(range(200, 300))
    // crash simulation: the append landed, the commit did not — and the
    // catalog entry is gone, as in a fresh session
    restore(metaSnap, s"$base/meta")
    spark.sql(s"DROP TABLE ${part.table}")
    assert(hw.mark(spark) == 199L)
    absorb(range(200, 300))
    assert(hw.mark(spark) == 299L)
    assert(rows.sorted == (0L until 300L))
    // a replay of the committed batch is a no-op; an out-of-order new id is rejected
    absorb(range(200, 300))
    assert(rows.size == 300)
    val e = intercept[IllegalArgumentException](absorb(range(250, 260).union(range(900, 901))))
    assert(e.getMessage.contains("monotone"))
    // the sync step hands on exactly the slice above the mark
    assert(hw.sync(range(0, 350))(absorb) == 50L)
    assert(hw.mark(spark) == 349L && rows.size == 350)
  }
}
