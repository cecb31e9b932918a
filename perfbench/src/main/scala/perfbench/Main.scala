package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.core.{Graft, Tables}

/** One workload: set-up (the initial store builds, from an input of
  * their own), then one closed-loop cycle per input. There are no
  * warm-up cycles: the store builds run and compile most of the engine
  * code a cycle runs, and a warm-up cycle per run does not fit the
  * benchmark's time budget.
  */
trait Workload {
  def setup(h: Harness): Unit
  def cycle(h: Harness, input: String): Unit
  /** Outside the timed window, after each cycle: dump what the checks need. */
  def afterCycle(h: Harness, input: String): Unit = ()
  /** The directories of the workload's stores. */
  def persisted(h: Harness): Seq[String]
  /** Store paths, bytes and live-row fractions at the end of the run. */
  def stores(h: Harness): Map[String, Map[String, Any]]
}

/** sync_index: the reference's sync -> extract -> index loop over a
  * fresh crawl snapshot each cycle, then the crawl-sync of the search,
  * vector and span stores to that snapshot (as `Pipeline.crawlCycle`
  * syncs them) and indexed reads from the search and vector stores.
  * Set-up builds the stores from crawl 0 (`base`).
  */
final class SyncIndex(inputs: String, work: String) extends Workload {
  import graft.dedup.SpanIndexStore
  import graft.index.SearchIndexStore
  import graft.sim.VectorIndexStore

  private val base = s"$inputs/base"
  private val searchBase = s"$work/stores/search"
  private val vectorBase = s"$work/stores/vector"
  private val spanBase = s"$work/stores/span"
  /** The crawls the stores have seen, in order: what their checks replay. */
  private val crawls = mutable.ArrayBuffer(base)

  def setup(h: Harness): Unit = {
    val docs = Tables.documents(h.spark, base).select("doc_id", "text")
    SearchIndexStore.build(docs, searchBase)
    VectorIndexStore.buildIvfPq(
      Tables.embeddings(h.spark, base).select("vec_id", "embedding"), vectorBase)
    SpanIndexStore.buildSpanIndex(docs, spanBase)
  }

  def cycle(h: Harness, dir: String): Unit = {
    val spark = h.spark
    import graft.sync.Sync
    import graft.json.JsonOps
    def oracle(key: String) = Map("kind" -> "oracle", "key" -> key, "dir" -> dir)
    h.frame("sync", "syncDiff", oracle("sync_diff"))(Sync.syncDiff(spark, dir))
    h.frame("sync", "syncUpsert", oracle("sync_upsert"))(Sync.syncUpsert(spark, dir))
    h.frame("sync", "outboxBatch", oracle("outbox_batch"))(Sync.outboxBatch(spark, dir))
    h.frame("sync", "batchClaim", oracle("batch_claim"))(Sync.batchClaim(spark, dir))
    h.frame("sync", "orphanRequeue", oracle("orphan_requeue"))(Sync.orphanRequeue(spark, dir))
    h.frame("sync", "syncBackfill", oracle("sync_backfill"))(Sync.syncBackfill(spark, dir))
    h.frame("json", "jsonPropsExtract", oracle("json_props_extract"))(
      JsonOps.jsonPropsExtract(spark, dir))
    h.frame("json", "inlineRefs", oracle("inline_refs"))(JsonOps.inlineRefs(spark, dir))
    h.frame("json", "refResolve", oracle("ref_resolve"))(JsonOps.refResolve(spark, dir))
    h.frame("index", "searchDoc", oracle("search_doc"))(
      graft.index.Indexing.searchDoc(spark, dir))
    val indexed = h.out("syncAndIndex")
    h.action("Pipeline", "syncAndIndex",
      Map("kind" -> "sync_and_index", "dir" -> dir, "out" -> indexed))(
      graft.Pipeline.syncAndIndex(spark, dir, indexed, chunkSize = 500))

    crawls += dir
    val seen = crawls.toList
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    h.action("SearchIndexStore", "searchSync",
      Map("kind" -> "search_store", "dir" -> dir, "out" -> h.out("searchInverted")))(
      SearchIndexStore.searchSync(docs, searchBase))
    h.action("VectorIndexStore", "crawlSyncVectors",
      Map("kind" -> "vector_store", "crawls" -> seen, "out" -> h.out("vectorLive")))(
      VectorIndexStore.crawlSyncVectors(spark, vectorBase, emb))
    h.action("SpanIndexStore", "spanSync",
      Map("kind" -> "span_store", "crawls" -> seen, "out" -> h.out("spanIds")))(
      SpanIndexStore.spanSync(docs, spanBase))
    // indexed reads from the synced stores: the query of the bm25_rank
    // oracle, and 20 ANN queries, whose plan is Similarity.ivfPqSearch
    // over the loaded artifacts
    h.frame("SearchIndexStore", "bm25FromIndex", oracle("bm25_rank"))(
      SearchIndexStore.bm25FromIndex(spark, searchBase,
        Seq("scan", "join", "window", "vector")))
    h.frame("VectorIndexStore", "annIvfPqFromIndex",
      Map("kind" -> "ann_indexed", "dir" -> dir, "index" -> h.out("vectorLive")),
      planModule = "sim")(
      VectorIndexStore.annIvfPqFromIndex(spark, vectorBase, emb,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 20)))
  }

  override def afterCycle(h: Harness, dir: String): Unit = {
    val spark = h.spark
    h.dump("searchInverted", SearchIndexStore.invertedIndexOf(spark, searchBase))
    // the vector store's live artifacts, laid out as the store lays
    // them out, for the indexed-read oracle to replay the query from
    val idx = VectorIndexStore.loadIvfPq(spark, vectorBase)
    h.dump("vectorLive/centroids", idx.centroids)
    h.dump("vectorLive/lists", idx.lists)
    h.dump("vectorLive/books", idx.books)
    h.dump("vectorLive/codes", idx.codes)
    h.dump("vectorLive/meta", spark.read.parquet(s"$vectorBase/meta"))
    h.dump("spanIds", spark.read.parquet(s"$spanBase/report").select("doc_id"))
  }

  def persisted(h: Harness): Seq[String] = Seq(searchBase, vectorBase, spanBase)

  def stores(h: Harness): Map[String, Map[String, Any]] = {
    val spark = h.spark
    val report = spark.read.parquet(s"$spanBase/report")
    Map(
      "SearchIndexStore" -> Stores.of(searchBase,
        SearchIndexStore.loadDocStats(spark, searchBase).count(),
        spark.read.parquet(s"$searchBase/docstats").count()),
      "VectorIndexStore" -> Stores.of(vectorBase,
        VectorIndexStore.loadIvfPq(spark, vectorBase).codes.count(),
        spark.read.parquet(s"$vectorBase/codes").count()),
      "SpanIndexStore" -> Stores.of(spanBase,
        report.select("doc_id").distinct().count(), report.count()))
  }
}

/** curate_batch: the full curation report plus the survivor manifest
  * over a corpus the engine has never seen, once per cycle, then the
  * crawl-sync of the persisted decision table to that corpus: the
  * documents that left since the previous corpus are tombstoned, and
  * the new ones scored against the table's frozen gate models. The report is
  * `Pipeline.curationReport` with its gate frames kept, so the manifest
  * reuses them the way the engine's composed flows do. Set-up builds
  * the decision table from a corpus of its own (`base`).
  */
final class CurateBatch(inputs: String) extends Workload {
  import graft.curate.DecisionStore

  private val base = s"$inputs/base"
  private val crawls = mutable.ArrayBuffer(base)

  def setup(h: Harness): Unit = DecisionStore.ensureDecisions(h.spark, base)

  def cycle(h: Harness, dir: String): Unit = {
    val spark = h.spark
    var gates: Option[graft.Pipeline.CurationGates] = None
    h.frame("Pipeline", "curationReport",
      Map("kind" -> "oracle", "key" -> "curation_report", "dir" -> dir)) {
      val g = graft.Pipeline.curateGates(spark, dir)
      gates = Some(g)
      graft.Pipeline.curationReportFrom(g)
    }
    gates.foreach(g =>
      h.frame("Pipeline", "curateCorpus", Map("kind" -> "manifest", "dir" -> dir))(
        graft.Pipeline.curateCorpusFrom(spark, dir, g)))
    crawls += dir
    h.action("DecisionStore", "crawlSync", Map("kind" -> "decision_store",
        "crawls" -> crawls.toList, "out" -> h.out("decisionIds")))(
      DecisionStore.crawlSync(spark, base,
        Tables.documents(spark, dir).select("doc_id", "text", "source")))
  }

  override def afterCycle(h: Harness, dir: String): Unit =
    h.dump("decisionIds", DecisionStore.decisionTable(h.spark, base).select("doc_id"))

  private def decisionBase(h: Harness) = DecisionStore.ensureDecisions(h.spark, base)

  def persisted(h: Harness): Seq[String] = Seq(decisionBase(h))

  def stores(h: Harness): Map[String, Map[String, Any]] = Map(
    "DecisionStore" -> Stores.of(decisionBase(h),
      DecisionStore.decisionTable(h.spark, base).count(),
      h.spark.read.parquet(s"${decisionBase(h)}/decisions").count()))
}

/** Store size and live-row share, read from outside the store: its
  * bytes on disk, and its public live view against its physical rows.
  */
object Stores {
  def of(path: String, live: Long, physical: Long): Map[String, Any] = Map(
    "path" -> path,
    "bytes" -> Du.bytes(new java.io.File(path)),
    "live_row_frac" -> (if (physical == 0) 0.0 else live.toDouble / physical))
}

object Main {
  /** The measured cycle after which heap and persisted bytes are read. */
  private val SnapshotAfter = 1

  /** Used heap after full GCs. Spark's ContextCleaner releases blocks,
    * broadcasts and shuffles only after a GC has collected their owners,
    * so collect, let it run, and repeat.
    */
  private def heapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val inputs = arg(args, "inputs")
    val work = arg(args, "work")
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val nproc = arg(args, "nproc").toInt
    val cycleDirs = arg(args, "cycles").split(",").toSeq.map(c => s"$inputs/$c")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val rec = new Records(s"$work/records.jsonl")
    val spark = Graft.session(nproc)
    val h = new Harness(spark, rec, s"$work/out")
    val wl: Workload = workload match {
      case "sync_index" => new SyncIndex(inputs, work)
      case "curate_batch" => new CurateBatch(inputs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec.emit("conf", "conf" -> spark.conf.getAll.toSeq.sorted.map {
      case (k, v) => Seq(k, v) })
    // the oracle SQL of every entry the checks compare against
    rec.emit("oracles", "sql" -> graft.SparkEntry.oracleSql.filter {
      case (k, _) => Set("sync_diff", "sync_upsert", "outbox_batch", "batch_claim",
        "orphan_requeue", "sync_backfill", "json_props_extract", "inline_refs",
        "ref_resolve", "search_doc", "inverted_index", "curation_report",
        "bm25_rank", "ann_ivf_pq_indexed")(k) })

    wl.setup(h)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    rec.emit("setup", "setup_s" -> setupS)

    // a traced run traces its whole window, so its cycles are the same
    // cycles an untraced run measures; run.py sets its overhead against
    // the untraced runs
    val listener = new JobListener(rec)
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      graft.core.Decisions.clear()
    }
    h.tracing = trace
    val gc0 = h.gcS()
    var forcedGc = 0.0
    val t0 = h.nowS()
    // past the first, a cycle starts only if a typical one still fits
    val walls = mutable.ArrayBuffer.empty[Double]
    def typical = walls.sorted.apply(walls.size / 2)
    var next = 0
    while (next < cycleDirs.size &&
        (walls.isEmpty || h.nowS() - t0 + typical <= seconds)) {
      val dir = cycleDirs(next)
      walls += h.cycle(f"c$next%03d")(wl.cycle(h, dir))
      wl.afterCycle(h, dir)
      next += 1
      // heap and persisted bytes at a fixed point of the run, so a faster
      // engine that fits more cycles in the window is not charged for them
      if (next == SnapshotAfter) {
        val g0 = h.gcS()
        val heap = heapMb()
        forcedGc += h.gcS() - g0
        rec.emit("snapshot", "cycle" -> f"c${next - 1}%03d",
          "heap_retained_mb" -> heap,
          "persisted_bytes" -> wl.persisted(h).map(p => Du.bytes(new java.io.File(p))).sum)
      }
    }
    rec.emit("window", "traced" -> trace, "cycles" -> walls.size,
      "gc_s" -> (h.gcS() - gc0 - forcedGc),
      "exhausted" -> (next >= cycleDirs.size))
    if (trace) {
      org.apache.spark.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val ds = graft.core.Decisions.snapshot()
      rec.emit("decisions", "records" -> ds.map(d =>
        Map("site" -> d.site, "choice" -> d.choice, "stat" -> d.stat,
          "threshold" -> d.threshold)))
    }
    h.tracing = false
    rec.emit("stores", "stores" -> wl.stores(h))
    rec.close()
    spark.stop()
  }
}
