package graft.dedup

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Decisions, IndexScratch, Tables}

class MinhashIndexStoreSpec extends SparkSpec {

  private def asMap(rows: Array[Row]) = rows.map { r =>
    r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_dups"),
        if (r.isNullAt(r.fieldIndex("first_dup"))) -1L else r.getAs[Long]("first_dup"),
        r.getAs[Int]("is_dup")))
  }.toMap

  test("the minhash gate restored from its files alone equals the per-call gate on both sides of the crossover") {
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-mh-restore").toString + "/idx"
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    MinhashIndexStore.build(existing, base)
    // a fresh session knows none of the index's catalog entries: drop
    // them before each gate so every part is restored from its files
    val prefix = "graft_idx_" + IndexScratch.md5hex(base).take(10) + "_"
    def dropEntries(): Set[String] = {
      val entries = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith(prefix)).toSet
      entries.foreach(t => spark.sql(s"DROP TABLE $t"))
      entries
    }
    def strategy(): String =
      Decisions.snapshot().filter(_.site == "dedup.indexedGate").last.choice
    assert(dropEntries() == Set("sets", "banded", "members").map(prefix + _))

    // a 20% batch sits past the small-batch crossover: the adaptive path
    Decisions.clear()
    val largeDf = MinhashIndexStore
      .dedupIncrementalAgainstIndex(docs.filter(col("doc_id") % 5 === 0), base)
    val large = asMap(largeDf.collect())
    assert(strategy() == "adaptive")
    assert(large.size == 100)
    assert(large == asMap(Dedup.dedupIncremental(spark, sf).collect()))
    assert(large.values.exists(_._3 == 1)) // the corpus does have dups
    val largePlan = largeDf.queryExecution.executedPlan.toString
    assert(!largePlan.contains("CartesianProduct"))
    assert(!largePlan.contains("BroadcastNestedLoopJoin"))

    // a batch well under the crossover (10 docs against ~400 indexed
    // groups): broadcast-bipartite over bucketed scans of the restored parts
    assert(dropEntries() == Set("sets", "banded", "members").map(prefix + _))
    Decisions.clear()
    val tinyNew = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") < 50)
    val smallDf = MinhashIndexStore.dedupIncrementalAgainstIndex(tinyNew, base)
    val small = asMap(smallDf.collect())
    assert(strategy() == "bipartite")
    assert(small.nonEmpty)
    assert(small == asMap(Dedup.dedupIncrementalDocs(tinyNew, existing).collect()))
    val smallPlan = smallDf.queryExecution.executedPlan.toString
    assert("SelectedBucketsCount".r.findAllIn(smallPlan).length >= 2,
      "expected bucketed scans for sets and banded")
    assert(!smallPlan.contains("CartesianProduct"))
    assert(!smallPlan.contains("BroadcastNestedLoopJoin"))
  }
}
