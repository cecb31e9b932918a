package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A failing
  * entry does not stop the dump: the rest still run and the oracle SQL
  * is still written, then every failure is printed and the run exits
  * non-zero. A `VirtualMachineError` stops it at once.
  */
object Verify {

  /** Write each entry's result to `outDir/<name>`; returns the entries
    * that threw, in run order.
    */
  def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
      entries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, Throwable)] =
    entries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch {
        case e: VirtualMachineError => throw e
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e)
      }
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // see graft.core.Graft: avoids Janino OOM on wide LSH projections
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      // shuffle scratch on RAM-backed tmpfs: the local disk writes at
      // ~265 MB/s and the pair-join shuffles are multi-GB — on a real
      // cluster this is the executors' local NVMe
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter: SPARK_GRAFT_ONLY=a,b,c runs just those
    // queries (the driver never sets it, so its runs stay complete)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed = dumpAll(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // `{{scratch:KIND}}` placeholders resolve to the per-corpus index
    // scratch location for THIS sfDir — oracles that verify a persisted
    // artifact (vindex_stats) read the same files the query read.
    val scratch = "\\{\\{scratch:([a-z]+)\\}\\}".r
    def resolve(sql: String): String =
      scratch.replaceAllIn(sql, m =>
        java.util.regex.Matcher.quoteReplacement(
          graft.core.IndexScratch.scratchBase(sfDir, m.group(1))))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(resolve(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} entries failed:")
      failed.foreach { case (name, e) => System.err.println(s"[verify]   $name: $e") }
      sys.exit(1)
    }
  }
}
