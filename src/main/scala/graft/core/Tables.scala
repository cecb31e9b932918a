package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros, unix_micros}
import org.apache.spark.sql.types._

/** Schema-pruned, physical-layout-adaptive loaders for the driver
  * testdata tables.
  *
  * Every operator reads through these so that (a) column pruning and
  * filter pushdown reach the parquet scan, and (b) the LOGICAL schema
  * downstream operators see is pinned regardless of the parquet
  * PHYSICAL layout the generator chose. The driver has regenerated
  * testdata with changed physical types before (`events.ts` flipped
  * from nanosecond INT64 to `timestamp[us]` between rounds 7 and 8,
  * which DNF'd every events consumer for a round) — so every loader,
  * not just `events`, now normalizes to a canonical schema and throws
  * a named error on a layout it cannot losslessly adapt.
  *
  * Canonical types are exactly the layouts the current generation
  * produces (so normalization is a zero-cost pass-through today), and
  * each accepted drift variant has an exact conversion:
  *
  *  - int32 ↔ int64 key/count columns: cast (keys are small; exact).
  *  - float → double and decimal(p,s) → double measures: cast.
  *  - date32 / timestamp_ntz / INT64-ns → timestamp[us] date columns:
  *    cast under the UTC session time zone (dates are midnight-aligned
  *    in this corpus, so the cast round-trips).
  *  - `events.ts` specifically → epoch-ns Long (see [[events]]).
  *  - array<double> → array<float> embeddings: element cast.
  *
  * Loaders take the scale-factor directory so the same plan runs at
  * sf0.001 → 100 TB unchanged.
  */
object Tables {

  /** Marker for `events.ts`: canonical epoch-nanos Long, convertible
    * from any timestamp physical layout (the one column where we keep
    * integer nanos rather than a timestamp, because sessionization /
    * as-of arithmetic wants a totally ordered Long and the DuckDB
    * oracles read it via type-agnostic `epoch_ns(ts)`).
    */
  private val EpochNanos: DataType = LongType

  /** Canonical logical schema per table — column order included.
    * A regenerated layout must map onto this or the loader throws.
    */
  private val canonical: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq("event_id" -> LongType, "ts" -> EpochNanos,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
  )

  /** OPTIONAL canonical columns: consumed when present (`knn_classify`
    * reads `label`), coerced like required ones, but their absence is
    * not an error — synthetic corpora (specs, derived stores, ANN index
    * frames) need not carry them.
    */
  private val optional: Map[String, Seq[(String, DataType)]] = Map(
    "embeddings" -> Seq("label" -> IntegerType)
  )

  /** Type equality ignoring array-element nullability (Spark's own
    * `DataType.sameType` is `private[sql]`). Structs/maps never occur
    * in this corpus.
    */
  private def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(ea, _), ArrayType(eb, _)) => sameType(ea, eb)
    case _ => a == b
  }

  /** Per-JVM memo of the normalized table PLANS, guarded by the same
    * file fingerprint the index stores use for freshness. One
    * `spark.read.parquet` costs ~50 ms warm on the driver (file
    * listing + parquet footer schema inference + normalize analysis),
    * and a 145-entry bench pays it 2-3× per entry — ~15 s of pure
    * driver-side metadata work re-deriving identical plans. The memo
    * holds plan METADATA only: every action on the returned frame
    * re-reads the parquet (this is the same class of caching as
    * Spark's own file-status cache, never a result cache). The
    * fingerprint stat (~1 ms recursive listing) preserves the in-place
    * regeneration contract: any file length/mtime change rebuilds the
    * plan, so a session that overwrites a table sees the new files
    * (spec-pinned by the regeneration tests). Values also carry their
    * session: a frame from a stopped session is never served, and its
    * entries are dropped at the next insert. The memo is bounded: past
    * [[PlanCacheCap]] entries the least recently read goes (a crawl
    * loop reads a fresh snapshot directory every cycle).
    */
  private[core] val PlanCacheCap = 64

  private val planCache =
    new java.util.LinkedHashMap[(String, String), (String, SparkSession, DataFrame)](
        16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (String, String), (String, SparkSession, DataFrame)]): Boolean =
        size() > PlanCacheCap
    }

  private[core] def planCacheSize: Int = planCache.synchronized(planCache.size())

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Timestamp adaptation (NTZ reinterpretation, date→timestamp,
    // date_format downstream) is exact only under a UTC session —
    // Graft/Bench/Verify sessions pin it at build time; pin it here too
    // so library use from an externally built session (notebook, test
    // harness) cannot silently produce shifted epochs. Mirrors the
    // nanosAsLong conf-set below.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // parquet timestamp[ns] arrives as raw Long instead of failing the
    // read; the normalizer then converts it like any epoch-ns column
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val key = (dir, name)
    val fp = IndexScratch.sourceFingerprint(spark, s"$dir/$name.parquet")
    val hit = planCache.synchronized(planCache.get(key))
    if (hit != null && hit._1 == fp && (hit._2 eq spark)) hit._3
    else {
      val df = normalize(spark.read.parquet(s"$dir/$name.parquet"), name)
      planCache.synchronized {
        planCache.values.removeIf(_._2.sparkContext.isStopped)
        planCache.put(key, (fp, spark, df))
      }
      df
    }
  }

  /** Coerce one column from its observed physical-read type to the
    * canonical type; throw a named error when no exact adaptation
    * exists (a silent wrong read is worse than a loud one).
    */
  private def coerce(table: String, name: String, from: DataType, to: DataType): Column = {
    val c = col(name)
    if (sameType(from, to)) c
    else ((from, to) match {
      // events.ts → epoch-ns Long (Long passes via sameType above)
      case (TimestampType, EpochNanos) if table == "events" && name == "ts" =>
        Some(unix_micros(c) * 1000L)
      case (TimestampNTZType, EpochNanos) if table == "events" && name == "ts" =>
        Some(unix_micros(c.cast(TimestampType)) * 1000L) // naive-as-UTC under pinned session tz
      // integer-width drift on keys/counts (values are small; exact)
      case (IntegerType, LongType) | (LongType, IntegerType) => Some(c.cast(to))
      // measure-precision drift
      case (FloatType, DoubleType) => Some(c.cast(to))
      case (_: DecimalType, DoubleType) => Some(c.cast(to))
      // date-column physical drift → canonical timestamp[us]
      case (DateType, TimestampType) => Some(c.cast(TimestampType)) // midnight UTC
      case (TimestampNTZType, TimestampType) => Some(c.cast(TimestampType))
      case (LongType, TimestampType) => // INT64 nanos (nanosAsLong read)
        // integral `div`, not `/`: float division loses precision at
        // epoch-ns magnitude (~1.7e18 overflows a double mantissa)
        Some(timestamp_micros(org.apache.spark.sql.functions.expr(s"`$name` div 1000")))
      // embedding element-width drift
      case (ArrayType(DoubleType, n), ArrayType(FloatType, _)) =>
        Some(c.cast(ArrayType(FloatType, n)))
      case _ => None
    }).getOrElse(throw new IllegalArgumentException(
      s"$table.$name: unsupported physical type $from (expected $to or a known drift variant)"
    )).as(name)
  }

  /** Normalize a freshly read frame to the canonical schema of `table`:
    * every canonical column present (coerced as needed), canonical
    * order, unknown extra columns dropped. Missing columns and
    * un-adaptable types throw with the table.column named.
    */
  def normalize(df: DataFrame, table: String): DataFrame = {
    val required = canonical.getOrElse(table,
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    val want = required ++
      optional.getOrElse(table, Nil).filter { case (n, _) => have.contains(n) }
    val cols = want.map { case (name, to) =>
      val from = have.getOrElse(name, throw new IllegalArgumentException(
        s"$table.$name: column missing from parquet (have: ${df.columns.mkString(", ")})"))
      coerce(table, name, from, to)
    }
    // all-pass-through → keep the original plan node (cheaper to audit)
    if (want.forall { case (n, t) => have.get(n).exists(sameType(_, t)) } &&
      df.columns.sameElements(want.map(_._1))) df
    else df.select(cols: _*)
  }

  def region(s: SparkSession, d: String): DataFrame     = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = read(s, d, "lineitem")

  /** `events.ts` normalized to epoch-nanos LongType regardless of the
    * parquet physical type the generator chose for it. Observed variants:
    * nanosecond INT64 (rounds ≤7 testdata — read via `nanosAsLong`, passes
    * through), and `timestamp[us]` (round-8 regeneration — arrives as
    * TIMESTAMP/TIMESTAMP_NTZ and is converted with `unix_micros * 1000`,
    * exact because the session timezone is pinned to UTC by [[read]]).
    * Downstream operators always see epoch-ns Long, and the DuckDB
    * oracles' `epoch_ns(ts)` is type-agnostic, so all physical layouts
    * hash-match.
    */
  def events(s: SparkSession, d: String): DataFrame     = read(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** Normalize a `ts` column to epoch-nanos Long (see [[events]]). Exposed
    * for specs that pin both physical-type paths.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType => df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported physical type $other (expected INT64 ns, timestamp, or timestamp_ntz)")
    }
  }

  /** Register every table as a temp view so the whole surface is
    * reachable from plain `spark.sql` — the reference's API layer
    * speaks SQL against its store, and a Graft session (with
    * `GraftSparkExtensions`) resolves the native functions there too.
    */
  def registerViews(s: SparkSession, d: String): Unit = {
    region(s, d).createOrReplaceTempView("region")
    nation(s, d).createOrReplaceTempView("nation")
    customer(s, d).createOrReplaceTempView("customer")
    supplier(s, d).createOrReplaceTempView("supplier")
    part(s, d).createOrReplaceTempView("part")
    orders(s, d).createOrReplaceTempView("orders")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    events(s, d).createOrReplaceTempView("events")
    documents(s, d).createOrReplaceTempView("documents")
    embeddings(s, d).createOrReplaceTempView("embeddings")
  }
}
