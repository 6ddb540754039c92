package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md §A).
  *
  * Parquet carries its own schema, so no inference pass happens (unlike the
  * reference's schema-on-read JSON scans, /root/reference/etl.py:64). Loaders
  * are thin on purpose: Catalyst's column pruning + filter pushdown reach the
  * scan only when the read is a plain declarative `spark.read.parquet`.
  *
  * Scale posture: a single parquet file per table here; at 100 TB the same
  * call reads a partitioned directory tree and nothing else changes — all
  * downstream operators are written against the schema, not the layout.
  */
object Tables {
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.types._

  /** Per-process memo of each table file's SCANNED schema (round 20): a
    * schema-less `spark.read.parquet()` runs a footer-inference job on the
    * driver at DataFrame-creation time — ~4–7 cs per call at local[32],
    * paid again by EVERY execution of every query that touches the table.
    * Reading the schema once and constructing later frames with
    * `.schema(...)` keeps the canon() drift adaptation fully intact (the
    * schema still comes from the actual file, not an assumption) and turns
    * the per-execution job into a per-process one — the same lifetime
    * argument as [[rowCount]]'s memo, documented there. Keyed on the
    * nanosAsLong flag too: the inferred dtype of TIMESTAMP(NANOS) columns
    * depends on it, and a second session in one JVM may differ.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private def p(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val flag = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").getOrElse("false")
    val schema = schemaCache.computeIfAbsent(s"$flag|$path",
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Schema-at-the-edge: cast any column whose SCANNED dtype drifted from
    * the canonical one every downstream query is written against. The
    * round-8→9 testdata regen proved upstream writers change physical
    * types mid-stream (`events.ts` nanos→micros, 38 queries dead at
    * analysis); this keeps such drift a loader concern for every table,
    * not just events. When the scan already matches (the normal case)
    * this is the identity — no projection is added, so pushdown/pruning
    * are untouched; a drifted column costs one cast and loses only that
    * column's scan-level filter pushdown, which is the correct trade
    * against 38 analysis failures.
    */
  private def canon(df: DataFrame, want: (String, DataType)*): DataFrame = {
    val byName = want.toMap
    // nullability is not drift (parquet writers flip it freely); compare
    // on the nullable-normalized type only
    def norm(t: DataType): DataType = t match {
      case ArrayType(e, _)   => ArrayType(norm(e), containsNull = true)
      case MapType(k, v, _)  => MapType(norm(k), norm(v), valueContainsNull = true)
      case StructType(fs)    =>
        StructType(fs.map(f => f.copy(dataType = norm(f.dataType), nullable = true)))
      case other             => other
    }
    def differs(have: DataType, w: DataType) = norm(have) != norm(w)
    val drifted = df.schema.fields.exists(f =>
      byName.get(f.name).exists(differs(f.dataType, _)))
    if (!drifted) df
    else df.select(df.columns.map { c =>
      byName.get(c) match {
        case Some(t) if differs(df.schema(c).dataType, t) => col(c).cast(t).as(c)
        case _ => col(c)
      }
    }: _*)
  }

  def region(s: SparkSession, d: String): DataFrame = canon(p(s, d, "region"),
    "r_regionkey" -> IntegerType)
  def nation(s: SparkSession, d: String): DataFrame = canon(p(s, d, "nation"),
    "n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType)
  def customer(s: SparkSession, d: String): DataFrame = canon(p(s, d, "customer"),
    "c_custkey" -> LongType, "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType)
  def supplier(s: SparkSession, d: String): DataFrame = canon(p(s, d, "supplier"),
    "s_suppkey" -> LongType, "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
  def part(s: SparkSession, d: String): DataFrame = canon(p(s, d, "part"),
    "p_partkey" -> LongType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType)
  def orders(s: SparkSession, d: String): DataFrame = canon(p(s, d, "orders"),
    "o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType)
  def lineitem(s: SparkSession, d: String): DataFrame = canon(p(s, d, "lineitem"),
    "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
    "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
    "l_tax" -> DoubleType, "l_shipdate" -> TimestampNTZType)
  def documents(s: SparkSession, d: String): DataFrame = canon(p(s, d, "documents"),
    "doc_id" -> LongType, "n_chars" -> LongType)
  def embeddings(s: SparkSession, d: String): DataFrame = canon(p(s, d, "embeddings"),
    "vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType)

  /** Memoized-schema parquet read for STABLE-SCHEMA relations that are
    * re-created (and so re-inferred) on every execution — the lake
    * fixtures whose data FILES change per commit while their schema
    * cannot (round 20). `key` names the memo entry: callers pass the
    * lake ROOT, not the file list, precisely because part-file names
    * churn per write. Same per-process lifetime argument as [[rowCount]];
    * a genuine schema change within one process would be a bug this memo
    * turns from silent into loud (column resolution fails downstream).
    */
  def parquetStable(s: SparkSession, key: String, paths: Seq[String]): DataFrame = {
    val schema = schemaCache.computeIfAbsent(s"stable|$key",
      _ => s.read.parquet(paths: _*).schema)
    s.read.schema(schema).parquet(paths: _*)
  }

  /** Cardinality of `<dir>/<table>.parquet`, memoized per JVM. The
    * corpus-sized plans (q19/q20/q50's band ladders, q232's refine
    * rounds) derive from this count on EVERY execution; it is a
    * zero-column parquet-metadata read, but each un-memoized call is
    * still a full Spark job (~10 cs at local[32]) — measured as the
    * r17 q67/q175 mover (+26/+10 cs: two counts vs one). A production
    * engine reads this from catalog statistics; the per-process memo
    * is the local stand-in. Safe because a corpus regen at the same
    * path is already out of scope for a LIVE process (the artifact
    * fingerprints that guard regens are computed per-process too).
    */
  private val countCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def rowCount(s: SparkSession, d: String, table: String): Long =
    countCache.computeIfAbsent(s"$d/$table",
      _ => s.read.parquet(s"$d/$table.parquet").count()).longValue()

  /** Scale-adaptive partition count for an EXPLICIT repartition of a
    * table-derived relation (round 20, guide §2 "make partitioning
    * scale-adaptive rather than a constant"): max(cluster parallelism,
    * rows / rowsPerTask). Explicit-n repartitions opt out of AQE
    * coalescing — which is the point where they are used: AQE sizes
    * post-shuffle partitions by BYTES and happily coalesces a CPU-bound
    * kernel or pair-scoring stage to one task at small inputs (it cannot
    * see per-row compute). The floor keeps every core busy locally; the
    * rows term keeps tasks bounded as the corpus grows.
    */
  def computeParallelism(s: SparkSession, d: String, table: String,
      rowsPerTask: Long = 100000L): Int =
    scaledParallelism(s, rowCount(s, d, table), rowsPerTask)

  /** The rule behind [[computeParallelism]] for any measure of input size
    * (rows, bytes): max(cluster parallelism, ceil(amount / perTask)),
    * capped at 2^20 tasks.
    */
  def scaledParallelism(s: SparkSession, amount: Long, perTask: Long): Int =
    math.max(s.sparkContext.defaultParallelism.toLong,
      (amount + perTask - 1) / perTask).min(1 << 20).toInt

  /** Same memo, but ONLY for tables under a published (immutable)
    * artifact root — the ≤1024-row persisted centroid tables whose
    * cardinality sizes the serve path's nprobe. The memo is safe
    * precisely because publishOnce roots never change after their
    * completion marker lands, so the marker is ASSERTED before caching
    * (ADVICE r17: the old any-path name invited reuse on mutable paths —
    * e.g. the hive-appended codes/cells dirs — where a stale count would
    * silently mis-size nprobe). `markerPath` is the completion-marker
    * FILE of the publishOnce root that owns `path`.
    */
  def publishedArtifactCount(s: SparkSession, path: String, markerPath: String): Long =
    countCache.computeIfAbsent(path, _ => {
      require(new java.io.File(markerPath).exists(),
        s"refusing to memoize a count under an unpublished root: $markerPath absent")
      s.read.parquet(path).count()
    }).longValue()

  /** `events.ts` has shipped under two generator layouts, so the loader
    * adapts to whichever schema the scan reports rather than assuming one:
    *
    *  - parquet `timestamp[us]` (current generator): Spark reads it as
    *    TIMESTAMP_NTZ (no UTC-adjust flag in the file). All downstream
    *    consumers (`unix_micros`, `window`, `withWatermark`, `date_trunc`)
    *    and every DuckDB oracle treat `ts` as an instant in UTC, so we cast
    *    NTZ → TIMESTAMP deliberately; sessions run with
    *    `spark.sql.session.timeZone=UTC` (Verify/Bench/test builders), which
    *    makes the cast a pure re-tag of the same micros value — no shift.
    *  - parquet TIMESTAMP(NANOS) (old generator): Spark's vectorized reader
    *    surfaces it as LongType under `spark.sql.legacy.parquet.nanosAsLong`;
    *    rebuild a micro-truncated timestamp. `ts div 1000` — integer
    *    division; `/` would widen the ns long to double (53-bit mantissa,
    *    ulp ≈ 256 at 1.7e18) and round the microsecond by ±1 (q34).
    *
    * DuckDB reads either layout natively; `epoch_ns(ts) // 1000` in the
    * oracles is exact on both.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = canon(p(s, d, "events"),
      "event_id" -> LongType, "user_id" -> LongType, "value" -> DoubleType)
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}
