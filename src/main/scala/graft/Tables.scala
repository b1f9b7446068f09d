package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sinks.ReadBack

/** Loader for the engine's landed parquet tables (see TESTDATA.md).
  *
  * The reference ingests from external systems (GCS CSV blobs, RSS feeds,
  * an Excel workbook — `CSV PARSER/gcp_csv.py:203-205`,
  * `RSS PARSER/gcp_rss.py:24-28,83`); this engine models those as
  * ingest-boundary adapters and consumes already-landed columnar tables,
  * so every scan is a prunable, filter-pushable parquet read.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet TIMESTAMP(NANOS) columns per table. Spark has no nanosecond
    * timestamp type; with `spark.sql.legacy.parquet.nanosAsLong` the scan
    * yields the raw int64 and we truncate to microseconds here (floor
    * division — same truncation Spark applies elsewhere for ns→µs). */
  private val nanosCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"))

  /** Tiny dimension tables: keep single-partition so Catalyst broadcasts
    * them; never worth a repartition. */
  private val dims = Set("region", "nation", "supplier", "part", "customer")

  /** Loaded-table memo. `apply` is called inside every registered query
    * — hundreds of times per suite run — and each un-memoized load pays
    * a driver file listing and a parquet footer read. Reusing
    * the DataFrame per (session, dir, table) keeps one InMemoryFileIndex
    * and one resolved relation per table — the same listing-reuse a
    * catalog table gets from the shared session catalog. Session-keyed
    * and context-end-evicted via [[SessionMemo]]; testdata is
    * immutable, so staleness is not a concern. */
  private val memo = new SessionMemo[(String, String), DataFrame]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, (dir, name)) { load(spark, dir, name) }

  /** One-time per-(session, dir, table, columns) STAGED layout: the
    * memoized relation projected to `cols` (Nil = full width) and
    * materialized once (eager `localCheckpoint`) so MULTI-PASS
    * consumers — PrefixSum selection's cuts/counts/final passes, any
    * operator that scans its input more than once — re-read cached
    * blocks instead of re-paying the parquet scan plus the compaction
    * repartition above on every pass. The projection happens BEFORE
    * staging because checkpoint blocks are row-based (no columnar
    * pruning on re-scan): a 3-column consumer re-reading 16-column rows
    * pays ~5× per pass, so consumers name their columns and share one
    * narrow artifact per column set. Single-pass queries should keep
    * using [[apply]]: the plain relation keeps pushdown/pruning at the
    * parquet scan, which staging gives up.
    *
    * Local stand-in for what a production deployment makes a persisted
    * staged table (compacted/bucketed/column-pruned parquet written
    * once, scanned many times); at 100 TB the staging IS that write,
    * and the compaction guard is already a no-op there. Staged through
    * [[graft.operators.StagedOnce]] (owner `tables_staged`), so the
    * bench's build_s line reports the checkpoint instead of folding it
    * into whichever query staged first. */
  def staged(spark: SparkSession, dir: String, name: String,
             cols: Seq[String] = Nil): DataFrame = {
    // Canonical (sorted) column order in the key so callers naming
    // the same column SET share one artifact; re-projected to the
    // caller's order on the way out — positional consumers (`.as[T]`,
    // `.toDF`) must see the order they asked for.
    val key = cols.sorted
    val canonical = graft.operators.StagedOnce(spark,
        s"tables_staged:$name(${key.mkString(",")})@$dir",
        owner = "tables_staged", dir = dir) {
      project(apply(spark, dir, name), key).localCheckpoint(true)
    }
    project(canonical, cols)
  }

  private def project(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df else df.select(cols.map(col): _*)

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Footers are read on the driver, lazily: the first file's gives the
    // schema (the footer schema inference reads, without inference's
    // Spark job) and their row-group counts the fan-out decision below.
    val path = new Path(s"$dir/$name.parquet")
    val footers = ReadBack.partFiles(spark, path, recursive = false)
      .map(f => f -> ReadBack.footer(spark, f)).buffered
    val (first, firstFooter) = footers.headOption
      .getOrElse(throw new IllegalStateException(s"$path holds no parquet data file"))
    val df = spark.read.schema(ReadBack.footerSchema(spark, first, firstFooter)).parquet(path.toString)
    val fixed = nanosCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      // Integral `div`, not `/`: ns-epoch longs (~1.7e18) exceed double's
      // exact integer range, so float division would corrupt the low bits.
      d.schema(c).dataType match {
        case LongType =>
          d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
        case TimestampNTZType =>
          // Data generators have landed `ts` both as TIMESTAMP(NANOS)
          // (→ long via nanosAsLong) and as plain TIMESTAMP(MICROS,
          // isAdjustedToUTC=false), which Spark 4 infers as TIMESTAMP_NTZ.
          // The session TZ is pinned UTC, so casting NTZ→TIMESTAMP preserves
          // every instant; downstream unix_micros/window/watermark code all
          // expects TimestampType. Loader must be robust to both encodings.
          d.withColumn(c, col(c).cast(TimestampType))
        case _ => d
      }
    }
    // Small-scan compaction guard: a fact table landed as one parquet
    // row-group scans as ONE partition, serializing all per-row compute
    // (hashing, regex, vector math) no matter how many cores exist. If the
    // scan yields fewer partitions than the session's parallelism, fan it
    // out once. At real scale (many files / many row groups) the scan
    // already exceeds core count and this is a no-op — it only triggers
    // for small landed files.
    //
    // A parquet scan has at most one non-empty reader per row group, so
    // the footers' row-group count is the guard's measure (footers are
    // read only until the count reaches the floor). The planned split
    // count it replaces also counted empty splits: sf0.1's lineitem, one
    // 10 MB row group, plans as 3 splits, so at 4 to 7 cores it used to
    // skip the fan-out and scan in one task; it fans out now. Every other
    // landed (table, scale) decision is unchanged, and no
    // physical-planning probe runs.
    //
    // The fan-out hashes the table's primary key instead of round-robin
    // (r18, guide §2.5): every keyless repartition(n) first pays a local
    // sort of its input (spark.sql.execution.sortBeforeRepartition,
    // SPARK-23207 — needed so retried tasks reproduce the same row→
    // partition map), a per-scan cost this exchange was paying on every
    // fact pass of every query. Hashing a deterministic unique key needs
    // no such sort (same placement on any retry by construction), spreads
    // as evenly (key cardinality ≥ 60× partition count on every fact
    // table), and leaves hashpartitioning(key) as the scan's output
    // partitioning, which downstream joins/aggregates keyed the same way
    // reuse instead of re-exchanging.
    val target = spark.sparkContext.defaultParallelism
    if (fansOut(name, target, footers.map(_._2.getBlocks.size)))
      fanoutKey.get(name) match {
        case Some(k) => fixed.repartition(target, col(k))
        case None    => fixed.repartition(target) // unknown table: keep round-robin
      }
    else fixed
  }

  /** The small-scan guard: a fact table whose files hold fewer than
    * `target / 2` row groups fans out. `rowGroups` is consumed lazily,
    * one count per file, and only until the floor is reached. */
  private[graft] def fansOut(name: String, target: Int, rowGroups: Iterator[Int]): Boolean = {
    val floor = math.max(target / 2, 1)
    !dims(name) && !rowGroups.scanLeft(0)(_ + _).exists(_ >= floor)
  }

  /** Deterministic fan-out key per fact table: the primary (or, for
    * lineitem, the most-joined prefix) key — unique-ish, so the hash
    * spread matches round-robin's without the sort-before-repartition
    * pass, and stable under task retry (guide §2.5's determinism rule). */
  private val fanoutKey: Map[String, String] = Map(
    "lineitem" -> "l_orderkey",
    "orders" -> "o_orderkey",
    "events" -> "event_id",
    "documents" -> "doc_id",
    "embeddings" -> "vec_id")
}
