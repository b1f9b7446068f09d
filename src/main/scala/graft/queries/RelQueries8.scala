package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sinks.ParquetWrite

/** Eighth relational batch: time-series resampling with linear
  * interpolation, and seasonal-baseline anomaly detection.
  */
object RelQueries8 {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** Resample each user's irregular event series onto a regular 3600 s
    * grid with LINEAR interpolation between the surrounding known
    * points — the companion to q_gap_fill's step-function forward fill
    * (ffill holds the last value; interpolation draws the line). Exact
    * cross-engine discipline: the interpolated value is assembled as an
    * integer numerator/denominator — prevV·(nextT−prevT) +
    * (nextV−prevV)·(t−prevT) over (nextT−prevT), all in long cents ×
    * seconds — and the ONLY floating-point op is the final single
    * division, which is bitwise-reproducible (no integer DIV-vs-floor
    * divergence on negative slopes, the trap a truncating-division
    * form would hit).
    *
    * Shape: per-user grid generated with `sequence` (spine is computed,
    * not joined), unioned with the known points, one window pass per
    * direction (last/first ignoreNulls) partitioned by the
    * high-cardinality user key — no self-join, no as-of join, bounded
    * per-user state. Grid points that coincide with a known sample
    * take the sample value (zero-width interval guard). */
  def interpolate(s: SparkSession, dir: String): DataFrame = {
    val known = t(s, dir, "events")
      .filter(col("user_id") < 30 && col("event_id") % 5 === 0)
      .select(col("user_id"),
        unix_timestamp(col("ts")).as("t_s"),
        cents(col("value")).as("v"))
      .groupBy("user_id", "t_s").agg(min("v").as("v")) // collapse equal-ts ties
    val grid = known.groupBy("user_id")
      .agg(min("t_s").as("lo"), max("t_s").as("hi"))
      // Spark's sequence ERRORS on start > stop (DuckDB range is just
      // empty) — drop span-shorter-than-one-step users on both sides
      .filter((col("lo") - col("lo") % 3600) + 3600 <= col("hi"))
      .select(col("user_id"),
        explode(sequence(
          (col("lo") - col("lo") % 3600) + 3600,
          col("hi"), lit(3600))).as("t_s"))
      .withColumn("v", lit(null).cast("long"))
      .withColumn("is_grid", lit(1))
    val both = known.withColumn("is_grid", lit(0))
      .unionByName(grid.select("user_id", "t_s", "v", "is_grid"))
    // known row sorts before a same-instant grid row, so prev sees it
    val fwd = Window.partitionBy("user_id").orderBy(col("t_s"), col("is_grid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bwd = Window.partitionBy("user_id").orderBy(col("t_s"), col("is_grid"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val markT = when(col("v").isNotNull, col("t_s"))
    val out = both
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("pt", last(markT, ignoreNulls = true).over(fwd))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(bwd))
      .withColumn("nt", first(markT, ignoreNulls = true).over(bwd))
      .filter(col("is_grid") === 1 && col("pv").isNotNull && col("nv").isNotNull)
    out.select(col("user_id"), col("t_s"),
        when(col("nt") === col("pt"), col("pv").cast("double"))
          .otherwise(
            (col("pv") * (col("nt") - col("pt")) +
              (col("nv") - col("pv")) * (col("t_s") - col("pt"))).cast("double") /
              (col("nt") - col("pt")).cast("double")).as("v_interp"))
      .orderBy("user_id", "t_s")
  }

  val interpolateSql: String = """
WITH known AS (
  SELECT user_id, epoch_ms(ts) // 1000 AS t_s,
         MIN(CAST(round(value * 100) AS BIGINT)) AS v
  FROM events WHERE user_id < 30 AND event_id % 5 = 0
  GROUP BY user_id, epoch_ms(ts) // 1000),
grid AS (
  SELECT user_id, g.t_s
  FROM (SELECT user_id, MIN(t_s) AS lo, MAX(t_s) AS hi FROM known GROUP BY user_id),
       unnest(range((lo - lo % 3600) + 3600, hi + 1, 3600)) g(t_s)),
both_rows AS (
  SELECT user_id, t_s, v, 0 AS is_grid FROM known
  UNION ALL
  SELECT user_id, t_s, NULL AS v, 1 AS is_grid FROM grid),
w AS (
  SELECT user_id, t_s, is_grid,
         last_value(v IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY t_s, is_grid
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN t_s END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY t_s, is_grid
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         first_value(v IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY t_s, is_grid
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN t_s END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY t_s, is_grid
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM both_rows)
SELECT user_id, t_s,
       CASE WHEN nt = pt THEN CAST(pv AS DOUBLE)
            ELSE CAST(pv * (nt - pt) + (nv - pv) * (t_s - pt) AS DOUBLE)
                 / CAST(nt - pt AS DOUBLE) END AS v_interp
FROM w
WHERE is_grid = 1 AND pv IS NOT NULL AND nv IS NOT NULL
ORDER BY user_id, t_s
"""

  /** Seasonal-baseline anomaly detection — the time-aware member of the
    * outlier family (q_zscore_outliers = global, q_mad_outliers =
    * robust-global, this = seasonal): a value that is normal at the
    * daily peak hour is anomalous at 4 am, so each event is screened
    * against the mean of ITS OWN hour-of-day. Exact integer form: flag
    * iff cents · n_h > 3 · sum_h (no division anywhere — multiply
    * through by the group count). Shape: one 24-row hash aggregate,
    * broadcast-joined back onto the fact by hour — a map-side pass at
    * any scale. */
  def seasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id") < 100)
      .select(col("event_id"), col("user_id"),
        hour(col("ts")).as("h"), cents(col("value")).as("c"))
    val base = ev.groupBy("h")
      .agg(sum("c").as("sum_h"), count(lit(1)).as("n_h"))
    ev.join(broadcast(base), "h")
      .filter(col("c") * col("n_h") > lit(3) * col("sum_h"))
      .select(col("event_id"), col("user_id"), col("h"), col("c").as("cents"),
        (col("sum_h").cast("double") / col("n_h").cast("double")).as("hour_mean"))
      .orderBy("event_id")
  }

  val seasonalAnomalySql: String = """
WITH ev AS (
  SELECT event_id, user_id, EXTRACT(hour FROM ts) AS h,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE user_id < 100),
base AS (
  SELECT h, SUM(c) AS sum_h, COUNT(*) AS n_h FROM ev GROUP BY h)
SELECT event_id, user_id, ev.h, c AS cents,
       CAST(sum_h AS DOUBLE) / CAST(n_h AS DOUBLE) AS hour_mean
FROM ev JOIN base ON ev.h = base.h
WHERE c * n_h > 3 * sum_h
ORDER BY event_id
"""

  /** Point-in-time (temporal AS OF) join — the query SCD2 dimensions
    * exist to serve: each fact is enriched with the dimension VERSION
    * that was valid at the fact's own event time, not today's row.
    * The version table is q_scd2's build (lead() closes each order's
    * validity interval; same-day versions leave zero-width intervals
    * that can never match — the orderkey tiebreak makes that
    * deterministic). Because versions tile [from, to) contiguously per
    * customer, the interval predicate matches AT MOST one version per
    * fact — no dedup, no window on the fact side. Plan shape: the
    * version table is entity×versions (dim-sized), so it broadcasts;
    * the join keeps an equi-key (customer) with the interval as a
    * residual — BroadcastHashJoin, one map-side pass over the facts,
    * unmatched facts (pre-history or unknown key) surface with null
    * version columns. At dims too big to broadcast, the same semantics
    * come from the as-of machinery (`AsOfJoin.backward`). */
  def temporalJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val dim = t(s, dir, "orders").filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey").as("version"),
        col("o_totalprice").as("vprice"),
        col("o_orderdate").as("valid_from"),
        lead(col("o_orderdate"), 1).over(w).as("valid_to"))
    val facts = t(s, dir, "events")
      .filter(col("user_id") < 40 && col("event_id") < 20000)
      .select(col("event_id"), (col("user_id") % 50).as("ck"),
        to_date(col("ts")).as("d"))
    facts.join(broadcast(dim),
        facts("ck") === dim("o_custkey") &&
          facts("d") >= dim("valid_from") &&
          (dim("valid_to").isNull || facts("d") < dim("valid_to")),
        "left_outer")
      .select(col("event_id"), col("ck"), col("d"),
        col("version"), col("vprice"), col("valid_from"))
      .orderBy("event_id")
  }

  val temporalJoinSql: String = """
WITH dim AS (
  SELECT o_custkey, o_orderkey AS version, o_totalprice AS vprice,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS valid_to
  FROM orders WHERE o_custkey < 50),
facts AS (
  SELECT event_id, user_id % 50 AS ck, CAST(ts AS DATE) AS d
  FROM events WHERE user_id < 40 AND event_id < 20000)
SELECT f.event_id, f.ck, f.d, dim.version, dim.vprice, dim.valid_from
FROM facts f LEFT JOIN dim
  ON f.ck = dim.o_custkey AND f.d >= dim.valid_from
     AND (dim.valid_to IS NULL OR f.d < dim.valid_to)
ORDER BY f.event_id
"""

  /** Gap sessionization via Spark's NATIVE `session_window` — the
    * built-in that makes q_sessionize's window-arithmetic form a
    * one-liner (Spark-first: prefer the engine primitive when it
    * exists; it plans as a single `SessionWindow`+aggregate, and in
    * streaming the same expression gets state-store merging for free).
    * Session rule: an event extends the session iff its time is
    * strictly before prev-event-time + gap, so a gap of EXACTLY 45 min
    * starts a new session — the oracle's island form flags `diff >=
    * gap` to match. Session start = first event time, exact µs. */
  def sessionWindowAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "45 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")

  /** Island-form twin: new-session flag on >= gap, running sum = id. */
  val sessionWindowSql: String = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL THEN 1
         WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER w >= 2700000000 THEN 1
         ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, us,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged)
SELECT user_id, CAST(MIN(us) AS BIGINT) AS start_us, COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
ORDER BY user_id, start_us
"""

  /** Dynamic partition overwrite — the lakehouse backfill primitive: a
    * partitioned fact gets ONE partition recomputed and republished;
    * `partitionOverwriteMode=dynamic` rewrites exactly the partitions
    * present in the incoming frame and never touches siblings (static
    * mode would truncate the whole table first — the difference between
    * a backfill and a data-loss incident at 100 TB). Staged: the slice
    * partitioned by event_type, then the 'click' partition re-landed
    * with doubled cents under scoped dynamic mode; the read-back rollup
    * must show doubled clicks and byte-identical siblings — either a
    * truncated sibling or a double-published partition flips the hash. */
  def dynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val base = s"target/dynpart_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    // Cluster by the partition column before each partitionBy write
    // (r18, guide §6 small-files): unclustered, every one of the 32
    // scan tasks opened a file per event_type it saw — ~32×|types|
    // files per write, and the read-back paid the per-file open cost
    // again. One kilobyte-scale exchange keyed by event_type makes each
    // partition value a single writer task → |types| files total. Same
    // rows, same read-back rollup; only the file layout changes.
    val ev = t(s, dir, "events").filter(col("event_id") < 10000)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .repartition(col("event_type"))
    ParquetWrite(ev.write.partitionBy("event_type").mode("overwrite"), base)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = s.conf.get(key, "STATIC")
    s.conf.set(key, "dynamic")
    try ParquetWrite(ev.filter(col("event_type") === "click")
      .withColumn("cents", col("cents") * 2)
      .write.partitionBy("event_type").mode("overwrite"), base)
    finally s.conf.set(key, prev)
    s.read.parquet(base)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("event_type")
  }

  val dynamicOverwriteSql: String = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM((CASE WHEN event_type = 'click' THEN 2 ELSE 1 END)
                * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events WHERE event_id < 10000
GROUP BY event_type ORDER BY event_type
"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_interpolate" -> (interpolate _),
    "q_seasonal_anomaly" -> (seasonalAnomaly _),
    "q_temporal_join" -> (temporalJoin _),
    "q_session_window" -> (sessionWindowAgg _),
    "q_dynamic_overwrite" -> (dynamicOverwrite _))

  val oracles: Map[String, String] = Map(
    "q_interpolate" -> interpolateSql,
    "q_seasonal_anomaly" -> seasonalAnomalySql,
    "q_temporal_join" -> temporalJoinSql,
    "q_session_window" -> sessionWindowSql,
    "q_dynamic_overwrite" -> dynamicOverwriteSql)
}
