package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{IntervalJoin, PrefixSum, StagedOnce}

/** Twentieth relational batch: INTERVAL ANALYTICS over the session
  * intervals the q_sessionize island logic induces on `events` — the
  * two classic questions a point-event table can't answer without an
  * interval view: "who was online at the same time as whom" (overlap
  * join) and "how many were online at once" (concurrency profile).
  * Both are spelled scale-first: the overlap join is a bucketed
  * equi-join ([[graft.operators.IntervalJoin]], never a cartesian
  * pass), and the concurrency running sum rides
  * [[graft.operators.PrefixSum]] (never a single-partition window).
  */
object RelQueries20 {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** The registered queries the staged session table serves — the
    * bench's build_s report keys its builds under this name. */
  val SessionsOwner = "q_interval_join+q_peak_concurrency+q_overlap_counts"

  /** Session intervals: the q_sessionize 30-min-gap island logic,
    * reduced to one [s, e] row per (user, session). One shuffle on
    * user_id; all windows partitioned.
    *
    * STAGED once per (session, dir) — the DedupStage discipline: three
    * registered queries consume this exact frame, and the sessionize
    * window over the full events table is each one's dominant cost, so
    * rebuilding it per query tripled the interval family's bench share.
    * Eagerly checkpointed (the frame is one bounded row per session,
    * tiny relative to events); build seconds land in the bench's
    * build_s line under [[SessionsOwner]]. At 100 TB this is a
    * persisted session table maintained incrementally — the staging
    * models that read-amortization. */
  private def sessions(s: SparkSession, dir: String): DataFrame =
    StagedOnce(s, s"session_intervals@$dir", owner = SessionsOwner, dir = dir) {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      t(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("new_session",
          when(col("us") - lag(col("us"), 1).over(w) > gapUs, 1)
            .when(lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
        .withColumn("session_idx",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx").cast("long").as("session_idx"))
        .agg(min(col("us")).as("s"), max(col("us")).as("e"))
        .localCheckpoint(true)
    }

  /** Interval-overlap self-join: for each session, the number of
    * OTHER-user sessions it overlaps in time (closed intervals), top
    * 20 by concurrency. The join is [[IntervalJoin.overlap]]'s bucketed
    * equi-join with the bucket width DERIVED from the data (max session
    * length, one bounded agg per side on the staged frame), so
    * replication stays ≤ 2 rows per interval by construction while
    * candidate pairs are
    * confined to same-bucket sessions; the anchor-bucket rule makes the
    * pair set exact with no distinct pass. The session frame is built
    * once and staged, so the per-user window doesn't run twice for the
    * self-join's two sides. Output order (n desc, user, idx) is total →
    * deterministic LIMIT. */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val iv = sessions(s, dir) // staged + checkpointed once per (session, dir)
    val a = iv.select(col("user_id").as("a_user"), col("session_idx").as("a_idx"),
      col("s").as("a_s"), col("e").as("a_e"))
    val b = iv.select(col("user_id").as("b_user"),
      col("s").as("b_s"), col("e").as("b_e"))
    IntervalJoin.overlap(a, "a_s", "a_e", b, "b_s", "b_e",
        extra = col("a_user") =!= col("b_user"))
      .groupBy("a_user", "a_idx")
      .agg(count(lit(1)).as("n_concurrent"))
      .select(col("a_user").as("user_id"), col("a_idx").as("session_idx"),
        col("n_concurrent"))
      .orderBy(desc("n_concurrent"), col("user_id"), col("session_idx"))
      .limit(20)
  }

  val intervalJoinSql: String = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL THEN 1
         WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000 THEN 1
         ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, us,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged),
iv AS (SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
              min(us) AS s, max(us) AS e
       FROM sess GROUP BY 1, 2)
SELECT a.user_id AS user_id, a.session_idx AS session_idx,
       COUNT(*) AS n_concurrent
FROM iv a JOIN iv b
  ON a.s <= b.e AND b.s <= a.e AND a.user_id <> b.user_id
GROUP BY 1, 2
ORDER BY n_concurrent DESC, user_id, session_idx
LIMIT 20
"""

  /** Global concurrency profile: the top-10 moments by number of
    * simultaneously-open sessions. Sweep-line as data: each interval
    * contributes +1 at `s` and −1 at `e+1` (so a session still counts
    * AT its closed end), deltas are pre-aggregated per distinct
    * microsecond (making the running sum tie-free and deterministic),
    * and the global cumulative sum is [[PrefixSum.runningSum]] — Blelloch
    * two-pass, bucket-partitioned windows only, where the textbook
    * `SUM() OVER (ORDER BY t)` would funnel every delta through one
    * reducer. Peaks can only occur at start instants, so only rows
    * carrying a start are candidates. */
  def peakConcurrency(s: SparkSession, dir: String): DataFrame = {
    val iv = sessions(s, dir)
    val deltas = iv.select(col("s").as("us"), lit(1L).as("delta"))
      .unionByName(iv.select((col("e") + 1).as("us"), lit(-1L).as("delta")))
    val g = deltas.groupBy("us")
      .agg(sum(col("delta")).as("d"),
        max(when(col("delta") === 1, 1).otherwise(0)).as("has_start"))
    PrefixSum.runningSum(g, col("us"), Seq(col("us")), col("d"), "conc",
        inclusive = true)
      .filter(col("has_start") === 1)
      .select(col("us"), col("conc").cast("long").as("conc"))
      .orderBy(desc("conc"), col("us"))
      .limit(10)
  }

  val peakConcurrencySql: String = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL THEN 1
         WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000 THEN 1
         ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, us,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged),
iv AS (SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
              min(us) AS s, max(us) AS e
       FROM sess GROUP BY 1, 2),
deltas AS (
  SELECT s AS us, 1 AS delta FROM iv
  UNION ALL SELECT e + 1 AS us, -1 AS delta FROM iv),
g AS (
  SELECT us, SUM(delta) AS d,
         MAX(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS has_start
  FROM deltas GROUP BY us),
run AS (
  SELECT us, has_start,
    SUM(d) OVER (ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM g)
SELECT us, CAST(conc AS BIGINT) AS conc FROM run WHERE has_start = 1
ORDER BY conc DESC, us LIMIT 10
"""

  /** Overlap COUNTS without the pair join — the aggregate-pushdown twin
    * of [[intervalJoin]]: identical output (same oracle), near-LINEAR
    * plan. When the question is "how many other-user sessions overlap
    * mine" rather than "which ones", materializing the pair set is pure
    * waste — the r11 tier measurements put q_interval_join at 144 s at
    * the 100× tier precisely because its output (the pair set) grows
    * quadratically in session density. This spelling never forms a
    * pair: for session X, #overlaps = A − B − 1 where
    * A = #sessions with start ≤ e_X and B = #sessions with end < s_X
    * (the two exclusion sets are disjoint since s_Y > e_X ⇒
    * e_Y > e_X ≥ s_X; X itself always qualifies, hence −1), and
    * same-user overlaps cannot exist (sessionization splits on >30-min
    * gaps, so a user's own sessions are time-disjoint). A and B are
    * order-statistic lookups: union the value rows (starts resp. ends,
    * weight 1) with the probe rows (weight 0) and take
    * [[PrefixSum.runningSum]]'s inclusive cumulative weight at each
    * probe — starts sort BEFORE probes at equal value (≤), ends AFTER
    * (strict <). Two bucket-partitioned prefix passes over 2n rows
    * each; at the 100× tier this is seconds against the pair join's
    * 144 — the at-scale rule it demonstrates: push the aggregate
    * through the join when only counts leave the operator. */
  def overlapCounts(s: SparkSession, dir: String): DataFrame = {
    val iv = sessions(s, dir) // staged + checkpointed once per (session, dir)
    // Both order statistics depend only on the boundary VALUE, so the
    // prefix pass runs over DISTINCT boundary values, not sessions: one
    // map-side-combinable groupBy folds the 2n boundary rows to the
    // value histogram (ns = #starts at v, ne = #ends at v), a single
    // running sum packs (cumStarts ≤ v, cumEnds ≤ v) into one long
    // (starts weigh M = 2^31, ends 1 — counts stay far below 2^31 and
    // cumStarts·M below 2^63, so DIV/MOD decode exactly), and sessions
    // look their counts up by value with two equi-joins AQE broadcasts
    // whenever the value domain is small (here the replicas share
    // timestamps, so it stays base-sized at every tier). A = cumS(e_X)
    // gives ≤ directly; strict < comes from B = cumE(s_X) − ne(s_X).
    val m = 1L << 31
    val bounds = iv
      .select(col("s").as("v"), lit(1L).as("ns"), lit(0L).as("ne"))
      .unionByName(iv.select(col("e").as("v"), lit(0L).as("ns"), lit(1L).as("ne")))
      .groupBy("v").agg(sum("ns").as("ns"), sum("ne").as("ne"))
    val cum = PrefixSum.runningSum(bounds, col("v"), Seq(col("v")),
        col("ns") * m + col("ne"), "cum", inclusive = true)
      .localCheckpoint(false) // feeds both lookup joins; compute once
    // Decode with LONG bit ops, not floor(long / long): Spark's `/`
    // promotes to double, which is exact only below 2^53 — a cliff at
    // ~4M sessions, well under the 2^63/M bound the packing honors.
    // cum >= 0 and M = 2^31, so shiftright/% are the exact DIV/MOD.
    val aMap = cum.select(col("v").as("e"),
      shiftright(col("cum"), 31).cast("long").as("a"))
    val bMap = cum.select(col("v").as("s"),
      (col("cum") % m - col("ne")).cast("long").as("b"))
    iv.join(aMap, Seq("e")).join(bMap, Seq("s"))
      .select(col("user_id"), col("session_idx"),
        (col("a") - col("b") - 1).as("n_concurrent"))
      .filter(col("n_concurrent") > 0)
      .orderBy(desc("n_concurrent"), col("user_id"), col("session_idx"))
      .limit(20)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_interval_join" -> (intervalJoin _),
    "q_overlap_counts" -> (overlapCounts _),
    "q_peak_concurrency" -> (peakConcurrency _))

  val oracles: Map[String, String] = Map(
    "q_interval_join" -> intervalJoinSql,
    // Same answer, different plan: the rank-based spelling must match
    // the pair join's oracle row for row.
    "q_overlap_counts" -> intervalJoinSql,
    "q_peak_concurrency" -> peakConcurrencySql)
}
