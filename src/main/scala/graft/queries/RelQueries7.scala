package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns.{EmailPattern, PhonePattern, UrlPattern}
import graft.sinks.ParquetWrite

/** Seventh relational batch: mergeable-sketch rollups, equi-depth
  * binning, entity extraction, and run-length event collapse.
  */
object RelQueries7 {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** Re-aggregatable distinct via HLL sketch UNION (DataSketches HLL,
    * built into Spark) — THE reason sketches matter at 100 TB: partial
    * sketches are built per group (or per partition / per day) and any
    * rollup is a cheap binary merge, never a re-scan of the fact. Here
    * per-flag sketches of l_partkey are merged with `hll_union_agg`
    * into the global distinct — the merged estimate is checked against
    * the exact global distinct (which is NOT the sum of per-group
    * distincts; partkeys recur across flags, so a broken union would
    * show). House sketch pattern: exact values + in-tolerance booleans,
    * oracle emits exact + TRUE — an off-estimate flips the hash. */
  def hllUnion(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val g = li.groupBy("l_returnflag").agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      hll_sketch_agg(col("l_partkey"), lit(14)).as("__sk"))
    val per = g.select(col("l_returnflag"), col("n_parts"),
      (abs(hll_sketch_estimate(col("__sk")) - col("n_parts")).cast("double") <=
        col("n_parts").cast("double") * 0.05).as("ok"))
    // Two singleton aggregates (merged estimate, exact global) joined
    // 1×1 — allowlisted in PlanGovernanceSpec, same class as the
    // tfidf singleton-scalar broadcast.
    val merged = g.agg(hll_union_agg(col("__sk")).as("__u"))
      .select(hll_sketch_estimate(col("__u")).as("__est"))
    val global = li.agg(countDistinct(col("l_partkey")).as("n_parts"))
      .crossJoin(merged)
      .select(lit("ALL").as("l_returnflag"), col("n_parts"),
        (abs(col("__est") - col("n_parts")).cast("double") <=
          col("n_parts").cast("double") * 0.05).as("ok"))
    per.unionByName(global).orderBy("l_returnflag")
  }

  val hllUnionSql: String = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, TRUE AS ok
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'ALL', COUNT(DISTINCT l_partkey), TRUE FROM lineitem
ORDER BY l_returnflag
"""

  /** Equi-depth (quantile) histogram via approx cut points + range
    * bucketing — the feature-binning step of model prep, in the shape
    * that survives 100 TB. Pass 1 computes per-group decile cut points
    * with `percentile_approx` (bounded QuantileSummaries sketch,
    * map-side mergeable — NO sort anywhere). Pass 2 broadcasts the
    * 3-row cut table back onto the fact and assigns each row its
    * bucket by counting cuts below it — a codegen'd array fold, one
    * map-side pass. The earlier ntile form sorted each status's full
    * slice on ONE reducer (3-value partition key ⇒ materially a global
    * sort — 33 TB per task at 100×); this plan's only shuffles are two
    * hash aggregations. Bucket depths depend on the sketch's cut
    * values, so the oracle checks them as in-tolerance booleans
    * against the exact equi-depth target n/10 (tolerance 3%+5 rows ≫
    * the sketch's 1e-4 rank error); group totals stay exact. */
  def equidepthHist(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val cuts = o.groupBy("o_orderstatus").agg(
      count(lit(1)).as("n_status"),
      percentile_approx(col("cents"),
        array((1 to 9).map(i => lit(i / 10.0)): _*), lit(10000)).as("__cuts"))
    o.join(broadcast(cuts), "o_orderstatus")
      .select(col("o_orderstatus"), col("n_status"),
        (lit(1) + aggregate(col("__cuts"), lit(0),
          (acc, c) => acc + when(col("cents") > c, 1).otherwise(0)))
          .cast("long").as("bucket"))
      .groupBy("o_orderstatus", "n_status", "bucket")
      .agg(count(lit(1)).as("__n"))
      .select(col("o_orderstatus"), col("bucket"), col("n_status"),
        (abs(col("__n").cast("double") - col("n_status").cast("double") / 10.0) <=
          col("n_status").cast("double") * 0.03 + lit(5.0)).as("depth_ok"))
      .orderBy("o_orderstatus", "bucket")
  }

  val equidepthHistSql: String = """
SELECT o_orderstatus, b.bucket, s.n_status, TRUE AS depth_ok
FROM (SELECT o_orderstatus, COUNT(*) AS n_status FROM orders GROUP BY 1) s
CROSS JOIN (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS bucket) b
ORDER BY o_orderstatus, bucket
"""

  /** Entity extraction into a long table: every email/URL/phone match
    * becomes its own row (doc_id, kind, entity) — the normalized shape
    * entity-level dedup, linking, and blocklists consume. PII is
    * planted deterministically (q_pii_redact's house pattern; the
    * corpus itself carries none) and extraction is regexp_extract_all
    * → one explode — single pass, no shuffle until the sort, and the
    * per-doc match arrays are bounded by construction. */
  def entityExtract(s: SparkSession, dir: String): DataFrame = {
    val idStr = col("doc_id").cast("string")
    val aug = concat(
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact user"), idStr, lit("@example.com now")))
        .otherwise(col("text")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" visit https://site"), idStr, lit(".example.org/p?id="), idStr))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" call 555-123-"), lpad(idStr, 4, "0")))
        .otherwise(lit("")))
    def tagged(pattern: String, kind: String): Column =
      transform(regexp_extract_all(aug, lit(pattern), lit(0)),
        e => struct(lit(kind).as("kind"), e.as("entity")))
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(concat(tagged(EmailPattern, "email"), tagged(UrlPattern, "url"),
          tagged(PhonePattern, "phone"))).as("__e"))
      .select(col("doc_id"), col("__e.kind").as("kind"), col("__e.entity").as("entity"))
      .orderBy("doc_id", "kind", "entity")
  }

  val entityExtractSql: String = """
WITH aug AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0
               THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
               ELSE text END)
         || (CASE WHEN doc_id % 5 = 0
                  THEN ' visit https://site' || CAST(doc_id AS VARCHAR) || '.example.org/p?id=' || CAST(doc_id AS VARCHAR)
                  ELSE '' END)
         || (CASE WHEN doc_id % 7 = 0
                  THEN ' call 555-123-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                  ELSE '' END) AS a
  FROM documents),
e AS (
  SELECT doc_id, 'email' AS kind,
         unnest(regexp_extract_all(a, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS entity
  FROM aug
  UNION ALL
  SELECT doc_id, 'url', unnest(regexp_extract_all(a, 'https?://[^\s]+')) FROM aug
  UNION ALL
  SELECT doc_id, 'phone', unnest(regexp_extract_all(a, '\b\d{3}-\d{3}-\d{4}\b')) FROM aug)
SELECT doc_id, kind, entity FROM e
ORDER BY doc_id, kind, entity
"""

  /** Run-length collapse: drop events identical in type to the previous
    * event of the same user (sensor/telemetry dedup — repeated state
    * reports carry no information; only transitions do). One partitioned
    * lag window on the (ms, event_id) total order; timestamps compare as
    * epoch ms, sidestepping cross-engine timestamp types. */
  def collapseRuns(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id") < 50)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    e.withColumn("__prev", lag(col("event_type"), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col("event_type"))
      .select(col("user_id"), col("ms"), col("event_id"), col("event_type"))
      .orderBy("user_id", "ms", "event_id")
  }

  val collapseRunsSql: String = """
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type
  FROM events WHERE user_id < 50),
l AS (
  SELECT *, lag(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ms, event_id) AS prev
  FROM e)
SELECT user_id, ms, event_id, event_type FROM l
WHERE prev IS NULL OR prev <> event_type
ORDER BY user_id, ms, event_id
"""

  /** TPC-H Q5 shape — the star-schema join Catalyst was built for: a
    * selective region filter rides down a 4-dim chain (region → nation
    * → customer/supplier) onto the two fact tables. Broadcast hints
    * ONLY on region/nation — the two dims bounded by the data model
    * itself (5 / 25 rows at every SF). Customer and supplier grow with
    * SF, so their join strategy is left to the optimizer: AQE picks
    * broadcast at small SF and sort-merge/shuffled-hash once stats
    * exceed the threshold — a hand-baked broadcast hint on an
    * SF-scaled table would OOM the driver at 100 TB (hints are
    * binding). Join ORDER is also left to the optimizer. Revenue sums
    * exact 1e-4 units (extendedprice × (1−discount) has 4 decimals). */
  def q5StarJoin(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val sup = t(s, dir, "supplier")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
    val l = t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000L)
        .cast("long")).as("rev_e4"))
      .select(col("n_name"),
        (col("rev_e4").cast("double") / 10000.0).as("revenue"))
      .orderBy("n_name")
  }

  val q5StarJoinSql: String = """
SELECT n_name,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY n_name
"""

  /** Sorted-neighborhood (SNM) dedup — the blocking alternative to
    * LSH (Hernández & Stolfo, SIGMOD'95): sort by a key, compare each
    * record only to its w−1 successors. Here the sort is PARTITIONED by
    * a text-prefix block, so every block sorts independently — the
    * shape that scales (a single global sort would serialize on one
    * reducer; SNM at 100 TB is always block + sort-within-block). The
    * w-window pairs come from lead() — candidate count is n×(w−1) by
    * construction, never quadratic. Planted near-dups (one character
    * mutated at raw position 40 — inside the compare span, past the
    * 30-char sort key) guarantee the oracle verifies real matches. */
  def snmDedup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select("doc_id", "text")
    val planted = base.filter(col("doc_id") % 20 === 0 && length(col("text")) >= 80)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text").substr(1, 39), lit("~"), col("text").substr(lit(41), length(col("text")))).as("text"))
    val d = base.unionByName(planted)
      .select(col("doc_id"), col("text").substr(1, 10).as("blk"),
        col("text").substr(1, 30).as("sort_key"), col("text").substr(31, 30).as("cmp"))
    val w = Window.partitionBy("blk").orderBy(col("sort_key"), col("doc_id"))
    val neighbors = d
      .withColumn("__nb", array((1 to 3).map(i =>
        struct(lead(col("doc_id"), i).over(w).as("id_b"),
          lead(col("cmp"), i).over(w).as("cmp_b"))): _*))
      .select(col("doc_id").as("id_a"), col("cmp"), explode(col("__nb")).as("__n"))
      .filter(col("__n.id_b").isNotNull)
      .select(col("id_a"), col("__n.id_b").as("id_b"),
        levenshtein(col("cmp"), col("__n.cmp_b")).as("edit_dist"))
      .filter(col("edit_dist") <= 3)
    neighbors.orderBy("id_a", "id_b")
  }

  val snmDedupSql: String = """
WITH d AS (
  SELECT doc_id, substr(text, 1, 10) AS blk, substr(text, 1, 30) AS sort_key,
         substr(text, 31, 30) AS cmp
  FROM (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               substr(text, 1, 39) || '~' || substr(text, 41, length(text))
        FROM documents WHERE doc_id % 20 = 0 AND length(text) >= 80) x),
n AS (
  SELECT doc_id AS id_a, cmp,
         lead(doc_id, 1) OVER w AS b1, lead(cmp, 1) OVER w AS c1,
         lead(doc_id, 2) OVER w AS b2, lead(cmp, 2) OVER w AS c2,
         lead(doc_id, 3) OVER w AS b3, lead(cmp, 3) OVER w AS c3
  FROM d WINDOW w AS (PARTITION BY blk ORDER BY sort_key, doc_id)),
p AS (
  SELECT id_a, b1 AS id_b, levenshtein(cmp, c1) AS edit_dist FROM n WHERE b1 IS NOT NULL
  UNION ALL
  SELECT id_a, b2, levenshtein(cmp, c2) FROM n WHERE b2 IS NOT NULL
  UNION ALL
  SELECT id_a, b3, levenshtein(cmp, c3) FROM n WHERE b3 IS NOT NULL)
SELECT id_a, id_b, edit_dist FROM p WHERE edit_dist <= 3
ORDER BY id_a, id_b
"""

  /** Key-skew profiler — the report an operator reads BEFORE picking a
    * join/agg strategy at 100 TB (broadcast? salt? AQE skew split?):
    * per candidate key column, cardinality, hottest-key share, and the
    * median per-key count. ONE fact scan for all profiled columns
    * (explode into (col, key) pairs → two-level aggregation), not one
    * scan per column. Cardinality/max/share are exact integer
    * aggregates (constant agg state). The median uses
    * `percentile_approx` — a BOUNDED QuantileSummaries sketch — never
    * exact `percentile`, whose TypedImperativeAggregate buffers one
    * entry per distinct per-key count in a single reducer (the groupBy
    * key has 3 values; at 100 TB that's billions of buffered counts —
    * the profiler must be the one query that never OOMs). The sketch's
    * rank error (1e-4) cannot move the median across a 4× threshold,
    * so the emitted fanout-class boolean is deterministic; oracle
    * derives the same boolean from the exact median (house sketch
    * pattern: q_hll_union). */
  def skewProfile(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val keyed = li.select(explode(array(
      struct(lit("l_orderkey").as("col_name"), col("l_orderkey").cast("string").as("key")),
      struct(lit("l_partkey").as("col_name"), col("l_partkey").cast("string").as("key")),
      struct(lit("l_suppkey").as("col_name"), col("l_suppkey").cast("string").as("key")))).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.key").as("key"))
    keyed.groupBy("col_name", "key").agg(count(lit(1)).as("n"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
        max(col("n")).as("max_n"),
        percentile_approx(col("n"), lit(0.5), lit(10000)).as("__p50"))
      .select(col("col_name"), col("n_keys"), col("n_rows"), col("max_n"),
        (col("max_n").cast("double") / col("n_rows").cast("double")).as("top_share"),
        // median fanout ≤ 4× the mean per-key count → hash-partition
        // evenly; above → salting candidate. Thresholded boolean is
        // immune to the sketch's 1e-4 rank error (counts plateau far
        // from the cut on TPC-H keys).
        (col("__p50").cast("double") <=
          lit(4.0) * col("n_rows").cast("double") / col("n_keys").cast("double"))
          .as("p50_uniform"))
      .orderBy("col_name")
  }

  val skewProfileSql: String = """
WITH k AS (
  SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS key FROM lineitem
  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem),
c AS (SELECT col_name, key, COUNT(*) AS n FROM k GROUP BY col_name, key)
SELECT col_name, COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
       MAX(n) AS max_n,
       CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS top_share,
       quantile_cont(n, 0.5) <= 4.0 * CAST(SUM(n) AS DOUBLE) / COUNT(*) AS p50_uniform
FROM c GROUP BY col_name ORDER BY col_name
"""

  /** Distribution window functions — percent_rank and cume_dist over a
    * partitioned total order: both are exact integer ratios ((rank−1)/
    * (N−1), rows≤current/N) evaluated as one double division, so they
    * reproduce bitwise cross-engine. Completes the window family next
    * to ranking/analytic/frame (q_window_*) and ntile (q_equidepth). */
  def rankDistributions(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_custkey") < 200)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val w = Window.partitionBy("o_orderstatus").orderBy(col("cents"), col("o_orderkey"))
    o.select(col("o_orderkey"), col("o_orderstatus"),
        (col("cents").cast("double") / 100.0).as("price"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderstatus", "o_orderkey")
  }

  val rankDistributionsSql: String = """
WITH x AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_custkey < 200)
SELECT o_orderkey, o_orderstatus, CAST(cents AS DOUBLE) / 100.0 AS price,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM x WINDOW w AS (PARTITION BY o_orderstatus ORDER BY cents, o_orderkey)
ORDER BY o_orderstatus, o_orderkey
"""

  /** Weighted sampling without replacement, EXACT-arithmetic form: for
    * integer weight w, an item's priority is the MAX of w independent
    * seedless md5 draws — distributionally the Efraimidis–Spirakis
    * u^(1/w) key for integer weights, with zero floating-point math, so
    * both engines derive identical priorities and the top-k is the same
    * sample. Draw fan-out is Σw per row (bounded — weights are small
    * grades), map-side only; selection is a TakeOrdered top-k, never a
    * global sort. The seedless-md5 draw is the house pattern
    * (q_stratified_sample, q_mixture_sample); this adds the WEIGHTED
    * variant quality-value sampling needs. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), (lit(1) + col("doc_id") % 5).as("wgt"))
    val priority = array_max(transform(sequence(lit(1), col("wgt")),
      i => md5(concat(lit("ws|"), col("doc_id").cast("string"), lit("|"), i.cast("string")))))
    docs.select(col("doc_id"), col("wgt"), priority.as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(50)
  }

  val weightedSampleSql: String = """
SELECT doc_id, wgt,
       list_max([md5('ws|' || CAST(doc_id AS VARCHAR) || '|' || CAST(i AS VARCHAR))
                 for i in range(1, wgt + 1)]) AS priority
FROM (SELECT doc_id, 1 + doc_id % 5 AS wgt FROM documents) x
ORDER BY priority DESC, doc_id
LIMIT 50
"""

  /** Schema evolution across parquet generations — the drift every
    * long-lived 100 TB dataset accumulates: an old generation written
    * without a column, a new generation with it, one `mergeSchema` read
    * reconciling both (old rows surface NULL for the added column; the
    * per-file schemas stay untouched — no rewrite of the old data). The
    * two generations are staged from disjoint key slices so the merged
    * result is oracle-checkable against the source table. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Paths.get("target",
      "schema_evo_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderstatus").as("status"))
    // generation 1: no `status` column yet
    ParquetWrite(o.filter(col("k") % 2 === 0).select("k", "cents")
      .write.mode("overwrite"), s"$base/gen1")
    // generation 2: schema grew a column
    ParquetWrite(o.filter(col("k") % 2 === 1).select("k", "cents", "status")
      .write.mode("overwrite"), s"$base/gen2")
    s.read.option("mergeSchema", "true").parquet(s"$base/gen1", s"$base/gen2")
      // 'legacy' labels pre-evolution rows (their status reads back
      // NULL) — also sidesteps cross-engine NULL sort-order divergence.
      .groupBy(coalesce(col("status"), lit("legacy")).as("status"))
      .agg(count(lit(1)).as("n"),
        (sum(col("cents")).cast("double") / 100.0).as("total"))
      .orderBy("status")
  }

  val schemaEvolutionSql: String = """
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus ELSE 'legacy' END AS status,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
FROM orders
GROUP BY 1
ORDER BY status
"""

  /** Count–Min frequency sketch, built and queried — the frequency
    * member of the re-aggregatable sketch family (q_hll_union =
    * distinct, q_equidepth/global_bins = quantiles, this = per-key
    * counts): Spark's `count_min_sketch` aggregate is map-side
    * mergeable (partial agg merges partition sketches — the same
    * build-anywhere/merge-cheap property that makes sketches the
    * 100 TB play), and the engine's native `cms_estimate` expression
    * (registered via GraftExtensions, the read half Spark SQL leaves
    * out) probes the merged sketch. House sketch-oracle pattern:
    * exact per-key counts stay exact; the sketch estimate is checked
    * as an in-tolerance boolean against the CMS guarantee
    * (exact ≤ est ≤ exact + ε·N, 5× ε slack). Probe side is a bounded
    * 20-key set joined to a broadcast 1-row sketch (allowlisted
    * singleton cross join, same class as q_hll_union). */
  def cmsHeavy(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SketchFns.cmsEstimate
    val li = t(s, dir, "lineitem")
      .select((col("l_partkey") % 100).cast("long").as("k"))
    val sk = li.agg(
      count_min_sketch(col("k"), lit(0.001d), lit(0.99d), lit(42)).as("__sk"),
      count(lit(1)).as("__n"))
    val est = cmsEstimate(col("__sk"), col("k"))
    li.filter(col("k") < 20).groupBy("k").agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(sk))
      .select(col("k"), col("n_exact"),
        (est >= col("n_exact") &&
          est.cast("double") <= col("n_exact").cast("double") +
            col("__n").cast("double") * 0.005).as("ok"))
      .orderBy("k")
  }

  val cmsHeavySql: String = """
SELECT l_partkey % 100 AS k, COUNT(*) AS n_exact, TRUE AS ok
FROM lineitem WHERE l_partkey % 100 < 20
GROUP BY 1 ORDER BY 1
"""

  /** Misra–Gries heavy hitters via the engine's native bounded-buffer
    * `TypedImperativeAggregate` — the sketch-family member that returns
    * the heavy KEYS themselves (HLL = distinct, percentile_approx =
    * quantiles, CMS = point counts). Two heavy keys are PLANTED (keys
    * 0/1, ~25% of rows each) over a ~1000-key tail, so the guarantee is
    * load-bearing: an MG summary that lost a heavy key reports est 0,
    * and (exact − 0)·16 ≈ 4N ≫ N flips its ok to false. The buffer
    * holds ≤ 32 counters at ANY input size — the exact contrast to the
    * per-key-count Percentile buffering q_skew_profile was dinged for
    * in round 4. Merge order can shift surviving counter VALUES (never
    * past the N/(k+1) error bound — Agarwal et al. PODS'12), so
    * estimates are exposed through the house in-tolerance-boolean
    * pattern at 2× slack: ok ⇔ est ≤ exact ∧ (exact − est)·16 ≤ N.
    * Probe side: bounded 7-key set × broadcast 1-row summary
    * (allowlisted singleton cross join, same class as q_cms_freq). */
  def mgTopk(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SketchFns.mgSummary
    val li = t(s, dir, "lineitem").select(
      when(col("l_orderkey") % 4 < 2, col("l_orderkey") % 4)
        .otherwise(col("l_partkey") % 1000 + 10).cast("long").as("hk"))
    val sk = li.agg(mgSummary(col("hk"), 32).as("__mg"),
      count(lit(1)).as("__n"))
    val est = coalesce(element_at(col("__mg"), col("hk")), lit(0L))
    li.filter(col("hk").isin(0L, 1L, 10L, 11L, 12L, 13L, 14L))
      .groupBy("hk").agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(sk))
      .select(col("hk").as("k"), col("n_exact"),
        (est <= col("n_exact") &&
          (col("n_exact") - est) * 16 <= col("__n")).as("ok"))
      .orderBy("k")
  }

  val mgTopkSql: String = """
WITH f AS (
  SELECT CASE WHEN l_orderkey % 4 < 2 THEN l_orderkey % 4
              ELSE l_partkey % 1000 + 10 END AS hk
  FROM lineitem)
SELECT CAST(hk AS BIGINT) AS k, COUNT(*) AS n_exact, TRUE AS ok
FROM f WHERE hk IN (0, 1, 10, 11, 12, 13, 14)
GROUP BY hk ORDER BY k
"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mg_topk" -> (mgTopk _),
    "q_cms_freq" -> (cmsHeavy _),
    "q_schema_evolution" -> (schemaEvolution _),
    "q_weighted_sample" -> (weightedSample _),
    "q_rank_distributions" -> (rankDistributions _),
    "q_hll_union" -> (hllUnion _),
    "q_equidepth_hist" -> (equidepthHist _),
    "q_entity_extract" -> (entityExtract _),
    "q_collapse_runs" -> (collapseRuns _),
    "q5_star_join" -> (q5StarJoin _),
    "q_snm_dedup" -> (snmDedup _),
    "q_skew_profile" -> (skewProfile _))

  val oracles: Map[String, String] = Map(
    "q_mg_topk" -> mgTopkSql,
    "q_cms_freq" -> cmsHeavySql,
    "q_schema_evolution" -> schemaEvolutionSql,
    "q_weighted_sample" -> weightedSampleSql,
    "q_rank_distributions" -> rankDistributionsSql,
    "q_hll_union" -> hllUnionSql,
    "q_equidepth_hist" -> equidepthHistSql,
    "q_entity_extract" -> entityExtractSql,
    "q_collapse_runs" -> collapseRunsSql,
    "q5_star_join" -> q5StarJoinSql,
    "q_snm_dedup" -> snmDedupSql,
    "q_skew_profile" -> skewProfileSql)
}
