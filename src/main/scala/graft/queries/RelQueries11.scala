package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Skyline, Triangles}

/** Eleventh relational/analytics batch: multi-criteria skyline, offline
  * CUSUM changepoint, two classical two-sample tests (Mann–Whitney U,
  * Welch's t) computed in exact integer arithmetic, a one-scan Pearson
  * correlation matrix, inclusion-dependency (FK) discovery profiling,
  * and local clustering coefficients — statistics/profiling families a
  * warehouse user expects that no earlier batch covered.
  *
  * House float discipline throughout: every statistic is computed from
  * exact BIGINT sums (values pre-scaled to whole units chosen so the
  * largest squared-sum stays far under 2^63), and only the final
  * scalar expression drops to DOUBLE — identical IEEE inputs on both
  * engines, so the floor-to-micro outputs match bit-for-bit.
  */
object RelQueries11 {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** Skyline price-bucket width in cents. TPC-H retail prices span
    * ~90k-210k cents at every SF, so the global bucket window holds ~3
    * rows (pinned by GlobalWindowBoundSpec). */
  val SkylineBucketWidth: Long = 100000L

  /** Pareto frontier over parts: minimize retail price, maximize size
    * ("at this price, no bigger part exists"). Two-phase bucket-pruned
    * sort-filter skyline — see [[graft.operators.Skyline]]. The DuckDB
    * twin is the independent NOT EXISTS dominance formulation, so the
    * distributed prune is checked against the textbook definition. */
  def skyline(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
      .withColumn("price_c", round(col("p_retailprice") * 100).cast("long"))
    Skyline.pareto(part, "price_c", "p_size", bucketWidth = SkylineBucketWidth)
      .select(col("p_partkey"), col("price_c"), col("p_size").cast("long").as("p_size"))
      .orderBy("price_c", "p_size", "p_partkey")
  }

  val skylineSql: String = """
WITH p AS (
  SELECT p_partkey, CAST(round(p_retailprice*100) AS BIGINT) AS price_c,
         CAST(p_size AS BIGINT) AS p_size
  FROM part)
SELECT p_partkey, price_c, p_size FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM p q
  WHERE q.price_c <= p.price_c AND q.p_size >= p.p_size
    AND (q.price_c < p.price_c OR q.p_size > p.p_size))
ORDER BY price_c, p_size, p_partkey
"""

  /** Offline CUSUM changepoint detection over the daily revenue series
    * (Page 1954's cumulative-sum chart in its offline argmax form): the
    * day maximizing |Σ(x_i − mean)| is the estimated shift point. All
    * arithmetic exact: deviations are scaled by n (n·x_i − Σx) instead
    * of subtracting the fractional mean, so the running sum is a pure
    * BIGINT prefix sum — no float enters the query at all. The window
    * is a prefix sum over one row per DAY (bounded by the calendar, not
    * the data), the same shape as q_acf's lag series. */
  def cusum(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
    val tot = d.agg(count(lit(1)).as("n"), sum(col("rev_c")).as("tot"))
    // global window audit (r19): frame = day-grain revenue series —
    // date-range-bounded, never order volume
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.crossJoin(broadcast(tot))
      .withColumn("cusum_n", sum(col("n") * col("rev_c") - col("tot")).over(w))
      .select(col("day"), col("cusum_n"), abs(col("cusum_n")).as("abs_cusum_n"))
      .orderBy(col("abs_cusum_n").desc, col("day")).limit(5)
  }

  val cusumSql: String = """
WITH d AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
         CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders GROUP BY 1),
s AS (SELECT COUNT(*) AS n, CAST(SUM(rev_c) AS BIGINT) AS tot FROM d),
c AS (
  SELECT day, SUM(n*rev_c - tot) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_n
  FROM d, s)
SELECT day, CAST(cusum_n AS BIGINT) AS cusum_n, CAST(abs(cusum_n) AS BIGINT) AS abs_cusum_n
FROM c ORDER BY abs_cusum_n DESC, day LIMIT 5
"""

  /** Mann–Whitney U between URGENT and LOW order totals, tie-corrected
    * midranks, exact integers end-to-end (ranks doubled so midranks of
    * even tie groups stay integral: 2·midrank = 2·cum_below + c + 1).
    * Ranks come from a prefix sum over one row per DISTINCT value —
    * the exact-rank analogue of exact percentile (same cost contract:
    * a single-partition pass over value cardinality, with
    * percentile_approx/q_skew_profile as the sketch-bounded
    * alternative when cardinality is unbounded). */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val x = t(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(round(col("o_totalprice") * 100).cast("long").as("v"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(2L).as("grp"))
    val g = x.groupBy("v").agg(
      sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("grp") === 2, 1L).otherwise(0L)).as("c2"),
      count(lit(1)).as("c"))
    // cum-below ranks over DISTINCT values via the range-partitioned
    // two-pass prefix sum — a global `Window.orderBy(v)` would funnel
    // the whole value-cardinality through one sorting task.
    val r = graft.operators.PrefixSum.runningSum(
      g, col("v"), Seq(col("v")), col("c"), "cumbelow")
    r.agg(
      sum(col("c1") * (lit(2L) * col("cumbelow") + col("c") + 1)).as("r1_x2"),
      sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      .select(col("n1"), col("n2"),
        (col("r1_x2") - col("n1") * (col("n1") + 1)).as("u1_x2"),
        (lit(2L) * col("n1") * col("n2") - (col("r1_x2") - col("n1") * (col("n1") + 1))).as("u2_x2"))
  }

  val mannWhitneySql: String = """
WITH x AS (
  SELECT CAST(round(o_totalprice*100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority='1-URGENT' THEN 1 ELSE 2 END AS grp
  FROM orders WHERE o_orderpriority IN ('1-URGENT','5-LOW')),
g AS (
  SELECT v, SUM(CASE WHEN grp=1 THEN 1 ELSE 0 END) AS c1,
            SUM(CASE WHEN grp=2 THEN 1 ELSE 0 END) AS c2, COUNT(*) AS c
  FROM x GROUP BY v),
w AS (
  SELECT c1, c2, c,
    COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumbelow
  FROM g),
agg AS (
  SELECT SUM(c1*(2*cumbelow + c + 1)) AS r1_x2, SUM(c1) AS n1, SUM(c2) AS n2 FROM w)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(r1_x2 - n1*(n1+1) AS BIGINT) AS u1_x2,
       CAST(2*n1*n2 - (r1_x2 - n1*(n1+1)) AS BIGINT) AS u2_x2
FROM agg
"""

  /** Welch's unequal-variance t statistic between the same two groups,
    * from one conditional aggregation pass: exact BIGINT (n, Σv, Σv²)
    * per group — values in whole dollars so Σv² ≤ ~2.5e11·n, far under
    * 2^63 at any plausible scale — then one closed-form double
    * expression, mirrored operation-for-operation in the twin. */
  def welchT(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(round(col("o_totalprice")).cast("long").as("v"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(2L).as("grp"))
      .agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("grp") === 1, col("v")).otherwise(0L)).as("s1"),
        sum(when(col("grp") === 2, col("v")).otherwise(0L)).as("s2"),
        sum(when(col("grp") === 1, col("v") * col("v")).otherwise(0L)).as("ss1"),
        sum(when(col("grp") === 2, col("v") * col("v")).otherwise(0L)).as("ss2"))
    val m1 = col("s1").cast("double") / col("n1")
    val m2 = col("s2").cast("double") / col("n2")
    val se1 = (col("ss1").cast("double") - col("s1").cast("double") * col("s1") / col("n1")) /
      (col("n1") - 1) / col("n1")
    val se2 = (col("ss2").cast("double") - col("s2").cast("double") * col("s2") / col("n2")) /
      (col("n2") - 1) / col("n2")
    a.select(col("n1"), col("n2"),
      floor(lit(1000000.0) * (m1 - m2) / sqrt(se1 + se2)).cast("long").as("t_micro"))
  }

  val welchTSql: String = """
WITH x AS (
  SELECT CAST(round(o_totalprice) AS BIGINT) AS v,
         CASE WHEN o_orderpriority='1-URGENT' THEN 1 ELSE 2 END AS grp
  FROM orders WHERE o_orderpriority IN ('1-URGENT','5-LOW')),
a AS (
  SELECT SUM(CASE WHEN grp=1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN grp=2 THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN grp=1 THEN v ELSE 0 END) AS s1,
         SUM(CASE WHEN grp=2 THEN v ELSE 0 END) AS s2,
         SUM(CASE WHEN grp=1 THEN v*v ELSE 0 END) AS ss1,
         SUM(CASE WHEN grp=2 THEN v*v ELSE 0 END) AS ss2
  FROM x)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  CAST(floor(1000000.0 *
    (CAST(s1 AS DOUBLE)/n1 - CAST(s2 AS DOUBLE)/n2) /
    sqrt((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n1)/(n1-1)/n1 +
         (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n2)/(n2-1)/n2)) AS BIGINT) AS t_micro
FROM a
"""

  /** Pearson correlation matrix over lineitem's four numeric measures
    * in ONE scan: a single aggregation computes every moment (n, Σx,
    * Σx², Σxy for all 6 pairs — 15 exact BIGINT aggregates), then the
    * 6 matrix cells are unpacked from the one-row result by exploding
    * a literal struct array. Values pre-scaled to small integers
    * (price in whole dollars, rates ×100) so every moment is exact.
    * Contrast with calling corr() per pair: 6 scans and float
    * accumulation order-dependence; this is 1 scan and exact. */
  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "lineitem").select(
      round(col("l_quantity")).cast("long").as("q"),
      round(col("l_extendedprice")).cast("long").as("p"),
      round(col("l_discount") * 100).cast("long").as("d"),
      round(col("l_tax") * 100).cast("long").as("x"))
    val a = m.agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("sq"), sum(col("p")).as("sp"),
      sum(col("d")).as("sd"), sum(col("x")).as("sx"),
      sum(col("q") * col("q")).as("sqq"), sum(col("p") * col("p")).as("spp"),
      sum(col("d") * col("d")).as("sdd"), sum(col("x") * col("x")).as("sxx"),
      sum(col("q") * col("p")).as("sqp"), sum(col("q") * col("d")).as("sqd"),
      sum(col("q") * col("x")).as("sqx"), sum(col("p") * col("d")).as("spd"),
      sum(col("p") * col("x")).as("spx"), sum(col("d") * col("x")).as("sdx"))
    def cell(na: String, nb: String, sa: String, sb: String,
             sab: String, saa: String, sbb: String) =
      struct(lit(na).as("col_a"), lit(nb).as("col_b"),
        col(sa).as("sa"), col(sb).as("sb"), col(sab).as("sab"),
        col(saa).as("saa"), col(sbb).as("sbb"))
    val cells = a.select(col("n"), explode(array(
      cell("quantity", "extendedprice", "sq", "sp", "sqp", "sqq", "spp"),
      cell("quantity", "discount", "sq", "sd", "sqd", "sqq", "sdd"),
      cell("quantity", "tax", "sq", "sx", "sqx", "sqq", "sxx"),
      cell("extendedprice", "discount", "sp", "sd", "spd", "spp", "sdd"),
      cell("extendedprice", "tax", "sp", "sx", "spx", "spp", "sxx"),
      cell("discount", "tax", "sd", "sx", "sdx", "sdd", "sxx"))).as("c"))
    cells.select(col("c.col_a").as("col_a"), col("c.col_b").as("col_b"),
      floor(lit(1000000.0) *
        (col("n").cast("double") * col("c.sab") - col("c.sa").cast("double") * col("c.sb")) /
        sqrt((col("n").cast("double") * col("c.saa") - col("c.sa").cast("double") * col("c.sa")) *
          (col("n").cast("double") * col("c.sbb") - col("c.sb").cast("double") * col("c.sb"))))
        .cast("long").as("corr_micro"))
      .orderBy("col_a", "col_b")
  }

  val corrMatrixSql: String = """
WITH m AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS q, CAST(round(l_extendedprice) AS BIGINT) AS p,
         CAST(round(l_discount*100) AS BIGINT) AS d, CAST(round(l_tax*100) AS BIGINT) AS x
  FROM lineitem),
pairs AS (
  SELECT 'quantity' AS col_a, 'extendedprice' AS col_b, COUNT(*) AS n, SUM(q) sa, SUM(p) sb, SUM(q*p) sab, SUM(q*q) saa, SUM(p*p) sbb FROM m
  UNION ALL SELECT 'quantity','discount', COUNT(*), SUM(q), SUM(d), SUM(q*d), SUM(q*q), SUM(d*d) FROM m
  UNION ALL SELECT 'quantity','tax', COUNT(*), SUM(q), SUM(x), SUM(q*x), SUM(q*q), SUM(x*x) FROM m
  UNION ALL SELECT 'extendedprice','discount', COUNT(*), SUM(p), SUM(d), SUM(p*d), SUM(p*p), SUM(d*d) FROM m
  UNION ALL SELECT 'extendedprice','tax', COUNT(*), SUM(p), SUM(x), SUM(p*x), SUM(p*p), SUM(x*x) FROM m
  UNION ALL SELECT 'discount','tax', COUNT(*), SUM(d), SUM(x), SUM(d*x), SUM(d*d), SUM(x*x) FROM m)
SELECT col_a, col_b,
  CAST(floor(1000000.0 * (CAST(n AS DOUBLE)*sab - CAST(sa AS DOUBLE)*sb) /
    sqrt((CAST(n AS DOUBLE)*saa - CAST(sa AS DOUBLE)*sa) * (CAST(n AS DOUBLE)*sbb - CAST(sb AS DOUBLE)*sb))) AS BIGINT) AS corr_micro
FROM pairs ORDER BY col_a, col_b
"""

  /** Inclusion-dependency (foreign-key) discovery — the schema-less
    * profiling pass that finds joinable keys before anyone declares
    * them (Bauckmann et al., SPIDER; De Marchi's IND mining): for each
    * candidate (child, parent) column pair, containment = |distinct
    * child ∩ parent| / |distinct child|, flagged FK at exactly 1.
    * Per pair: one distinct-shuffle on the child key and a LEFT SEMI
    * against the parent — no row data moves, only keys. Includes a
    * deliberate negative control (orderkey ⊄ custkey) so the flag is
    * exercised both ways. */
  def fkDiscovery(s: SparkSession, dir: String): DataFrame = {
    def pair(childName: String, parentName: String,
             child: DataFrame, key: String,
             parent: DataFrame, pkey: String): DataFrame = {
      // One pass: distinct child keys LEFT-join the (distinct) parent
      // keys with a hit flag, then a single count/sum aggregate — the
      // former semi-join + two separate aggregations evaluated the
      // child-key distinct twice, doubling every fact scan.
      val ck = child.select(col(key).cast("long").as("k")).distinct()
      val pk = parent.select(col(pkey).cast("long").as("k")).distinct()
        .withColumn("hit", lit(1L))
      ck.join(pk, Seq("k"), "left")
        .agg(count(lit(1)).as("n_child"),
          coalesce(sum("hit"), lit(0L)).as("n_contained"))
        .select(lit(childName).as("child_col"), lit(parentName).as("parent_col"),
          col("n_child"), col("n_contained"),
          expr("n_contained * 1000000 div n_child").as("containment_micro"),
          when(col("n_contained") === col("n_child"), 1L).otherwise(0L).as("is_fk"))
    }
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val p = t(s, dir, "part"); val su = t(s, dir, "supplier")
    val c = t(s, dir, "customer"); val e = t(s, dir, "events")
    pair("lineitem.l_orderkey", "orders.o_orderkey", li, "l_orderkey", o, "o_orderkey")
      .union(pair("lineitem.l_partkey", "part.p_partkey", li, "l_partkey", p, "p_partkey"))
      .union(pair("lineitem.l_suppkey", "supplier.s_suppkey", li, "l_suppkey", su, "s_suppkey"))
      .union(pair("events.user_id", "customer.c_custkey", e, "user_id", c, "c_custkey"))
      .union(pair("orders.o_orderkey", "customer.c_custkey", o, "o_orderkey", c, "c_custkey"))
      .orderBy("child_col", "parent_col")
  }

  val fkDiscoverySql: String = """
WITH pairs AS (
  SELECT 'lineitem.l_orderkey' AS child_col, 'orders.o_orderkey' AS parent_col,
    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS n_child,
    (SELECT COUNT(DISTINCT l.l_orderkey) FROM lineitem l JOIN orders o ON l.l_orderkey=o.o_orderkey) AS n_in
  UNION ALL SELECT 'lineitem.l_partkey','part.p_partkey',
    (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
    (SELECT COUNT(DISTINCT l.l_partkey) FROM lineitem l JOIN part p ON l.l_partkey=p.p_partkey)
  UNION ALL SELECT 'lineitem.l_suppkey','supplier.s_suppkey',
    (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
    (SELECT COUNT(DISTINCT l.l_suppkey) FROM lineitem l JOIN supplier s ON l.l_suppkey=s.s_suppkey)
  UNION ALL SELECT 'events.user_id','customer.c_custkey',
    (SELECT COUNT(DISTINCT user_id) FROM events),
    (SELECT COUNT(DISTINCT e.user_id) FROM events e JOIN customer c ON e.user_id=c.c_custkey)
  UNION ALL SELECT 'orders.o_orderkey','customer.c_custkey',
    (SELECT COUNT(DISTINCT o_orderkey) FROM orders),
    (SELECT COUNT(DISTINCT o.o_orderkey) FROM orders o JOIN customer c ON o.o_orderkey=c.c_custkey))
SELECT child_col, parent_col, CAST(n_child AS BIGINT) AS n_child,
  CAST(n_in AS BIGINT) AS n_contained,
  CAST(n_in*1000000//n_child AS BIGINT) AS containment_micro,
  CAST(CASE WHEN n_in=n_child THEN 1 ELSE 0 END AS BIGINT) AS is_fk
FROM pairs ORDER BY child_col, parent_col
"""

  /** Local clustering coefficient over the bounded order–part
    * projection slice (same graph family as q_kcore): per node,
    * lcc = 2·triangles / (deg·(deg−1)) in integral micros, top 20.
    * Triangle counts come from the degree-ordered wedge enumeration in
    * [[graft.operators.Triangles]] (Suri–Vassilvitskii WWW'11 — wedge
    * work bounded O(m^1.5)); degrees from one groupBy over the same
    * canonical edge list. The twin recounts triangles via the
    * three-way u<v<w self-join — independent algorithm, same answer. */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "lineitem").filter(col("l_orderkey") < 30000)
      .select((col("l_orderkey") % 3000).as("s"), (col("l_partkey") % 3000).as("d"))
    val und = raw.filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("u"), greatest(col("s"), col("d")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = Triangles.perNode(raw, "s", "d")
    deg.join(tri, "node")
      .select(col("node"), col("deg"), col("n_tri"),
        expr("2 * n_tri * 1000000 div (deg * (deg - 1))").as("lcc_micro"))
      .orderBy(col("lcc_micro").desc, col("node")).limit(20)
  }

  val clusteringCoeffSql: String = """
WITH raw AS (
  SELECT l_orderkey % 3000 AS s, l_partkey % 3000 AS d
  FROM lineitem WHERE l_orderkey < 30000),
e AS (
  SELECT DISTINCT least(s,d) AS u, greatest(s,d) AS v FROM raw WHERE s <> d),
deg AS (
  SELECT n AS node, COUNT(*) AS deg FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
tri AS (
  SELECT t.n AS node, COUNT(*) AS n_tri FROM (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
  ) x, LATERAL (VALUES (x.a),(x.b),(x.c)) AS t(n)
  GROUP BY t.n)
SELECT d.node, CAST(d.deg AS BIGINT) AS deg, CAST(t.n_tri AS BIGINT) AS n_tri,
  CAST(2*t.n_tri*1000000 // (d.deg*(d.deg-1)) AS BIGINT) AS lcc_micro
FROM deg d JOIN tri t ON d.node = t.node
ORDER BY lcc_micro DESC, d.node LIMIT 20
"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skyline" -> (skyline _),
    "q_cusum" -> (cusum _),
    "q_mannwhitney" -> (mannWhitney _),
    "q_welch_ttest" -> (welchT _),
    "q_corr_matrix" -> (corrMatrix _),
    "q_fk_discovery" -> (fkDiscovery _),
    "q_clustering_coeff" -> (clusteringCoeff _))

  val oracles: Map[String, String] = Map(
    "q_skyline" -> skylineSql,
    "q_cusum" -> cusumSql,
    "q_mannwhitney" -> mannWhitneySql,
    "q_welch_ttest" -> welchTSql,
    "q_corr_matrix" -> corrMatrixSql,
    "q_fk_discovery" -> fkDiscoverySql,
    "q_clustering_coeff" -> clusteringCoeffSql)
}
