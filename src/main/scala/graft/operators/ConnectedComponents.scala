package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the missing step
  * between near-duplicate PAIR detection (MinHash bands, SimHash Hamming
  * blocks) and actual corpus deduplication: transitive closure of the
  * pair relation groups docs into clusters, from which one canonical
  * representative survives.
  *
  * Algorithm: local contraction, then alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) over what is left.
  *
  * Contraction (the local-then-global pattern of REPOSE, ICDE 2021): the
  * canonical edges are hash-partitioned on `src` and each partition runs
  * a union-find whose root is always the minimum id, then emits one
  * (root, member) star edge per non-root node. The union of those stars
  * has exactly the connectivity of the input. When all edges land in one
  * partition (AQE coalesces small inputs to one) the stars are already
  * the fixed point and no round runs; otherwise the rounds start from a
  * much smaller edge set. Per-task memory is bounded: a forest that
  * reaches [[ForestCap]] nodes emits its stars and a new forest starts,
  * which weakens the contraction but not the result.
  *
  * Rounds: each is two shuffles (a groupBy-min and a join) over the
  * current edge set; the edge set converges to a star per component —
  * every node linked directly to its component's minimum id — in
  * O(log n) rounds. This is the 100 TB shape: no driver-side graph, no
  * transitive-closure blowup (closure is O(n·m) rows; stars stay O(n)),
  * each round embarrassingly parallel. Result at convergence is exactly
  * "min id per component", independent of iteration order and of the
  * partitioning — deterministic, so it can be oracled against a
  * recursive-CTE twin on small data.
  *
  * The driver loop is control flow only (one convergence action per
  * round); per-round `localCheckpoint` truncates the join lineage that
  * would otherwise grow exponentially. The checkpoint is lazy — the
  * convergence check's action is what materializes the blocks — so each
  * round runs exactly one job. Edge frames are (id, id) pairs — tiny
  * relative to the corpus — so the checkpoint blocks are cheap; the
  * previous round's blocks are explicitly released each iteration.
  */
object ConnectedComponents {

  /** Most nodes one task's union-find holds before it emits its stars
    * and starts over: about 20 MB of boxed long ids. */
  private val ForestCap = 1 << 18

  /** (id, component) for every node appearing in `edges`, where
    * `component` is the minimum node id reachable from it. Node ids may
    * be any orderable type (long, string). Self-loops are dropped.
    * Throws if not converged within `maxIter` rounds (each round roughly
    * halves star depth; 20 covers any graph with diameter < 2^20). */
  def components(edges: DataFrame, srcCol: String = "src",
                 dstCol: String = "dst", maxIter: Int = 20): DataFrame =
    componentsWithFinal(edges, srcCol, dstCol, maxIter).out

  /** [[components]] for callers that immediately STAGE the result (the
    * IncrementalStage/DedupStage pattern): the output is materialized
    * as an eager checkpoint and the loop's FINAL internal edge frame is
    * released. The lazy [[components]] result keeps that final frame
    * pinned for the session — its blocks are the only copy of the
    * converged stars and the root-strict [[Checkpoints.release]] cannot
    * reach them through the derived output (r17; at 100 TB the frame is
    * component-assignment-sized, one leaked copy per CC invocation).
    * Returns a checkpoint root the caller owns and may release. */
  def componentsEager(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst", maxIter: Int = 20): DataFrame = {
    val run = componentsWithFinal(edges, srcCol, dstCol, maxIter)
    val staged = run.out.localCheckpoint(true)
    Checkpoints.release(run.last)
    staged
  }

  /** One CC call: the lazy output, the final checkpointed edge frame the
    * output derives from (eager call sites release it once the output
    * is materialized), and the number of star rounds that ran. */
  private[graft] case class Run(out: DataFrame, last: DataFrame, rounds: Int)

  /** Core loop: contraction, then star rounds until [[isMinStar]]. */
  private[graft] def componentsWithFinal(
      edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 20): Run = {
    val canonical = edges
      .select(least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .filter(col("src") =!= col("dst"))
    var e = contractLocally(canonical).localCheckpoint(false)
    var prev: DataFrame = null
    var converged = isMinStar(e)
    var iter = 0
    while (!converged && iter < maxIter) {
      // largeStar's output feeds smallStar's THREE consuming subtrees
      // (the mins groupBy under both relink and self, plus relink's
      // probe side), and Catalyst does not share subplans — unstaged,
      // every round re-planned and re-shuffled the largeStar sym-union
      // + groupBy + join three times (the candidatePairs r14 lesson,
      // found here by the r15 hammingClusters stage split where CC
      // dominated the operator). A LAZY checkpoint per round (r16, the
      // KCore lesson) caps the round at one largeStar evaluation — the
      // three consumers share one persisted RDD — WITHOUT the eager
      // variant's extra materialization job per round: the blocks
      // materialize inside the convergence check's action below
      // (interleaved A/B: lazy 2.28 vs eager 2.36 s min, BENCHLOG "the
      // r16 lazy-checkpoint sweep"). The edge frame is O(|edges|) rows
      // of two ids, so the blocks are cheap at any scale and strictly
      // cheaper than two recomputes.
      val ls = largeStar(e).localCheckpoint(false)
      val next = smallStar(ls).localCheckpoint(false)
      converged = isMinStar(next) // materializes next AND ls; both releasable
      Checkpoints.release(ls)
      if (prev != null) Checkpoints.release(prev)
      prev = e
      e = next
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    if (prev != null) Checkpoints.release(prev)
    // Rounds never distinct their output (saves an exchange per round;
    // the groupBy-mins absorb duplicate rows via map-side combine), so
    // dedup once here. Converged star edges are (root, member) in
    // canonical least-first form; add the roots themselves.
    val star = e.distinct()
    val out = star.select(col("dst").as("id"), col("src").as("component"))
      .union(star.select(col("src").as("id"), col("src").as("component")).distinct())
    Run(out, e, iter)
  }

  /** One row per component: (component, cluster_size). */
  def clusterSizes(comp: DataFrame): DataFrame =
    comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))

  /** Star edges (root, member) with the connectivity of the canonical
    * edge set `e`: hash-partitioned on `src` (AQE coalesces a small
    * input), then one min-root union-find per partition — at most
    * [[ForestCap]] nodes at a time — emits an edge from each non-root
    * node to its root. Ids are handled as Catalyst values of the id
    * column's type and compared with that type's ordering, the one
    * Spark's `least` and `min` use, so every id type CC accepts takes
    * this one path and a single-partition result is already the
    * min-star fixed point. */
  private def contractLocally(e: DataFrame): DataFrame = {
    val schema = e.schema
    val idType = schema("src").dataType
    e.repartition(col("src")).mapPartitions { rows =>
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
      val toScala = CatalystTypeConverters.createToScalaConverter(idType)
      val forest = new MinRootForest(PhysicalDataType.ordering(idType))
      def stars(): Iterator[Row] =
        forest.drain().iterator.map { case (root, member) => Row(toScala(root), toScala(member)) }
      val full = rows.flatMap { r =>
        val out = if (forest.size >= ForestCap) stars() else Iterator.empty
        forest.union(toCatalyst(r.get(0)), toCatalyst(r.get(1)))
        out
      }
      full ++ stars() // by-name: drained after the last row
    }(Encoders.row(schema))
  }

  /** Union-find over Catalyst id values whose root is always the
    * minimum id of its tree (union links the larger root under the
    * smaller; find halves paths). */
  private final class MinRootForest(ord: Ordering[Any]) {
    private val parent = new java.util.HashMap[Any, Any]()

    def size: Int = parent.size

    private def find(x: Any): Any = {
      var n = x
      var p = parent.get(n)
      while (p != n) {
        val gp = parent.get(p)
        parent.put(n, gp)
        n = gp
        p = parent.get(n)
      }
      n
    }

    def union(a: Any, b: Any): Unit = {
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }

    /** (root, member) for every non-root node; empties the forest. */
    def drain(): Array[(Any, Any)] = {
      val out = Array.newBuilder[(Any, Any)]
      parent.keySet.forEach { n =>
        val r = find(n)
        if (r != n) out += ((r, n))
      }
      parent.clear()
      out.result()
    }
  }

  /** Large-star: every node connects its strictly-larger neighbors to the
    * minimum of its neighborhood (including itself). One groupBy-min +
    * one equi-join on the symmetrized edges. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
    // No distinct here: smallStar dedups its output, so an extra exchange
    // per round buys nothing (duplicate edges only inflate the round's
    // own groupBy input, which map-side combine absorbs).
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("m").as("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Small-star: every node connects its strictly-smaller neighbors (and
    * itself) to the minimum of those neighbors. Edges arrive and leave in
    * canonical least-first orientation. */
  private def smallStar(e: DataFrame): DataFrame = {
    // e is least-first: (src < dst) ⇒ group by the larger endpoint.
    // No distinct on the output: duplicate edge rows only inflate the
    // next round's groupBy inputs (absorbed map-side) and multiplicity
    // stays O(|edges|) — contraction merges rows additively, never
    // multiplies them. The convergence check and the final output are
    // duplicate-tolerant, so the per-round dedup exchange buys nothing.
    val mins = e.groupBy("dst").agg(min(col("src")).as("m"))
    val relink = e.join(mins, "dst")
      .select(col("m").as("src"), col("src").as("dst"))
    val self = mins.select(col("m").as("src"), col("dst"))
    relink.union(self)
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** True iff the edge set is already a disjoint union of min-stars —
    * the fixed point of smallStar∘largeStar — i.e. every component is
    * exactly {(root, member)} with one edge per member. In canonical
    * least-first orientation that is: no node appears both as a `src`
    * and as a `dst` (members have no children), and no `dst` has two
    * DISTINCT src partners (members link to exactly one root; duplicate
    * copies of the same edge are fine — rounds don't dedup). Checked
    * directly instead of waiting for two consecutive rounds to hash
    * identically: stability detection costs a full extra
    * largeStar+smallStar round after convergence, the direct test none.
    * Distinct-partner detection is min(peer) ≠ max(peer), not
    * count(DISTINCT) — the latter plans a second exchange. One
    * aggregation action — which also materializes the
    * lazily-checkpointed round result it runs on. */
  private def isMinStar(e: DataFrame): Boolean = {
    val endpoints = e.select(col("src").as("id"),
        lit(null).cast(e.schema("src").dataType).as("peer"), lit(1).as("is_src"))
      .union(e.select(col("dst"), col("src"), lit(0)))
    endpoints.groupBy("id")
      .agg(max(col("is_src")).as("ever_src"), min(col("is_src")).as("ever_dst"),
        min(col("peer")).as("pmin"), max(col("peer")).as("pmax"))
      .filter((col("ever_src") === 1 && col("ever_dst") === 0) ||
        col("pmin") =!= col("pmax"))
      .isEmpty
  }
}
