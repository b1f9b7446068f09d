package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Checkpoints, ConnectedComponents, DedupStage}

class ConnectedComponentsSpec extends GraftSuite {
  import spark.implicits._

  private def comp(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.components(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("two components, min id wins") {
    val m = comp(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long path converges in O(log n) rounds (diameter >> rounds)") {
    // A 200-node path is the worst case for naive neighbor propagation
    // (200 rounds); star-contraction must close it within the iteration
    // cap, proving the O(log n) behavior the scaladoc promises.
    val m = comp((0L until 199L).map(i => (i, i + 1)))
    assert(m.size == 200 && m.values.forall(_ == 0L))
    // Across 8 partitions each one contracts only fragments of the
    // path, so here the star rounds must finish the job.
    val run = ConnectedComponents.componentsWithFinal(
      split.createDataFrame((0L until 199L).map(i => (i, i + 1))).toDF("src", "dst"))
    val split200 = run.out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Checkpoints.release(run.last)
    assert(split200 == m)
    assert(run.rounds >= 1, "the contraction alone solved the split path; the rounds went untested")
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val m = comp(Seq((5L, 5L), (2L, 1L), (1L, 2L), (2L, 3L), (2L, 3L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("dense clique and bridge") {
    val clique = for (a <- 20L to 24L; b <- (a + 1) to 24L) yield (a, b)
    val m = comp(clique ++ Seq((24L, 30L), (40L, 41L)))
    assert((20L to 30L by 1).filter(m.contains).forall(m(_) == 20L))
    assert(m(41L) == 40L)
  }

  test("clusterSizes counts members including the root") {
    val c = ConnectedComponents.components(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst"))
    val sizes = ConnectedComponents.clusterSizes(c)
      .as[(Long, Long)].collect().toMap
    assert(sizes == Map(1L -> 3L, 10L -> 2L))
  }

  test("string ids order lexicographically") {
    val m = ConnectedComponents.components(
      Seq(("docB", "docA"), ("docB", "docC")).toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(m == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA"))
  }

  test("componentsEager pins blocks only until its result is released") {
    // the q_incremental_cc graph shape
    val edges = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .filter(col("l_orderkey") < 8000)
      .select((col("l_orderkey") % 2000).as("src"), (col("l_partkey") % 2000).as("dst"))
    val before = Pins(spark)
    val staged = ConnectedComponents.componentsEager(edges)
    assert(staged.count() > 0)
    val held = Pins(spark) -- before
    assert(held.nonEmpty, "the staged result must hold its own blocks")
    Checkpoints.release(staged)
    val leaked = Pins.leftAfterRelease(spark, before)
    assert(leaked.isEmpty, s"rdd ids still pinned after release: $leaked (held: $held)")
  }

  /** The shared session's AQE coalesces these small shuffles into one
    * partition, where the local contraction alone reaches the min-star
    * fixed point. This clone keeps 8 uncoalesced shuffle partitions, so
    * each partition contracts only a fragment and the star rounds run. */
  private lazy val split: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  /** Min id per component by a plain driver-side union-find; nodes that
    * only have self-loops are absent, as in [[ConnectedComponents]]. */
  private def reference[T](edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.filter { case (a, b) => a != b }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Random graphs over up to 120 nodes with self-loops, duplicate and
    * reversed edges, and a path segment so that some components are
    * long. */
  private val graphs: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(2, 120)
    random <- Gen.listOf(Gen.zip(Gen.chooseNum(0L, n.toLong), Gen.chooseNum(0L, n.toLong)))
    from <- Gen.chooseNum(0L, n.toLong)
    len <- Gen.chooseNum(0, 40)
    loops <- Gen.listOf(Gen.chooseNum(0L, n.toLong)).map(_.map(i => (i, i)))
    repeated <- Gen.someOf(random)
  } yield {
    val path = (0 until len).map(i => (from + i, from + i + 1))
    new scala.util.Random(n * 31L + len)
      .shuffle(random ++ path ++ loops ++ repeated ++ repeated.map(_.swap))
  }

  /** Checks the graph of `seed` in session `s`, once with long ids and
    * once with string ids (whose order differs); returns the star
    * rounds each call ran. */
  private def agrees(s: SparkSession, seed: Long): Seq[Int] = {
    val g = graphs.pureApply(Gen.Parameters.default, Seed(seed))
    def check[T](edges: Seq[(T, T)], df: DataFrame)(implicit ord: Ordering[T]): Int = {
      val run = ConnectedComponents.componentsWithFinal(df)
      val got = run.out.collect().map(r => r.getAs[T](0) -> r.getAs[T](1))
      Checkpoints.release(run.last)
      assert(got.length == got.toMap.size, s"a node got two components (seed $seed)")
      assert(got.toMap == reference(edges), s"seed $seed: ${edges.size} edges")
      run.rounds
    }
    val strings = g.map { case (a, b) => (s"v$a", s"v$b") }
    Seq(check(g, s.createDataFrame(g).toDF("src", "dst")),
      check(strings, s.createDataFrame(strings).toDF("src", "dst")))
  }

  test("property: components equal a driver-side union-find (long and string ids)") {
    val rounds = (0L until 6L).flatMap(agrees(spark, _))
    // one coalesced partition: the contraction is the fixed point
    assert(rounds.forall(_ == 0), s"rounds: $rounds")
  }

  test("property: components equal a driver-side union-find across 8 partitions") {
    val rounds = (100L until 106L).flatMap(agrees(split, _))
    assert(rounds.exists(_ > 0), s"no graph needed a star round: $rounds")
  }

  test("DedupStage build at sf0.01 stays within its job budget") {
    // 15 jobs measured with the local contraction, where all 157 edges
    // meet in one partition and no star round runs; without it the
    // build ran 4 rounds and 46 jobs. The margin absorbs a plan change
    // of a job or two; one more star round adds more than that.
    val (measured, margin) = (15, 2)
    val clone = spark.newSession()
    val (_, jobs) =
      try JobsStarted(clone)(DedupStage.components(clone, "/root/testdata/sf0.01"))
      finally SessionMemo.evictSession(clone)
    assert(jobs.size <= measured + margin,
      s"${jobs.size} jobs: ${jobs.map(_.stage).mkString(", ")}")
  }
}
