package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{LostBlocks, SparkException}
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.{DedupStage, StagedOnce}

class StagedOnceSpec extends GraftSuite {

  test("StagedOnce runs a build exactly once per (session, key)") {
    val n = new AtomicInteger(0)
    val key = "staged_once_spec_" + System.nanoTime()
    StagedOnce(spark, key) { n.incrementAndGet() }
    StagedOnce(spark, key) { n.incrementAndGet() }
    StagedOnce(spark, key) { n.incrementAndGet() }
    assert(n.get() === 1)
    // A different key builds independently.
    StagedOnce(spark, key + "_b") { n.incrementAndGet() }
    assert(n.get() === 2)
  }

  test("a value-returning stage returns the same instance on every call") {
    val n = new AtomicInteger(0)
    val key = "staged_once_value_" + System.nanoTime()
    val first = StagedOnce(spark, key) { n.incrementAndGet(); new Object }
    val again = StagedOnce(spark, key) { n.incrementAndGet(); new Object }
    assert(again eq first)
    assert(n.get() === 1)
  }

  test("StagedOnce is a memo, not a lock leak: concurrent callers build once") {
    val n = new AtomicInteger(0)
    val key = "staged_once_conc_" + System.nanoTime()
    val threads = (1 to 8).map { _ =>
      new Thread(() => StagedOnce(spark, key) {
        Thread.sleep(50); n.incrementAndGet()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(n.get() === 1)
  }

  test("SessionMemo: a build may memoize other keys of the same memo") {
    // Each build nests two more keys of its own memo (IncrementalStage's
    // dedupFullAssign stages dedupBase this way). Memoizing inside the
    // map's own update throws "Recursive update" whenever the keys share
    // a bin; fresh memos and per-instance keys give 100 chances of that.
    (1 to 100).foreach { i =>
      val memo = new SessionMemo[String, Int]()
      val v = memo(spark, s"a$i") {
        memo(spark, s"b$i") { memo(spark, s"c$i") { 1 } + 1 } + 1
      }
      assert(v === 3)
      assert(memo(spark, s"c$i") { -1 } === 1, "the nested builds are memoized")
      assert(memo.size === 3)
    }
  }

  test("SessionMemo keeps no failed build: the next call builds again") {
    val memo = new SessionMemo[String, Int]()
    val n = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      memo(spark, "k") { n.incrementAndGet(); throw new IllegalStateException("build failed") }
    }
    assert(e.getMessage === "build failed")
    assert(memo.size === 0)
    assert(memo(spark, "k") { n.incrementAndGet() } === 2, "rebuilt after the failure")
    assert(memo(spark, "k") { n.incrementAndGet() } === 2, "and memoized once built")
  }

  test("SessionMemo evicts a context's entries on context end") {
    val memo = new SessionMemo[String, Int]()
    val n = new AtomicInteger(0)
    assert(memo(spark, "k") { n.incrementAndGet() } === 1)
    assert(memo(spark, "k") { n.incrementAndGet() } === 1)
    assert(memo.size === 1)
    // The listener path calls evict(sc) at onApplicationEnd; drive the
    // same hook directly (stopping the shared suite context would kill
    // every other test).
    memo.evict(spark.sparkContext)
    assert(memo.size === 0)
    assert(memo(spark, "k") { n.incrementAndGet() } === 2, "evicted key rebuilds")
  }

  test("evictSession retires a newSession clone without touching siblings") {
    // The documented SessionMemo scope limit: clones share a
    // SparkContext, so context-end eviction can't see an abandoned
    // clone. evictSession(s) is the explicit retire path — it must drop
    // the clone's entries from EVERY memo while the sibling session's
    // entries (same context, same keys) survive.
    val memo = new SessionMemo[String, Int]()
    val clone = spark.newSession()
    val n = new AtomicInteger(0)
    assert(memo(spark, "k") { n.incrementAndGet() } === 1)
    assert(memo(clone, "k") { n.incrementAndGet() } === 2, "clone-keyed entry is distinct")
    val key = "evict_session_spec_" + System.nanoTime()
    StagedOnce(clone, key) { n.incrementAndGet() }
    assert(StagedOnce.builds(clone).contains(key))
    SessionMemo.evictSession(clone)
    // Clone's entries are gone from both memos (a re-apply rebuilds)...
    assert(!StagedOnce.builds(clone).contains(key))
    assert(memo(clone, "k") { n.incrementAndGet() } === 4, "clone entry was evicted")
    // ...while the sibling's survive untouched.
    assert(memo(spark, "k") { n.incrementAndGet() } === 1, "sibling entry survives")
  }

  test("Tables.staged: caller column order honored, one artifact per column SET") {
    // Fresh session clone: the shared session's memo accumulates
    // tables_staged:orders(...) entries from whatever other suites (or
    // future queries) stage orders with a DIFFERENT column set, which
    // would make a bare prefix count > 1 and fail on suite order alone.
    val sess = spark.newSession()
    try {
      val dir = "/root/testdata/sf0.001"
      val a = Tables.staged(sess, dir, "orders", Seq("o_totalprice", "o_orderkey"))
      val b = Tables.staged(sess, dir, "orders", Seq("o_orderkey", "o_totalprice"))
      // positional consumers see the order they asked for...
      assert(a.columns.toSeq == Seq("o_totalprice", "o_orderkey"))
      assert(b.columns.toSeq == Seq("o_orderkey", "o_totalprice"))
      // ...while both orders share ONE canonical staged artifact (memo
      // keyed on the sorted column set): exactly one build was recorded.
      val keys = StagedOnce.builds(sess).keys.filter(_.startsWith(s"tables_staged:orders("))
      assert(keys.size == 1, s"expected one staged orders artifact, got $keys")
      // and the data is the same rows either way
      assert(a.select("o_orderkey").except(b.select("o_orderkey")).isEmpty)
    } finally SessionMemo.evictSession(sess)
  }

  test("build/probe split: builds records each staged artifact once") {
    val key = "staged_once_build_s_" + System.nanoTime()
    StagedOnce(spark, key) { Thread.sleep(20) }
    StagedOnce(spark, key) { Thread.sleep(20) } // probe-side: no rebuild
    val bs = StagedOnce.builds(spark)
    assert(bs.contains(key))
    assert(bs(key)._3 >= 0.02, s"recorded build time ${bs(key)._3} too small")
    // Owner and source dir ride with the entry (Bench's build_s report
    // keys by owner and filters by EXACT dir).
    val key2 = key + "_owned"
    StagedOnce(spark, key2, owner = "q_spec", dir = "/d") { Thread.sleep(1) }
    assert(StagedOnce.builds(spark)(key2)._1 === "q_spec")
    assert(StagedOnce.builds(spark)(key2)._2 === "/d")
    // DedupStage's build sits in the same ledger exactly once, under its
    // owner and dir, and its own (perfbench-facing) report stays empty so
    // a reader merging both cannot count the build twice.
    val dir = "/root/testdata/sf0.001"
    DedupStage.components(spark, dir)
    DedupStage.components(spark, dir)
    val dedup = StagedOnce.builds(spark).values.filter(_._1 == DedupStage.Owner).toSeq
    assert(dedup.map(_._2) === Seq(dir), s"DedupStage builds: $dedup")
    assert(DedupStage.buildSeconds(spark).isEmpty)
  }

  test("DedupStage serves both dedup queries from one staged components table") {
    val dir = "/root/testdata/sf0.001"
    // Identity, not just equality: the memo must hand back the SAME
    // frame, which is what makes the clusters/canonical pair share one
    // edge build + CC run.
    val a = DedupStage.components(spark, dir)
    val b = DedupStage.components(spark, dir)
    assert(a eq b)
    // And the staged result is what the registered queries agree on:
    // every (id, component) pair appears in q_dedup_clusters' output.
    val comp = a.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromQuery = SparkEntry.queries("q_dedup_clusters")(spark, dir)
      .select("doc_id", "component").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(comp === fromQuery)
  }

  test("a lost staged block fails loudly, and keeps failing until the session is evicted") {
    // A localCheckpoint truncates lineage: once a staged frame's blocks
    // are gone (a lost executor; here removed through the BlockManager)
    // nothing can recompute them. The next action must fail and name the
    // block, never return rows from a partial read.
    val sess = spark.newSession()
    val key = "staged_lost_block_" + System.nanoTime()
    def stage() = StagedOnce(sess, key) { sess.range(0, 1000, 1, 4).toDF("id").localCheckpoint(true) }
    try {
      val df = stage()
      assert(df.count() === 1000)
      val rddId = df.queryExecution.analyzed match {
        case l: LogicalRDD => l.rdd.id
        case p => fail(s"staged frame is not a checkpoint root: ${p.nodeName}")
      }
      LostBlocks.removeRdd(sess.sparkContext, rddId)
      val e = intercept[SparkException](df.collect())
      assert(e.getMessage.contains(s"rdd_${rddId}_"), e.getMessage)
      // The ledger still holds the frame, so every later call fails too...
      assert(stage() eq df)
      intercept[SparkException](stage().count())
      // ...until the session's entries are evicted and the stage rebuilds.
      SessionMemo.evictSession(sess)
      val rebuilt = stage()
      assert(!(rebuilt eq df))
      assert(rebuilt.count() === 1000)
    } finally SessionMemo.evictSession(sess)
  }
}
