package graft

import graft.operators.Checkpoints

/** Checkpoints.release semantics (r16). Motivation: every iterative
  * operator "released" its previous round via `Dataset.unpersist()`,
  * which routes through the CacheManager and is a silent no-op for
  * `localCheckpoint`ed frames — so all rounds' blocks stayed pinned for
  * the session lifetime. These tests pin (1) that the no-op is real on
  * this Spark version (if an upgrade fixes Dataset.unpersist, this
  * fails and Checkpoints can be retired), (2) that release actually
  * frees the blocks, and (3) that release is root-strict — a derived
  * frame must NOT free its upstream checkpoint, because lazily-
  * checkpointed consumers cannot recompute it (truncated lineage). */
class CheckpointsSpec extends GraftSuite {

  test("Dataset.unpersist is a no-op on a localCheckpoint frame (why Checkpoints exists)") {
    val base = Pins(spark)
    val df = spark.range(1000).toDF("v").localCheckpoint(true)
    assert((Pins(spark) -- base).size == 1, "checkpoint should pin exactly one RDD")
    df.unpersist(blocking = true)
    assert((Pins(spark) -- base).size == 1,
      "Dataset.unpersist released a checkpoint pin — Spark fixed the " +
        "CacheManager gap; Checkpoints.release can be retired")
    Checkpoints.release(df) // cleanup
  }

  test("release frees a checkpoint root's blocks") {
    val base = Pins(spark)
    val df = spark.range(1000).toDF("v").localCheckpoint(true)
    assert((Pins(spark) -- base).nonEmpty)
    Checkpoints.release(df)
    assert(Pins.leftAfterRelease(spark, base).isEmpty, "release left the checkpoint pinned")
  }

  test("release is root-strict: a derived frame does not free its upstream checkpoint") {
    val base = Pins(spark)
    val ckpt = spark.range(1000).toDF("v").localCheckpoint(true)
    val newPins = Pins(spark) -- base
    assert(newPins.nonEmpty)
    val derived = ckpt.filter("v % 2 = 0").groupBy().count()
    Checkpoints.release(derived) // must no-op
    Thread.sleep(200)
    assert((Pins(spark) -- base) == newPins,
      "releasing a derived frame freed the upstream checkpoint")
    assert(derived.collect().head.getLong(0) == 500L)
    Checkpoints.release(ckpt)
  }
}
