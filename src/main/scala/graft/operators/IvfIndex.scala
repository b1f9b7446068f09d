package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns._
import graft.sinks.ParquetWrite

/** Persisted IVF index: the build-once / probe-many split that makes IVF
  * the 100 TB ANN play. `Knn.ivfTopK` re-derives centroids inside every
  * query — right for a one-shot search, wrong for a serving corpus where
  * Lloyd's over the full corpus costs hours and the probes arrive
  * forever. Here the expensive half is STAGED:
  *
  *  - `build` fits deterministic Lloyd's once (`KMeans.fit`) and writes
  *    two parquet tables: the k-row centroid table and the full corpus
  *    assignment PARTITIONED BY cluster id — so each cluster is its own
  *    directory, and a probe's `cid IN (probed)` filter prunes to
  *    nprobe/k of the corpus at PLAN time (partition pruning, the
  *    storage-level realization of the inverted file).
  *  - `probe` touches ONLY the staged tables: broadcast the k centroids,
  *    rank nprobe clusters per query, scan just those partitions. No
  *    iterative stage anywhere in the probe plan.
  *
  * Rebuild cadence vs drift is the production knob; the index is valid
  * for any query batch against the corpus snapshot it was built from.
  */
object IvfIndex {

  /** Union-free tombstone read: the takedown ids [[retract]] staged at
    * `dir/tombstones`, or None if the index never retracted. Takedown-
    * sized, so broadcast-cheap at any corpus scale. */
  private def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$dir/tombstones")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(p.toString).distinct())
    else None
  }

  /** The staged assignment table with retracted vectors filtered out —
    * what every reader ([[probe]], [[drift]], [[compact]]) must see:
    * a deleted vector may neither serve as a neighbor nor count toward
    * drift. Broadcast anti-join; no-op when nothing was retracted. */
  private def liveAssignments(spark: SparkSession, dir: String): DataFrame = {
    val asg = spark.read.parquet(s"$dir/assignments")
    tombstones(spark, dir) match {
      case Some(t) =>
        asg.join(broadcast(t.withColumnRenamed("id", "vec_id")),
          Seq("vec_id"), "left_anti")
      case None => asg
    }
  }

  /** Retract vectors from the index — the takedown path (r18, VERDICT
    * r17 #2; [[MinHashIndex.retract]]'s IVF sibling): without it a
    * deleted document's embedding keeps serving as a nearest neighbor
    * from the staged assignment table. Rewriting the cluster-partitioned
    * table per takedown would be corpus-proportional, so retraction is
    * a TOMBSTONE overlay: append the ids to `dir/tombstones`
    * (takedown-sized write), every reader anti-joins the assignment
    * scan against the broadcast tombstone set, and [[compact]] purges
    * the rows physically. Centroids are NOT refit — the index keeps
    * serving the build-time geometry, exactly as [[append]] does on the
    * way in; a takedown heavy enough to move the geometry shows up in
    * [[drift]] and triggers the documented rebuild. Contract: ids never
    * reused (a re-appended retracted id stays filtered until a fresh
    * [[build]]); retracting an id the index never staged is a no-op. */
  def retract(spark: SparkSession, dir: String, ids: DataFrame,
              idCol: String): Unit = {
    require(new org.apache.hadoop.fs.Path(s"$dir/assignments")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$dir/assignments")),
      s"ivf retract: no staged index at $dir")
    ParquetWrite(ids.select(col(idCol).as("id")).distinct()
      .coalesce(1)
      .write.mode("append"), s"$dir/tombstones")
  }

  /** Fit k-means and stage the index. `e` must carry (idCol, vecCol).
    * One Lloyd's run + one corpus-wide assignment scan; the assignment
    * write is the only shuffle (into the cluster partitioning). Resets
    * the whole index root: stale tombstones from a prior generation
    * would silently filter the new corpus ([[MinHashIndex.build]]'s r18
    * lesson applied here before it bit) — cleared only AFTER the new
    * generation is fully staged, so a crashed rebuild cannot resurrect
    * the old generation's retracted vectors. */
  def build(e: DataFrame, idCol: String, vecCol: String, k: Int,
            iters: Int, dir: String): Unit = {
    val cents = KMeans.fit(e, idCol, vecCol, k, iters)
    val assigned = KMeans.assign(e, idCol, vecCol, cents)
    // Cluster by cid before the partitioned write — the same layout
    // discipline compact enforces: without it every input task emits a
    // file into every touched cluster dir (measured 437 files for a
    // 16-cluster build, CompactionTier round-12), and probe plan time
    // grows with files from day one. At larger corpora pass the shuffle
    // through more partitions; here cid-hash into the session default
    // yields one file per cluster.
    ParquetWrite(assigned.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid"), s"$dir/assignments")
    // The staged centroids must DESCRIBE the staged clusters: recompute
    // them from the final assignment (not the raw Lloyd's output, which
    // is half a step stale relative to it) — same relationship
    // `Knn.ivfTopK` maintains when it derives centroids in-query.
    ParquetWrite(KMeans.centroidsOf(assigned, vecCol)
      .write.mode("overwrite"), s"$dir/centroids")
    // Tombstones drop only AFTER the new generation is fully staged: a
    // crash during the (expensive) Lloyd's fit or either write must not
    // leave an intact OLD index serving its retracted vectors
    // tombstone-less (review r18).
    val ts = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    ts.getFileSystem(e.sparkSession.sparkContext.hadoopConfiguration)
      .delete(ts, true)
  }

  /** Delta-append maintenance: assign NEW vectors against the STAGED
    * centroids — no Lloyd's re-run, just the k-literal nearest-centroid
    * projection (`KMeans.assign`) — and append them into the cluster
    * partitioning, where the next probe's partition pruning picks them
    * up alongside the original corpus. Centroids do NOT move: the index
    * keeps serving the build-time geometry at the cost of assignment
    * drift, which `drift` quantifies; past the operator's budget the
    * answer is a fresh `build`, not incremental centroid nudging
    * (rebuild cadence is the documented production knob). */
  def append(spark: SparkSession, dir: String, delta: DataFrame,
             idCol: String, vecCol: String): Unit = {
    val cents = spark.read.parquet(s"$dir/centroids")
    ParquetWrite(KMeans.assign(delta, idCol, vecCol, cents)
      .write.mode("append").partitionBy("cid"), s"$dir/assignments")
  }

  /** Mean cosine-distance creep of the CURRENT assignment set against
    * the staged centroids — the rebuild trigger: sample it at build time
    * as the floor, re-measure after appends, rebuild when the ratio
    * exceeds the corpus's tolerance (distribution shift has outrun the
    * build-time geometry). One broadcast join + one scalar aggregate. */
  def drift(spark: SparkSession, dir: String, vecCol: String): Double = {
    val cents = spark.read.parquet(s"$dir/centroids")
    liveAssignments(spark, dir)
      .join(broadcast(cents), "cid")
      .agg(avg(lit(1.0) - cosineFast(col(vecCol), col("cv"))))
      .head.getDouble(0)
  }

  /** Small-file maintenance for the appended index — the IVF sibling of
    * [[MinHashIndex.compact]]: every [[append]] batch adds one file per
    * touched cluster directory, so continuous ingest accretes
    * batch-count × k files while the data volume barely moves — plan
    * time and task count grow with FILES, not bytes. Rewrite the
    * assignment table clustered by cid (one shuffle into the same
    * partitioning the probes prune on) via write-aside + rename swap —
    * the [[graft.sinks.Compaction]] crash discipline: a failure at any
    * point leaves a complete table at `assignments` or intact at
    * `__old`. Assignments are per-vector facts and centroids are
    * untouched, so probe results are invariant — the spec asserts both
    * the invariance and the file-count drop. Contract: single
    * maintainer, no concurrent probes during the swap. */
  def compact(spark: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = s"$dir/assignments__compacting"
    // the rewrite is also [[retract]]'s deferred half: tombstoned rows
    // are purged physically and the tombstone files cleared after the
    // swap (a crash in between leaves stale tombstones whose rows are
    // already gone — the reader-side anti-join treats that as a no-op)
    ParquetWrite(liveAssignments(spark, dir)
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid"), tmp)
    val p = new Path(s"$dir/assignments")
    val old = new Path(s"$dir/assignments__old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true) // stale leftover from a previous crashed swap
    if (!fs.rename(p, old))
      throw new java.io.IOException(s"ivf compaction: rename $p -> $old failed")
    if (!fs.rename(new Path(tmp), p))
      throw new java.io.IOException(
        s"ivf compaction: rename $tmp -> $p failed; original intact at $old")
    fs.delete(old, true)
    fs.delete(new Path(s"$dir/tombstones"), true) // purged in the rewrite
  }

  /** Probe the staged index: (qid, qe) queries → top-k neighbors from
    * the nprobe nearest clusters. Reads only `dir`; never re-clusters. */
  def probe(spark: SparkSession, dir: String, queries: DataFrame,
            k: Int, nprobe: Int): DataFrame =
    probeFrames(spark.read.parquet(s"$dir/centroids"),
      liveAssignments(spark, dir), queries, k, nprobe)

  /** The probe plan over explicit (cid, cv) / (vec_id, e, cid) frames —
    * `probe` is exactly this over the staged tables; specs call it with
    * an in-memory reference assignment to pin append semantics. */
  def probeFrames(cents: DataFrame, clustered: DataFrame,
                  queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val wA = Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))
    val assignQ = queries.crossJoin(broadcast(cents))
      .select(col("qid"), col("qe"), col("cid"),
        cosineFast(col("qe"), col("cv")).as("csim"))
      .withColumn("crank", row_number().over(wA))
      .filter(col("crank") <= nprobe)
      .select("qid", "qe", "cid")
    val sims = clustered.join(broadcast(assignQ), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cid").as("cluster"),
        Knn.truncSim(cosineFast(col("qe"), col("e"))).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
