package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.sinks.{ParquetWrite, ReadBack}

/** Persisted MinHash-LSH near-dup index — the build-once / probe-many
  * split for CONTENT dedup, sibling of [[IvfIndex]] for embeddings: a
  * streaming-ingest corpus checks every new batch against everything
  * already accepted, and recomputing corpus signatures per batch is the
  * cost this index amortizes away.
  *
  *  - `build` stages the banded bucket rows (id, band, bucket) of the
  *    corpus — exactly the rows [[MinHashDedup.candidatePairs]] would
  *    join on — as parquet PARTITIONED BY band, so each band's
  *    equi-join probes only its own directory.
  *  - `append` signatures ONLY the delta batch and appends its bucket
  *    rows. Nothing about earlier docs is touched or recomputed —
  *    signatures are per-doc, so unlike IVF there is no geometry to
  *    drift and no rebuild trigger: the index stays exact forever.
  *  - `probeNew` answers the ingest question — "which newly appended
  *    docs near-duplicate any EARLIER doc?" — with the keep-first
  *    orientation (id order = arrival order): staged buckets of all
  *    docs equi-join the delta's bucket rows, mega-buckets degrade to
  *    star pairing against the bucket's min-id representative (same
  *    skew cap discipline as candidatePairs), and candidates are
  *    verified by exact Jaccard against the corpus text, semi-join
  *    pruned to candidate ids only.
  *
  * At 100 TB: build is one signature pass + one partitioned write;
  * per-batch cost is proportional to the BATCH (signature pass) plus
  * one bucket equi-join whose corpus side is pre-partitioned by band —
  * never a corpus-wide recompute.
  */
object MinHashIndex {

  /** On-disk format guard (r15, ADVICE r14): the bucket column changed
    * type in r14 (32-char md5 hex STRING → 60-bit LONG), and a probe
    * that unions a pre-r14 layer would silently coerce long/string to
    * string — where decimal renderings never equal hex keys, so the
    * probe returns MISSING pairs instead of failing. Every read or
    * append of an existing index therefore asserts the staged bucket
    * type is LongType and fails loudly on mismatch: the bucket dtype IS
    * the format version (exactly one incompatible generation exists),
    * so the schema itself is the marker — nothing extra to write, and
    * pre-r14 directories without any marker file are still caught. */
  private def assertBucketFormat(schema: StructType, where: String): Unit = {
    if (!schema.fieldNames.contains("bucket"))
      throw new IllegalStateException(
        s"MinHash index at $where has no `bucket` column (found: " +
          s"${schema.fieldNames.mkString(", ")}) — not a MinHash bucket " +
          "index (corrupt or foreign directory). Rebuild it with " +
          "MinHashIndex.build.")
    val t = schema("bucket").dataType
    if (t != LongType)
      throw new IllegalStateException(
        s"MinHash index at $where stages bucket as ${t.catalogString}, " +
          "expected BIGINT (60-bit md5-prefix buckets, engine format r14+). " +
          "This is an incompatible pre-r14 index (hex STRING buckets) — " +
          "probing or appending would silently return missing candidates. " +
          "Rebuild it with MinHashIndex.build.")
  }

  /** Schema of one layer's bucket rows in the layout [[build]] writes:
    * the data columns of one part file's footer under a `band=`
    * directory, read on the driver, plus the `band` partition column as
    * INT, which is what partition inference gives it. Reading with it
    * skips the schema-inference job `spark.read.parquet` would run on
    * every probe. The format guard runs on the footer schema. */
  private def layerSchema(spark: SparkSession, dir: String): StructType = {
    val part = ReadBack.partFiles(spark, new Path(s"$dir/buckets"), recursive = true)
      .find(_.getParent.getName.startsWith("band="))
      .getOrElse(throw new IllegalStateException(
        s"MinHash index at $dir has no part file under buckets/band=* — " +
          "not a MinHash bucket index. Rebuild it with MinHashIndex.build."))
    val schema = ReadBack.footerSchema(spark, part, ReadBack.footer(spark, part))
    assertBucketFormat(schema, dir)
    schema.add("band", IntegerType)
  }

  /** Each dir's bucket rows with their [[layerSchema]], unioned by name.
    * One read per layer: a single multi-root read trips partition
    * discovery (CONFLICTING_DIRECTORY_STRUCTURES — each root carries its
    * own band=N dirs); per-layer reads keep each root's band-partition
    * pruning intact. */
  private def readLayers(spark: SparkSession,
                         layers: Seq[(String, StructType)]): DataFrame =
    layers.map { case (dir, schema) => spark.read.schema(schema).parquet(s"$dir/buckets") }
      .reduce(_.unionByName(_))

  /** A layer's id column: its one field besides `band` and `bucket`.
    * Requiring exactly one makes a future schema addition fail loudly
    * instead of anti-joining tombstones on the wrong column (review
    * r18). */
  private def idField(layer: StructType): StructField = {
    val ids = layer.fields.filterNot(f => f.name == "band" || f.name == "bucket")
    require(ids.length == 1,
      s"bucket schema has ${ids.length} non-band/bucket fields " +
        s"(${ids.map(_.name).mkString(", ")}); the tombstone filter " +
        "needs exactly one id column — thread the id through explicitly")
    ids.head
  }

  /** Bucket rows, repartitioned BY BAND before the write (r14): the
    * signature pass is now a pure projection (no aggregate, no
    * exchange), so without this the writer would emit one file per
    * input scan partition per band — 256 near-empty files at bench
    * scale, and every probe re-lists and re-reads them in each of its
    * four staged-read consumers (measured: the probe doubled). The
    * band repartition is one slim shuffle whose output AQE sizes by
    * data — a handful of right-sized files per band at any scale
    * (r13 got the same effect accidentally, from the signature
    * aggregate's AQE-coalesced shuffle). */
  private[graft] def bucketRows(docs: DataFrame, idCol: String, textNorm: Column,
                                nHashes: Int, bands: Int): DataFrame =
    MinHashDedup.banded(
      MinHashDedup.signatures(docs, idCol, textNorm, nHashes = nHashes),
      idCol, nHashes, bands)
      .repartition(col("band"))

  /** Union of the layers' tombstone sets — one `id` column typed like
    * the layers' id field — or None if no layer has ever retracted.
    * Tombstone files are takedown-sized, so the union is broadcast-cheap
    * at any corpus scale. Read through [[ReadBack]] with the layout
    * [[retract]] writes: no inference job, and a tombstone directory
    * with another column fails loudly instead of filtering nothing. */
  private def tombstoneUnion(spark: SparkSession,
                             layers: Seq[(String, StructType)]): Option[DataFrame] = {
    val existing = layers.filter { case (d, _) =>
      val p = new Path(s"$d/tombstones")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    if (existing.isEmpty) None
    else Some(existing.map { case (d, schema) =>
      ReadBack.parquet(spark, s"$d/tombstones",
        StructType(Seq(idField(schema).copy(name = "id"))))
    }.reduce(_.unionByName(_)).distinct())
  }

  /** Retract docs from the index — the takedown path (r18, VERDICT r17
    * #1): without it a takedown cleans the cluster ASSIGNMENT
    * ([[IncrementalCC.removeEdges]]) but the retracted docs' signatures
    * stay staged, so every later probe re-emits pairs against deleted
    * docs and the next fold re-inserts their edges. Rewriting the base
    * for each takedown would be corpus-proportional, so retraction is a
    * TOMBSTONE overlay instead: append the ids to `dir/tombstones`
    * (takedown-sized write, nothing else touched), [[probeNewMulti]]
    * anti-joins every layer's bucket rows against the broadcast
    * tombstone union BEFORE bucket-width/representative aggregation —
    * so the filtered index behaves exactly as if the docs were never
    * staged — and [[compact]] purges tombstoned rows physically and
    * clears the tombstones. Contract: ids are arrival-ordered and never
    * reused (re-appending a retracted id would be filtered forever);
    * retracting an id the index never staged is a no-op. */
  def retract(spark: SparkSession, dir: String, ids: DataFrame,
              idCol: String): Unit = {
    // same loud-failure discipline as append: retracting against a
    // pre-r14 layer would "succeed" while probes keep missing pairs.
    // Ids are written as the layer's id type, the type probes read.
    val id = idField(layerSchema(spark, dir))
    ParquetWrite(ids.select(col(idCol).cast(id.dataType).as("id")).distinct()
      .coalesce(1)
      .write.mode("append"), s"$dir/tombstones")
  }

  /** Stage the corpus bucket table at `dir` (overwrite). Resets the
    * whole index ROOT, not just `buckets`: stale tombstones left by a
    * prior generation's [[retract]] would silently filter the new
    * corpus's docs out of every probe (found the hard way in r18 —
    * build-overwrite inherited a draft run's tombstones). The delete
    * comes AFTER the staged write: a crash mid-build must not leave an
    * intact OLD index serving its retracted (takedown-deleted) docs
    * tombstone-less (review r18; same window as compact's discipline —
    * the overwrite itself is not swap-safe, but the tombstones never
    * drop before the generation that owns them does). */
  def build(docs: DataFrame, idCol: String, textNorm: Column, dir: String,
            nHashes: Int = 16, bands: Int = 4): Unit = {
    ParquetWrite(bucketRows(docs, idCol, textNorm, nHashes, bands)
      .write.mode("overwrite").partitionBy("band"), s"$dir/buckets")
    val ts = new Path(s"$dir/tombstones")
    ts.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
      .delete(ts, true)
  }

  /** Append a delta batch's bucket rows — per-doc work only. Validates
    * the existing directory's format first: appending long-bucket files
    * into a pre-r14 string-bucket index would leave mixed schemas under
    * one root, poisoning every later probe. */
  def append(delta: DataFrame, idCol: String, textNorm: Column, dir: String,
             nHashes: Int = 16, bands: Int = 4): Unit = {
    val spark = delta.sparkSession
    val p = new Path(s"$dir/buckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) layerSchema(spark, dir)
    ParquetWrite(bucketRows(delta, idCol, textNorm, nHashes, bands)
      .write.mode("append").partitionBy("band"), s"$dir/buckets")
  }

  /** Near-dup pairs (id_a, id_b, jaccard ≥ threshold) whose LATER side
    * (id_b) is a delta doc (id ≥ minNewId) — new-vs-corpus, including
    * new-vs-new. `corpus` supplies the text for exact verification;
    * only candidate ids ever materialize shingle arrays. */
  def probeNew(spark: SparkSession, dir: String, corpus: DataFrame,
               idCol: String, textNorm: Column, threshold: Double,
               minNewId: Long, maxBucket: Int = 64): DataFrame =
    probeNewMulti(spark, Seq(dir), corpus, idCol, textNorm, threshold,
      minNewId, maxBucket)

  /** [[probeNew]] over a LAYERED index: the staged bucket table is the
    * union of several index dirs — typically a build-once base plus a
    * hot append overlay, the layout a streaming ingester uses so the
    * immutable base is staged/compacted once while each batch appends
    * only to the (small) overlay. Buckets are per-doc rows, so the
    * union IS the single-dir index of the same docs. */
  def probeNewMulti(spark: SparkSession, dirs: Seq[String], corpus: DataFrame,
               idCol: String, textNorm: Column, threshold: Double,
               minNewId: Long, maxBucket: Int = 64): DataFrame = {
    val layers = dirs.map(d => d -> layerSchema(spark, d))
    val live = readLayers(spark, layers)
    // Tombstoned docs are filtered BEFORE the bucket-width/representative
    // aggregation: a retracted doc may neither pair nor hold a bucket's
    // min-id representative slot nor count toward the mega-bucket cap —
    // the filtered index must behave exactly like one built without the
    // retracted docs (spec-asserted probe equivalence).
    val staged = tombstoneUnion(spark, layers) match {
      case Some(t) =>
        live.join(broadcast(t.withColumnRenamed("id", idCol)),
          Seq(idCol), "left_anti")
      case None => live
    }
    // Eagerly staged, same reason as MinHashDedup.candidatePairs (r14):
    // the anti-join and star-join broadcasts would each rebuild the
    // aggregate over the full staged read otherwise.
    val wide = staged.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bw"), min(col(idCol)).as("__rep"))
      .filter(col("__bw") > maxBucket)
      .localCheckpoint(true)
    val narrow = staged.join(broadcast(wide.select("band", "bucket")),
      Seq("band", "bucket"), "left_anti")
    val narrowPairs = narrow.as("x")
      .join(narrow.filter(col(idCol) >= minNewId).as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
    val starPairs = staged.filter(col(idCol) >= minNewId)
      .join(broadcast(wide), Seq("band", "bucket"))
      .filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
    // Star reps are min-ids, so id_a < id_b holds on both branches; the
    // keep-first restriction is id_b ≥ minNewId, already enforced on
    // each branch's delta side (kept implicit — asserted by the twin).
    val pairs = narrowPairs.union(starPairs).distinct().localCheckpoint(true)
    val ids = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    // Eagerly staged (r15): the two array-join consumers below would
    // each rebuild the shingle arrays otherwise — Catalyst does not
    // share subplans across self-joins (the r13 nearDuplicates fix,
    // found missing here by the r15 pair-join-shape sweep). Same block
    // lifetime contract as nearDuplicates' staged frames: pinned while
    // the returned lazy frame is alive.
    val shArr = corpus.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol), MinHashDedup.shingles(textNorm).as("__sh"))
      .localCheckpoint(true)
    pairs
      .join(shArr.withColumnRenamed(idCol, "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
      .join(shArr.withColumnRenamed(idCol, "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
      .withColumn("jaccard", MinHashDedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Fold overlay layers back into the base — the maintenance op that
    * bounds probe fan-out. Every [[probeNewMulti]] reads base + ALL
    * overlay generations, so an ingester that appends forever pays an
    * ever-growing union (and small-file count) at probe time; at
    * production ingest rates the overlay list is unbounded without
    * this. Compaction rewrites the union of bucket rows as a fresh
    * band-partitioned base — write-aside, then a rename swap with the
    * same crash discipline as [[graft.sinks.Compaction]]: the original
    * moves to `__old`, the rewrite renames into place, only then are
    * the old copy and the folded overlays deleted, so a crash at any
    * point leaves a complete index on disk. Bucket rows are per-doc
    * facts (no geometry, no ordering), so the compacted base is
    * SET-EQUAL to the layered index and probes return identical
    * results before and after — [[MinHashIndexCompactionSpec]] asserts
    * exactly that invariance. Tombstoned rows ([[retract]]) are purged
    * physically in the rewrite and the tombstone files cleared, so
    * compaction also bounds the tombstone filter's size. Contract:
    * single maintainer, no concurrent probes during the swap. */
  def compact(spark: SparkSession, baseDir: String,
              overlayDirs: Seq[String]): Unit = {
    val dirs = baseDir +: overlayDirs
    val layers = dirs.map(d => d -> layerSchema(spark, d))
    val raw = readLayers(spark, layers)
    // Purge tombstoned rows physically during the rewrite ([[retract]]'s
    // deferred half): the compacted base then needs no tombstone filter,
    // and the tombstone files are cleared after the swap — a crash in
    // between leaves stale tombstones whose rows are already gone, which
    // the probe-time anti-join treats as a no-op (still correct).
    val union = tombstoneUnion(spark, layers) match {
      case Some(t) =>
        // anti-joining on the wrong column would then delete the
        // tombstones it failed to apply; idField fails loudly instead
        val idName = idField(raw.schema).name
        raw.join(broadcast(t.withColumnRenamed("id", idName)),
          Seq(idName), "left_anti")
      case None => raw
    }
    val tmp = s"$baseDir/buckets__compacting"
    // Cluster by band BEFORE the partitioned write: without it every
    // task emits up to one file per band and the rewrite can retain or
    // even grow the small-file count it exists to reduce (the same
    // discipline as IvfIndex.compact's repartition(cid)).
    ParquetWrite(union.repartition(col("band"))
      .write.mode("overwrite").partitionBy("band"), tmp)
    val p = new Path(s"$baseDir/buckets")
    val old = new Path(s"$baseDir/buckets__old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true) // stale leftover from a previous crashed swap
    if (!fs.rename(p, old))
      throw new java.io.IOException(s"index compaction: rename $p -> $old failed")
    if (!fs.rename(new Path(tmp), p))
      throw new java.io.IOException(
        s"index compaction: rename $tmp -> $p failed; original intact at $old")
    fs.delete(old, true)
    fs.delete(new Path(s"$baseDir/tombstones"), true) // purged in the rewrite
    overlayDirs.foreach(d => fs.delete(new Path(d), true))
  }
}
