package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns.normalizeText
import graft.operators.{MinHashDedup, MinHashIndex}

class MinHashIndexSpec extends GraftSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("build+append+probe equals the inline pipeline restricted to new-vs-corpus") {
    val docs = Tables(spark, sf, "documents")
    val norm = normalizeText(col("text"))
    val dir = "target/lsh_index_spec"
    val split = 150L
    MinHashIndex.build(docs.filter(col("doc_id") < split), "doc_id", norm, dir)
    MinHashIndex.append(docs.filter(col("doc_id") >= split), "doc_id", norm, dir)

    val probed = MinHashIndex
      .probeNew(spark, dir, docs, "doc_id", norm, threshold = 0.7, minNewId = split)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // The staged index must answer exactly what the inline pipeline
    // answers when its full pair set is restricted to the keep-first
    // delta orientation — index staging may lose or invent nothing.
    val inline = MinHashDedup
      .nearDuplicates(docs, "doc_id", norm, threshold = 0.7)
      .filter(col("id_b") >= split)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(probed == inline, s"probe=${probed.size} inline=${inline.size}")
    assert(probed.nonEmpty, "testdata plants near-dups; an empty probe means a broken index")
    assert(probed.forall(_._2 >= split), "keep-first orientation: id_b must be a delta doc")
  }

  test("append stages only the delta's bucket rows (per-batch cost)") {
    val docs = Tables(spark, sf, "documents")
    val norm = normalizeText(col("text"))
    val dir = "target/lsh_index_spec2"
    val split = 150L
    MinHashIndex.build(docs.filter(col("doc_id") < split), "doc_id", norm, dir)
    val afterBuild = spark.read.parquet(s"$dir/buckets").count()
    MinHashIndex.append(docs.filter(col("doc_id") >= split), "doc_id", norm, dir)
    val afterAppend = spark.read.parquet(s"$dir/buckets").count()
    val full = MinHashDedup.banded(
      MinHashDedup.signatures(docs, "doc_id", norm), "doc_id").count()
    // Build + append together must stage exactly the full corpus's
    // banded rows — append added the delta's share and nothing else.
    assert(afterAppend == full, s"staged=$afterAppend expected=$full")
    assert(afterBuild < afterAppend)
  }

  test("compact folds overlays into the base with probe results invariant") {
    val docs = Tables(spark, sf, "documents")
    val norm = normalizeText(col("text"))
    val base = "target/lsh_index_spec3"
    val ovl1 = "target/lsh_index_spec3_ovl1"
    val ovl2 = "target/lsh_index_spec3_ovl2"
    val split = 150L
    // Two overlay GENERATIONS — the unbounded-ingest shape compaction
    // exists to collapse.
    MinHashIndex.build(docs.filter(col("doc_id") < split), "doc_id", norm, base)
    MinHashIndex.build(
      docs.filter(col("doc_id") >= split && col("doc_id") < 170), "doc_id", norm, ovl1)
    MinHashIndex.build(docs.filter(col("doc_id") >= 170), "doc_id", norm, ovl2)

    def probe(dirs: Seq[String]) = MinHashIndex
      .probeNewMulti(spark, dirs, docs, "doc_id", norm, threshold = 0.7,
        minNewId = split)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val layered = probe(Seq(base, ovl1, ovl2))
    assert(layered.nonEmpty, "testdata plants near-dups across the split")

    def dataFiles(dirs: Seq[String]): Int = {
      val fsc = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      dirs.map { d =>
        val it = fsc.listFiles(new org.apache.hadoop.fs.Path(s"$d/buckets"), true)
        var n = 0
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }.sum
    }
    val filesBefore = dataFiles(Seq(base, ovl1, ovl2))

    MinHashIndex.compact(spark, base, Seq(ovl1, ovl2))
    // The rewrite clusters by band before the partitioned write, so the
    // compacted base lands at one file per band — strictly fewer files
    // than the layered index it replaces (the small-file reduction the
    // operator exists for).
    val filesAfter = dataFiles(Seq(base))
    assert(filesAfter < filesBefore,
      s"compaction must shrink file count: $filesBefore -> $filesAfter")
    assert(filesAfter <= 4, s"expected <=1 file per band, got $filesAfter")
    // The compacted base alone must answer the layered probe exactly:
    // bucket rows are per-doc facts, so folding layers may lose or
    // invent nothing.
    assert(probe(Seq(base)) == layered)
    // The folded overlays are gone — probe fan-out is bounded again and
    // a stale reader would fail loudly, not silently double-count.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(ovl1)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(ovl2)))
    // Band partitioning survives the rewrite: probes keep per-band
    // directory pruning on the compacted base.
    val bands = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/buckets"))
      .map(_.getPath.getName).filter(_.startsWith("band="))
    assert(bands.length == 4, s"expected 4 band dirs, got ${bands.toSeq}")
  }

  test("retract: probe equals a fresh build without the docs; compact purges physically") {
    val docs = Tables(spark, sf, "documents")
    val norm = normalizeText(col("text"))
    val dir = "target/lsh_index_spec_retract"
    val fresh = "target/lsh_index_spec_retract_fresh"
    val split = 150L
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(dir, fresh).foreach(d =>
      hfs.delete(new org.apache.hadoop.fs.Path(d), true))
    MinHashIndex.build(docs.filter(col("doc_id") < split), "doc_id", norm, dir)
    MinHashIndex.append(docs.filter(col("doc_id") >= split), "doc_id", norm, dir)

    // corpus side stays the FULL table: the index-side tombstone filter
    // is what must keep retracted docs out of the candidates
    def probe(d: String) = MinHashIndex
      .probeNew(spark, d, docs, "doc_id", norm,
        threshold = 0.7, minNewId = split)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val before = probe(dir)
    assert(before.nonEmpty, "need real pairs or the test proves nothing")
    // takedown set is derived FROM the observed pairs (a fixed id
    // predicate missed every pair at the spec SF): one member of the
    // first pair — so the pair must vanish — plus one id in no pair at
    // all, covering the retract-a-pairless-doc no-op path.
    val pairMembers = before.flatMap(p => Set(p._1, p._2))
    val allIds = docs.select(col("doc_id").cast("long"))
      .as[Long].collect().toSet
    val takedown = Set(pairMembers.min, (allIds -- pairMembers).min)
    val gone = col("doc_id").isin(takedown.toSeq: _*)

    MinHashIndex.retract(spark, dir, docs.filter(gone).select("doc_id"), "doc_id")
    val after = probe(dir)
    // the filtered index must behave exactly like one BUILT without the
    // retracted docs — pairs, bucket widths and representatives included
    MinHashIndex.build(docs.filter(!gone), "doc_id", norm, fresh)
    assert(after == probe(fresh), "retracted index must equal a fresh build")
    assert(after.forall(p => !takedown(p._1) && !takedown(p._2)))
    assert((before -- after).nonEmpty, "retraction must remove the hit pairs")

    // compact purges the tombstoned rows physically and clears tombstones
    MinHashIndex.compact(spark, dir, Seq.empty)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
    assert(spark.read.parquet(s"$dir/buckets").count() ==
      spark.read.parquet(s"$fresh/buckets").count(),
      "compact must purge exactly the tombstoned rows")
    assert(probe(dir) == after, "probe invariant across the purge")

    // a retracted id stays gone even if re-appended (ids never reused)
    MinHashIndex.retract(spark, dir,
      docs.filter(gone).select("doc_id"), "doc_id")
    MinHashIndex.append(docs.filter(gone), "doc_id", norm, dir)
    assert(probe(dir) == after, "re-appended retracted docs must stay filtered")
  }

  test("probeNew reads the staged layers without a job outside its checkpoints") {
    val docs = Tables(spark, sf, "documents")
    val norm = normalizeText(col("text"))
    val dir = "target/lsh_index_spec_nojob"
    MinHashIndex.build(docs.filter(col("doc_id") < 150), "doc_id", norm, dir)
    MinHashIndex.append(docs.filter(col("doc_id") >= 150), "doc_id", norm, dir)
    val (_, jobs) = JobsStarted(spark) {
      MinHashIndex.probeNew(spark, dir, docs, "doc_id", norm, threshold = 0.7, minNewId = 150L)
    }
    // its eager checkpoints run as SQL executions; a schema-inference
    // job would run outside one
    assert(jobs.nonEmpty && jobs.forall(_.sql), s"jobs: $jobs")
  }

  test("pre-r14 string-bucket layers fail loudly on probe, append and compact") {
    val docs = Tables(spark, sf, "documents")
    val norm = normalizeText(col("text"))
    val good = "target/lsh_index_spec_fmt_good"
    val old = "target/lsh_index_spec_fmt_old"
    MinHashIndex.build(docs.filter(col("doc_id") < 150), "doc_id", norm, good)
    // A pre-r14 index: same columns, bucket as 32-char md5 HEX STRING.
    // unionByName would coerce long/string to string, where decimal
    // renderings never equal hex keys — probes would silently return
    // missing pairs, the failure mode the guard exists to prevent.
    MinHashDedup.banded(
        MinHashDedup.signatures(docs.filter(col("doc_id") >= 150), "doc_id", norm),
        "doc_id")
      .withColumn("bucket", md5(col("bucket").cast("string")))
      .repartition(col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(s"$old/buckets")
    def msgOf(t: Throwable): String = t.getMessage
    val eProbe = intercept[IllegalStateException] {
      MinHashIndex.probeNewMulti(spark, Seq(good, old), docs, "doc_id", norm,
        threshold = 0.7, minNewId = 150L)
    }
    assert(msgOf(eProbe).contains("pre-r14") && msgOf(eProbe).contains(old))
    val eAppend = intercept[IllegalStateException] {
      MinHashIndex.append(docs.filter(col("doc_id") >= 150), "doc_id", norm, old)
    }
    assert(msgOf(eAppend).contains("Rebuild"))
    val eCompact = intercept[IllegalStateException] {
      MinHashIndex.compact(spark, good, Seq(old))
    }
    assert(msgOf(eCompact).contains(old))
    // The good single-layer index still probes (guard is per-layer, not
    // a blanket failure), and append into a valid dir still works.
    val ok = MinHashIndex.probeNew(spark, good, docs, "doc_id", norm,
      threshold = 0.7, minNewId = 0L)
    assert(ok.columns.toSeq == Seq("id_a", "id_b", "jaccard"))
    MinHashIndex.append(docs.filter(col("doc_id") >= 150), "doc_id", norm, good)
  }

  test("tombstones of another column name or type fail loudly on probe and compact") {
    val docs = Tables(spark, sf, "documents")
    val norm = normalizeText(col("text"))
    // retract writes `id` typed like the layer's id field; a directory
    // read with that schema but holding another column would read as
    // all-NULL ids and retract nothing
    Seq("name" -> col("doc_id").cast("long").as("doc_id"),
        "type" -> col("doc_id").cast("string").as("id")).foreach { case (kind, id) =>
      val dir = s"target/lsh_index_spec_tombstone_$kind"
      MinHashIndex.build(docs.filter(col("doc_id") < 150), "doc_id", norm, dir)
      docs.filter(col("doc_id") < 3).select(id)
        .write.mode("overwrite").parquet(s"$dir/tombstones")
      val eProbe = intercept[IllegalArgumentException] {
        MinHashIndex.probeNew(spark, dir, docs, "doc_id", norm, threshold = 0.7, minNewId = 0L)
      }
      assert(eProbe.getMessage.contains(s"$dir/tombstones"), s"$kind: ${eProbe.getMessage}")
      val eCompact = intercept[IllegalArgumentException](MinHashIndex.compact(spark, dir, Seq.empty))
      assert(eCompact.getMessage.contains("expected [id bigint]"), s"$kind: ${eCompact.getMessage}")
    }
  }
}
