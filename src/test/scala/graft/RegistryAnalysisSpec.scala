package graft

/** Round-7 tripwire (VERDICT r6 item 2): every registered query must
  * ANALYZE cleanly against every testdata scale's physical schema.
  *
  * Motivation: in round 6 the sf* generators changed `events.ts` from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS, isAdjustedToUTC=false) — which
  * Spark 4 infers as TIMESTAMP_NTZ — and 12 queries silently died at
  * analysis time (`unix_micros` rejects NTZ), poisoning the three
  * whole-registry governance sweeps along with them. One test per query
  * makes any analysis-time break fail loudly under its own name instead
  * of taking down an unrelated sweep.
  *
  * Lazily-planned queries cost only analysis here (no execution), so
  * they run against all three dirs. Queries with EAGER driver-side
  * actions inside the query function — streaming harness runs, staged
  * index builds (StagedOnce/DedupStage), collected PrefixSum cut
  * arrays, k-means iterations, bloom builds, file-format roundtrip
  * staging — execute real Spark jobs per invocation, so they are pinned
  * to sf0.001: running them at sf0.1 would re-do first-build side
  * effects inside an "analysis" test. The list is empirical, generated
  * by `graft.tools.EagerScan` (counts jobs triggered per query-function
  * call); regenerate it when the registry changes. Schema-sensitivity
  * is identical across dirs (same generator), so sf0.001 analysis
  * covers the tripwire's purpose for these.
  */
class RegistryAnalysisSpec extends GraftSuite {

  private val allDirs = Seq(
    "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  /** Queries whose fn call runs Spark jobs. Generated by
    * `graft.tools.EagerScan` and now GUARDED by the tripwire test below,
    * which re-measures in a fresh session clone — EagerScan's warm-suite
    * run had missed q_dedup_clusters because the sibling canonical query
    * had already staged the shared DedupStage build (so this spec was
    * silently running that build at sf0.01 AND sf0.1). */
  private val eager = Set(
    "q11_value_share", "q15_top_supplier", "q20_stock_surplus", "q21_waiting",
    "q2_min_cost_supplier", "q3_top_revenue", "q_ab_ztest", "q_acf",
    "q_ann_ivf", "q_ann_ivf_kmeans", "q_ann_ivf_persisted", "q_ann_retraction",
    "q_ann_sweep",
    "q_assoc_rules",
    "q_audio_fingerprint", "q_bfs_hops", "q_bloom_decontaminate",
    "q_bpe_merges", "q_bucketed_join", "q_clustering_coeff", "q_csv_source",
    "q_containment_dedup", // r19: postings staged eagerly (plan dedup)
    "q_curriculum", "q_dedup_canonical", "q_dedup_clusters",
    "q_degree_assortativity",
    "q_dynamic_overwrite", "q_epoch_shuffle", "q_epoch_write",
    "q_incremental_cc", "q_incremental_dedup", "q_decremental_cc",
    "q_ann_drift_recall", "q_dedup_retraction",
    "q_exact_quantiles",
    "q_interval_join", "q_lsh_precision", "q_peak_concurrency",
    "q_geo_radius", "q_hamming_clusters", "q_hamming_clusters64", "q_image_neardup", "q_inverted_index", "q_item_cf",
    "q_json_corrupt", "q_json_source", "q_kaplan_meier", "q_kcore",
    "q_label_prop", "q_link_prediction", "q_lsh_index", "q_mad_outliers",
    "q_mannwhitney", "q_minhash_neardup", "q_mixture_sample",
    "q_mixture_temperature", "q_mmr_rerank", "q_naive_bayes",
    "q_orc_roundtrip", "q_overlap_counts", "q_packed_fragments",
    "q_pagerank", "q_pmi_pairs",
    "q_ppr_seed",
    "q_quantized_knn", "q_repeated_spans", "q_rfm", "q_rouge_pairs",
    "q_schema_evolution", "q_source_overlap", "q_suffix_array",
    "q_semdedup", "q_setsim_join", "q_simhash_clusters", "q_simhash64_hamming", "q_simhash_hamming",
    "q_span_cut",
    "q_skew_join", "q_sssp_bounded", "q_text_index", "q_tfidf_topterms",
    "q_theil_sen", "q_training_export", "q_triangle_knn",
    "q_weighted_quantiles", "q_xlsx_dim",
    "q_xlsx_v2")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    val dirs =
      if (name.startsWith("q_stream") || eager(name)) allDirs.take(1) else allDirs
    test(s"analyzes on all schemas: $name") {
      dirs.foreach { dir =>
        try fn(spark, dir).queryExecution.analyzed
        catch {
          case e: Throwable =>
            fail(s"$name fails analysis on $dir: ${e.getMessage}", e)
        }
      }
    }
  }

  test("eager allowlist names only registered queries") {
    val stale = eager.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty, s"allowlist entries no longer in the registry: $stale")
  }

  test("tripwire: non-allowlisted queries run ZERO jobs at analysis time") {
    // The hand-maintained `eager` list gates which queries the per-query
    // analysis tests above may run at sf0.1 — a NEW eager query silently
    // missing from it would execute real jobs at every scale inside an
    // "analysis" suite. This re-runs the EagerScan measurement in-suite:
    // every non-allowlisted, non-stream query is constructed+analyzed in
    // a FRESH cloned session (fresh SessionMemo entries, so first-call
    // staged builds can't hide behind another suite's earlier run) under
    // a per-query job group; any job attributed to a group means the
    // query is eager and the spec fails naming it. Job groups are
    // thread-local to the submitting thread, so concurrently-running
    // suites on the shared context can't poison the count.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val clone = spark.newSession()
    val sc = clone.sparkContext
    val group = "eager-tripwire-" + System.nanoTime()
    val hitGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g.startsWith(group)) hitGroups.add(g)
      }
    }
    sc.addSparkListener(listener)
    try {
      // Pre-warm the clone's Tables memo OUTSIDE any job group: the
      // first load of a table per session belongs to the loader, not to
      // whichever query touches the table first. (It reads footers on
      // the driver and starts no job, as TablesSpec pins; the pre-warm
      // keeps this tripwire independent of that.)
      Tables.names.foreach(t => Tables(clone, allDirs.head, t))
      val lazyQs = SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (n, _) => eager(n) || n.startsWith("q_stream") }
      lazyQs.foreach { case (name, fn) =>
        sc.setJobGroup(s"$group:$name", s"eager tripwire: $name")
        try fn(clone, allDirs.head).queryExecution.analyzed
        catch { case e: Throwable =>
          fail(s"$name fails analysis on ${allDirs.head}: ${e.getMessage}", e) }
        finally sc.clearJobGroup()
      }
      // The listener bus is async: wait for the hit set to go quiet
      // ONCE after the whole sweep (a per-query settle would cost
      // minutes across ~150 queries). Quiet = 4 consecutive unchanged
      // 250 ms polls — a single quiet poll can false-pass when the bus
      // backlog (150 analyses just queued events) delivers in bursts.
      // Bounded: if the shared bus keeps delivering group-prefixed
      // events (another suite's jobs, a pathological backlog) and the
      // poll never stabilizes, fail loudly after 60 s instead of
      // hanging the suite indefinitely.
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var last = -1
      var quiet = 0
      while (quiet < 4) {
        assert(System.nanoTime() < deadline,
          s"listener bus never went quiet within 60 s (hit set still " +
            s"changing, last size $last) — cannot attribute eager jobs")
        Thread.sleep(250)
        val cur = hitGroups.size()
        if (cur == last) quiet += 1 else { quiet = 0; last = cur }
      }
      val offenders = hitGroups.iterator()
      val names = scala.collection.mutable.SortedSet.empty[String]
      while (offenders.hasNext) names += offenders.next().substring(group.length + 1)
      assert(names.isEmpty,
        s"queries ran Spark jobs at analysis time but are NOT in the eager " +
          s"allowlist (add them so analysis tests pin them to sf0.001): $names")
    } finally {
      sc.removeSparkListener(listener)
      SessionMemo.evictSession(clone)
    }
  }
}
