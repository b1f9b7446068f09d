package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF

/** Registry-wide plan governance: the engine's codegen discipline
  * (ARCHITECTURE.md — "zero Scala/Python UDFs in hot paths") asserted
  * mechanically over every registered query, not just claimed. Each
  * query's plan is built at the smallest scale factor and its whole
  * expression tree (subqueries included) swept for UDF nodes.
  */
class PlanGovernanceSpec extends GraftSuite {

  test("no ScalaUDF anywhere in any registered query's optimized plan") {
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.optimizedPlan
      val udfs = plan.collectWithSubqueries {
        case p => p.expressions.flatMap(_.collect { case u: ScalaUDF => u })
      }.flatten
      if (udfs.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty, s"queries with UDFs in their plans: $offenders")
  }

  test("doc query counts match the registry (README.md, COVERAGE.md)") {
    // r5/r6 both shipped stale counts; keep the docs honest mechanically.
    val n = SparkEntry.queries.size
    Seq("README.md", "COVERAGE.md").foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/root/repo/$f")))
      val claims = "(\\d+) registered quer".r
        .findAllMatchIn(text).map(_.group(1).toInt).toList
      assert(claims.nonEmpty, s"$f no longer states a registered-query count")
      assert(claims.forall(_ == n),
        s"$f claims $claims registered queries; registry has $n")
    }
  }

  test("every registered query has an oracle, and no orphan oracles exist") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries missing oracles: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without queries: ${(o -- q).toSeq.sorted}")
  }

  test("nested-loop/cartesian joins appear only in explicitly-bounded queries") {
    // A theta-join with no equi-key plans as BroadcastNestedLoopJoin or
    // CartesianProduct — O(N·M) compute. That shape is legal only where
    // the query text itself bounds an input (documented small-N guards);
    // anywhere else it's an accidental cross join that 100 TB would not
    // survive. Sweep every registered plan and compare against the
    // explicit allowlist.
    val allowed = Set(
      "q_ngram_jaccard", // doc_id < 100 bound on both sides (documented)
      "q_mad_outliers", // scalar med/mad literals join (k-row broadcast)
      "q_correlated_scalar", // decorrelated scalar subquery → singleton join
      "q_asof_broadcast", // broadcast dim + residual time inequality
      "q_knn_bruteforce", // the documented exhaustive baseline: broadcast queries × corpus
      "q_ann_ivf", // broadcast nprobe-centroid assignment (k rows × corpus)
      "q_ann_ivf_kmeans", // same assignment shape over k-means centroids
      "q_ann_ivf_persisted", // same broadcast k-row centroid assignment, from the staged index
      "q_ann_retraction", // same probe shape over the takedown-filtered copy of that index
      "q_tfidf_topterms", // broadcast singleton n_docs scalar
      "q_hll_union", // two singleton aggregates (merged estimate × exact) joined 1×1
      "q_global_bins", // broadcast of ONE global cut-point row onto the fact
      "q_cms_freq", // broadcast 1-row sketch × bounded 20-key probe set
      "q_mg_topk", // broadcast 1-row MG summary × bounded 7-key probe set
      "q_bpe_merges", // 1-row best-pair argmax × 100-row vocabulary, 3 rounds
      "q_bm25", // broadcast singleton (N, sum_dl) corpus-stats row
      "q_mmr_rerank", // 1-row query broadcast + bounded 20-candidate greedy rounds
      "q_hybrid_search", // 1-row query-vector broadcast × corpus (the q_knn_bruteforce shape) + singleton stats
      "q_quantized_knn", // 1-row dim-stats + 1-row quantized-query broadcasts × corpus
      "q_text_index", // broadcast singleton (n_docs, sum_dl) stats row (the q_bm25 shape, staged)
      "q_cusum", // broadcast singleton (n, total) series-stats row onto the day series
      "q_fk_discovery", // five 1-row (n_child × n_contained) singleton joins, one per candidate pair
      "q_seqpair_support", // broadcast singleton distinct-user-count row onto |types|² pairs
      "q_assoc_rules", // broadcast singleton basket-count row onto |brands|² rule pairs
      "q_benford", // broadcast singleton total-count row onto 9 digit rows
      "q_seq_triple", // three 1-row step-count aggregates + singleton user-count, all broadcast
      "q_trending_decay", // broadcast singleton max-orderdate row onto the fact join
      "q_kaplan_meier", // singleton horizon row + event-times (≤ #days) × subjects at-risk inequality join, both bounded
      "q_info_gain", // broadcast singleton total-count row onto |brands|×|flags| cells; 1×1 final join
      "q_rfm", // broadcast singleton max-orderdate + customer-count rows onto bounded aggregates
      "q_keyword_extract", // broadcast singleton n-docs row onto the distinct-term idf table
      "q_naive_bayes", // bounded dim×dim grid (|sources|×|vocab| = 20×100) + singleton doc-count row
      "q_theil_sen", // calendar-bounded 120-day pair join (≤7140 pairs) + singleton min/max/count rows
      "q_holt_smooth", // broadcast singleton min-date row onto the fact scan
      "q_file_skipping", // broadcast singleton (min,span) bounds row onto the fact scan
      "q11_value_share", // broadcast singleton (total,count) row — the decorrelated HAVING
      "q15_top_supplier", // broadcast singleton max-revenue row — the decorrelated max subquery
      // PrefixSum consumers: the triangular bucket-offset join is ≤
      // numShufflePartitions² cells (config-bounded, not data) — the
      // price of having ZERO single-partition windows in these plans.
      "q_mannwhitney",
      "q_mixture_temperature",
      "q_mixture_sample",
      "q_hard_negatives", // the q_knn_bruteforce shape: broadcast 8-anchor set × corpus
      "q_ann_recall", // the exhaustive-baseline side of the recall audit: broadcast 32-query sample × corpus + the q_ann_ivf assignment shape
      "q_ann_sweep", // q_ann_recall's shapes × 3 nprobe points + singleton (nq, n_corpus) stats row
      "q_ann_drift_recall" // probeFrames' broadcast k-row centroid assignment (the q_ann_ivf shape) × two eras + singleton nq row
    )
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val s = fn(spark, dir).queryExecution.executedPlan.toString
      val hasNlj = s.contains("BroadcastNestedLoopJoin") || s.contains("CartesianProduct")
      if (hasNlj && !allowed.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected nested-loop/cartesian joins in: $offenders")
  }

  test("no registered query outputs a top-level array/map/struct column") {
    // The driver's oracle gate lexsorts result columns with pandas
    // `sort_values`; a list cell raises `unhashable type: numpy.ndarray`
    // and the whole query goes red even when values match (r5
    // q_token_encode post-mortem, VERDICT r5 Missing #1). Nested types
    // must be serialized (array_join / to_json) before the result edge.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val bad = fn(spark, dir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => f.name
      }
      if (bad.nonEmpty) Some(s"$name(${bad.mkString(",")})") else None
    }
    assert(offenders.isEmpty,
      s"queries with driver-unsortable output columns: $offenders")
  }

  test("round-5 plan pins: temporal join broadcasts, graph/set ops stay window-free") {
    val dir = "/root/testdata/sf0.001"
    // point-in-time lookup must stay an equi-keyed BroadcastHashJoin —
    // a dropped equi-key would degrade it to a nested-loop interval scan
    val tj = SparkEntry.queries("q_temporal_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(tj.contains("BroadcastHashJoin"),
      s"q_temporal_join must broadcast the version dim:\n${tj.take(2000)}")
    assert(!tj.contains("BroadcastNestedLoopJoin") && !tj.contains("CartesianProduct"),
      s"q_temporal_join must keep its equi-key:\n${tj.take(2000)}")
    // LPA's argmax is two hash aggregations — a window would reintroduce
    // a per-node sort the aggregate form exists to avoid
    val lp = SparkEntry.queries("q_label_prop")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!lp.contains("Window"),
      s"q_label_prop must not plan a window:\n${lp.take(2000)}")
  }

  test("registry sweep: unpartitioned windows only in bounded-frame-allowlisted queries") {
    // r7 pinned three named PrefixSum consumers; r8 extends the pin to
    // EVERY registered plan (the cartesian-allowlist discipline applied
    // to windows). An empty partitionSpec means WindowExec funnels all
    // rows through ONE task — legal only where the query text itself
    // bounds the frame; anywhere else it's a 100 TB scale-killer.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val allowed = Set(
      "q_chi_square", // windows over the 3×5 contingency aggregate (≤15 rows)
      "q_cumulative_users", // running sum over the calendar day series
      "q_cusum", // running sum over the calendar day series
      "q_dsir_select", // margin sums over the 256-bucket hashed-feature LM
      "q_hybrid_search", // row_number over three LIMIT-25 rank lists
      "q_kaplan_meier", // cumulative hazard over event-times (≤ #days)
      "q_psi_drift", // margin sums over the 256-bucket feature frame
      "q_quantized_knn", // row_number over the LIMIT-10 candidate list
      "q_rolling_corr", // 7-day moments over the calendar day series
      "q_skyline", // coarse-prune bucket series: one row per fixed-width
      // x-bucket (granularity-bounded by the key domain, not row count);
      // the exact pass is bucket-partitioned (Skyline.scala step 3)
      "q_theil_sen", // median rank over ≤7140 calendar-bounded pairs
      "q_token_encode", // row_number over the LIMIT-100 vocabulary
      "q_wau_coverage" // boundary-delta running sum over the day series
    )
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val ws = fn(spark, dir).queryExecution.optimizedPlan.collectWithSubqueries {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (ws.nonEmpty && !allowed.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows outside the allowlist: $offenders")
  }

  test("round-7 plan pins: top-k samplers sort-free, Q2 cache-free") {
    val dir = "/root/testdata/sf0.001"
    // Both samplers must keep the bounded-heap operator (no full-stratum
    // sort behind a handful of low-cardinality partitions).
    Seq("q_stratified_sample", "q_mixture_sample").foreach { q =>
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(p.contains("TopKPerGroup"),
        s"$q must pre-prune with TopKPerGroup:\n${p.take(2000)}")
    }
    // q2 must not eagerly materialize partsupp: a localCheckpoint
    // surfaces as an ExistingRDD scan in the plan.
    val q2 = SparkEntry.queries("q2_min_cost_supplier")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!q2.contains("ExistingRDD"),
      s"q2_min_cost_supplier re-grew an eager checkpoint:\n${q2.take(2000)}")
  }

  test("round-6 plan pins: Q2 broadcasts dims, NB classifier stays doc-partitioned") {
    val dir = "/root/testdata/sf0.001"
    // the decorrelated Q2 must keep the supplier→nation→region chain on
    // BroadcastHashJoin and never fall to a nested loop: the min-cost
    // join-back has a composite equi-key (pk, cost)
    val q2 = SparkEntry.queries("q2_min_cost_supplier")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(q2.contains("BroadcastHashJoin"),
      s"q2_min_cost_supplier must broadcast the dim chain:\n${q2.take(2000)}")
    assert(!q2.contains("BroadcastNestedLoopJoin") && !q2.contains("CartesianProduct"),
      s"q2_min_cost_supplier must keep equi-keys:\n${q2.take(2000)}")
    // the NB argmax window must be partitioned by doc_id — an
    // unpartitioned window would serialize the whole corpus through one
    // reducer (the WindowExec all-to-one-partition catastrophe)
    val nb = SparkEntry.queries("q_naive_bayes")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(nb.contains("windowspecdefinition(doc_id"),
      s"q_naive_bayes argmax must partition by doc_id:\n${nb.take(2000)}")
    // link prediction's wedge join must stay equi-keyed on the shared
    // neighbor — governance already bans cartesians, but pin the shape
    val lk = SparkEntry.queries("q_link_prediction")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!lk.contains("CartesianProduct"),
      s"q_link_prediction wedge join must stay equi-keyed:\n${lk.take(2000)}")
  }

  test("sketch-binning plans stay sort-free: no window exec, one result-edge sort") {
    // The round-4 plan audit found equi-depth binning riding an ntile
    // window over a 3-value partition key — one reducer sorting a third
    // of the table. The approx-cut-point re-plan removes every sort
    // except the deterministic result-edge orderBy; this pins that
    // property mechanically so a window/sort can't sneak back in.
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("q_equidepth_hist", "q_global_bins", "q_skew_profile")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name must not plan a window (partition-bounded sort):\n${plan.take(2000)}")
      val sorts = "(?m)^[^\\n]*\\bSort \\[".r.findAllIn(plan).length
      assert(sorts <= 1,
        s"$name may sort only at the result edge, found $sorts:\n${plan.take(2000)}")
    }
  }

  test("round-9 plan pin: selection filters carry no conditional chains") {
    // The r9 interpreted-filter class: a Filter whose condition inlines
    // a chained CaseWhen (the bucket expression substituted through the
    // projects) generates a method past the JIT compile budget and runs
    // interpreted (~100x: 17 s vs 0.4 s on 6M rows, BENCHLOG r9). The
    // selection queries must filter on key RANGES (flat comparisons);
    // any CaseWhen inside any Filter of their optimized plans is the
    // regression reappearing.
    import org.apache.spark.sql.catalyst.expressions.CaseWhen
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val dir = "/root/testdata/sf0.001"
    Seq("q_exact_quantiles", "q_weighted_quantiles", "q_curriculum").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
      val offending = plan.collectWithSubqueries {
        case f: Filter => f.condition.collect { case c: CaseWhen => c }
      }.flatten
      assert(offending.isEmpty,
        s"$name plans a CaseWhen inside a Filter (interpreted-filter class): " +
          offending.headOption.fold("")(_.toString.take(200)))
    }
  }

  test("every parquet write in src/main outside tools/ goes through sinks.ParquetWrite") {
    // A write that bypasses the helper resolves `file:` paths through
    // the JVM-cached LocalFileSystem, which forks a chmod per committer
    // directory, part file, .crc sidecar and _SUCCESS (BENCHLOG "stream
    // codegen recompiles and write forks"). Source level: a `.parquet(`
    // call belongs to the nearest `write`, `read`, `readStream` or
    // `ReadBack` before it, and a `write` one is a bypass.
    import scala.jdk.CollectionConverters._
    val owner = "\\b(write|read|readStream|ReadBack)\\b".r
    def rawWrites(src: String): Seq[Int] = {
      val owners = owner.findAllMatchIn(src).map(m => m.start -> m.group(1)).toVector
      "\\.parquet\\(".r.findAllMatchIn(src).map(_.start).filter { at =>
        owners.takeWhile(_._1 < at).lastOption.exists(_._2 == "write")
      }.map(at => src.substring(0, at).count(_ == '\n') + 1).toSeq
    }
    // the check sees a bypass and lets the helper and reads through
    assert(rawWrites("df.write.mode(\"overwrite\")\n  .partitionBy(\"b\").parquet(p)") == Seq(2))
    assert(rawWrites("ParquetWrite(df.write.mode(\"append\"), p)\n" +
      "spark.read.schema(st).parquet(p)\nReadBack.parquet(s, p, st)").isEmpty)
    val root = java.nio.file.Paths.get("src", "main", "scala")
    val sources = java.nio.file.Files.walk(root).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => p.toString.contains("/tools/") || p.endsWith("sinks/ParquetWrite.scala"))
    assert(sources.size > 100, s"found ${sources.size} sources under ${root.toAbsolutePath}")
    val bypasses = sources.flatMap { p =>
      rawWrites(java.nio.file.Files.readString(p)).map(line => s"${root.relativize(p)}:$line")
    }
    assert(bypasses.isEmpty, s"parquet writes that bypass sinks.ParquetWrite: ${bypasses.mkString(", ")}")
  }

  test("SessionMemo is constructed only by the Tables load memo and StagedOnce") {
    // Staged artifacts go through StagedOnce, the one build ledger the
    // bench reads; a private memo elsewhere stages outside it (its
    // build_s disappears) or beside it (the build is memoized twice).
    import scala.jdk.CollectionConverters._
    val ctor = "new\\s+(?:graft\\.)?SessionMemo\\s*[\\[(]".r
    assert(ctor.findFirstIn("private val m = new graft.SessionMemo[String, Int]()").nonEmpty)
    assert(ctor.findFirstIn("new SessionMemo[(String, String), DataFrame]()").nonEmpty)
    assert(ctor.findFirstIn("SessionMemo.evictSession(s)").isEmpty)
    assert(ctor.findFirstIn("new SessionMemo.Cell[V]").isEmpty)
    val root = java.nio.file.Paths.get("src", "main", "scala")
    val sources = java.nio.file.Files.walk(root).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
    assert(sources.size > 100, s"found ${sources.size} sources under ${root.toAbsolutePath}")
    val owners = sources.filter(p => ctor.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
      .map(p => root.relativize(p).toString).sorted
    assert(owners === Seq("graft/Tables.scala", "graft/operators/StagedOnce.scala"))
  }
}
