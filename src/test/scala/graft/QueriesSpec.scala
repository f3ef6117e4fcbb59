package graft

import org.apache.spark.sql.DataFrame

/** Every registered query runs on sf0.001 and produces a sane result;
  * plan-shape assertions verify the scale-critical properties (pushdown,
  * broadcast, no cartesian blowups) — not just "it returns rows". */
class QueriesSpec extends SparkSpec {
  import SparkSpec.sf0001

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf0001)

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and is non-empty on sf0.001") {
    // q33/q41 may legitimately return few rows, but none should be empty
    // except possibly LSH candidate sets on the tiny sf — allow those two.
    val allowEmpty = Set("q33_minhash_lsh", "q41_ann_lsh", "q32_jaccard_neardup",
      "q05_anti_join", "q04_semi_join")
    // ... and no query leaves a cache entry behind: a persist() inside a
    // lazy builder has no release point and would hold blocks for the
    // session's lifetime.
    spark.catalog.clearCache()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val n = run(name).count()
      assert(n >= 0, s"$name failed")
      if (!allowEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache entry")
    }
  }

  test("oracleSql only names registered queries, with matching column names") {
    SparkEntry.oracleSql.keys.foreach { k => assert(SparkEntry.queries.contains(k), k) }
  }

  test("q01: filter is pushed to the parquet scan") {
    val p = plan(run("q01_pricing_summary"))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p.take(2000))
  }

  test("q01: column pruning reaches the scan (no unused columns read)") {
    val p = plan(run("q01_pricing_summary"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      readSchema)
  }

  test("q03: dimension join is a broadcast hash join") {
    assert(plan(run("q03_broadcast_join")).contains("BroadcastHashJoin"))
  }

  test("q02: join chain broadcasts all dimensions (single shuffle join at most)") {
    val p = plan(run("q02_join_chain"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q04/q05: semi and anti joins plan as such") {
    assert(plan(run("q04_semi_join")).toLowerCase.contains("leftsemi"))
    assert(plan(run("q05_anti_join")).toLowerCase.contains("leftanti"))
  }

  test("near-dup pipelines never plan a cartesian product") {
    Seq("q32_jaccard_neardup", "q33_minhash_lsh", "q41_ann_lsh").foreach { name =>
      val p = plan(run(name))
      assert(!p.contains("CartesianProduct"), name)
      assert(!p.contains("BroadcastNestedLoopJoin"), name)
    }
  }

  test("engine-wide invariant: no cartesian product anywhere; NLJ only where deliberate") {
    // Non-equi joins that legitimately plan a broadcast nested-loop over a
    // SMALL, bounded side (each documented in its query scaladoc): q06/q24
    // pure theta/range conditions, q40/q43/q63 broadcast a bounded query/
    // candidate set against the corpus, q61 broadcasts a generated spine,
    // and q69/q71/q76/q83/q85/q88/q92/q97 plus the LM-selection family
    // q109/q110/q115 crossJoin a broadcast ONE-ROW aggregate scalar
    // (corpus total / quantization range / min language count / doc
    // count / mix total / BM25 corpus stats / key totals / histogram
    // min-max / smoothing totals).
    val allowedNlj = Set("q06_theta_join", "q24_range_join", "q40_cosine_topk",
      "q43_cosine_neardup", "q61_gap_fill", "q63_lsh_cosine_neardup",
      "q69_unigram_logprob", "q71_quant_topk", "q76_temperature_mix",
      "q83_tfidf_topk", "q85_corpus_mix", "q88_bm25_topk", "q92_key_skew",
      "q97_histogram", "q109_ppl_buckets", "q110_dsir_weights",
      "q115_gumbel_sample",
      // q116 embeds the q88 BM25 chain, inheriting its one-row corpus
      // stats crossJoin; the fusion stage itself adds no NLJ
      "q116_rrf_fusion",
      // q132 crossJoins the broadcast one-row (n_tok, n_big) totals onto
      // the vocab-bounded pair table — the same scalar-aggregate shape
      "q132_pmi_collocations",
      // q136 broadcasts the bounded eval benchmark against the training
      // corpus — the q40/q43 bounded-query-set class
      "q136_semantic_decon",
      // q137 crossJoins the broadcast one-row corpus token total onto
      // the vocab-bounded (source, token) count table
      "q137_source_kl",
      // q208/q209 crossJoin TWO broadcast one-row totals (weight sum,
      // floor shortfall) onto the allocation-key-bounded ledger — the
      // same scalar-aggregate class
      "q208_alloc_budget", "q209_crawl_budget",
      // q216 runs the same allocateBudget machinery over the
      // language-bounded ledger — the identical scalar-aggregate class
      "q216_lang_budget",
      // q227's final stage is the same allocateBudget machinery over
      // the host-bounded due ledger — the identical scalar-aggregate
      // class
      "q227_crawl_scheduler",
      // q142's per-half-round max rescale crossJoins a broadcast
      // one-row max aggregate — the scalar-aggregate class
      "q142_hits",
      // q181 densifies the audit-sized #sources × 64-bin grid by cross
      // join and broadcasts the one-row corpus count — both bounded by
      // construction, never corpus-sized
      "q181_length_drift",
      // q202 crossJoins the broadcast one-row (N, V) LM totals onto the
      // token stream — the q137/q69 scalar-aggregate class
      "q202_bigram_backoff",
      // q264/q265 source their candidates from the q40 cosineTopK
      // chain: the same bounded query-set broadcast against the
      // corpus; the mining stages themselves add only equi-joins
      "q264_hard_negatives", "q265_training_triplets")
    val violations = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = plan(run(name))
      val v = Seq.newBuilder[String]
      if (p.contains("CartesianProduct")) v += s"$name: CartesianProduct"
      if (p.contains("BroadcastNestedLoopJoin") && !allowedNlj(name))
        v += s"$name: unexpected BroadcastNestedLoopJoin"
      v.result()
    }
    assert(violations.isEmpty, violations.mkString("; "))
  }

  test("q15: global top-k plans TakeOrderedAndProject (no full sort)") {
    assert(plan(run("q15_sort_limit")).contains("TakeOrderedAndProject"))
  }

  test("q30: dedup scan prunes to the two needed columns") {
    val p = plan(run("q30_exact_dedup"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("n_chars") && !readSchema.contains("lang"), readSchema)
  }

  test("q111: encode is one broadcast vocab probe with truncation below the join") {
    val p = plan(run("q111_encode_ids"))
    // the doc side must not shuffle for the lookup, and the pos < maxLen
    // truncation must run in the scan-side stage (before the join), so
    // over-length tails never pay the probe
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q115: gumbel selection is a distributed top-k, not a global sort") {
    assert(plan(run("q115_gumbel_sample")).contains("TakeOrderedAndProject"))
  }

  test("q118/q119: PQ encode is a join-free projection; ADC top-k avoids " +
      "a full sort") {
    val enc = plan(run("q118_pq_encode"))
    // codebooks ride as plan reference objects inside the codegen'd
    // NearestCells expressions — encoding must not plan ANY join
    assert(!enc.toLowerCase.contains("join"), enc.take(2000))
    assert(plan(run("q119_pq_adc_topk")).contains("TakeOrderedAndProject"))
  }

  test("q108: merge chain is one codegen projection — no join, no extra shuffle") {
    val p = plan(run("q108_wpe_encode"))
    // the 6-merge chain folds into the scan-side projection; the only
    // exchanges are the Spread round-robin (CPU-stage parallelism over
    // the single-row-group local file), the per-doc groupBy, and the
    // final orderBy's range partitioning — the merge table never
    // becomes a join
    assert(!p.contains("Join"), p.take(2000))
    assert("Exchange".r.findAllIn(p).size <= 3, p.take(2000))
    // the 6 merges fuse into ONE nested-regexp projection over the scan
    assert("regexp_replace\\(regexp_replace".r.findAllIn(p).nonEmpty, p.take(2000))
  }

  test("aggregations use partial (map-side) aggregation") {
    val p = plan(run("q50_token_counts"))
    // two HashAggregate levels around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q45: scalar subquery is planned once (Subquery), not re-evaluated per row") {
    val p = plan(run("q45_scalar_subquery"))
    assert(p.toLowerCase.contains("subquery"), p.take(2000))
  }

  test("q46/q47: SQL subqueries rewrite to semi joins") {
    assert(plan(run("q46_exists_subquery")).toLowerCase.contains("leftsemi"))
    assert(plan(run("q47_in_subquery")).toLowerCase.contains("leftsemi"))
  }

  test("q82/q84: span family plans — native positional hashes, semi-join dup filter, no window in removal") {
    val p82 = plan(run("q82_dup_spans"))
    assert(p82.contains("shingle_pos_hashes"), p82.take(1500))
    assert(p82.toLowerCase.contains("leftsemi"), p82.take(1500))
    val p84 = plan(run("q84_span_clean"))
    // removal is the covered-position equi anti-join: no Window operator
    // and no range join anywhere in the plan
    assert(p84.toLowerCase.contains("leftanti"), p84.take(1500))
    assert(!p84.contains("Window"), p84.take(1500))
  }

  test("q86: incremental screening joins bands across sides, never corpus×corpus") {
    val p = plan(run("q86_incremental_neardup"))
    assert(p.contains("minhash_band_keys"), p.take(1500))
    // both parquet scans carry their side's doc_id % 2 filter — the
    // pushed-filter line proves candidates can only pair across sides
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.nonEmpty, p.take(1500))
  }

  test("q87: centroid table is broadcast; corpus side has no shuffle before scoring") {
    val p = plan(run("q87_centroid_outliers"))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("vec_dot"), p.take(1500))
  }

  test("native expressions appear in plans (codegen path, not UDF)") {
    assert(plan(run("q40_cosine_topk")).contains("vec_dot"))
    assert(plan(run("q32_jaccard_neardup")).contains("shingle_hashes"))
  }

  test("SQL-first surface: registerAll + spark.sql + native fns end to end") {
    Tables.registerAll(spark, sf0001)
    val sqlRows = spark.sql(
      """SELECT n_name, count(*) AS n, blake2b_256(n_name) AS h
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name""".stripMargin).collect()
    assert(sqlRows.length === 5)
    assert(sqlRows.forall(_.getString(2).length === 64))
    // events view gets the nanos→micros ts conversion too
    val ts = spark.sql("SELECT max(ts) FROM events").collect()(0)
    assert(!ts.isNullAt(0))
  }

  test("crawl-preprocessing queries are scan-stage projections (no join)") {
    // q144/q146/q148/q150/q153 must plan as scan → project (→ agg):
    // the per-row regex/classifier/gate batteries never join or
    // shuffle beyond the final rollup/sort
    Seq("q144_html_strip", "q146_logreg_score", "q148_gopher_rules",
      "q150_card_luhn", "q153_mixed_script").foreach { name =>
      val p = plan(run(name))
      assert(!p.contains("Join"), s"$name plans a join: ${p.take(1500)}")
      assert("Exchange".r.findAllIn(p).size <= 2,
        s"$name has extra shuffles: ${p.take(1500)}")
    }
  }

  test("q151: entity blocking is an equi-join, never a cartesian") {
    val p = plan(run("q151_entity_match"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the JW expression stays native in the plan (no ScalaUDF wrapper)
    assert(p.contains("jaro_winkler"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("round-9 per-row batteries stay join-free with bounded shuffles") {
    // q168 (encoding counters), q174 (sliding chunks), q175 (anchor
    // texts): pure scan-stage compute — the only exchanges are the
    // Spread round-robin (where the op spreads) and the output agg/
    // sort. A join or a further shuffle appearing here means the
    // projection chain broke (the q156 pushdown-re-inlining class).
    Seq("q168_encoding_signals" -> 1, "q174_sliding_chunks" -> 2,
        "q175_anchor_texts" -> 3).foreach { case (name, maxEx) =>
      val p = plan(run(name))
      assert(!p.contains("Join"), s"$name plans a join: ${p.take(1500)}")
      assert("Exchange".r.findAllIn(p).size <= maxEx,
        s"$name has extra shuffles: ${p.take(1500)}")
    }
  }

  test("q167: link-graph shuffle is the host-pair aggregate, no join") {
    val p = plan(run("q167_host_link_graph"))
    // Spread round-robin + host-pair aggregate + output sort
    assert(!p.contains("Join"), p.take(1500))
    assert("Exchange".r.findAllIn(p).size <= 3, p.take(1500))
  }

  test("q169: heavy-line anti-join broadcasts; no cartesian") {
    val p = plan(run("q169_boilerplate_lines"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q143/q152: rollup and sample keep their single hash exchange") {
    val canon = plan(run("q143_url_canon"))
    assert(!canon.contains("Join"), canon.take(1500))
    val sample = plan(run("q152_stratified_sample"))
    // one window over the strata partitioning plus the output sort
    assert("Window".r.findAllIn(sample).nonEmpty, sample.take(1500))
    assert(!sample.contains("Join"), sample.take(1500))
  }
}
