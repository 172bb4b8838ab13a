package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan lint: the SCALE.md global invariants asserted MECHANICALLY over
  * every SparkEntry query's physical plan, so a future query can't
  * silently ship a scale-killer plan shape. Complements the per-query
  * specs (which pin values) by pinning plan DISCIPLINE.
  */
class PlanLintSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // queries whose BroadcastNestedLoopJoin is a deliberate scalar/bounded
  // broadcast (1-row aggregates, k seed centroids, n-row edges frame —
  // each justified in its scaladoc). Everything else must not BNLJ.
  private val boundedBnlj = Set(
    "scalar_subquery_orders", "char_histogram", "tfidf_top_terms",
    "source_mixture", "corpus_sample", "corpus_shuffle", "doc_pack",
    "bigram_lm_score", "inverted_index", "semdedup", "power_iteration",
    "power_iteration_2step",
    "pagerank_step", "pagerank_2step", "ppr_2step", "kmeans_step", "kmeans_2step",
    "kmeans_converged",
    "ann_ivf_probe2",
    "ann_ivf_pq",          // k-label centroid table crossed with NQueries
    "sparse_cosine_pairs", // 1-row corpus-size broadcast onto the tf table
    "bm25_search",         // 1-row qdoc/avgdl scalar broadcasts
    "embedding_outliers",  // 1-row p95-cutoff broadcast
    "mutual_information",  // 1-row total-count broadcasts onto L×S cells
    "token_pmi",           // 1-row token/pair-total broadcasts onto the
                           // bounded observed-pair table
    "nb_source_classify",  // |classes|-row model table broadcast onto the
                           // holdout doc-length frame
    "ann_beam_sweep",      // NQueries-row query-vector + 3-row beam-width
                           // dimension broadcasts
    "session_gap_sweep",   // 4-row candidate-gap dimension broadcast onto
                           // the per-event gap frame
    "watermark_drop_audit", // 3-row candidate-delay dimension broadcast
                           // onto the per-event watermark-basis frame
    "vocab_coverage",      // 3-row budget dimension + 1-row corpus-total
                           // broadcasts onto the 1000-row ranked head
    "embedding_dim_variance", // 1-row total-variance broadcast onto the
                           // d-row ranked variance table
    "embedding_quantize", "merge_upsert",
    "q14_promo_revenue", "q19_disjunctive", "brand_affinity",
    "cardinality_sketches", "kmv_overlap", // sketch×sketch: T-row sides
    "events_range_join", "contamination_check",
    "dedup_embedding_cosine", "dedup_embedding_lsh", "ann_cosine_topk",
    "ann_ivf_topk", "ann_sign_lsh", "embedding_centroids",
    "ann_hnsw_topk",   // NQueries-row query-vector broadcasts (entry scan + re-score)
    "mmr_rerank",      // NQueries-row query-vector broadcast feeding the scorer
    "incremental_ivf", // L-row frozen-centroid broadcast per era assignment
    "ann_truncated_recall", // NQueries-row query broadcast, both rankings
    "hnsw_tombstone_recall", // NQueries-row surviving-query broadcast —
                            // the exact survivor baseline's scorer pass
    "hard_negative_mining", // NQueries-row query broadcast, one scored pass
    "retrieval_metrics",    // NQueries-row query broadcast, three rankings
    "knn_damage_stats",     // 1-row node-audit × 1-row edge-audit scalar
                            // cross for the single output row
    "knn_recall_audit",     // |sample|-row query broadcast (the exact
                            // side) + three 1-row scalar crosses
    "kcenter_coreset",      // 1-row collected-centers broadcast per round
    "ann_ivf_tune",         // NQueries-row query + 10x|labels| probe-table
                            // broadcasts onto the one scored pass
    "ann_filtered_topk",    // NQueries-row query broadcast, one scored pass
    "domain_reweight",      // 1-row vocab/baseline/total/Σweight broadcasts
    "model_auc",            // 1-row positives/negatives-total cross join
    "model_eval_by_slice",  // 1-row weight-vector broadcasts between GD steps
    "conformal_interval",   // 1-row weight/n_cal/q-hat broadcasts
    "batch_mix_audit",      // 1-row corpus-entropy + 16-row batch-total broadcasts
    "epoch_plan",           // 1-row total/flat-sum/level broadcasts onto the source table
    "dedup_cluster_stats",  // 1-row corpus-count x clustered-count cross join
    "minhash_estimate_error", // banded candidate join off the checkpointed
                            // signature table; attach joins AQE-broadcast
    "dau_mau",              // 1-row MAU-denominator cross join
    "ab_power",             // 1-row moment aggregate fanned to 4 lift rows
    "source_divergence",    // 200-word top-vocab × |sources|-row grid broadcasts
    "dedup_lsh_tune",  // 1-row capture-denominator cross join
    "model_calibration", // 1-row weight + 1-row μ/σ + ≤10-row ECE broadcasts
    "token_budget_fill", // 1-row corpus-total + 1-row water-level broadcasts
    "dedup_minhash_lsh", "dedup_minhash_shingle", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_exact", "text_repetition", "corpus_curation",
    "dedup_clusters", "dedup_clusters_lsh", "dedup_incremental",
    "top_ngrams", "bpe_pair_stats", "bpe_2merge",
    "bpe_encode",         // two 1-row learned-merge broadcasts
    "seasonal_profile",   // 1-row global-mean broadcast onto the 168-cell grid
    "heavy_hitters", // 1-row total-count scalar broadcast
    "source_overlap",
    "events_funnel",
    "q6_forecast_revenue", "reconcile_counts", "quoted_list_join",
    "q11_important_parts", "q22_global_sales", // 1-row scalar-cut broadcasts
    "retention_filter", // 1-row max-ts scalar broadcast
    "retention_audit",  // 1-row now-scalar broadcast onto the listing
    "autocorr_lag",     // 7-row lag-dimension broadcast onto the daily agg
    "pca_power",        // 1-row norm/Rayleigh broadcasts onto d-sized frames
    "rrf_fusion",       // 1-row query-doc / corpus-stats / query-vector
                        // broadcasts feeding both retrieval arms
    "cms_join_card",    // 1-row exact-count x sketch-estimate cross join
    "rfm_segments",     // 1-row max-date + quartile-cut broadcasts
    "hits_bipartite",   // 1-row L2-norm scalar broadcast onto the part scores
    "kaplan_meier",     // 1-row study-end scalar broadcast onto subjects
    "integrity_audit",  // 1-row orphan×unreferenced counter cross joins
    "triangle_count",   // 1-row stats×triangle-count cross joins
    "kcore_2step",      // 1-row node-stats×edge-count cross join
    "equidepth_histogram", // 1-row cutpoint-array broadcast
    "zorder_stats",     // 1-row sampled-cutpoint + total-count broadcasts
                        // (previously hidden behind a localCheckpoint)
    "skew_stats",       // 1-row mean + summary×hot-count cross joins
    "linreg_2step",     // 1-row weight-vector broadcast between GD steps
    "logreg_2step",     // same 1-row weight broadcast, logistic twin
    "quality_model_score", // same 1-row weight broadcast, then scoring
    "fk_discovery",     // 1-row n_contained×n_child_keys counter joins
    "global_rank",      // 1-row cutpoint-array broadcast (equidepth shape)
    "pareto_frontier",  // 1-row price-cutpoint-array broadcast (same shape)
    "model_eval",       // 1-row weight-vector broadcasts between GD steps
    "drift_psi",        // 1-row cutpoint + total-count broadcasts
    "curation_funnel",  // 1-row raw-corpus baseline broadcast onto the
                        // 5-row stage table
    "ingest_delta_card", // 1-row corpus-totals broadcast onto the
                        // source-sized card
    "dedup_agreement",  // 1-row rider cross (lex total × uncaught) +
                        // its broadcast onto the 4-row bin table
    "dsir_weights",     // 1-row distribution-totals broadcast onto the
                        // B-row bucket table
    "dsir_resample",    // same — rides the dsir_weights chain
    "dsir_drift",       // same 1-row era-totals broadcast onto the
                        // B-row drift table
    "filter_agreement", // 1-row doc-total broadcast onto the 8-cell
                        // agreement table (+ the dsir chain's own)
    "curriculum_phases", // 1-row cutpoint-array + token-total broadcasts
                        // (the equidepth_histogram shape)
    "perplexity_filter") // 1-row tertile-cutpoint-array broadcast (the
                        // equidepth shape over log_ppl)

  private lazy val queryExecs: Map[String, Either[String, org.apache.spark.sql.execution.QueryExecution]] = {
    // lint the SAME optimizer configuration Verify/Bench run (and make the
    // lint order-independent under GraftOptimizationsSpec's install)
    GraftOptimizations.install(spark)
    graft.ops.IncrementalDedup.seedQueryStore(spark, dir)
    SparkEntry.queries.map { case (name, fn) =>
      name -> (try {
        val qe = fn(spark, dir).queryExecution
        qe.executedPlan // force planning so failures surface here
        Right(qe)
      } catch { case e: Exception => Left(s"PLAN FAILED: ${e.getMessage}") })
    }
  }

  private lazy val planTrees: Map[String, Either[String, org.apache.spark.sql.execution.SparkPlan]] =
    queryExecs.map { case (n, qe) => n -> qe.map(_.executedPlan) }

  private lazy val plans: Map[String, String] =
    planTrees.map { case (n, p) => n -> p.fold(identity, _.toString) }

  test("every query plans (no analysis/planning failures)") {
    val failed = plans.filter(_._2.startsWith("PLAN FAILED"))
    assert(failed.isEmpty, failed.keys.mkString(", "))
  }

  test("no CartesianProduct anywhere") {
    val offenders = plans.filter(_._2.contains("CartesianProduct")).keys
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("logical Cross joins carry an explicit broadcast hint (r13 — the unpartitioned-window rule's join analog)") {
    // The physical rule above only sees what JoinSelection picked at THIS
    // SF: an unhinted crossJoin whose small side happens to fit
    // autoBroadcastJoinThreshold plans as BNLJ at sf0.001 and silently
    // becomes a CartesianProduct when that side outgrows the threshold at
    // scale. The logical rule closes the class: every condition-less join
    // in a registry query must pin its bounded side with broadcast().
    import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def all(p: LogicalPlan): Seq[LogicalPlan] =
      p +: (p.children.flatMap(all) ++ p.subqueries.flatMap(all))
    val offenders = queryExecs.toSeq.flatMap {
      case (name, Right(qe)) =>
        all(qe.optimizedPlan).collect {
          case j: Join
              if (j.joinType == Cross ||
                (j.joinType == Inner && j.condition.isEmpty)) &&
                !j.hint.leftHint.exists(_.strategy.isDefined) &&
                !j.hint.rightHint.exists(_.strategy.isDefined) =>
            s"$name (${j.joinType} join, no side hinted)"
        }
      case _ => Nil
    }
    assert(offenders.isEmpty,
      s"unhinted cross join in: ${offenders.distinct.mkString(", ")} — " +
        "broadcast() the provably-bounded side (or re-shape the join)")
  }

  test("BroadcastNestedLoopJoin only where the build side is provably bounded") {
    val offenders = plans
      .filter(_._2.contains("BroadcastNestedLoopJoin"))
      .keys.filterNot(boundedBnlj)
    assert(offenders.isEmpty,
      s"unreviewed BNLJ in: ${offenders.mkString(", ")} — justify + whitelist or fix the plan")
  }

  test("flagship queries keep their designed shuffle-exchange budget") {
    // the scaladoc claims ("one shuffle on its natural key") pinned as
    // numbers, so a refactor can't silently add an exchange. Counts are
    // upper bounds at sf0.001 plan time (AQE may remove, never add).
    // numbers INCLUDE the trailing deterministic orderBy's range exchange
    // (+1) where the query has one; orderBy+limit queries compile to
    // TakeOrderedAndProject and get no such +1.
    // r19: budgets riding the tokenize/regex document builders
    // (tokenCount, textQuality, gopherRules, textRepetition, charEntropy,
    // bigramLmScore, dsirBucketsFor, pplBagsFor, nbPredictions,
    // domainReweight) grew by one DELIBERATE scan-spread exchange per
    // consumed subtree: the single-file one-partition documents scan
    // pinned every per-doc regex/tokenize pass (and the map-side partial
    // of the following aggregate) to one core (r19 JobProbe; the r18
    // DedupOps duplicateSpans lesson). The added exchange is
    // repartition(numShufflePartitions, doc_id) — keyed by the downstream
    // aggregate/window key, so it is the exchange the pipeline would need
    // anyway once the input is unsplittable.
    // A session seam's consumer counts only the scans of the seam's
    // parquet; the seam builds have their own budgets (next test).
    val budget = Map(
      "quantile_sketch" -> 2,     // per-source sketch agg (+sort)
      "events_islands" -> 2,      // ONE user_id shuffle feeds both window
                                  // passes AND the island agg — hash(user)
                                  // co-locates (user, island) (+sort)
      "cdc_compaction" -> 2,      // one max_by keyed agg (+sort)
      "linreg_2step" -> 3,        // three 1-row GD aggregates (s1 rides
                                  // both the union and the broadcast); the
                                  // 2-row sort never plans an exchange
      "quality_model_score" -> 4, // two GD aggregates + per-source agg
                                  // (+sort)
      "ann_pq_topk" -> 4,         // encode argmin agg + ADC sum agg +
                                  // per-query top-k window (+sort);
                                  // codebook/ADC table ride broadcasts
      "incremental_agg" -> 3,     // base partials + delta partials + the
                                  // users-sized merge agg; sort reuses
      "table_diff" -> 4,          // full-outer hash exchange per side +
                                  // status rollup (+sort)
      "link_prediction" -> 3,     // candidate distinct off the seam's edge
                                  // parquet, top-k window (+sort); the
                                  // adjacency rides its checkpoint
      "fk_discovery" -> 12,       // 4 candidate edges × (parent distinct,
                                  // contained count, child-key count);
                                  // child distincts materialize at
                                  // construction (checkpoint), parents
                                  // broadcast at runtime via AQE
      "global_rank" -> 4,         // cutpoint agg + bucket-keyed local
                                  // window + 10-row offset window (+sort)
      "kmv_rollup" -> 5,          // hourly sketch agg, daily merge agg
                                  // (720-row input), exact-audit distinct
                                  // pair, day attach (+sort)
      "corpus_reservoir_agg" -> 2, // ONE bounded-k aggregate exchange
                                  // (≤k rows per partition per source
                                  // reach it) (+sort)
      "model_eval" -> 3,          // two GD aggregates + the holdout eval
                                  // aggregate; 1-row result, no sort
      "drift_psi" -> 6,           // reference-decile agg, bin counts agg,
                                  // total agg + partials (+sort)
      "heavy_hitters_by_source" -> 4, // per-source MG agg, candidate
                                  // recount agg + partials (+sort)
      "skew_stats" -> 3,          // suppkey count agg + the two 1-row
                                  // summary/hot-count aggregates; NO sort
                                  // (single-row result)
      "q1_pricing_summary" -> 2,  // one keyed agg exchange (+sort)
      "dedup_exact" -> 2,         // fingerprint groupBy (+sort)
      "duplicate_spans" -> 3,     // fp-keyed dup agg + ONE doc-keyed
                                  // window exchange shared by both island
                                  // windows AND the span rollup (+sort);
                                  // semi-join/attach sides are AQE
                                  // broadcasts
      "ngram_novelty" -> 4,       // postings explode feeds the fp-keyed
                                  // min agg + doc-keyed gram count; novel
                                  // count re-keys the min agg's own
                                  // output (+sort); doc-sized merges are
                                  // AQE broadcasts
      "token_stats" -> 3,         // per-source agg (+sort)
      "events_tumbling" -> 2,     // hour-bucket agg (+sort)
      "q6_forecast_revenue" -> 1, // 1-row final agg exchange, NO sort —
                                  // any added range exchange now fails
      "lang_id" -> 1,             // narrow map, sort only
      "sanitize_text" -> 1,       // narrow map, sort only
      "doc_fingerprint" -> 2,     // fp_prefix cluster-size window (+sort)
      "multimodal_meta" -> 1,     // narrow map, sort only
      // heaviest-query shapes pinned (VERDICT r4 polish): a refactor that
      // adds an exchange to either should fail loudly, not ship quietly
      "pagerank_step" -> 0,       // = pagerankIterate(rounds=1): edge/
                                  // outdeg/rank frames localCheckpoint at
                                  // construction, so the planned tail
                                  // has no exchange at all; top-20 is
                                  // TakeOrdered, no sort
                                  // exchange
      "dedup_editdistance" -> 2,  // prefix-block join broadcasts; one
                                  // survivor-set boundary exchange (+sort)
      "trailing_30d_spend" -> 2,  // one customer-keyed window shuffle
                                  // (+sort)
      "scd2_customer" -> 3,       // ONE full-outer join = one hash
                                  // exchange per side (outer joins
                                  // cannot broadcast); the explode keeps
                                  // Catalyst from splitting it in two
                                  // (+sort)
      "q13_customer_distribution" -> 3, // outer join + count histogram
                                  // (+sort)
      "events_session_window" -> 2,     // one user-keyed session merge
                                  // (+sort)
      "heavy_hitters" -> 4,       // MG 1-row agg, candidate recount,
                                  // total-count scalar (+sort)
      "q21_waiting_suppliers" -> 4, // decorrelated aggregate shape: the
                                  // (o,s) max-shipdate agg, the per-order
                                  // max/nsupp agg, the co-keyed attach,
                                  // the s_name count (13× vs the
                                  // EXISTS/NOT-EXISTS self-join plan);
                                  // top-20 is TakeOrdered, no sort
                                  // exchange
      "triangle_count" -> 7,      // the seam's edge parquet and the
                                  // checkpointed degrees feed a 4-branch
                                  // DAG: two deg attaches, the adjacency
                                  // build + two attaches, and three scalar
                                  // stats aggregates — AQE broadcasts the
                                  // small attaches at runtime, never adds
                                  // exchanges
      "label_propagation_2step" -> 1, // rounds materialize via
                                  // localCheckpoint at construction; the
                                  // planned query is one community agg
      "bloom_semi_join" -> 4,     // bloom-build SinglePartition reduce +
                                  // probe-side semi join pair (AQE
                                  // broadcasts the key side at runtime)
                                  // (+sort)
      "dedup_containment" -> 4,   // shingle df agg, doc-keyed prefix
                                  // window, candidate repartition,
                                  // intersect-count agg (+sort reuses);
                                  // attach joins are AQE broadcasts
      "ann_hnsw_topk" -> 2,       // the adjacency is the HnswIndex seam's
                                  // parquet; the planned query is the
                                  // search: visited distinct + top-k
                                  // window (+sort reuses)
      "mmr_rerank" -> 2,          // ONE bounded-shortlist aggregate
                                  // exchange (≤50 rows per partition per
                                  // query) (+sort)
      "asof_join_forward" -> 3,   // EnsureRequirements' two key-clustered
                                  // child exchanges for the native merge
                                  // (+sort)
      "retention_audit" -> 2,     // 1-row now aggregate (+sort); the
                                  // listing itself is a narrow map
      "dedup_lines" -> 3,         // block-text first-occurrence agg +
                                  // semi-join (exchange shared) + per-doc
                                  // stitch agg (+sort)
      "dedup_span_remove" -> 8,   // fp ownership agg, cut join, doc-keyed
                                  // island window, span agg, segment
                                  // window, stitch agg, audit agg (+sort);
                                  // all doc- or fp-keyed
      "contamination_fuzzy" -> 4, // banded cross-split join + ids-only
                                  // rebalance + per-eval best agg (+sort)
      "incremental_ivf" -> 9,     // 2 eras × (argmin agg + bucket agg) +
                                  // centroid pos/label aggs + full-outer
                                  // merge + 1-row audit agg; no sort
                                  // (single-row result)
      "token_budget_fill" -> 11,   // per-source token agg + the bounded
                                  // source-table window (SinglePartition
                                  // over ≤|sources| rows) + 1-row total
                                  // and level aggs (+sort)
      "delete_propagation" -> 1,  // the audit join's sort: both CC label
                                  // tables propagate at construction behind
                                  // localCheckpoints over the seam's pair
                                  // parquet
      "model_calibration" -> 14,  // a chain of keyless 1-row aggregates
                                  // (GD steps, μ/σ, ECE) + the ≤10-row bin
                                  // agg — every exchange carries ≤32
                                  // partial rows (+sort)
      "ann_hubness" -> 7,         // + the r19 scan-spread exchange (plans
                                  // once per self-join side pre-AQE;
                                  // reuse collapses it at runtime)
                                  // label-block top-K window + occurrence
                                  // agg + per-label profile agg + size
                                  // attach (+sort)
      "boilerplate_strip" -> 3,   // block-count agg + anti-join (exchange
                                  // shared) + per-doc stitch agg (+sort)
      "multimodal_audio_energy" -> 3, // doc-keyed frame-mean agg + clip
                                  // rollup agg (+sort); the frame explode
                                  // is narrow
      "ann_truncated_recall" -> 7, // two per-query top-K windows + overlap
                                  // semi-join + per-query agg (+sort);
                                  // both rankings ride one broadcast pass
      "quality_ablation" -> 5,    // the corpus_curation flag joins + ONE
                                  // 15-column aggregate melted to 5 rows
                                  // (the five-way union form re-derived
                                  // the pipeline per rule: 35 exchanges);
                                  // the labels are the seam's parquet
      "dedup_lsh_tune" -> 9,      // 3 configs × (band join + pair
                                  // distinct) off ONE signature pass +
                                  // per-config agg + union-truth distinct
                                  // + 1-row denominator (+sort) — a
                                  // tuning-time query, not a serving path
      "hard_negative_mining" -> 3, // per-query negative top-k window +
                                  // positive max agg off ONE broadcast
                                  // scored pass (+sort)
      "retrieval_metrics" -> 8,   // 3 top-K windows off one scored pass +
                                  // rel join + per-(method,query) agg +
                                  // per-method agg (+sort)
      "kcenter_coreset" -> 1,     // rounds materialize via localCheckpoint
                                  // at construction; planned tail is the
                                  // trailing sort only — each round itself
                                  // is shuffle-free (broadcast centers +
                                  // narrow min + 1-row max_by)
      "domain_reweight" -> 16,    // the bigram-LM stats (doc window, pair/
                                  // unigram/vocab aggs → checkpointed
                                  // per-doc loss) + token agg + the
                                  // |sources|-row weight algebra (+sort)
      "data_card" -> 9,           // four doc-keyed flag joins + per-source
                                  // rollup + the bounded (source, lang)
                                  // count + argmax window + card join
                                  // (+sort) over the seam's label parquet —
                                  // a release-time audit, not a serving
                                  // path
      "model_auc" -> 7,           // the GD/score chain's 1-row aggregates
                                  // + score-histogram agg + the bounded
                                  // cumsum window + final 1-row U agg —
                                  // single corpus scan, no sort (1 row)
      "batch_mix_audit" -> 7,     // ONE (batch, source) count (checkpointed)
                                  // + the ≤16×|sources|-row totals/
                                  // marginal/entropy aggs (+sort)
      "source_divergence" -> 4,   // top-vocab agg + the checkpointed
                                  // (source, word) count; pair join + JSD
                                  // agg sit on checkpointed bounded grids
                                  // (+sort)
      "epoch_plan" -> 12,          // per-source token agg + the bounded
                                  // rank/prefix windows + 1-row total/
                                  // flat/level aggs (+sort) — the
                                  // token_budget_fill shape
      "tokenizer_fertility" -> 3, // doc-keyed lang join + ONE per-lang agg
                                  // (+sort)
      "dedup_cluster_stats" -> 5, // CC label table (propagation behind
                                  // checkpoints, over the seam's pair
                                  // parquet) + per-cluster size agg +
                                  // histogram agg + 1-row corpus/clustered
                                  // counts (+sort)
      "crossval_split" -> 6,      // fold map + ≤5-row volume agg; leak =
                                  // two doc-keyed joins of the seam's pair
                                  // parquet + ≤5-row leak agg (+sort)
      "dedup_threshold_sweep" -> 4, // scans of the seam's pair parquet;
                                  // explode fan-out + pair/degree rollups
                                  // are pair-table-sized (+sort)
      "wau_rolling" -> 7,         // (user, day) distinct + bounded x7
                                  // fan-out + two per-day countDistinct
                                  // aggregates + day join (+sort)
      "ab_power" -> 1,            // ONE keyless moment aggregate; the
                                  // 4-row lift table is a narrow explode
                                  // — no sort exchange (4-row sort)
      "dau_mau" -> 5,             // per-day + global countDistinct (each
                                  // an expand/partial pair) (+sort)
      "conversion_lag" -> 3,      // the attribution window's user shuffle
                                  // + purchase-day attach + per-day agg
                                  // (+sort; small joins AQE-broadcast)
      "degree_assortativity" -> 3, // degree agg over the seam's edge
                                  // parquet + node-keyed attach + 1-row
                                  // corr agg — no sort (1 row)
      "minhash_estimate_error" -> 5, // checkpointed signature table;
                                  // banded candidate join + distinct +
                                  // sig/shingle attaches + bucket agg
                                  // (+sort)
      "conformal_interval" -> 11, // GD chain 1-row aggs + calibration
                                  // histogram agg + bounded cumsum window
                                  // + 1-row q-hat and coverage aggs — no
                                  // sort (1 row)
      "doc_lineage" -> 5,         // probe-set joins across the artifact
                                  // frames (pair degree and CC labels from
                                  // the seam's parquet, quality/repetition
                                  // flag pipelines) — a governance audit,
                                  // not a serving path; output is
                                  // probe-set-sized
      "model_eval_by_slice" -> 4, // two 1-row GD aggregates + ONE
                                  // per-source val aggregate (+sort)
      "dedup_keep_best" -> 3,     // CC label table (propagation behind
                                  // checkpoints) + token join + per-cluster
                                  // argmax window (+sort)
      "ann_filtered_topk" -> 8,   // three per-query windows + survivor/
                                  // hit aggs over the checkpointed scored
                                  // frame (+sort) — windows past the first
                                  // touch <=20 rows per query
      "ann_ivf_tune" -> 12,       // centroid byDim/norm aggs + probe rank
                                  // window + 4 top-K windows and the
                                  // candidate agg over the checkpointed
                                  // scored frame + recall aggs (+sort) —
                                  // a tuning-time sweep, not a serving
                                  // path
      // r14 — VERDICT r13 #6: the remaining top-of-floor-table queries,
      // budgets measured (this test's info lines) so a rewrite can't
      // silently double a heavy query's shuffle count
      "dedup_ngram_jaccard" -> 6, // shingle df agg, doc prefix window,
                                  // candidate repartition, verify
                                  // intersect agg (+sort) — the inline
                                  // edge-build claim
      "knn_join" -> 1,            // the served lists' (vec_id, rank) sort;
                                  // the banded top-K kernel is pinned as
                                  // KnnLists.build in the seam build test
      "cardinality_sketches" -> 4, // HLL/percentile sketch agg + the
                                  // deliberate exact-distinct audit
                                  // baseline on its OWN two-phase agg
                                  // (r18 — keeps the sketch buffers off
                                  // the per-(type,user) first phase)
                                  // (+sort)
      "ann_beam_sweep" -> 9,      // 3 bw-keyed beam rounds over the ONE
                                  // seam adjacency + recall join/aggs
                                  // (+sort) — checkpointed beams bound
                                  // each round's input
      "incremental_dedup_edges" -> 11, // BOTH eras' banded builds + the
                                  // endpoint-bounded delta join + the
                                  // union recount — the recompute-vs-
                                  // maintain demonstration IS the query
      "mmr_rerank_ann" -> 2,      // beam feeds ONE bounded per-query MMR
                                  // aggregate (+sort); adjacency reads
                                  // ride the HnswIndex seam
      "incremental_labels" -> 1,  // star contraction + maintained closure
                                  // over seam-filtered eras (propagation
                                  // behind checkpoints) (+sort)
      "dedup_minhash_shingle" -> 2, // signature agg + banded pair
                                  // distinct (+sort); verify attaches
                                  // broadcast
      "winnow_fingerprint" -> 2,  // doc-partitioned window-min over the
                                  // posexploded shingle hashes + fp
                                  // rollup (+sort)
      "ppr_2step" -> 0,           // rounds materialize via localCheckpoint
                                  // at construction; planned tail is
                                  // TakeOrdered only
      "incremental_edges" -> 3,   // base partial + delta partial + merge
                                  // agg — the maintenance algebra's
                                  // original (+sort reuses)
      "bpe_train" -> 1,           // 8 rounds ride per-round checkpoints
                                  // (Zipf-small word table); planned tail
                                  // is one pair-count agg (+TakeOrdered)
      "incremental_hnsw" -> 11,   // base out-build (kernel bucket
                                  // exchange + node merge) + the insert
                                  // form (bucket exchange + merge) +
                                  // maintained re-rank + sym distinct +
                                  // digest agg (+sort) — the
                                  // rebuild-vs-maintain proof runs both
      "incremental_sparse" -> 3,  // 2 era term-stat aggs off the seam tf
                                  // + the full-outer merge; 1-row digest,
                                  // no sort
      "knn_mutual" -> 3,          // the mutual semi-join + SNN joins + pair
                                  // agg + left attach (+sort) over scans of
                                  // the seam's lists parquet — an
                                  // artifact-only consumer
      "snn_clusters" -> 1,        // the closure propagation over the seam's
                                  // lists parquet rides ClusterOps' level
                                  // checkpoints; planned tail is the label
                                  // rollup (+sort)
      "knn_damage_stats" -> 3,    // the lists build (banded top-K
                                  // kernel, checkpoint boundary) +
                                  // the node-distinct audit; the two
                                  // 1-row audits agg behind it, no sort
      "incremental_knn" -> 5,     // the base lists build and the insert
                                  // form over the checkpointed banding
                                  // (bucket exchange + node merge each);
                                  // the re-rank window rides the merges'
                                  // node partitioning (+sort) — build
                                  // AND maintenance run by design
      "knn_delete_repair" -> 9,   // the artifact build (banded top-K
                                  // kernel, checkpoint boundary) + the
                                  // damaged re-probe (damage semi-join,
                                  // banding, node merge) + keep anti-join
                                  // (+sort) — build AND repair run by
                                  // design
      "semdedup_knn" -> 1,        // the CC closure over the seam's lists
                                  // parquet runs at construction behind
                                  // its checkpoints; the planned tail is
                                  // the sort
      "dsir_weights" -> 7,        // doc×bucket agg + B-row dist agg +
                                  // 1-row totals + per-doc score agg
                                  // (+sort); the bag agg plans per
                                  // consumer pre-AQE, reuse collapses it
      "dsir_resample" -> 6,       // the weights chain; orderBy+limit is
                                  // TakeOrderedAndProject (no range
                                  // exchange)
      "dsir_drift" -> 6,          // ONE era-conditional bucket agg +
                                  // 1-row totals (+sort)
      "gopher_rules" -> 2,        // narrow per-row map (+sort only)
      "ssl_prototypes" -> 4,      // centroid (label,dim)+label aggs +
                                  // per-label rank window (+sort)
      "contamination_semantic" -> 5, // both sides' banding spread
                                  // repartitions (r18; the kernel's
                                  // bucket exchange rides them) + top-1
                                  // node merge + eval left join (+sort)
      "soft_dedup" -> 3,          // cluster-size agg + doc joins (+sort)
                                  // over the seam's label parquet
      "cluster_quota_sample" -> 2, // ONE label-partitioned rank window
                                  // (+sort)
      "curriculum_phases" -> 12,   // cutpoint agg + phase agg + 1-row
                                  // total (+sort); partials pre-AQE
      "filter_agreement" -> 22,   // gopher + dsir + perplexity chains +
                                  // the seam's label parquet (r16 adds the
                                  // ppl_tail leg)
      "perplexity_filter" -> 14,  // doc-bag agg + bigram-model agg
                                  // (+ its unigram re-agg) + per-doc
                                  // score agg + 1-row cutpoint agg
                                  // (+sort); the bag agg plans per
                                  // consumer pre-AQE (the dsir_weights
                                  // note), runtime reuse collapses it
      "pack_sequences" -> 4,      // ONE shard-hash window exchange +
                                  // (shard,bin) agg riding it (+sort)
      "ann_band_plan" -> 4,       // 8-bit (band,bucket) occupancy agg +
                                  // (bits,band,kb) rollup over that
                                  // bounded table + bits agg (+sort) —
                                  // joins-free; the corpus is touched
                                  // by exactly ONE aggregate
      "pack_length_batches" -> 4, // ONE length-class window exchange +
                                  // (class,batch) agg riding it (+sort)
      "pack_efficiency_compare" -> 8, // both packers' audited plans (one
                                  // window exchange each) reduced by a
                                  // 1-row aggregate each (+union sort) —
                                  // the 2-row decision table costs the
                                  // two plans it compares, nothing more
      "ann_auto_config" -> 0,     // 1-row local config row; the corpus
                                  // count is a separate action at
                                  // construction (the audited census
                                  // scalar pattern)
      "knn_recall_audit" -> 3,    // banding-free: the sample-bounded exact
                                  // window + hit semi-join over the seam's
                                  // lists parquet + 1-row aggregates (truth
                                  // side rides its checkpoint)
      "hnsw_tombstone_recall" -> 8) // the seam-fed beam's per-round
                                  // frontier distincts + the filtered
                                  // top-K window + the exact-survivor
                                  // baseline window + hit agg (+sort) —
                                  // the exact baseline is the audit's
                                  // deliberate cost
    val measured = budget.keys.toSeq.sorted
      .map(name => name -> graft.tools.JobProbe.exchangeCount(plans(name)))
    // each budgeted query's measured count, so a budget the plan has
    // fallen below can be lowered from this output
    measured.foreach { case (name, n) =>
      info(s"$name: $n exchanges (budget ${budget(name)})")
    }
    val offenders = measured.flatMap { case (name, n) =>
      // count ALL shuffle exchanges (JobProbe.exchangeCount). Range
      // exchanges count too, with NO blanket exemption — a "forgive
      // one range exchange" rule silently passed an interior global sort
      // in queries with no trailing orderBy (review r6); instead each
      // budget number simply INCLUDES its query's trailing deterministic
      // orderBy where one plans as a range exchange (orderBy+limit
      // compiles to TakeOrderedAndProject, which shuffles nothing).
      val maxEx = budget(name)
      if (n > maxEx) Some(s"$name: $n exchanges (budget $maxEx)") else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("session seam builds keep their shuffle-exchange budget") {
    // every seam read serves the seam's parquet, so the query budgets
    // above count none of the build work; each build is pinned here on its
    // own, as the plan that runs once per session when the seam is written
    import graft.ops.{DedupEdges, GraphEdges, HnswIndex, KnnLists,
      SparseIndex}
    GraftOptimizations.install(spark)
    val budget = Seq(
      "KnnLists.build" -> (KnnLists.build _, 3), // the fused kernel: the
                                  // banding spread (its bucket exchange
                                  // rides it) + the node merge (+sort)
      "HnswIndex.build" -> (HnswIndex.build _, 0), // the adjacency runs
                                  // behind hnswAdjacencyInline's checkpoint
      "HnswIndex.buildOut" -> (HnswIndex.buildOut _, 2), // that
                                  // checkpoint's kernel: banding spread +
                                  // node merge
      "SparseIndex.build" -> (SparseIndex.build _, 1), // the (doc_id, s)
                                  // tf aggregate
      "GraphEdges.build" -> (GraphEdges.build _, 1), // the (u, v) count
                                  // agg; the order-keyed self-join plans
                                  // as a broadcast at this scale
      "GraphEdges.buildBrandBaskets" -> (GraphEdges.buildBrandBaskets _, 1),
                                  // the basket distinct; the part attach
                                  // broadcasts
      "DedupEdges.build" -> (DedupEdges.build _, 6), // = the
                                  // dedup_ngram_jaccard budget above
      "DedupEdges.buildShingle" -> (DedupEdges.buildShingle _, 2))
                                  // = the dedup_minhash_shingle budget
    val offenders = budget.flatMap { case (name, (build, maxEx)) =>
      val n = graft.tools.JobProbe.exchangeCount(
        build(spark, dir).queryExecution.executedPlan.toString)
      info(s"$name: $n exchanges (budget $maxEx)")
      if (n > maxEx) Some(s"$name: $n exchanges (budget $maxEx)") else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  // unpartitioned windows whose INPUT is an aggregate bounded by key
  // cardinality — each bound argued in the query's scaladoc. Every other
  // unpartitioned WindowExec must sit on a limit (TakeOrderedAndProject /
  // Limit) or be partitioned: at 100× an unpartitioned window over
  // corpus/vocab-sized input funnels every row through ONE task (the
  // zorder_stats/token_zipf class this rule closes — review r7).
  private val boundedNoPartitionWindow = Map(
    "global_rank" -> "offsets over ≤10 decile-bucket counts",
    "zorder_stats" -> "offsets over 32 z-bucket counts",
    "monthly_growth" -> "lag over month-cardinality (≤84) aggregate",
    "pareto_frontier" -> "prefix maxima over ≤10 price-decile-bucket rows (bucket-local running max carries the price-domain work)",
    "kaplan_meier" -> "risk-set/survival cumulatives over the duration-day aggregate (≤ the ~2,500-day TPC-H order calendar)",
    "token_budget_fill" -> "rank/prefix over the per-source token aggregate (≤ source cardinality — 20 here, thousands at worst in production)",
    "model_auc" -> "cumulative-negatives over the 6-rounded score histogram (p ∈ [0,1] at 6 decimals → ≤ 10⁶+1 rows regardless of corpus size)",
    "epoch_plan" -> "rank/prefix over the per-source token aggregate (token_budget_fill's bound — ≤ source cardinality)",
    "conformal_interval" -> "cumulative-count over the clamped 4-rounded residual histogram (|r| ∈ [0,100] at 4 decimals → ≤ 10⁶+1 rows regardless of corpus size)",
    "watermark_drop_audit" -> "prefix max over the per-arrival-day max aggregate (≤ |days| rows — 31 here; the day-keyed window carries the corpus-sized work)",
    "embedding_dim_variance" -> "rank/cumulative over the per-DIMENSION moment aggregate (≤ d rows — 64 here; the corpus-sized work is the keyed aggregate)",
    "filter_agreement" -> "share_ppm total over the ≤16-row (2⁴ boolean-verdict cells) aggregate — replaces the crossJoin(agg) shape that re-planned the whole 4-leg pipeline (r18)")

  test("unpartitioned WindowExec only over limit-bounded or whitelisted-aggregate input") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case other => other.children
    }
    def all(p: SparkPlan): Seq[SparkPlan] =
      p +: (kids(p).flatMap(all) ++ p.subqueries.flatMap(all))
    // strip the wrappers a window legitimately sits on (its required sort,
    // projections, exchanges) down to the node that determines cardinality
    def strip(p: SparkPlan)(terminal: SparkPlan => Boolean): Boolean = p match {
      // WindowExec is row-count-preserving, so a window STACKED on another
      // window (kaplan_meier's risk-set + survival cumulatives) is bounded
      // by whatever bounds the inner window's input
      case w @ (_: SortExec | _: ProjectExec | _: FilterExec |
                _: CoalesceExec | _: WholeStageCodegenExec |
                _: InputAdapter |
                _: org.apache.spark.sql.execution.window.WindowExec) =>
        w.children.exists(strip(_)(terminal))
      case e: Exchange => e.children.exists(strip(_)(terminal))
      case other => terminal(other)
    }
    def boundedByLimit(p: SparkPlan): Boolean = strip(p) {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: LocalLimitExec | _: CollectLimitExec => true
      case _ => false
    }
    // the whitelist forgives a window ONLY when it sits on an aggregate
    // (the key-cardinality bound the justification argues) — reverting a
    // whitelisted query to a window over raw/sorted corpus rows still fails
    def onAggregate(p: SparkPlan): Boolean = strip(p) {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case _ => false
    }
    val offenders = planTrees.toSeq.flatMap {
      case (name, Right(plan)) =>
        all(plan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty &&
              !boundedByLimit(w.child) &&
              !(boundedNoPartitionWindow.contains(name) && onAggregate(w.child)) =>
            s"$name (window child: ${w.child.nodeName})"
        }
      case _ => Nil
    }
    assert(offenders.isEmpty,
      s"unpartitioned window over unbounded input in: ${offenders.mkString(", ")} — " +
        "partition it, cut with orderBy+limit first, or justify + whitelist a key-cardinality bound")
  }

  test("no Scala UDFs or Python evals in any plan") {
    val offenders = plans.filter { case (_, p) =>
      p.contains("BatchEvalPython") || p.contains("ArrowEvalPython") ||
        // scalar Scala UDFs print as UDF(...); the udaf-wrapped typed
        // KMV Aggregator is the sanctioned custom-agg surface
        p.contains(" UDF(")
    }.keys
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
