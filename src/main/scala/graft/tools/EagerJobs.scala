package graft.tools

/** Pinned construction job counts for the EAGER (excluded-from-plan-
  * audit) catalog queries — round-10 verdict task 7. The
  * [[ExplainAudit.excluded]] map exempts driver-dispatch queries from
  * the physical-plan audit entirely, so nothing else bounds how much
  * work an eager query's CONSTRUCTION may run: a regression that,
  * say, doubles an optimizer's per-step job count (a lost persist, an
  * accidental extra probe) would be invisible to both the plan audit
  * and the sf0.01 oracle (which only checks answers). This map pins
  * each eager query's non-metadata Spark job count at construction
  * time (sf0.001 unless [[pinScale]] names another scale; the
  * CatalogInventory environment: local[4], shuffle
  * partitions 4, AQE defaults); EagerJobContractSpec re-measures and
  * fails on drift beyond max(2, 25%) slack, naming the query.
  *
  * Regenerate after adding or reworking an eager query:
  * `sbt 'runMain graft.tools.CatalogInventory'` prints a paste-ready
  * block. A count that legitimately changed (a new algorithm with a
  * different pass structure) is updated HERE, in the same commit as
  * the change, where the diff is reviewable.
  */
object EagerJobs {
  val expected: Map[String, Int] = Map(
    "q15_bh_fdr" -> 5,
    "q19_positional_join" -> 2,
    "q24_ngram_jaccard" -> 32,
    "q25_simhash_banded" -> 8,
    "q32_embedding_dedup" -> 11,
    "q33_minhash_lsh" -> 18,
    "q43_tfidf_topk" -> 9,
    "q49_bm25" -> 12,
    "q51_ivf_ann" -> 1,
    "q52_betweenness" -> 11,
    "q53_eigenvector" -> 11,
    "q68_bloom_incremental_dedup" -> 3,
    "q73_semantic_dedup" -> 9,
    "q80_pagerank" -> 11,
    "q90_temperature_sample" -> 2,
    "q93_minhash_clusters" -> 23,
    "q94_ppl_buckets" -> 9,
    "q96_pmi_pairs" -> 14,
    // union-of-per-column-aggregates profile: one job per branch's AQE
    // stage materialization (was 3 with the fused Expand aggregate)
    "q100_profile" -> 9,
    "q104_triangles" -> 17,
    "q116_auc" -> 6,
    "q118_interpolate" -> 6,
    "q120_pareto" -> 4,
    "q121_source_similarity" -> 12,
    "q124_basket_lift" -> 16,
    "q127_clustering_coeff" -> 31,
    "q128_phrase_search" -> 6,
    "q129_golden_records" -> 6,
    "q130_naive_bayes" -> 23,
    "q132_hits" -> 11,
    "q133_kmeans" -> 20,
    "q137_pca" -> 9,
    "q138_pagerank_weighted" -> 11,
    "q139_shortest_paths" -> 11,
    "q141_kcore" -> 3,
    "q149_rfm" -> 4,
    "q152_dbscan" -> 27,
    "q153_item_neighbors" -> 23,
    "q154_link_jaccard" -> 15,
    "q156_hierarchy" -> 19,
    // q160: 6 in a cold CatalogInventory JVM; 9 in the shared-session
    // test JVM (sketch-register evaluation differs with a warm catalog)
    // — pinned at the spec's own environment, where drift is asserted
    "q160_cms_tokens" -> 9,
    "q161_kmv_distinct" -> 9,
    "q168_kaplan_meier" -> 10,
    "q169_closeness" -> 11,
    "q172_bootstrap_ci" -> 7,
    "q181_log_rank" -> 10,
    "q196_by_fdr" -> 7,
    "q211_pr_curve" -> 6,
    "q212_lift_table" -> 2,
    "q225_assoc3" -> 31,
    "q230_modularity" -> 3,
    "q232_nelson_aalen" -> 10,
    "q237_label_prop" -> 34,
    "q239_abc_classes" -> 3,
    "q241_ppr" -> 5,
    "q242_katz" -> 5,
    "q246_identity_stitch" -> 6,
    "q253_mmr" -> 24,
    "q254_trimmed_mean" -> 3,
    // measured-width verify (r15): +1 candidate-checkpoint job, net
    // -2 vs the old shape (the checkpoint also stops a duplicate
    // candidate build the old one-action plan recomputed)
    "q258_containment" -> 22,
    "q261_lorenz" -> 6,
    "q265_curriculum" -> 5,
    "q268_km_summary" -> 10,
    "q281_joinability" -> 44,
    "q292_abc_xyz" -> 4,
    "q296_scc" -> 5,
    "q301_fisher_exact" -> 3,
    "q307_holm_hochberg" -> 5,
    "q308_c_index" -> 2,
    "q310_std_rates" -> 3,
    "q312_kmv_set_ops" -> 7,
    "q323_theil_sen" -> 10,
    "q330_friedman" -> 3,
    "q331_cochran_q" -> 3,
    "q344_hodges_lehmann" -> 7,
    "q354_kendalls_w" -> 3,
    "q372_bayes_ab" -> 3,
    "q376_articulation" -> 5,
    "q377_bridges" -> 5,
    "q378_markov_attribution" -> 9,
    "q379_logistic" -> 19,
    "q384_poisson" -> 22,
    "q385_huber" -> 21,
    "q386_cox_ph" -> 20,
    "q388_conformal" -> 2,
    "q389_aipw_ate" -> 25,
    "q390_hosmer_lemeshow" -> 17,
    "q391_stump_boost" -> 7,
    "q393_mood_median" -> 7,
    "q394_jonckheere" -> 7,
    "q395_brunner_munzel" -> 7,
    "q404_incremental_minhash" -> 8,
    "q406_quantile_reg" -> 37,
    "q409_gmm_em" -> 29,
    "q414_rmst" -> 11,
    "q417_ordinal_assoc" -> 7,
    "q421_url_canon" -> 4
  )

  /** Every graph query and the scale its pin is taken at. At sf0.001 the
    * nation-pair revenue `HAVING` of the catalog's graph edges keeps no
    * edge, so seven of them would pin construction, and the driver branch
    * of each size dispatch they reach, on an empty graph; those are
    * pinned at sf0.01 (25 rows). EagerJobContractSpec asserts that each
    * graph query returns rows at the scale of its pin. */
  val graphPinScale: Map[String, String] = Map(
    "q52_betweenness" -> "sf0.01",
    "q53_eigenvector" -> "sf0.01",
    "q80_pagerank" -> "sf0.01",
    "q132_hits" -> "sf0.01",
    "q138_pagerank_weighted" -> "sf0.01",
    "q139_shortest_paths" -> "sf0.01",
    "q141_kcore" -> "sf0.001",
    "q169_closeness" -> "sf0.01",
    "q241_ppr" -> "sf0.001",
    "q242_katz" -> "sf0.001",
    "q296_scc" -> "sf0.001",
    "q376_articulation" -> "sf0.001",
    "q377_bridges" -> "sf0.001")

  /** The test-data scale `name`'s pin is taken at. */
  def pinScale(name: String): String = graphPinScale.getOrElse(name, "sf0.001")
}
