package graft

import graft.queries.QuerySpec
import org.scalatest.funsuite.AnyFunSuite

/** The query registry's shape: names, oracles and bench variants. Reads
  * the specs only; no query is built and no data is read. */
class QueryRegistrySpec extends AnyFunSuite {
  private val registry = SparkEntry.registry
  private val names = registry.map(_.name)

  test("registry declares 338 unique query names") {
    assert(names.size == 338)
    assert(names.distinct.size == 338)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("every query has an oracle except q313, q315 and q330") {
    assert(registry.filter(_.oracle.isEmpty).map(_.name).toSet ==
      Set("q313_lsh_recall_audit", "q315_isotonic_calibration", "q330_ivf_recall_audit"))
    assert(SparkEntry.oracleSql.size == 335)
  }

  test("the bench runs every query except q53") {
    assert(SparkEntry.benchQueries.keySet == names.toSet - "q53_lsh_margin")
  }

  test("the 35 bench overrides") {
    val overridden = Set(
      "q08_drop_redundant_cdc", "q26_simhash_neardup", "q36_ann_ivf",
      "q38_bucketed_upsert", "q50_bucketed_point_lookup",
      "q51_csv_snapshot_upsert", "q71_incremental_dedup", "q74_neardup_ingest",
      "q91_importance_weights", "q96_lr_train", "q98_kmeans_train",
      "q101_pagerank", "q106_source_divergence", "q110_trustrank",
      "q123_source_minhash", "q124_profile", "q129_top_pc",
      "q144_link_prediction", "q146_lexical_diversity", "q150_twap",
      "q154_harmonic2", "q158_embedding_outliers", "q182_dow_index",
      "q184_bootstrap_means", "q188_mann_whitney", "q189_hits",
      "q197_burstiness", "q198_group_trends", "q215_simpson_check",
      "q236_sparse_cosine", "q256_vector_index", "q261_hamming_index",
      "q271_span_index", "q279_er_index", "q296_stationary_dist")
    assert(overridden.size == 35)
    assert(registry.filter(_.bench.isDefined).map(_.name).toSet == overridden)
  }

  test("a registry with a repeated name is rejected") {
    val spec = registry.head
    val e = intercept[IllegalArgumentException] {
      QuerySpec.registry(Seq(spec, registry(1), spec.copy(oracle = None)))
    }
    assert(e.getMessage.contains(spec.name))
  }

  test("an unbenched query cannot carry a bench prepare") {
    val withBench = registry.find(_.bench.isDefined).get
    intercept[IllegalArgumentException](withBench.copy(benched = false))
  }
}
