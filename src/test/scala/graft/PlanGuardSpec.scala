package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-surface plan guardrail: every declared query's physical plan is
  * built (sf0.001) and screened for the shapes that kill 100 TB runs. A
  * new query — or a refactor of a shared operator — that plans a cartesian
  * product or an unexpected nested-loop join fails here, not in
  * production. This automates the plan audit (`graft.tools.PlanAudit`) as
  * a regression gate; per-operator plan *assertions* (bucketed join rides
  * bucketing, k-means argmin is a hash aggregate, …) live in their
  * operator specs.
  */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** Queries allowed a BroadcastNestedLoopJoin, each for a documented
    * reason: the build side is bounded (a broadcastable constant-size
    * frame), so the nested loop never touches an unbounded pair space.
    */
  val bnljAllowed: Map[String, String] = Map(
    // non-equi range predicate over a filtered, broadcast dim — BNLJ IS
    // the right physical shape for a theta join with a tiny build side
    "q18_range_join" -> "theta join, broadcast dim side",
    // labeled exact baselines: the all-pairs score IS the semantics, and
    // the broadcast side is the bounded query/probe set
    "sim_topk" -> "brute-force exact baseline (labeled)",
    // exact top-k feeding the mutual join — the corpus side is the
    // broadcast build, the data-to-data mutual match is an equi-join
    "sim_mnn" -> "exact top-k baseline feeding the mutual equi-join",
    // the index path itself is probes + cell equi-joins; the BNLJ comes
    // from the LABELED exact-MNN baseline the recall audit compares to
    "sim_mnn_ivf" -> "labeled exact-MNN recall baseline x IVF mutual set",
    // 1-row moment/total frames crossed together (the kappa pattern) —
    // kruskal: 1-row group-term sum x 1-row tie totals
    "q159_kruskal" -> "1-row term aggregate x 1-row tie totals",
    // chiSquare's 1-row corpus total crossed onto the contingency cells
    // (the q128 shape, inherited verbatim by the V readout)
    "q157_cramers_v" -> "1-row corpus total x contingency cells",
    // calendar-grain days x type-grain treatments densify (both bounded)
    // plus the 1-row term/tie aggregates crossed at the close
    "q163_friedman" -> "bounded calendar x treatment densify + 1-row closes",
    // the 1-row index total crossed onto the nCells-row occupancy table,
    // plus the build stage's broadcast seed assignment (the sim_ivf shape)
    "sim_ivf_balance" -> "1-row total x nCells occupancy + seed assignment",
    // group x pooled-value densify, BOTH factors cap-enforced (compact
    // domain + maxCells), plus the 1-row total crossed on
    "q164_ks_drift" -> "cap-enforced group x value densify + 1-row total",
    // the q164 densify shape twice (doclen + evval families), inherited
    // by the composed drift->FDR chain
    "q166_drift_fdr" -> "two cap-enforced KS densifies + 1-row totals",
    // 5-row threshold frame theta-joined onto the bounded n_shared
    // histogram (cumulative-ge rollup) — both sides tiny by construction
    "dedup_winnow_yield" -> "5-row thresholds x bounded n_shared histogram",
    // the cell-pair theta join (x_b > x_a) over the maxCells-ENFORCED
    // joint-value table, plus its 1-row margin frames — all bounded
    "q162_kendall" -> "cap-enforced joint-value cell pairs + 1-row margins",
    // bounded query set (vec_id < 50) against the broadcast corpus —
    // the sim_topk shape plus two label equi-joins
    "sim_hard_negatives" -> "bounded query set, exact top-k baseline",
    // 1-row totals frames crossed onto bounded tables (contingency /
    // 9-digit / category-grain) — the scalar-broadcast pattern
    "q143_kappa" -> "1-row pe total x 1-row agreement stats",
    "q149_lift" -> "1-row corpus totals x nBins-row bin table",
    "text_freq_spectrum" -> "1-row mass total x count-grain spectrum",
    "sim_label_confusion" -> "bounded label-centroid table x corpus",
    "q144_benford" -> "1-row corpus total x 9-digit frame",
    "q146_jsd" -> "1-row slice totals x category-grain counts",
    "sim_knn_label" -> "bounded labeled query set vs corpus",
    // index-build stages join each vector to k≈sqrt(N) broadcast seeds /
    // probe cells; the data-to-data path stays an equi-join on cell id
    "sim_ivf" -> "seed/probe assignment vs broadcast sqrt(N) seeds",
    // same bounded seed-assignment crossJoin as sim_ivf, plus the labeled
    // exact-recall baseline (broadcast query set) the oracle compares to
    "sim_ivfpq" -> "broadcast seed cells + labeled exact baseline",
    // the global feasible-total (ONE row) crossed onto the per-source
    // count table (one row per source) — both sides bounded
    "text_mixture" -> "1-row feasible-total frame x per-source thresholds",
    // corpus scalars (N, avg dl) ride the plan as a broadcast 1-ROW
    // aggregate crossed onto every doc — the scalar-broadcast pattern
    // that replaced a driver-side collect (one less full-scan action)
    "text_tfidf" -> "1-row corpus-stats aggregate x docs",
    "text_bm25" -> "1-row corpus-stats aggregate x docs",
    // 1-row query vector scored against the bounded doc-embedding corpus
    // (brute-force side of hybrid retrieval), plus the same 1-row
    // corpus-stats aggregate as text_bm25 on the lexical side
    "sim_rrf_hybrid" -> "1-row query vector + 1-row corpus stats",
    // subject total (ONE row) crossed onto the bounded risk table — the
    // same scalar-broadcast pattern as text_mixture
    "q93_kaplan_meier" -> "1-row subject total x risk table",
    // same broadcast sqrt(N)-seed assignment crossJoin as sim_ivf, on
    // the persisted-index build + probe sides
    "sim_ivf_index" -> "broadcast seed assignment (build + probe)",
    // the append lifecycle probes the same persisted broadcast seed set
    "sim_ivf_append" -> "broadcast seed assignment (probe after append)",
    // the 1-row group-count scalar crossed onto the scored term table
    "text_cluster_topics" -> "1-row group count x (group, term) scores",
    // bigram total (ONE row) crossed onto the PMI-scored phrase table
    "text_phrases" -> "1-row bigram total x phrase candidates",
    "text_phrase_merge" -> "1-row bigram total x phrase candidates (mining stage)",
    // basket total (ONE row) crossed onto the bounded rule table
    "q97_assoc_rules" -> "1-row basket total x rules",
    // the (labels x dims) centroid table — bounded by label cardinality —
    // broadcast against the corpus for nearest-centroid scoring
    "q112_centroid_purity" -> "bounded label-centroid table x corpus",
    // the 1-row contingency total crossed onto the bounded cell table
    "q113_mutual_info" -> "1-row total x contingency cells",
    // the 1-row max-date anchor crossed onto the bounded entity table
    "q111_rfm" -> "1-row anchor date x entity table",
    // the 1-row overall mean crossed onto the 1-row CI-bounds aggregate
    "q123_bootstrap" -> "1-row overall stats x 1-row CI bounds",
    // the 1-row variant means crossed onto the 1-row difference band
    "q124_ab_test" -> "1-row variant means x 1-row difference band",
    // the recall audit runs both sides it compares: the IVF path's
    // broadcast sqrt(N)-seed assignment (sim_ivf's shape) and the labeled
    // brute-force exact baseline over the bounded query set (sim_topk's)
    "sim_recall_audit" -> "broadcast seed assignment + bounded exact baseline",
    // the 1-row contingency total crossed onto the bounded R x C cell
    // table — q113_mutual_info's exact shape
    "q128_chi2" -> "1-row total x contingency cells",
    // the 1-row weight total crossed onto the bounded per-group count
    // table — text_mixture's exact shape
    "text_temperature_mix" -> "1-row weight total x per-group counts",
    // the broadcast k-row codebook crossed onto the corpus — the same
    // deliberate row x k assignment expansion as q54's kmeans rounds
    "sim_silhouette" -> "broadcast k-centroid codebook x corpus",
    // the 1-row positive/negative grand totals crossed onto the bounded
    // per-category count table — q113_mutual_info's exact shape
    "q153_woe" -> "1-row class totals x per-category counts",
    // the recall audit's exact baseline: bounded query set (vec_id < 20)
    // scored brute-force against the corpus at full and truncated dims —
    // sim_topk's labeled all-pairs shape, twice
    "sim_truncation_recall" -> "bounded query set, exact baselines (2 dims)",
    // the 1-row pooled tie aggregate crossed onto the k-row group-pair
    // table — q113_mutual_info's 1-row-total shape
    "q170_dunn_fdr" -> "1-row tie totals x k-row group pairs",
    // the 1-row confusion aggregate crossed onto the 1-row ECE aggregate
    "q175_eval_metrics" -> "1-row confusion x 1-row calibration gap",
    // the 1-row cohort totals crossed onto the duration-grain risk table
    // (kaplanMeier's own shape, already exercised by q93)
    "q176_logrank" -> "1-row cohort totals x duration-grain risk table",
    "q177_nelson_aalen" -> "1-row subject total x duration-grain risk table",
    // the 1-row pooled total (and the two 1-row moment aggregates)
    // crossed onto the bounded k x d grid / 1-row JT mass
    "q178_anderson_darling" -> "1-row total x bounded k x d grid",
    "q179_jonckheere" -> "1-row moment aggregates x 1-row JT mass",
    // the bounded per-label corpus counts joined as the ideal-set size:
    // sim_knn_label's broadcast corpus shape over the vec_id < 50 queries
    "sim_rank_eval" -> "bounded query set x per-label corpus counts")

  test("no query plans a cartesian product or an unlisted nested-loop join") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan =
          try fn(spark, sf).queryExecution.executedPlan.toString()
          catch { case e: Throwable =>
            fail(s"$name: plan construction failed: ${e.getMessage}")
          }
        val cartesian =
          if (plan.contains("CartesianProduct"))
            Some(s"$name: CartesianProduct in plan") else None
        val bnlj =
          if (plan.contains("BroadcastNestedLoopJoin") &&
              !bnljAllowed.contains(name))
            Some(s"$name: BroadcastNestedLoopJoin not on the allow-list")
          else None
        cartesian ++ bnlj
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
