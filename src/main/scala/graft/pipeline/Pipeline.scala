package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Names
import graft.operators.{Dedup, MatchJoin, Quality}

/** The full reference pipeline re-expressed as dataflow:
  * `[t1, t2] >> t3 >> t4` (airflow/dags/etl_pipeline.py:58) becomes
  * plain DataFrame dependencies — t3 consumes t1/t2 outputs, t4 reads
  * t3's; process/thread boundaries become stages and the driver-memory
  * candidate list becomes a broadcast (SURVEY.md §3.1).
  */
object Pipeline {

  /** t3' stage 1: candidate cleaning (reference scripts/
    * entity_matching.py:323-358): non-empty-name predicate (F-4), title
    * extraction (F-8), validity filter (F-5), normalization gate (F-6). */
  def cleanCandidates(cc: DataFrame): DataFrame =
    cc.filter(col("company_name").isNotNull &&
        length(trim(col("company_name"))) >= 3)
      .withColumn("extracted_name", Names.extractFromTitle(col("company_name")))
      // Catalyst substitutes extracted_name into the pushed-down
      // predicates below — harmless since F-5..F-8 are single compact
      // expression nodes (graft.plans.NameExprs), not regex chains; no
      // pinning exchange needed.
      .filter(Names.isValidCompanyName(col("extracted_name")))
      .withColumn("norm_check", Names.normalizeName(col("extracted_name")))
      .filter(length(col("norm_check")) >= 3)
      .drop("norm_check")

  /** t3' stage 2+3: similarity join + unified assembly
    * (reference :380-485). abr must carry the staging_abr columns; cc
    * must carry (idCol, website_url, company_name, industry). Output =
    * unified_companies minus the insert-time timestamp.
    *
    * The default match is [[MatchJoin.broadcastJoin]]: the cleaned
    * candidates collapse into one broadcast candidate table and every
    * ABR row is scored against it by the argmax kernel — exact, but
    * O(N×M) scoring work.
    *
    * `blockTokenFreq = Some(f)` swaps the exact broadcast product for
    * [[MatchJoin.blockedJoin]] with stop-token frequency `f` — the
    * composition a 100 TB deployment runs: the exact product degrades
    * superlinearly once the candidate side outgrows its broadcastability
    * envelope (measured 4.8× wall for 2× data at x200 — SCALE.md),
    * while token blocking keeps pair volume at the sum of block sizes
    * (23× cheaper at x100). Recall bound: a pair sharing no sub-`f`
    * keyword token is never scored; at cutoff 80 the unscored pairs are
    * near-exclusively digit-only-token near-matches (SCALE.md round-9
    * recall analysis — cap-invariant from 1000→20000). */
  def buildUnified(abr: DataFrame, cc: DataFrame, ccId: String, cutoff: Int,
                   blockTokenFreq: Option[Long] = None): DataFrame = {
    // No persist: the cleaned candidate table feeds two consumers, but
    // the cleaning stage is a narrow map of compact expressions —
    // recomputing it is cheaper than a persist stage (measured both
    // ways; the candidate side is the small side by construction).
    val cand = cleanCandidates(cc)
    val abrSide = abr.select(col("abn"), col("entity_name"))
    val candSide = cand.select(col(ccId), col("extracted_name"))
    val matches = (blockTokenFreq match {
      case Some(f) => MatchJoin.blockedJoin(
        abrSide, "abn", "entity_name", candSide, ccId, "extracted_name", cutoff, f)
      case None => MatchJoin.broadcastJoin(
        abrSide, "abn", "entity_name", candSide, ccId, "extracted_name", cutoff)
    }).select(col("left_key").as("m_abn"), col("right_key").as("m_cand"),
        col("merged_confidence"))
    val ccCols = cand.select(col(ccId).as("cand_id"), col("website_url"),
      col("extracted_name").as("company_name"), col("industry"))
    // assembly joins UNHINTED (the pairsFromSigs convention): AQE
    // broadcasts the cleaned candidate table while it is small and
    // falls back to shuffle-hash when it is not — a forced broadcast
    // would fail exactly at the scale the blockTokenFreq path exists
    // for (the candidate side past its broadcastability envelope)
    val full = matches
      .join(abr, col("m_abn") === col("abn"))
      .join(ccCols, col("m_cand") === col("cand_id"))
      .select(col("abn"), col("entity_name"), col("entity_type"), col("entity_status"),
        col("address"), col("postcode"), col("state"), col("start_date"),
        col("website_url"), col("company_name"), col("industry"),
        col("merged_confidence"))
    // S-2/J-5: ON CONFLICT (abn) DO NOTHING — keep-first per abn. The
    // survivor among duplicate-abn rows is DETERMINISTIC: highest
    // confidence first, full payload as tie-break (ordering by the
    // partition key itself would make the kept row an accident of
    // shuffle order, and two identical runs would disagree)
    Dedup.keepFirst(
        full.withColumn("__first_ord", struct(
          (-col("merged_confidence")).as("neg_conf"), col("entity_name"),
          col("company_name"), col("website_url"), col("industry"),
          // the FULL payload, literally: omitting any column makes the
          // survivor arbitrary whenever rows tie on the listed ones
          // (two staging copies of one abn differing only in address
          // would flip between runs)
          col("entity_type"), col("entity_status"), col("address"),
          col("postcode"), col("state"), col("start_date"))),
        "abn", "__first_ord")
      .drop("__first_ord")
  }

  /** t4': quality report over the unified table (reference
    * scripts/run_quality_checks.py → Quality operators). */
  def qualityReport(unified: DataFrame): DataFrame =
    Quality.conditionalCounts(unified, Seq(
      "null_website" -> col("website_url").isNull,
      "null_industry" -> col("industry").isNull,
      "low_confidence" -> (col("merged_confidence") < 90),
      "perfect" -> (col("merged_confidence") === 100)))
}
