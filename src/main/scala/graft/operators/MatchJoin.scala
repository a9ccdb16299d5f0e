package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Names, Similarity}

/** J-1/J-3: the reference's core operator — a multi-strategy fuzzy
  * similarity join (reference scripts/entity_matching.py:380-472).
  *
  * Semantics (deterministic re-specification of the reference loop):
  * for every left row, score every right candidate with
  *   - token_sort_ratio / token_set_ratio / ratio on NORMALIZED names,
  *     each qualifying only at >= cutoff - 20 (reference :417);
  *   - keyword-Jaccard on the RAW names (the reference's deliberate
  *     asymmetry, :430), qualifying at >= 30 (:431);
  * take the per-pair max over qualifying strategies, then the per-left
  * argmax with ties broken by ascending right key (the reference's
  * extractOne keeps the first-listed candidate), and accept iff
  * best >= cutoff (:445). Scores are ints 0..100, truncated.
  *
  * Scale design: normalization / token-sorting / keyword extraction are
  * computed ONCE per input row (N+M regex chains, not N×M) and carried
  * into the pair stage, where only levenshtein + array set-ops run.
  *
  * Physical strategies:
  *  - [[broadcastJoin]]: exact, one pass over the left rows — the right
  *    side is small (the reference holds ~2k CC candidates in driver
  *    memory, :323-349, which is exactly Spark's broadcast shape). The
  *    prepared right side is collected into ONE sorted candidate-table
  *    row, broadcast, and each left row is scored against it by the
  *    [[graft.plans.MatchArgmax]] kernel: the table is decoded once per
  *    task, every candidate is scored at the running floor
  *    max(cutoff, best + 1), and a 100 ends the walk. Still O(N×M)
  *    scoring in the worst case, but no N×M pair rows, no shuffle of
  *    the big side; exact reference semantics.
  *  - [[blockedJoin]]: token-blocking for scale — explode keyword tokens
  *    on both sides, drop tokens more frequent than `maxTokenFreq` on the
  *    right (stop-token skew control: a token shared by every row would
  *    re-create the cross join on one shuffle partition), equi-join on
  *    token, dedup pairs, score only co-blocked pairs. Turns O(N×M) into
  *    O(sum of block sizes); pairs sharing no (rare) keyword token are
  *    unscored — a recall bound vs the exact variant, acceptable at high
  *    cutoffs where such pairs essentially never pass.
  */
object MatchJoin {

  private def prepSide(df: DataFrame, key: String, name: String,
                       prefix: String, minNorm: Int): DataFrame = {
    df.select(col(key).as(s"${prefix}_key"), col(name).as(s"${prefix}_name"))
      .withColumn(s"${prefix}_norm", Names.normalizeName(col(s"${prefix}_name")))
      .filter(length(col(s"${prefix}_norm")) >= minNorm)
      .withColumn(s"${prefix}_sorted", Similarity.tokenSortJoin(col(s"${prefix}_norm")))
      .withColumn(s"${prefix}_set", Similarity.tokenSet(col(s"${prefix}_norm")))
      .withColumn(s"${prefix}_kw", Names.keywordsArr(col(s"${prefix}_name")))
  }

  /** Per-pair best qualifying score over precomputed side columns,
    * evaluated by the custom [[graft.plans.FuzzyBestScore]] expression —
    * one allocation-light pass (banded early-exit levenshtein +
    * merge-join set ops) instead of ~40 interpreted expression nodes.
    * Bitwise-equivalent to the declarative chain in
    * [[graft.functions.Similarity]] that the DuckDB oracle mirrors.
    *
    * Accept-path floor raise (exact): downstream keeps only rows with
    * score >= cutoff, and the score of such a row is the max over its
    * qualifying strategies — a strategy scoring in [floor, cutoff) can
    * neither survive the filter as the max nor change a max that is
    * >= cutoff. Scoring with every strategy floor at `cutoff` therefore
    * yields the identical accepted set and identical confidences while
    * halving the levenshtein band and letting most pairs exit on the
    * zero-allocation length gates. [[broadcastJoin]]'s argmax kernel
    * carries the same argument across one left row's candidates: once a
    * candidate scored `best`, a later one can only win above it, so it
    * is scored at floor max(cutoff, best + 1). */
  private def pairScore(cutoff: Int): Column =
    graft.plans.FuzzyBestScore.column(
      col("left_sorted"), col("right_sorted"), col("left_norm"), col("right_norm"),
      col("left_set"), col("right_set"), col("left_kw"), col("right_kw"),
      cutoff, kwFloor = math.max(30, cutoff))

  /** Per-left argmax with (score desc, right_key asc) tie-break over
    * accepted rows (left_key, left_name, right_key, right_name, score;
    * a null score marks a left row without a match) — as a
    * partial-aggregating groupBy(min(struct)) rather than a window:
    * map-side combine collapses the stream to one row per left key per
    * partition before the only shuffle. A window formulation would
    * shuffle and sort every row. Grouping keeps duplicate left keys to
    * one result, as the reference's keep-first does. */
  private def keepBest(accepted: DataFrame): DataFrame = {
    // min over (-score, right_key, ...): the negation sits on the SCORE
    // (always a kernel int in [0, 100]), never on the right key — a
    // negated key would restrict the operator to numeric keys (ANSI
    // casts a string key to double and throws at runtime; pre-ANSI it
    // silently nulled and INVERTED the documented ascending tie-break)
    val packed = struct((-col("score")).as("neg_score"), col("right_key"),
      col("right_name"), col("left_name"), col("score"))
    // null-score rows drop out inside the aggregate (min skips nulls),
    // not by a filter: a filter would be pushed below the kernel's
    // projection into the join and run the kernel twice per row
    accepted.groupBy(col("left_key"))
      .agg(min(when(col("score").isNotNull, packed)).as("m"))
      .filter(col("m").isNotNull)
      .select(col("left_key"), col("m.left_name").as("left_name"),
        col("m.right_key").as("right_key"), col("m.right_name").as("right_name"),
        col("m.score").as("merged_confidence"))
  }

  /** Broadcast (exact) variant. Result: left_key, left_name, right_key,
    * right_name, merged_confidence — one row per matched left row.
    *
    * Plan: the prepared right side collapses to one row holding the
    * candidate table, `sort_array(collect_list(struct(...)))` — in
    * (right_key, right_name) order, the tie-break order of the per-left
    * min — which broadcasts onto the left rows; [[graft.plans.MatchArgmax]]
    * then yields each left row's best candidate or null. Lazy and
    * Catalyst-only (no action, no driver-side broadcast handle), so
    * equal calls build equal plans and a persisted match is re-used by
    * plan matching. An empty right side collects an empty table. */
  def broadcastJoin(left: DataFrame, leftKey: String, leftName: String,
                    right: DataFrame, rightKey: String, rightName: String,
                    cutoff: Int): DataFrame = {
    val l = prepSide(left, leftKey, leftName, "left", 1)
    val r = prepSide(right, rightKey, rightName, "right", 3)
    val table = r.agg(sort_array(collect_list(struct(col("right_key"), col("right_name"),
      col("right_sorted"), col("right_norm"), col("right_set"), col("right_kw"))))
      .as("candidates"))
    val best = l.crossJoin(broadcast(table))
      .select(col("left_key"), col("left_name"), graft.plans.MatchArgmax.column(
        col("left_sorted"), col("left_norm"), col("left_set"), col("left_kw"),
        col("candidates"), cutoff).as("best"))
    keepBest(best.select(col("left_key"), col("left_name"), col("best.right_key"),
      col("best.right_name"), col("best.score")))
  }

  /** Token-blocked variant for scale. */
  def blockedJoin(left: DataFrame, leftKey: String, leftName: String,
                  right: DataFrame, rightKey: String, rightName: String,
                  cutoff: Int, maxTokenFreq: Long = 1000L): DataFrame = {
    val l = prepSide(left, leftKey, leftName, "left", 1)
    val r = prepSide(right, rightKey, rightName, "right", 3)
    val rTok = r.withColumn("tok", explode(col("right_kw")))
    val freq = rTok.groupBy("tok").count().filter(col("count") <= maxTokenFreq).drop("count")
    val rBlocked = rTok.join(broadcast(freq), "tok")
    val lTok = l.withColumn("tok", explode(col("left_kw")))
    // No pair dedup: a pair sharing t tokens is scored t times with the
    // SAME score, and the downstream per-left max is duplicate-blind —
    // re-scoring the few multi-token collisions is far cheaper than
    // shuffling the wide prep rows through a distinct.
    val pairs = lTok.join(rBlocked, "tok").drop("tok")
    // the accept filter runs BEFORE aggregation (exact: dropping
    // sub-cutoff pairs cannot change a max that is >= cutoff)
    keepBest(pairs.withColumn("score", pairScore(cutoff)).filter(col("score") >= cutoff))
  }

  /** J-3: top-k candidates per left row by token_sort_ratio (the
    * reference's fallback payload, scripts/entity_matching.py:457-469). */
  def topKCandidates(left: DataFrame, leftKey: String, leftName: String,
                     right: DataFrame, rightKey: String, rightName: String,
                     k: Int): DataFrame = {
    val l = prepSide(left, leftKey, leftName, "left", 1)
    val r = prepSide(right, rightKey, rightName, "right", 3)
    val w = Window.partitionBy(col("left_key"))
      .orderBy(col("score").desc, col("right_key").asc)
    l.crossJoin(broadcast(r))
      // exact native ratio (no qualifying floor — ranking needs true
      // scores); value-identical to Similarity.ratio (MatchJoinSpec)
      .withColumn("score", graft.plans.RatioScore.column(col("left_sorted"), col("right_sorted")))
      // slim BEFORE the window: the rank shuffle+sort moves only
      // (key, key, score), not the prep payload columns
      .select(col("left_key"), col("right_key"), col("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
