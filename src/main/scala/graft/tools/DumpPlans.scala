package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Regenerates PLANS.md: the formatted physical plans of the headline
  * queries with the scale-relevant properties called out. Run after
  * changing any operator's plan shape:
  *   sbt "runMain graft.tools.DumpPlans"
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val notes = Map(
      "s8_scan_project" -> "Filter + projection reach the parquet scan (PushedFilters / pruned ReadSchema) — at 100 TB this is the difference between reading 2 columns and reading 16.",
      "j1_similarity_join" -> "Candidate side collected into ONE sorted candidate-table row and broadcast (a 1-row BroadcastNestedLoopJoin); the matchargmax kernel scores each left row against it at a running floor and emits its best accepted candidate or null, so no pair rows materialize; duplicate left keys meet in a partial-aggregating min(struct), shuffling at most one row per left key per partition.",
      "j1_blocked_join" -> "Scale path: keyword tokens exploded, stop-token frequency filter broadcast, equi-join on token replaces the cross product; shuffle volume is the sum of block sizes.",
      "d2_minhash_pairs" -> "Signature table persisted once; band explode + equi-join generates candidates (O(docs x bands) shuffle); the wide shingle arrays never shuffle — the corpus streams against the broadcast pair list twice.",
      "a2_pricing_summary" -> "Partial (map-side) + final hash aggregation — one narrow shuffled row per group per partition.",
      "a6_argmax" -> "Argmax as partial-agg max(struct(...)) — no per-group global sort; the oracle runs the equivalent row_number window.",
      "n1_ann_bruteforce" -> "Query set broadcast, corpus streamed once; rank window sees only (ids, cosine).",
      "x1_salted_agg" -> "Two-stage salted aggregation: hot keys split over salt buckets in stage 1, tiny re-merge by key in stage 2.",
      "d6_simhash_neardup" -> "Banded hamming-LSH: fingerprints persisted once, candidates from an equi-join on exact 16-bit slices, bit_count(xor) verification — O(docs x bands) shuffle, never O(docs^2).",
      "n3_ann_ivf" -> "IVF: median centroids from one groupBy, probes broadcast, corpus equi-joined on cluster id only — no corpus-wide scoring.",
      "g3_multijoin_topk" -> "3-way join with selective filters pushed to each scan; grouped integer revenue with partial aggregation; TakeOrdered top-10.",
      "d5_embedding_neardup" -> "LSH-bucket blocking (no label column needed): per-vector buckets from one native-kernel pass, self-equi-join on (table, bucket), distinct slim (id,id) pairs, vectors re-joined by id only for colliding pairs — cosine never runs on the cross product.",
      "x3_approx_stats" -> "KMV bottom-k distinct: map-side partial dedup bounds the exchange to O(n_distinct) longs, TakeOrdered(k) replaces any global sort; the three 1-row aggregates cross-join via broadcast.",
      "y1_asof_join" -> "As-of join as union-merge: no inequality join anywhere — both sides union, one window sort per user fills the latest purchase payload forward; linear shuffle instead of per-key O(L x R).",
      "y2_range_join" -> "Range join as bucket decomposition: intervals explode onto covering buckets, points hash-join on bucket id, exact bound re-checked — no BroadcastNestedLoopJoin in the tree.",
      "c1_decontaminate" -> "Decontamination: both corpora explode to 8-byte gram hashes, distinct per doc bounds the shuffle, join on the hash only — doc texts never appear in a shuffle and nothing is doc x doc.",
      "t7_tfidf_topk" -> "TF-IDF: per-doc term counts stay linear (explode + partial agg); the vocabulary-sized doc-frequency table and the 1-row corpus count broadcast back onto them; integer score, per-doc top-k window.",
      "t8_boilerplate" -> "Boilerplate ratio: one distinct per-doc gram-hash pass reused (persisted) for both the frequency count and the per-doc totals; the high-frequency head set broadcasts — the corpus gram stream is never self-joined.",
      "p4_source_balance" -> "Source-mix balancing: per-source token totals and their global min are two tiny aggregates broadcast back; the keep decision is a narrow hash filter — one linear pass over the corpus.",
      "p2_stratified_sample" -> "Stratified sample: a 1024-bucket hash histogram per stratum (partial agg) broadcasts per-stratum bucket edges back; only rows at or below the edge enter the rank window — window input is ~k + |stratum|/1024 rows, never the whole stratum.",
      "n4_ann_ivf_lloyd" -> "IVF + one Lloyd round: reassignment streams the corpus against broadcast centroids and slims to (id, cluster, cdist) BEFORE the argmin window; median re-centroids are one partial-aggregated groupBy; probe and score equi-join on cluster id only.",
      "n5_ann_pq" -> "PQ ANN: the corpus-wide stage carries (id, 8-int code) — ~8x less than the float embedding payload; encode/decode are codegen'd folds over literal codewords; full vectors re-join by id only for the rerank x k survivors.",
      "d8_sig_verified_neardup" -> "Signature-estimate verification: the store side is (id, sig, bands) only; agreement is the codegen'd SigAgree kernel over two 16-long arrays (the zip_with/aggregate twin was CodegenFallback — interpreted per candidate pair) — no shingle arrays anywhere in the plan.",
      "m2_ppm_decode" -> "Multimodal decode: payload assembly is a codegen'd expression and the codec runs as a narrow mapPartitions — no exchange anywhere before the final presentation sort, so a 100 TB binary corpus decodes at scan speed.",
      "y4_band_join" -> "Band join as +/-1-bucket decomposition: hash join on (user, bucket) with the exact |diff| <= delta re-check as the post-join filter — no BroadcastNestedLoopJoin; shuffle is 3|L|+|R| slim rows.",
      "y5_interval_overlap" -> "Interval overlap via bucket decomposition: both session sides explode onto covering buckets, equi-join on bucket, exact overlap + anchor-bucket emit-once filter — no pair DISTINCT and no nested-loop time join.",
      "t9_scrub_boilerplate" -> "Span scrub: slim (id, pos, hash) gram stream; shared head set broadcast; only shared occurrences' covered positions shuffle back per doc; the final token filter is a narrow array op — text bytes never enter an exchange.",
      "n7_knn_join" -> "kNN JOIN (query set = corpus): candidates from a sign-LSH bucket SELF-equi-join over slim (id, table, bucket) rows — O(N x tables) shuffle, never N^2; embedding payloads re-join by id only for colliding pairs; the rank window sees (ids, cosine) only.",
      "t10_heavy_hitters" -> "Exact heavy hitters: Misra-Gries summaries run as a narrow mapPartitions (no exchange carries the vocabulary tail); the tiny candidate superset broadcasts onto the token stream; one exact recount + integer cutoff makes the sketch's output exact.",
      "x4_zorder_stats" -> "Z-order stats: the Morton interleave lowers to pure codegen'd shift/mask/add longs over the scan; one partial-aggregated groupBy on the z-bucket — the layout writer reuses the same z-value for range-partitioned clustered writes.",
      "w7_funnel" -> "Conversion funnel: the sequential stage dependency runs as three unordered per-user window minima over ONE partitioning — the event stream hash-shuffles on user_id exactly once; no self-join, no per-stage re-read of the stream.",
      "x6_grouped_kmv" -> "Grouped KMV: per-group bottom-k hashes located by a WindowGroupLimit partial — each map task keeps k rows per group before the exchange; no group ever sorts its full distinct set.",
      "x7_kmv_overlap" -> "KMV set algebra: two sketch builds (distinct -> TakeOrdered(k)) and sketch-sized semi-joins estimate |A|, |B|, |union|, |intersection| — the corpus and held-out gram sets are never joined against each other.",
      "d10_pq_neardup" -> "PQ-screened near-dup: one persisted corpus pass computes LSH buckets + PQ codes; pairs block on the bucket equi-join, screen via the PqPairDot kernel (dot straight off the codebooks — no per-collision decode materialization), and only approx-survivors re-join the full vectors for the exact cosine.",
      "d12_span_dedup" -> "C4 span dedup: keep-first is a partial-aggregable min(struct) on the full 128-bit span md5 — a hot boilerplate span collapses map-side before the exchange instead of skewing one reduce key (a window rank would ship every copy); span text rides exactly two exchanges (distinct-span argmin, per-doc regroup); the count join moves (id, n_spans) only.",
      "d13_incremental_span_dedup" -> "Incremental span scrub: only the batch explodes to spans; the store probe is a hash LEFT ANTI join on span_md5 against a membership set of one hash per distinct span — no text, no positions, no corpus re-read; two-layer keep-first (intra-batch argmin, then store anti-join) equals the full recompute.",
      "d14_winnowing_overlap" -> "Winnowing overlap: fingerprinting is scan -> single-pass kernel -> explode — the gram stream (w/2 x the fingerprint table) never leaves its scan task, zero exchanges before the checkpointed ~2/(w+1)-density fingerprint table; the df cap drops corpus-ubiquitous fingerprints BEFORE the self-join so no fingerprint fans out quadratically.",
      "p9_epoch_ordinals" -> "Global ordinals: range partition on the order keys -> local rank -> O(partitions)-row offset aggregate broadcast back; the eager checkpoint freezes ONE physical partitioning before spark_partition_id is read from two subtrees (AQE coalescing or fresh boundary sampling would otherwise corrupt ordinals); no single-partition global window anywhere.",
      "t11_oov_unk" -> "OOV/UNK rewrite: the kept vocabulary (high-df head, small by construction) broadcasts onto the positional token stream as a hash ANTI-join; only OOV positions shuffle back per doc; the rewrite itself is a narrow kept/oov position merge (array_except + sort) — linear per doc, and the only BNLJ is the 1-row nDocs scalar cross.",
      "t12_bigram_fluency" -> "Bigram fluency: the corpus bigram stream materializes once (eager checkpoint) and feeds both the count aggregate and the join probe; the count table joins by key with no broadcast assumption — a real bigram vocabulary can exceed broadcast size; integer-exact sum DIV count.",
      "t13_classifier_score" -> "Linear-model scoring: the vocabulary head comes from TakeOrderedAndProject (per-partition heap top-k, no global sort); the model join is unhinted so AQE broadcasts a small model but shuffle-hashes a multi-million-feature one; single pass — every doc survives the explode, the model joins LEFT onto the token stream, and one groupBy recovers n_tokens/n_hits/score together (no second corpus scan, no rejoin); text never enters an exchange.")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the headline operators\n\n")
    sb.append("Regenerate with `sbt \"runMain graft.tools.DumpPlans\"` ")
    sb.append(s"(AQE on, local[4], ${d}). Each plan is the shape the operator\n")
    sb.append("is DESIGNED to produce at scale; PlanSpec asserts the load-bearing\nproperties so they cannot regress silently.\n")
    for ((name, note) <- notes.toSeq.sortBy(_._1)) {
      val df = graft.SparkEntry.queries(name)(spark, d)
      df.collect() // materialize so AQE final plan exists
      val plan = df.queryExecution.executedPlan.toString
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      // keep the tree + scan detail lines, drop codegen ids noise
      sb.append(plan.linesIterator.take(60).mkString("\n"))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("PLANS.md written")
    spark.stop()
  }
}
