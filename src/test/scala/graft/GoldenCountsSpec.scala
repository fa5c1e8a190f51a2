package graft

/** Golden regression pins (SURVEY.md §5.5): every declared query's result
  * cardinality at sf0.01 — the t2 correctness scale — as DuckDB-validated
  * by the survey session (SURVEY.md §2 tables). A count drift means a
  * semantics change, caught before the driver runs.
  */
class GoldenCountsSpec extends SparkSpec {

  val expected: Map[String, Long] = Map(
    "q01_scan_filter_project" -> 1486,
    "q02_pred_complex" -> 644,
    "q03_agg_pricing" -> 6,
    "q04_agg_distinct" -> 3,
    "q05_agg_rollup" -> 31,
    "q06_agg_cube" -> 24,
    "q07_agg_grouping_sets" -> 31,
    "q08_join_inner" -> 5,
    "q09_join_multiway_topn" -> 10,
    "q10_join_left_outer" -> 1500,
    "q11_join_full_outer" -> 25,
    "q12_join_semi" -> 1298,
    "q13_join_anti" -> 538,
    "q14_join_cross" -> 125,
    "q15_join_range_theta" -> 22,
    "q16_join_asof" -> 1981,
    "q17_win_rank" -> 15,
    "q18_win_running" -> 1391,
    "q19_win_lead_lag" -> 10000,
    "q20_win_range_frame" -> 1391,
    "q21_sort_topk" -> 25,
    "q22_union" -> 50,
    "q23_intersect_except" -> 25,
    "q24_string_funcs" -> 2000,
    "q25_date_funcs" -> 15000,
    "q26_math_funcs" -> 8590,
    "q27_case_null" -> 1500,
    "q28_json_extract" -> 5,
    "q29_array_ops" -> 10,
    "q30_tumbling_window" -> 3385,
    "q31_sliding_window" -> 2883,
    "q32_session_window" -> 9549,
    "q33_dedup_keep_first" -> 750,
    "q34_dedup_exact_text" -> 500,
    "q35_jaccard_neardup" -> 9661,
    "q36_cosine_topk" -> 50,
    "q37_tfidf_top_term" -> 500,
    "q38_star_denorm" -> 60000,
    "q39_wordcount_topn" -> 20,
    "q40_histogram" -> 71,
    // Extended LLM-pipeline queries (q41+). Counts are deterministic:
    // LSH ops are seeded, fingerprints are xxhash64.
    "q41_text_stats" -> 500,
    "q42_quality_langid" -> 500,
    "q43_minhash_neardup" -> 30328,
    "q44_simhash_neardup" -> 17,
    "q45_cosine_neardup" -> 106,
    // 50 = full top-5 for all 10 probes since the r4 multi-table
    // multi-probe upgrade (recall 0.94 vs exact; was 17 exact-bucket).
    "q46_ann_lsh" -> 50,
    "q47_fingerprint_dedup" -> 500,
    "q48_media_features" -> 500,
    "q49_curation_pipeline" -> 500,
    "q50_split_assign" -> 500,
    // Analytics surface (q51+, round 4) — all DuckDB-oracle-matched.
    "q51_stats_moments" -> 6,
    "q52_pivot_status" -> 7,
    "q53_percentile_price" -> 5,
    // 59 = the day-grain retention triangle's populated cells at sf0.01.
    "q54_cohort_retention" -> 59,
    "q55_funnel_stages" -> 1,
    "q56_bigram_topn" -> 20,
    "q57_decontam_overlap" -> 480,
    // Oracle-checked md5-family twins of the rows-only q44/q43 (round 4).
    "q58_simhash_md5" -> 13,
    "q59_minhash_md5" -> 25320,
    // Round-4 additions: oracle-checked clustering, linkage, LM scoring.
    "q60_dedup_clusters" -> 359,
    "q61_fuzzy_join" -> 873,
    "q62_lm_bigram_score" -> 500,
    "q63_outlier_zscore" -> 303,
    "q64_ngram_jaccard" -> 13,
    "q65_conversion_latency" -> 13,
    // q66 (round 9): semantic dedup emits one row per embedding vector.
    "q66_semantic_dedup" -> 500,
    // q67 (round 9): 500 docs pack into 551 (sequence, doc-slice) rows
    // at 512 tokens/sequence — 500 docs + 51 straddles.
    "q67_pack_sequences" -> 551,
    // q68 (round 10): the five languages' 2000-token quotas fill after
    // 181 docs at sf0.01 (oracle-matched; count is budget-driven, so it
    // tracks doc length, not corpus size).
    "q68_mixture_sample" -> 181,
    // q69 (round 11): per-language budgets (en 3000/de 800/es 500/
    // zh 1200, fr unlisted) fill after 110 docs at sf0.01
    // (oracle-matched; budget-driven like q68).
    "q69_mixture_budgets" -> 110,
    // q70 (round 11): one row per document — the vocab tokenizer's
    // counts, value-checked by the recursive-CTE maximal-munch replay.
    "q70_vocab_tokens" -> 500,
    // q71 (round 11): full top-5 for all 10 probes — the Hamming ≤ 3
    // multi-probe always finds ≥ 5 candidates on this corpus.
    "q71_ann_planes" -> 50,
    // q72 (round 11): one row per TOKEN (the exploded segmentation) —
    // the corpus tokenizes to 107193 Q70Vocab tokens at sf0.01,
    // value-checked id-for-id by the oracle's arg_max replay.
    "q72_vocab_token_ids" -> 107193,
    // q73/q74 (round 11): one row per document — repetition signals
    // and the boilerplate-scrubbed rewrite, both oracle-matched.
    "q73_repetition_stats" -> 500,
    "q74_boilerplate_scrub" -> 500,
    // q75 (round 11): one row per packed-token position — the payload
    // materializer emits exactly q72's stream, so the counts match.
    "q75_packed_token_ids" -> 107193,
    // q76/q77 (round 11): one row per document — the substring-level
    // window-dedup profile and its keep-first scrub, both oracle-
    // matched (the windows themselves are corpus-derived; the planted
    // near-dup families give 1015 cross-doc duplicate 8-windows at
    // sf0.01, so the signal is non-degenerate).
    "q76_window_stats" -> 500,
    "q77_window_scrub" -> 500,
    // q78 (round 11): one row per document — the portable PII scrub
    // counts + redaction, oracle-matched stage for stage.
    "q78_pii_scrub" -> 500,
    // q79 (round 11): corpus-derived sqrt-temperature mixture — 42
    // picks fill the 2000-token budget across the sf0.01 languages
    // (budget-driven like q68/q69, not corpus-proportional).
    "q79_temperature_mixture" -> 42,
    // q80 (round 11): one row per document — the shuffle-shard
    // assignment is a permutation, oracle-matched rank for rank.
    "q80_shard_shuffle" -> 500,
    // q81 (round 11): 15-per-source cap x 20 sources — the cap bites
    // on every source (25 docs each at sf0.01).
    "q81_source_cap" -> 300,
    // q82 (round 11): epoch-repeat mixture — de contributes 2 exact
    // epochs (140), zh 2 + a prefix, en a partial first epoch.
    "q82_epoch_mixture" -> 396,
    // q83 (round 11): near-dup pairs straddling the q50 split — ~34%
    // of q59's 25320 pairs land on differing splits (the 80/10/10
    // cross terms).
    "q83_split_leakage" -> 8565,
    // q84 (round 12): one row per embedding vector — the
    // literal-quantizer semantic dedup, value-checked stage for stage
    // by its DuckDB oracle (the q66 twin).
    "q84_semantic_dedup_cells" -> 500,
    // q85 (round 12): near-dup COMPONENTS spanning >= 2 of q50's
    // splits at sf0.01 — 4 pair components plus the planted family's
    // 341-doc component touching all three splits.
    "q85_transitive_leakage" -> 5,
    // q86 (round 13): one row per increment doc (doc_id % 10 >= 7,
    // 30% of the 500-doc corpus) — incremental dedup verdicts,
    // oracle-matched value for value.
    "q86_incremental_dedup" -> 150,
    // q87 (round 13): corpus vectors within cosine 0.35 of the 1-in-40
    // benchmark slice — embedding-space decontam, oracle-matched
    // (n_hits, max_sim) value for value.
    "q87_semantic_decontam" -> 17,
    // q88 (round 13): one row per increment vector (vec_id % 10 >= 7,
    // 30% of the 500-vector corpus) — incremental semantic dedup
    // verdicts, oracle-matched value for value.
    "q88_incremental_semantic" -> 150,
    // q89 (round 13): one row per (lang, cell) — 5 languages × the 4
    // q84 cells, every combination populated at this corpus size;
    // counts and shares oracle-matched value for value.
    "q89_cell_balance" -> 20,
    // q90/q91 (round 14): the index-advance replays — one row per
    // increment doc/vector, same cardinality (and same oracle) as the
    // single-batch q86/q88 they must reproduce.
    "q90_index_advance" -> 150,
    "q91_semantic_advance" -> 150,
    // q92 (round 14): one row per increment doc — the stored-index
    // substring screen, oracle-matched (q76 restricted) value for
    // value.
    "q92_incremental_window" -> 150,
    // q93 (round 16): the COMPOSED ingest day (advanceTrainingSet) —
    // admissions from the 150-doc increment after the fp screen, the
    // lexical near-dup screen, and the q69 budget fill; every value
    // oracle-matched (the md5Fps declared-twin family makes all three
    // stages engine-expressible).
    "q93_pipeline_day" -> 42,
    // q94 (round 16): one row per COLLIDING MinHash band value — the
    // lexical band-occupancy monitor (q89's twin); band values, doc
    // counts, and pair masses oracle-matched against the shared q59
    // chain's bd CTE.
    "q94_band_occupancy" -> 115,
    // q95 (round 17): q93's composed day with substring scrub +
    // lexical decontamination ON — one fewer admission than q93 at
    // this SF (the scrub shrinks token counts and the decontam drops
    // benchmark-overlapping docs, shifting the budget fill); every
    // value oracle-matched.
    "q95_pipeline_day_full" -> 41,
    // q96 (round 17): the composed day with the semantic stages ALSO
    // on (literal q84 quantizer) — semantic decontam vs the q87 slice
    // and the q88-style screen drop 18 more candidates than q95 at
    // this SF; every value oracle-matched.
    "q96_pipeline_day_max" -> 23
  )

  test("queries/oracleSql keys line up") {
    assert(SparkEntry.queries.keySet === expected.keySet)
    // Rows-only ops (no SQL twin) legitimately omit an oracle; every
    // oracle must belong to a declared query.
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    val oracleLess = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(oracleLess === Set("q43_minhash_neardup", "q44_simhash_neardup",
      "q46_ann_lsh", "q48_media_features", "q49_curation_pipeline",
      "q66_semantic_dedup"))
  }

  expected.toSeq.sortBy(_._1).foreach { case (name, rows) =>
    test(s"$name has $rows rows at sf0.01") {
      assert(SparkEntry.queries(name)(spark, sf001).count() === rows)
    }
  }

  // Value-checksum pins for the five rows-only queries (VERDICT r8 #4):
  // the driver's oracle can't value-check them (no SQL twin), so their
  // correctness gate was cardinality-only — a wrong value in a kept row
  // passed. Probe.resultChecksum sums per-row xxhash64 over the
  // name-sorted columns (order-independent, duplicate-sensitive): ANY
  // one-value perturbation moves the pin. Values from
  // `runMain graft.Probe checksums <dir> <query...>` (PinProbe's
  // `checksums` mode up to commit 17bc3cf), printed twice per query per
  // scale to prove stability before pinning.
  val checksumPins: Map[String, (Long, Long)] = Map(
    // (sf0.001, sf0.01)
    "q43_minhash_neardup" -> (8658598272658444332L, -2594333227022566329L),
    "q44_simhash_neardup" -> (5432677851701134176L, 5373648200709804709L),
    "q46_ann_lsh" -> (2382814453070165001L, 692446327345560698L),
    // q48 re-pinned in round 10 (the ONE expected move): image rows now
    // carry real PNG payloads decoded by ImageIO, adding width/height/
    // channels/mean_luma and changing image-row bytes + fingerprints.
    "q48_media_features" -> (4716013549317188663L, 5572361204209523353L),
    "q49_curation_pipeline" -> (-563362517843263286L, -8218274097371909887L),
    // q66 (round 9): the k-means fit input is layout-pinned in the
    // builder, so the checksum is identical across session parallelism
    // and AQE settings (verified local[8]/AQE-on vs local[32]/AQE-off).
    "q66_semantic_dedup" -> (1816174194407065671L, 341103015946632294L)
  )

  checksumPins.toSeq.sortBy(_._1).foreach { case (name, (c0001, c001)) =>
    test(s"$name value checksum at sf0.001 and sf0.01") {
      assert(Probe.resultChecksum(SparkEntry.queries(name)(spark, sf0001)) === c0001)
      assert(Probe.resultChecksum(SparkEntry.queries(name)(spark, sf001)) === c001)
    }
  }

  test("checksum pin trips on a single-value perturbation") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q46_ann_lsh")(spark, sf0001)
    val cols = df.columns
    // Nudge exactly one numeric value in exactly one row; everything
    // else — row count, schema, column order — is unchanged.
    val perturbed = df.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(cols.map(col): _*)))
      .withColumn(cols.head,
        when(col("__rn") === 1, col(cols.head) + lit(1)).otherwise(col(cols.head)))
      .drop("__rn")
    assert(perturbed.count() === df.count())
    assert(Probe.resultChecksum(perturbed) !== checksumPins("q46_ann_lsh")._1)
  }

  test("entry flagship returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() === 6000)
  }

  // sf0.1 scale pins for the three heaviest near-dup pipelines (VERDICT
  // r5 #2). The q60 recursive-CTE oracle cannot run at sf0.1 (its
  // transitive closure is O(Σ component²) rows), but cardinalities and
  // the component-size histogram CAN be pinned — the only guard against
  // a scale-up regression in signature/banding/clustering. The pair
  // counts are ~100× the sf0.01 pins because the testdata's near-dup
  // rate is a constant fraction of ALL doc pairs (≈24% at both scales),
  // so pair counts grow quadratically with the corpus BY DESIGN of the
  // synthetic data — real corpora grow near-linearly (see ScaleSmoke).
  val sf01Pins: Map[String, Long] = Map(
    "q43_minhash_neardup" -> 2968398L,
    "q59_minhash_md5" -> 2528214L,
    "q60_dedup_clusters" -> 3856L,
    // q69 is budget-driven (per-language token budgets), so its count
    // SHRINKS slightly at sf0.1 (denser docs fill the budgets in fewer
    // picks) — the pin guards the fill semantics across the decade, not
    // a corpus-proportional law.
    "q69_mixture_budgets" -> 92L,
    // q71 keeps full top-5 coverage at sf0.1 (bucket occupancy only
    // grows with the corpus).
    "q71_ann_planes" -> 50L,
    // q70 emits one row per document (5000 at sf0.1); the value side is
    // oracle-checked at sf0.01 and thread-invariance-checked (4 vs 16
    // threads, identical checksums — round 11).
    "q70_vocab_tokens" -> 5000L,
    // q72 emits one row per TOKEN: the sf0.1 corpus (5000 docs)
    // tokenizes to 1066725 Q70Vocab tokens — the pin that would catch a
    // scale-only segmentation regression (sf0.01: 107193, oracle-
    // value-checked there).
    "q72_vocab_token_ids" -> 1066725L,
    // q73/q74 are per-document (5000 at sf0.1); both parity-checked
    // against DuckDB at sf0.001/sf0.01/sf0.1 when declared (round 11).
    "q73_repetition_stats" -> 5000L,
    "q74_boilerplate_scrub" -> 5000L,
    // q75 mirrors q72's token count by construction; the pin proves the
    // packed stream neither drops nor duplicates a position at scale.
    "q75_packed_token_ids" -> 1066725L,
    // q76/q77 are per-document (5000 at sf0.1); parity-checked against
    // DuckDB at sf0.001/sf0.01/sf0.1 when declared (round 11).
    "q76_window_stats" -> 5000L,
    "q77_window_scrub" -> 5000L,
    // q78 is per-document (5000 at sf0.1); parity-checked against
    // DuckDB at sf0.001/sf0.01/sf0.1 when declared (round 11).
    "q78_pii_scrub" -> 5000L,
    // q79's budget is fixed (2000 tokens) while sf0.1's docs are the
    // same length distribution over more languages' mass — the fill
    // lands at 39 picks; parity-checked at all three SFs when declared.
    "q79_temperature_mixture" -> 39L,
    // q80 is a permutation of the documents (5000 at sf0.1);
    // parity-checked against DuckDB at sf0.001/sf0.01/sf0.1 when
    // declared (round 11).
    "q80_shard_shuffle" -> 5000L,
    // q81's cap is absolute (15 x 20 sources) — scale grows each
    // source's crawl, not the kept set; parity-checked at all three
    // SFs when declared (round 11).
    "q81_source_cap" -> 300L,
    // q82's budgets are fixed while sf0.1's masses are ~10x, so every
    // lang lands in the partial-first-epoch regime — fewer rows than
    // sf0.01 despite 10x the docs; parity-checked at all three SFs
    // when declared (round 11).
    "q82_epoch_mixture" -> 373L,
    // q83 tracks the q59 pair mass (~2.5M pairs at sf0.1, one planted
    // near-clique) times the cross-split fraction; parity-checked at
    // all three SFs when declared (round 11).
    "q83_split_leakage" -> 869557L,
    // q84 is one row per embedding (2000 at sf0.1); parity-checked
    // against DuckDB at sf0.001/sf0.01/sf0.1 when declared (round 12).
    "q84_semantic_dedup_cells" -> 2000L,
    // q85: 30 near-dup components straddle a split boundary at sf0.1
    // (the giant planted family plus 29 small components). Spark
    // cardinality pin; oracle parity at sf0.001/sf0.01 only — the q85
    // oracle embeds q60's recursive closure, which cannot run at sf0.1
    // (O(sum component^2) reach rows; see the q60 tier caveat).
    "q85_transitive_leakage" -> 30L,
    // q86 is one row per increment doc (1500 at sf0.1) by
    // construction; the verdict-distribution pin below guards the
    // values. Parity-checked against DuckDB at all three SFs when
    // declared (round 13 — the q86 oracle is the q59 chain plus
    // cheap flag joins, no recursive closure, so unlike q60/q85 it
    // RUNS at sf0.1).
    "q86_incremental_dedup" -> 1500L,
    // q87: contamination grows with the corpus (more vectors fall
    // inside the benchmark slice's 0.35 ball as the noise mass grows);
    // parity-checked against DuckDB at all three SFs when declared
    // (round 13).
    "q87_semantic_decontam" -> 182L,
    // q88 is one row per increment vector (600 at sf0.1) by
    // construction; the verdict-histogram pin below guards the values.
    // Parity-checked against DuckDB at all three SFs when declared
    // (round 13 — no recursive closure in its oracle, so like q86 it
    // runs at sf0.1).
    "q88_incremental_semantic" -> 600L,
    // q89: the (lang, cell) key space — languages × nlist — does NOT
    // grow with the corpus (5 × 4 at every SF); only the counts inside
    // it do. Parity-checked against DuckDB at all three SFs when
    // declared (round 13; no recursive closure, runs at sf0.1).
    "q89_cell_balance" -> 20L,
    // q90/q91 (round 14): replay ≡ single batch, so the cardinality
    // laws are q86's/q88's verbatim; the replay-specific values are
    // guarded by the ≡-q86/q88 equality spec (IncrementalDedupSpec)
    // and by the shared oracle at sf0.01.
    "q90_index_advance" -> 1500L,
    "q91_semantic_advance" -> 600L,
    // q92: one row per increment doc, q76's cardinality law restricted
    // to the 30% increment; oracle parity at all three SFs (the q76
    // window chain is linear — no recursive closure).
    "q92_incremental_window" -> 1500L,
    // q93: admissions from the sf0.1 increment (1500 docs) under the
    // same FIXED budgets — the en/de/es/zh caps bind harder as the
    // corpus grows, so admissions grow sublinearly (42 → 253 is the
    // within-budget fill, not a row-per-doc law). Oracle parity at all
    // three SFs when declared (round 16 — the q59 chain + window fill,
    // no recursive closure, runs at sf0.1).
    "q93_pipeline_day" -> 253L,
    // q94: colliding band values grow with corpus size but far slower
    // than docs (most buckets stay singletons; the planted near-dup
    // family concentrates into a few heavy buckets — the exact shape
    // the monitor exists to surface). Oracle parity at all three SFs
    // when declared (round 16; one GROUP BY off the q59 chain's band
    // CTE, no recursive closure).
    "q94_band_occupancy" -> 537L,
    // q95: at sf0.1 the substring and decontam stages measurably NO-OP
    // on this corpus (probed round 17: the unbudgeted survivor sets and
    // token counts are IDENTICAL to q93's — no day survivor shares a
    // ≥8-token run with seed ∪ day or an 8-gram with the doc_id < 20
    // benchmark at this SF), so q95 ≡ q93 row-for-row here and the
    // checksum below pins that equivalence. The stages FIRE at
    // sf0.001/sf0.01 (37 vs q93's 40; 41 vs 42), where the oracle
    // value-checks them; at sf0.1 DuckDB's composed minhash +
    // window-ownership chains spill temp storage past the box's disk
    // (the q60 closure precedent), so scale values pin by checksum.
    "q95_pipeline_day_full" -> 253L,
    // q96: unlike q95's no-op coincidence, the semantic stages FIRE at
    // sf0.1 — 202 admissions vs q93/q95's 253 (the planted embedding
    // families put many day docs within cosine 0.35 of a seed vector) —
    // so this pin guards live full-stage composition at scale; values
    // pin by checksum (same oracle-disk bound as q95).
    "q96_pipeline_day_max" -> 202L
  )

  sf01Pins.toSeq.sortBy(_._1).foreach { case (name, rows) =>
    test(s"$name has $rows rows at sf0.1 (scale pin)") {
      assert(SparkEntry.queries(name)(spark, sf01).count() === rows)
    }
  }

  // sf0.1 VALUE checksums for the rows-only queries (round 10, VERDICT
  // r9 #6) — their value pins previously stopped at sf0.01, so a
  // scale-only value regression (right counts, wrong kept values) had
  // no guard. Values from `runMain graft.Probe checksums <dir> <query...>`, printed
  // twice per query to prove stability before pinning; the test session
  // (different master/AQE/shuffle config than Probe's) re-deriving
  // the same sums is the cross-config determinism evidence. q43 keeps
  // its count pin only: double-evaluating its 2.97M-pair result for a
  // checksum is disproportionate, and banding regressions move counts.
  val sf01ChecksumPins: Map[String, Long] = Map(
    "q44_simhash_neardup" -> 4272896208641840381L,
    "q46_ann_lsh" -> -5938489255412781946L,
    "q48_media_features" -> -570567121808254500L,
    "q49_curation_pipeline" -> -1374469933521563573L,
    "q66_semantic_dedup" -> -6162209095437440095L,
    // q95 (round 17): oracle-declared at sf0.001/sf0.01; at sf0.1 the
    // DuckDB twin exhausts temp disk (see the sf01Pins note), so the
    // composed day's VALUES pin here — checksum printed twice via the
    // Probe checksums path to prove stability before pinning.
    "q95_pipeline_day_full" -> 1453440673242317105L,
    "q96_pipeline_day_max" -> -8058178038747491086L
  )

  sf01ChecksumPins.toSeq.sortBy(_._1).foreach { case (name, pin) =>
    test(s"$name value checksum at sf0.1 (scale pin)") {
      assert(Probe.resultChecksum(SparkEntry.queries(name)(spark, sf01)) === pin)
    }
  }

  test("q86 verdict distribution at sf0.1 (scale pin)") {
    // The giant 3698-doc near-clique dominates: most increment docs
    // near-dup an index doc (dup_old wins the CASE priority), only 9
    // pairs exist solely within the increment, and the keeps are the
    // corpus's unique tail. A banding/acceptance regression moves
    // this histogram long before it moves the 1500-row count.
    val hist = SparkEntry.queries("q86_incremental_dedup")(spark, sf01)
      .groupBy("verdict").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist === Map("dup_old" -> 1134L, "dup_new" -> 9L, "keep" -> 357L))
  }

  test("q88 verdict distribution at sf0.1 (scale pin)") {
    // The planted embedding families put most increment vectors next
    // to an index family mate (dup_old), 33 pairs exist only inside
    // the increment, and the keeps are the noise tail. A centroid or
    // threshold regression moves this histogram before the row count.
    val hist = SparkEntry.queries("q88_incremental_semantic")(spark, sf01)
      .groupBy("verdict").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist === Map("dup_old" -> 417L, "dup_new" -> 33L, "keep" -> 150L))
  }

  test("q60 component-size histogram at sf0.1 (scale pin)") {
    // One giant near-clique of 3698 docs (74% of the corpus — the
    // testdata's near-dup mass is one family), 70 doc-pairs, 6 triples.
    // A banding or propagation regression would fragment the giant
    // component long before it changed the total row count.
    val hist = SparkEntry.queries("q60_dedup_clusters")(spark, sf01)
      .select("keeper", "component_size").distinct()
      .groupBy("component_size").count().orderBy("component_size")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist === Map(2L -> 70L, 3L -> 6L, 3698L -> 1L))
  }
}
