package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end corpus → training-set pipeline, composed from the
  * library's own operators in the order a production curation run uses
  * them:
  *
  *  1. quality filter   — scan-side, first, so every later (joining)
  *                        stage sees fewer rows
  *                        ([[graft.functions.TextFunctions.curate]])
  *  2. exact dedup      — keep-first by content fingerprint
  *  3. near-dup dedup   — MinHash pairs via the mass-routed
  *                        [[Approx.nearDupAuto]], components via
  *                        [[Approx.dedupClusters]], keepers survive
  *  3b. substring scrub — optional (`substrK`): duplicated ≥ k-token
  *                        runs cut keep-first across the survivors
  *                        ([[SubstringDedup.scrub]])
  *  4. decontamination  — 8-gram containment vs a broadcast benchmark
  *                        set (q57's shape); contaminated docs drop
  *  5. mixture sampling — per-group token budgets in deterministic
  *                        hash order ([[Sampling.quotaSampleBudgets]])
  *  6. sequence packing — the surviving stream, document-shuffled by a
  *                        fresh salted hash, cut into fixed-length
  *                        sequences ([[Packing.packSequences]] with
  *                        `orderCol`; id-order packing would bake
  *                        corpus adjacency INTO sequences, beyond what
  *                        stage 7's sequence shuffle can undo)
  *  7. shuffle + shard  — the packed sequences dealt into balanced,
  *                        hash-shuffled shard files
  *                        ([[shardTrainingSet]] → [[Sharding
  *                        .shuffleShards]]; separate call — a caller
  *                        re-sharding per epoch re-runs only this)
  *
  * Every stage is deterministic (hash-ordered, seeded, or exact), so
  * the whole pipeline is reproducible bit-for-bit from (corpus,
  * benchmark, parameters) — re-running it cannot silently change a
  * training set. Scale notes live with each operator; nothing here
  * adds a shuffle beyond what the stages themselves declare.
  */
object TrainingData {

  /** Hard ceiling on the DEFAULT IVF fit-sample size (rows). 2M
    * points × the testdata's 64-float embeddings ≈ 512 MB of fit
    * input — comfortably distributed-KMeans-sized — while keeping the
    * default fit cost linear in the corpus once 64·nlist would exceed
    * it (see the stage 4c sizing comment). */
  private val FitSampleCap: Double = 2000000.0

  /** nlist above which the AUTO tree-assign default engages — the edge
    * of the MEASURED flat-vs-tree envelope (round-14 sem_xover smoke):
    * end-to-end semanticDedup walls are at parity through 3M vectors /
    * nlist 4800 (1M: flat 61.7 s vs tree 60.0 s; 3M: 288.1 vs 285.0 —
    * Spark ML's norm-pruned flat transform beats the naive O(N·nlist)
    * model the r13 extrapolation assumed; the NAIVE exact assign does
    * follow that law — mip_assign 10.8 → 97.2 s for 3× data — but the
    * operator's flat path doesn't pay it). Within the envelope flat is
    * EXACT and free, so auto keeps it; beyond it the tree WINS,
    * measured (round-15 sem_xover arm, 10M vectors / nlist 16000:
    * flat 2769 s vs tree 2041 s end-to-end — the crossover the r13
    * extrapolation predicted does materialize once nlist outgrows the
    * parity envelope, so the threshold is now measured on BOTH sides:
    * tied at ≤4800, tree −26% at 16000; the exact crossover lies
    * between, where switching early costs the measured ~1–3%).
    * Manual Some(_) always wins. */
  private[operators] val SemTreeAssignNlistThreshold: Int = 4800

  /** The auto rule behind `semTreeAssign = None` — exposed for the
    * plumbing pin in TrainingDataSpec. */
  private[graft] def semTreeAuto(nlist: Int): Boolean =
    nlist > SemTreeAssignNlistThreshold

  /** Stage-scoped sizing for the substring stage (3b) — the r14 300×
    * smoke's measured rule, applied to THIS stage only: the window
    * ownership pass's exchanges size by
    * initialPartitionNum/advisoryPartitionSizeInBytes (the q38/q76
    * decomposition: 512 initial partitions over a ~4 GB exchange keep
    * each task's sort in memory), and preferSortMergeJoin=false lets
    * Spark pick shuffled-hash for the ownership and rebuild joins —
    * eliminating both SMJ sorts, the stage's measured spill surface
    * (q77_sized_shj, COVERAGE r13). Applied session-wide these dials
    * cost +10% wall by re-sizing every OTHER stage (the r14 smoke's
    * finding); scoping means set → materialize the stage → restore, so
    * the rest of the pipeline plans under the caller's confs.
    * files.maxPartitionBytes is deliberately NOT scoped here: stage
    * 3b's input is an upstream pin, not a file scan, so
    * the dial cannot reach the map-side task size mid-pipeline. */
  private[operators] val SubstrStageConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "512",
    "spark.sql.join.preferSortMergeJoin" -> "false")

  /** [[SubstrStageConfs]] plus a 16 MB scan split — the dial set for
    * STORE compactions ([[SubstringDedup.compactWindowIndexStore]],
    * [[compactPipelineState]]'s window roll). Mid-pipeline, stage 3b's
    * input is a pin and `files.maxPartitionBytes` cannot
    * reach it (the SubstrStageConfs comment); a compaction's input IS a
    * parquet scan, and the scan split is the dial that sizes the
    * MAP-SIDE partial hash-aggregate over the near-unique hash keys — a
    * 128 MB default split inflates to a multi-hundred-MB per-task agg
    * map that falls back to sort-spill (measured at 1000×-class:
    * 58.3 s / 6.2 GB spill under SubstrStageConfs alone vs 66.4 s /
    * 7.4 GB unsized — the reduce-side dials barely touch a map-side
    * problem; the 16 MB split is what removes it). */
  private[operators] val CompactStoreConfs: Seq[(String, String)] =
    SubstrStageConfs :+ ("spark.sql.files.maxPartitionBytes" -> "16m")

  /** Day-token bound above which [[advanceTrainingSet]] stops hinting
    * the increment side of its screens as broadcast and lets Spark/AQE
    * plan the joins. Derivation from the measured failure point: a 5M-
    * doc (≈198M-token) seed replayed as one "day" collected 1.03 GB of
    * window-hash broadcast results — over the 1 GB default
    * `spark.driver.maxResultSize` — i.e. ≈6.3 serialized bytes per
    * token-window; 32M tokens ≈ 200 MB of driver collect and a
    * comfortably executor-resident relation, while the measured-good
    * 100×-scale seed (≈20M tokens) stays inside the hinted regime that
    * every day-cost smoke row was recorded under. Real ingest days
    * (≪1% of the corpus) sit orders of magnitude below the bound. */
  private[operators] val BroadcastIncrementMaxTokens: Long = 32L * 1000 * 1000

  /** The companion DOC-count bound: the window-hash broadcast scales
    * with tokens, but the fp-set and semantic-vector broadcasts scale
    * with DOC count — a day of many minimum-length docs (10 tokens
    * each) could pack 3.2M docs under the 32M-token bound while its
    * collected md5 fp set (~48 serialized bytes per 32-hex-char row)
    * approaches driver/broadcast limits. 2M docs ≈ 100 MB of fp
    * collect — the same comfortable envelope the token bound targets
    * (≈200 MB) — so a day must sit under BOTH bounds to keep the
    * forced broadcast hints. The count is one job over the stage-1
    * checkpoint's materialized blocks, no recompute. */
  private[operators] val BroadcastIncrementMaxDocs: Long = 2L * 1000 * 1000

  /** Set `confs`, run `body` (which must MATERIALIZE its result — a
    * lazy frame would plan at first action, after the restore), then
    * restore every key to its prior state. */
  private[operators] def withScopedConfs[A](spark: SparkSession,
                                            confs: Seq[(String, String)])(body: => A): A = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `selected`: the surviving documents — (doc_id, lang, n_tokens,
    * cum_before, pick_pos) per [[Sampling.quotaSampleBudgets]], plus an
    * `epoch` column (one row per doc × epoch) when the build ran
    * `withReplacement`.
    * `packed`: the (seq_id, doc_id, doc_offset, seq_offset, slice_len)
    * slice map over the selected stream per [[Packing.packSequences]].
    * Both are backed by materialized layouts — release with
    * [[Materialized.free]] when done. */
  final case class TrainingSet(selected: DataFrame, packed: DataFrame)

  /** Runs the six-stage pipeline over `docs` (doc_id, text, lang).
    * `benchmark` supplies the eval texts to decontaminate against (any
    * DataFrame with a `text` column; pass an empty one to skip): a doc
    * is dropped when it contains at least `minBenchContainment` of any
    * single benchmark item's 8-grams — the default drops on ANY shared
    * 8-gram. `budgets` maps each lang to its token budget — groups
    * absent from the map are excluded (a mixture is a whitelist);
    * derive them from measured per-lang counts with
    * [[Sampling.temperatureBudgets]] when the mixture is a temperature
    * law rather than hand-picked numbers.
    *
    * `tokenCounter` is the real-tokenizer seam: a Column over the
    * `text` column — typically [[Tokenizer.tokenCount]] over a
    * BPE-style vocab — that REPLACES the whitespace `n_tokens` for the
    * budgeting stages (mixture fill and sequence packing), so budgets
    * mean tokenizer tokens. It sees the ORIGINAL text: redaction here
    * only feeds the dedup fingerprint (`clean_fp` — so docs differing
    * only in PII dedup together); no redacted text column flows
    * through the pipeline, and a caller whose training tokens are
    * post-redaction should redact BEFORE calling (budgets then count
    * what is actually trained on). The QUALITY gate's `minTokens`
    * stays whitespace-based either way (a text-shape filter, not a
    * budget). Default None keeps the whitespace count: the SELECTED
    * set is then bit-identical to rounds ≤ 10, while the packed slice
    * map is NOT — round 11 switched stage 6 to salted-hash pack order
    * (below), so a regenerated set's sequences cut differently from an
    * archived pre-round-11 one by design.
    *
    * `substrK` activates the optional SUBSTRING scrub as stage 3b
    * (between near-dup dedup and decontamination — see the stage
    * comment): duplicated runs of ≥ substrK tokens are cut keep-first
    * across the surviving corpus, token counts re-derive from the
    * scrubbed text, and docs scrubbed to nothing drop. Default None
    * keeps the stage off and the selected set bit-identical to
    * rounds ≤ 13. With the stage on, it runs under the measured spill
    * dials, scoped to the stage alone (see [[SubstrStageConfs]]) —
    * partitioning never changes what the operators compute, only where
    * they spill.
    *
    * `embeddings` (doc_id, embedding) activates the optional SEMANTIC
    * stages 4b/4c between lexical decontam and the mixture (see the
    * stage comment below); `benchmarkEmbeddings` (embedding) is the
    * eval set for stage 4b, `minCosine` the similarity threshold both
    * stages share. The IVF quantizer defaults derive from the measured
    * scale laws — `semNlist` = survivors/625 (constant cell size),
    * `semFitFraction` = a 64-points-per-centroid sample capped at
    * [[FitSampleCap]] rows — and `semTreeAssign` picks the cell-assign
    * implementation: None (default) applies the measured auto rule
    * ([[semTreeAuto]] — exact flat within the proven-parity envelope,
    * the coarse-quantizer tree beyond it), Some(_) forces one arm.
    * Override any of the three for a tuned quantizer.
    *
    * The scored+deduped working set is materialized ONCE (five
    * downstream consumers — the near-dup mass probe, the pair build,
    * the keeper filter, the contamination join, the mixture input —
    * would otherwise each re-run the scoring scan); it and
    * dedupClusters' label checkpoint are FREED before returning, so
    * the only resident blocks are the ones backing the returned
    * DataFrames (release those with [[Materialized.free]]). */
  def buildTrainingSet(spark: SparkSession, docs: DataFrame,
                       benchmark: DataFrame, budgets: Map[String, Long],
                       seqLen: Long = 512L, minJaccard: Double = 0.8,
                       minBenchContainment: Double = 1e-9,
                       minQuality: Double = 0.5, maxRepetition: Double = 0.2,
                       minTokens: Int = 10, salt: Long = 0L,
                       tokenCounter: Option[org.apache.spark.sql.Column] = None,
                       withReplacement: Boolean = false,
                       embeddings: Option[DataFrame] = None,
                       benchmarkEmbeddings: Option[DataFrame] = None,
                       minCosine: Double = 0.35,
                       semNlist: Option[Int] = None,
                       semFitFraction: Option[Double] = None,
                       semTreeAssign: Option[Boolean] = None,
                       substrK: Option[Int] = None): TrainingSet = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions

    // 1+2. Quality scoring scan-side (no self-join — curateColumns
    // keeps the text), then exact dedup keep-first as a window over
    // the post-redaction fingerprint: duplicates differing only in PII
    // dedup together, and the one text-carrying shuffle doubles as the
    // dedup exchange. Materialized: the shared working set.
    val wFp = Window.partitionBy("clean_fp").orderBy("doc_id")
    val exactDeduped = Materialized.pin(
      TextFunctions.curateColumns(docs, minQuality, maxRepetition, minTokens)
        .filter(col("keep"))
        .withColumn("rn", row_number().over(wFp))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("text"), col("lang"), col("n_tokens")))

    // 3. Near-dup dedup: the mass-routed MinHash family finds pairs,
    // connected components pick one keeper per near-dup cluster. Docs
    // in no pair keep themselves (left join, null label).
    val pairs = Approx.nearDupAuto(spark, exactDeduped, minJaccard)
      .select(col("a"), col("b"))
    val labels = Approx.dedupClusters(pairs).toDF("cid", "ckeeper")
    val nearDeduped = exactDeduped
      .join(labels, col("doc_id") === col("cid"), "left")
      .filter(col("ckeeper").isNull || col("ckeeper") === col("doc_id"))
      .select(exactDeduped.columns.toIndexedSeq.map(col): _*)

    // 3b. SUBSTRING scrub (round 14, optional — active when `substrK`
    // is set): rewrite each surviving document with its duplicated
    // ≥ k-token runs removed, keep-first across the whole surviving
    // corpus ([[SubstringDedup.scrub]] — Lee et al. 2022's ExactSubstr
    // rationale: document-level dedup cannot see a boilerplate
    // paragraph shared by otherwise-distinct docs). Placed AFTER
    // near-dup dedup (the cheaper document-level stages shrink the
    // window-hash mass first; a near-dup cluster contributes ONE
    // keeper's windows instead of the whole clique's) and BEFORE
    // decontamination (a scrubbed-away passage is no longer trained
    // on, so it should no longer count as contamination). n_tokens is
    // recomputed from the scrubbed text so the budgeting stages count
    // what is actually trained on — same whitespace rule as stage 1's
    // counter. The OPERATOR never drops a doc (q74's convention); the
    // PIPELINE drops docs scrubbed to nothing — a fully-covered doc
    // is pure repetition and carries zero trainable tokens. Default
    // None keeps the stage off and every existing pin bit-identical.
    // Stage-scoped sizing (round 15, VERDICT r14 #3): the stage's
    // exchanges run under [[SubstrStageConfs]] — the measured spill
    // rule, scoped by materializing the stage output inside the
    // set/restore window so downstream stages plan under the caller's
    // confs (the r14 smoke showed session-wide dials cut the 3.6 GB
    // spill 72% but cost +10% wall on the other stages). The
    // checkpoint is also a plan win on its own: afterSubstr feeds two
    // consumers (the contamination join and the survivor set).
    val afterSubstr = substrK match {
      case None => nearDeduped
      case Some(k) =>
        withScopedConfs(spark, SubstrStageConfs) {
          val scrubbed = SubstringDedup
            .scrub(nearDeduped.select(col("doc_id"), col("text")), k)
            .filter(col("kept_text") =!= "")
            .select(col("doc_id"), col("kept_text"))
          Materialized.pin(nearDeduped.drop("text", "n_tokens")
            .join(scrubbed, Seq("doc_id"))
            .withColumn("text", col("kept_text")).drop("kept_text")
            .withColumn("n_tokens",
              graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
            .select(nearDeduped.columns.toIndexedSeq.map(col): _*))
        }
    }

    // 4. Decontamination via the library's own containment operator
    // (robust \s+ tokenization with empty-token filtering and the
    // full-shingle guard — a benchmark passage split across a newline
    // or double space still matches): drop every doc that contains
    // ≥ minBenchContainment of some benchmark item's 8-grams. Bench
    // ids are content hashes, so the stage stays deterministic for
    // any benchmark row order.
    val benchIds = benchmark.select(col("text")).distinct()
      .select(xxhash64(col("text")).as("doc_id"), col("text"))
    val contaminated = Approx.ngramContamination(spark,
        afterSubstr.select(col("doc_id"), col("text")), benchIds,
        n = 8, minContainment = minBenchContainment)
      .select(col("doc_id")).distinct()
    val lexClean = afterSubstr.join(contaminated, Seq("doc_id"), "left_anti")

    // 4b+4c. SEMANTIC stages (round 13, optional — active only when an
    // `embeddings` frame (doc_id, embedding) is supplied): first
    // semantic decontamination (q87's shape — drop survivors whose
    // embedding lands within `minCosine` of ANY `benchmarkEmbeddings`
    // vector; benchmark broadcasts, corpus streams scan-side), then
    // semantic dedup (q66's production sampled-fit IVF path; keeper =
    // min doc_id, the pipeline's keep-first convention). Docs WITHOUT
    // a vector pass through unjudged — absence of an embedding is not
    // evidence of redundancy. Both stages run on the lexically-clean
    // survivors only, so the embedding work is bounded by what
    // earlier, cheaper stages already kept.
    var semWorkingSet: DataFrame = null
    val clean = embeddings match {
      case None => lexClean
      case Some(embAll) =>
        val emb = embAll.select(col("doc_id"), col("embedding"))
          .join(lexClean.select(col("doc_id")), Seq("doc_id"))
        val afterDecon =
          semDecontamSurvivors(spark, emb, benchmarkEmbeddings, minCosine)
        // Materialize the survivor set before the IVF fit: KMeans
        // persists its input, and computing those cache blocks through
        // this point's long join lineage (lexical stages → anti-joins)
        // trips Spark's sorter-spill NPE under memory pressure at the
        // 100× smoke scale — from checkpoint blocks the fit reads the
        // same shape the standalone semantic_dedup smoke proved.
        // An empty decontam survivor set is legal (every vectored doc
        // matched the benchmark — τ too loose for the embedding
        // distribution, or a genuinely contaminated batch); the IVF
        // fit cannot run on zero rows, and "no survivors" needs no
        // dedup anyway.
        semWorkingSet = Materialized.pin(afterDecon)
        // The IVF quantizer must SCALE with the survivor count or the
        // within-cell pairing degenerates toward all-pairs: at the 100×
        // smoke (~440k survivor vectors) semanticDedup's nlist=8
        // default means ~N²/8 scored pairs — the first cut of this
        // stage sat in exactly that join. The standalone smoke's
        // measured laws apply verbatim: constant ~625-vector cells
        // (nlist = N/625, the O(N) pair mass the 10×→300× decade
        // held), and a BOUNDED fit sample (the full-corpus Lloyd's
        // fit is the other superlinear term — O(N·nlist) with
        // nlist ∝ N). The sample targets 64 points/centroid (floor
        // 50k) but is CAPPED at FitSampleCap: under the nlist ∝ N law,
        // 64·nlist alone is ~10.24% of N — a proportional sample whose
        // fit cost stays O(N²·0.1024/625) forever; the cap makes the
        // default fit O(FitSampleCap·nlist) = linear in N past ~20M
        // survivors, at the price of fewer points per centroid on
        // enormous corpora (acceptable for a dedup quantizer — the
        // cells only partition space, recall rides the within-cell
        // pairing). The count is a cached-block scan of the checkpoint
        // just taken. Callers with a tuned quantizer override both
        // via semNlist/semFitFraction.
        val nVec = semWorkingSet.count()
        val keepers =
          if (nVec == 0L) semWorkingSet.select(col("doc_id"))
          else {
            val nlist = semNlist.getOrElse(
              math.min(1 << 20, math.max(8L, nVec / 625L)).toInt)
            val fitFrac = semFitFraction.getOrElse(
              math.min(1.0,
                math.min(FitSampleCap, math.max(50000.0, 64.0 * nlist)) / nVec))
            // semTreeAssign: None = the MEASURED auto rule — exact
            // flat assign inside the envelope where flat and tree
            // walls are proven tied (nlist <= 4800 / ~3M survivors,
            // the round-14 sem_xover smoke), the coarse-quantizer
            // tree's bounded O(N·√nlist) beyond it (at the pinned
            // boundary-pair recall trade). Some(_) overrides either
            // way (see SemTreeAssignNlistThreshold's derivation).
            Approx.semanticDedup(
                semWorkingSet.select(col("doc_id").as("vec_id"), col("embedding")),
                minSim = minCosine, nlist = nlist, fitFraction = fitFrac,
                treeAssign = semTreeAssign.getOrElse(semTreeAuto(nlist)))
              .filter(col("is_keeper"))
              .select(col("vec_id").as("doc_id"))
          }
        lexClean.join(emb.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .unionByName(lexClean.join(keepers, Seq("doc_id"), "left_semi"))
    }

    // 5. Mixture: per-lang token budgets in salted-hash order. The
    // pluggable counter evaluates here — scan-side over the surviving
    // docs' text, so a codegen'd vocab count adds zero shuffles and
    // only runs on rows that cleared dedup + decontamination.
    val counted = tokenCounter match {
      case Some(c) => clean.withColumn("n_tokens", c.cast("long"))
      case None => clean
    }
    val mixIn = counted.select(col("doc_id"), col("lang"), col("n_tokens"),
      md5(concat_ws(":", lit(salt), col("doc_id").cast("string"))).as("rk"))
    // withReplacement routes through the epoch-repeat fill
    // (quotaSampleEpochs): a group whose budget exceeds its surviving
    // mass repeats its documents across epochs instead of silently
    // capping at one pass — `selected` then carries an extra `epoch`
    // column and one row per (doc, epoch).
    val selected =
      if (withReplacement) Sampling.quotaSampleEpochs(mixIn, budgets)
      else Sampling.quotaSampleBudgets(mixIn, budgets)

    // 6. Pack the selected stream into fixed-length sequences — in a
    // FRESH salted-hash order, not doc_id order: id-order packing puts
    // corpus-adjacent documents (same language, same source run) into
    // the same sequence, a within-sequence correlation stage 7's
    // sequence-level shuffle can never undo. The "pack" prefix
    // decorrelates this order from the mixture's fill order (same
    // salt, different stream), and determinism is untouched. With
    // replacement the hash keys (doc, epoch), so each repeated copy
    // owns its own stream slot (packSequences' per-order-key
    // uniqueness) and the copies scatter across the stream instead of
    // sitting adjacent.
    val packKey =
      if (withReplacement)
        md5(concat_ws(":", lit(salt), lit("pack"),
          col("doc_id").cast("string"), col("epoch").cast("string")))
      else
        md5(concat_ws(":", lit(salt), lit("pack"),
          col("doc_id").cast("string")))
    val packed = Packing.packSequences(
      selected.select(col("doc_id"), col("n_tokens"), packKey.as("prk")),
      seqLen, orderCol = "prk")

    // Both returned frames are backed by their own (quotaSample /
    // packSequences) checkpoints by now; the upstream working set and
    // the clustering labels are dead weight — free them here rather
    // than leaking one O(corpus) block per build (the degradation
    // Materialized.free exists to prevent).
    Materialized.free(labels)
    Materialized.free(exactDeduped)
    if (substrK.isDefined) Materialized.free(afterSubstr)
    if (semWorkingSet != null) Materialized.free(semWorkingSet)
    TrainingSet(selected, packed)
  }

  /** Stage 7 — shuffle + shard the packed sequences for a training
    * launcher: [[Sharding.shuffleShards]] over the packed map's
    * distinct seq_ids (salt = epoch), joined back to the slice map so
    * every slice row carries its (shard, pos) address. The join
    * broadcasts the assignment when it fits and hash-joins on seq_id
    * otherwise — either way the slice payload moves at most once, and
    * a `partitionBy("shard")` writer downstream produces the shard
    * files. One row per input slice row, in any shard exactly the
    * sequences the rank assigns — deterministic from (packed, nShards,
    * salt) like every other stage. */
  def shardTrainingSet(packed: DataFrame, nShards: Int,
                       salt: Long = 0L): DataFrame = {
    val assignment = Sharding.shuffleShards(
      packed.select(col("seq_id")).distinct(), nShards,
      idCol = "seq_id", salt = salt)
    packed.join(assignment, Seq("seq_id"))
  }

  /** Semantic decontamination, stage 4b's one definition (shared by
    * the batch and incremental pipelines): survivors of `emb`
    * (doc_id, embedding) not within `minCosine` of ANY benchmark
    * vector. The benchmark broadcasts (eval sets are small by nature);
    * the corpus streams scan-side through the codegen'd float32 dot —
    * q87's audited shape. `None` benchmark = stage off. */
  private def semDecontamSurvivors(spark: SparkSession, emb: DataFrame,
                                   benchmarkEmbeddings: Option[DataFrame],
                                   minCosine: Double): DataFrame =
    benchmarkEmbeddings match {
      case None => emb
      case Some(bench) =>
        val dot = (a: String, b: String) =>
          graft.expressions.GraftFunctions.floatDot(spark, a, b)
        val b = broadcast(bench.select(col("embedding").as("be"))
          .withColumn("bnorm", sqrt(dot("be", "be")).cast("float"))
          .filter(col("bnorm") > 0))
        val sim = (dot("be", "embedding") /
          (col("bnorm") * col("cnorm"))).cast("float")
        val hits = emb
          .withColumn("cnorm", sqrt(dot("embedding", "embedding")).cast("float"))
          .filter(col("cnorm") > 0)
          .crossJoin(b)
          .filter(round(sim, 4) >= lit(minCosine.toFloat))
          .select(col("doc_id")).distinct()
        emb.join(hits, Seq("doc_id"), "left_anti")
    }

  // =====================================================================
  // The INCREMENTAL pipeline (round 15): [[buildTrainingSet]]'s loop
  // form. A daily increment flows through the same stages — quality →
  // exact → lexical near-dup screen → substring screen → lexical
  // decontam → semantic decontam + screen → budget-aware admission —
  // against STORED state, and all the state advances: the fingerprint
  // set, the MinHash index, the window index, the (frozen-quantizer)
  // semantic index, and the mixture-budget ledger. Every screen and
  // fold is the per-family incremental operator this repo already
  // proves replay-exact; this composes them into the ingest loop they
  // were built for.

  /** Everything a daily ingest carries between [[advanceTrainingSet]]
    * calls. All frames are plain tables. The one on-disk form is the
    * durable store: [[initDurablePipelineState]] once, then per day
    * [[loadDurablePipelineState]] → [[advanceTrainingSet]] →
    * [[appendPipelineDay]], which appends the day's folds as
    * `batch_id=` partitions through [[graft.sources.StateStore]] (the
    * streaming twins' seam); [[compactPipelineState]] rolls a
    * generation.
    *
    *  - `fingerprints` — (clean_fp) of every quality-passing ingested
    *    doc: the exact-dedup screen's index (fp equality IS transitive,
    *    so unlike the near-dup indexes only distinct fps need folding).
    *  - `minhash` — the lexical near-dup index ([[Approx.MinHashIndex]]).
    *  - `window` — the substring window-hash index (present iff the
    *    pipeline runs stage 3b; log-structured form welcome).
    *  - `semantic` — the IVF semantic index with its FROZEN quantizer
    *    (present iff the pipeline runs the semantic stages; re-fitting
    *    mid-ingest would move cell boundaries —
    *    [[Approx.fitSemanticCentroids]]'s contract).
    *  - `ledger` — per-lang CANDIDATE tokens that have reached the
    *    mixture stage so far (not admitted tokens: the budget rule is
    *    a prefix cut — `tokens before this doc in fill order <
    *    budget` — so the running total that defines "before" counts
    *    every candidate, exactly as the batch cut does). Bounded by
    *    the budget whitelist, driver-resident like any mixture
    *    config. */
  final case class PipelineState(
      fingerprints: DataFrame,
      minhash: Approx.MinHashIndex,
      window: Option[DataFrame],
      semantic: Option[Approx.SemanticIndex],
      ledger: Map[String, Long])

  /** ONE day's fold increments — the O(day) frames
    * [[advanceTrainingSet]] unioned into the returned state, exposed
    * separately so a durable loop persists the day as `batch_id=`
    * partition appends ([[appendPipelineDay]]) — O(day) writes, never
    * an O(state) rewrite. Every frame is
    * already pinned by the day's run (writing it re-reads
    * materialized blocks, no recompute):
    *  - `fps` — the day's KEPT fingerprints (day-unique,
    *    state-disjoint: appending preserves the set property).
    *  - `sets`/`bands` — the day's MinHash signature frames; `bands`
    *    carries `inc = true` (the folded-increment provenance
    *    [[Approx.advanceIndexPrebuilt]] stamps).
    *  - `window` — the day's window aggregate (the log-structured
    *    index's per-day partition, [[SubstringDedup.appendWindowIndexDay]]'s
    *    shape), present iff the pipeline runs stage 3b.
    *  - `vectors` — the day's cell-assigned vectors, present iff the
    *    pipeline runs the semantic stages.
    *  - `ledgerDelta` — the day's candidate tokens per budgeted lang;
    *    the cumulative ledger is the SUM of deltas over folded days. */
  final case class DayFolds(
      fps: DataFrame,
      sets: DataFrame,
      bands: DataFrame,
      window: Option[DataFrame],
      vectors: Option[DataFrame],
      ledgerDelta: Map[String, Long])

  /** One day's outcome: `admitted` — the docs that cleared every
    * screen AND fit the remaining mixture budget, as (doc_id, lang,
    * n_tokens, cum_before, pick_pos) with day-relative fill columns
    * (global position = ledger + cum_before) — the advanced `state`,
    * and the day's own fold frames (`folds`) for per-day durable
    * persistence. Feed `admitted` to [[Packing.packSequences]] /
    * [[shardTrainingSet]] on the training launcher's schedule; release
    * its backing layout with [[Materialized.free]] when done.
    * `health` (present iff the day ran with `report = true`) is the
    * [[ingestHealth]] frame over the advanced indexes — the per-day
    * drift monitor, lazy until consumed. */
  final case class DayAdmission(admitted: DataFrame, state: PipelineState,
                                folds: DayFolds,
                                health: Option[DataFrame] = None)

  /** Per-day ingest health over a (freshly advanced or loaded)
    * [[PipelineState]] — the q94/q89 monitors surfaced from the
    * product path itself, so band-value saturation and quantizer-cell
    * skew (the drift the 1000×-class smoke measured at 8–9× candidate
    * inflation) show up in the ingest loop's own output instead of in
    * a query an operator must know to run. One small unified frame,
    * `(family, key, n, mass, share)`:
    *  - `band` rows — the `topK` colliding MinHash band buckets by
    *    candidate pair mass ([[Approx.bandOccupancy]]'s q94 law);
    *    key = "g:v", n = bucket doc count, mass = n·(n−1)/2, share =
    *    the bucket's fraction of the index's TOTAL candidate mass
    *    (the screen's band-join work a single bucket concentrates).
    *  - `cell` rows (iff the semantic stage is on) — every quantizer
    *    cell's vector count and share of the index (q89's balance law
    *    without the lang join — state vectors carry no lang);
    *    nlist-bounded output.
    * Cost shape: one hash aggregate over the band frame (4 rows per
    * indexed doc, never text) + one over the vectors, then a
    * distributed top-k (TakeOrderedAndProject) — O(index rows)
    * scanned per call, output bounded by topK + nlist. Shares round
    * through [[graft.ops.Determinism.dround]] (6 dp) so the report is
    * partition-layout-deterministic. */
  def ingestHealth(state: PipelineState, topK: Int = 10): DataFrame = {
    import graft.ops.Determinism.dround
    val occ = Approx.bandOccupancy(state.minhash)
    val totalMass = occ.agg(
      coalesce(sum("pair_mass"), lit(0L)).as("total_mass"))
    val bands = occ
      .orderBy(col("pair_mass").desc, col("g"), col("v"))
      .limit(topK)
      .crossJoin(broadcast(totalMass))
      .select(lit("band").as("family"),
        concat_ws(":", col("g"), col("v")).as("key"),
        col("n_docs").as("n"),
        col("pair_mass").as("mass"),
        dround(col("pair_mass").cast("double") /
          greatest(col("total_mass"), lit(1L)).cast("double"), 6).as("share"))
    state.semantic match {
      case None => bands
      case Some(s) =>
        val totalVecs = s.vectors.agg(count(lit(1)).as("total_vecs"))
        val cells = s.vectors.groupBy("cell")
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(totalVecs))
          .select(lit("cell").as("family"),
            col("cell").cast("string").as("key"),
            col("n"),
            lit(null).cast("long").as("mass"),
            dround(col("n").cast("double") /
              greatest(col("total_vecs"), lit(1L)).cast("double"), 6)
              .as("share"))
        bands.unionByName(cells)
    }
  }

  /** Day-zero state: empty indexes (a first day screens against
    * nothing and folds itself in — no seed corpus needed; to seed from
    * an already-ingested corpus, replay it as day 0). `substrK` /
    * `semCentroids` decide which OPTIONAL stages this pipeline runs —
    * they must match every later [[advanceTrainingSet]] call (the
    * window index pins k itself; centroids are frozen here for the
    * pipeline's lifetime, fit via [[Approx.fitSemanticCentroids]] on a
    * representative sample). */
  def initPipelineState(spark: SparkSession, substrK: Option[Int] = None,
                        semCentroids: Option[Seq[Seq[Double]]] = None): PipelineState = {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    PipelineState(
      fingerprints = Seq.empty[String].toDF("clean_fp"),
      minhash = Approx.buildMinHashIndex(spark, emptyDocs),
      window = substrK.map(k => SubstringDedup.buildWindowIndex(emptyDocs, k)),
      semantic = semCentroids.map(c => Approx.buildSemanticIndex(emptyVecs, c)),
      ledger = Map.empty)
  }

  /** Run ONE day of the ingest loop: screen `dayDocs` through every
    * pipeline stage against `state`, admit survivors under the
    * remaining mixture budgets, and advance all the indexes.
    *
    * Equivalences (TrainingDataSpec pins them):
    *  - Screens are [[buildTrainingSet]]'s stages made incremental:
    *    under id-monotone day boundaries an N-day replay's union of
    *    screen survivors equals the single-call run's, per the
    *    per-family replay proofs (IncrementalDedupSpec /
    *    SubstringDedupSpec). Versus the BATCH pipeline, the one
    *    semantic difference is keep-first vs connected-component
    *    keepers in the near-dup stages: both drop every doc that
    *    near-dups an earlier one; they differ only when a LATER doc
    *    bridges two earlier mutually-dissimilar docs (batch CC then
    *    also drops the bridged later-id member that keep-first keeps)
    *    — the spec plants that shape and pins the divergence honestly.
    *  - Admission: the union of day admissions equals
    *    [[Sampling.quotaSampleBudgets]] over the corpus in
    *    (arrival day, rk) order — the ledger carries each lang's
    *    candidate-token prefix, so `ledger + day-relative cum_before <
    *    budget` IS the global prefix cut. Versus the batch pipeline
    *    (global rk order, no day structure) the admitted SET may
    *    differ once a budget binds — budgets are inherently
    *    per-horizon, q92's n_dup argument — while the per-lang token
    *    accounting obeys the identical rule; with non-binding budgets
    *    the selections coincide exactly.
    *
    * Cost shape: every stage is increment-bounded — the day's own
    * scans and chains are O(day); each stored index is touched the way
    * its per-family screen touches it (bands stream map-side through
    * the asymmetric join, the window index through one semi-join scan,
    * the semantic index through the broadcast-increment pair join; the
    * fingerprint screen streams the fp set map-side through a
    * broadcast-day semi-join and anti-joins the day against the
    * increment-bounded hits). Folds are checkpointed-day unions —
    * O(day) blocks each, so day cost stays flat as the corpus grows
    * (the 100× multi-day smoke measures it). Doc ids must be globally
    * unique across all days and monotone day boundaries give the
    * replay guarantee above (the per-family contract).
    *
    * This is a DAY operator: past [[BroadcastIncrementMaxTokens]] the
    * screens automatically drop their increment-broadcast hints (the
    * joins re-plan as shuffles and stay correct — spec-pinned), but the
    * fold frames are still pinned, i.e. O(day) cached
    * blocks. Backfilling a SEED corpus through one giant call makes
    * those O(corpus) — measured at the 1000×-class point (5M docs,
    * ~160M window rows) to exhaust a 48 GB single-JVM heap at the fold
    * checkpoint even after the broadcast fix; the 100×-scale
    * single-call seed (500k docs) is measured fine. Seed bigger
    * corpora the way a production ingest would: replay them as
    * bounded-size days (id-monotone chunks preserve the replay ≡
    * single-call guarantee above), or build the indexes with the batch
    * operators and seed the durable store at a negative batch id.
    *
    * `arrivalOrder = true` switches the two document-level near-dup
    * screens (MinHash and semantic) to keeper-is-first-folded — the
    * time-ordered-crawl convention, with the per-family renumbering
    * equivalence ([[Approx.incrementalDedup]]'s contract). The
    * exact-fingerprint screen is arrival-first across days in EITHER
    * mode (a folded fingerprint shadows every later arrival — fp
    * equality is transitive, so the survivor SET is the same under
    * both conventions and only the within-day tiebreak is by id); the
    * substring scrub's ownership stays positional (packed
    * (doc_id, start) order) in both modes — its keep-first is a
    * per-window cut, not a doc drop, and the index side's text is
    * already-ingested and immutable either way.
    *
    * State lineage: the returned state's new branches are
    * pinned day frames; the state frames accumulate one
    * union level per day — a LONG-lived loop reloads its state from
    * the durable store instead ([[appendPipelineDay]] each day,
    * [[loadDurablePipelineState]] before the next, which also makes
    * the loop restartable), on whatever cadence its plan-analysis cost
    * warrants. */
  def advanceTrainingSet(spark: SparkSession, state: PipelineState,
                         dayDocs: DataFrame, benchmark: DataFrame,
                         budgets: Map[String, Long],
                         minJaccard: Double = 0.8,
                         minBenchContainment: Double = 1e-9,
                         minQuality: Double = 0.5, maxRepetition: Double = 0.2,
                         minTokens: Int = 10, salt: Long = 0L,
                         tokenCounter: Option[org.apache.spark.sql.Column] = None,
                         dayEmbeddings: Option[DataFrame] = None,
                         benchmarkEmbeddings: Option[DataFrame] = None,
                         minCosine: Double = 0.35,
                         substrK: Option[Int] = None,
                         arrivalOrder: Boolean = false,
                         md5Fps: Boolean = false,
                         report: Boolean = false): DayAdmission = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions
    require(substrK.isDefined == state.window.isDefined,
      "substrK and the state's window index must agree: the substring stage " +
        "is on iff the state carries its index (initPipelineState decides)")
    require(dayEmbeddings.isEmpty || state.semantic.isDefined,
      "dayEmbeddings supplied but the state carries no semantic index — " +
        "init with semCentroids (the quantizer must be frozen, not re-fit per day)")

    // 1+2. Quality scan-side, then the exact screen: a day doc drops if
    // its post-redaction fingerprint was ever ingested (state set — it
    // streams MAP-SIDE through a broadcast-day semi-join; the anti-join
    // then runs against the increment-bounded hits, so the fp set never
    // crosses an exchange) or appeared earlier in the day (keep-first
    // by id, the batch window rule).
    // `md5Fps` swaps the fingerprint family for the declared-twin one —
    // md5 over the RE2-portable scrub instead of the production
    // xxhash64 over the full-lookaround scrub — the q58/q59/q92
    // convention that lets an independent engine value-check the
    // composed screen (q93); the screen logic is family-agnostic (an
    // equality join on clean_fp), so only the key changes.
    val curated = {
      val c = TextFunctions.curateColumns(dayDocs, minQuality,
        maxRepetition, minTokens)
      if (md5Fps)
        c.withColumn("clean_fp", md5(TextFunctions.redactPiiPortable(col("text"))))
      else c
    }
    val scored = Materialized.pin(curated
      .filter(col("keep"))
      .select(col("doc_id"), col("text"), col("lang"), col("n_tokens"),
        col("clean_fp")))
    // Day-sized or not? Every incremental screen's plan broadcasts the
    // INCREMENT side (the operators' premise: a daily batch against an
    // ingested corpus), which is wrong exactly once — when a seed
    // corpus is replayed as one giant "day". Two cheap jobs over the
    // materialized stage-1 blocks decide — a token sum (window-hash
    // broadcast mass) AND a doc count (fp-set / semantic-vector
    // broadcast mass, which scales with docs, not tokens): past either
    // bound the screens keep their join shapes but drop the forced hints, so
    // Spark/AQE plans the honest shuffle joins instead of collecting
    // an over-limit broadcast (a 5M-doc seed's window-hash set
    // measured 1.03 GB of driver results against the 1 GB default
    // `spark.driver.maxResultSize`).
    val dayTokenSum = Option(scored.agg(sum("n_tokens")).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val dayBroadcast = dayTokenSum <= BroadcastIncrementMaxTokens &&
      scored.count() <= BroadcastIncrementMaxDocs
    def bcastIf(df: DataFrame) = if (dayBroadcast) broadcast(df) else df
    val dayFps = scored.select(col("clean_fp")).distinct()
    val hitFps = state.fingerprints
      .join(bcastIf(dayFps), Seq("clean_fp"), "left_semi").distinct()
    val wFp = Window.partitionBy("clean_fp").orderBy("doc_id")
    val exactKept = Materialized.pin(scored
      .join(bcastIf(hitFps), Seq("clean_fp"), "left_anti")
      .withColumn("rn", row_number().over(wFp))
      .filter(col("rn") === 1).drop("rn"))
    // Fold: fp equality is transitive, so (unlike the near-dup folds)
    // only the KEPT fps need to enter — a day doc whose fp is already
    // present adds nothing, and exactKept's fps are day-unique and
    // state-disjoint by construction, so the set stays a set without
    // any O(state) distinct. The fold frame is its own SLIM checkpoint
    // (fp column only): the returned state outlives the day, and a
    // lineage reference into exactKept's full-width checkpoint would
    // pin every day's surviving text in block storage for the state's
    // lifetime — O(corpus text) retained where O(fp set) is meant.
    val keptFps = Materialized.pin(exactKept.select(col("clean_fp")))
    val newFps = state.fingerprints.unionByName(keptFps)

    // 3. Lexical near-dup screen + fold. ALL exact survivors fold
    // (near-dup is not transitive — a dropped dup still shadows later
    // days: advanceIndex's planted-chain contract). The day's signature
    // frames checkpoint ONCE and feed both the screen (prebuilt seam)
    // and the fold — the signature chain is the day's dominant lexical
    // cost and must not run per consumer; lexKept checkpoints because
    // the substring stage, the window fold, and the decontam chain
    // each consume it (lazy, the banded screen join would re-execute
    // once per consumer).
    val dayText = exactKept.select(col("doc_id"), col("text"))
    val (daySetsRaw, dayBandsRaw) = Approx.md5SetsAndBands(spark, dayText)
    val daySets = Materialized.pin(daySetsRaw)
    val dayBands = Materialized.pin(dayBandsRaw)
    val lexKeepIds = Approx.incrementalDedupPrebuilt(spark, state.minhash,
        dayText.select(col("doc_id")), daySets, dayBands, minJaccard,
        arrivalOrder)
      .filter(col("verdict") === "keep").select(col("doc_id"))
    val lexKept = Materialized.pin(exactKept.join(lexKeepIds, Seq("doc_id"), "left_semi"))
    val newMinhash = Approx.advanceIndexPrebuilt(state.minhash, daySets, dayBands)

    // 3b. Substring screen + fold (present iff the state carries the
    // window index). The screen rewrites the day's survivors against
    // index ∪ day (replay-exact shadowing); the fold appends the day's
    // ORIGINAL windows (batch semantics: a scrubbed-away instance
    // still shadows later occurrences) as one O(day) aggregate. Docs
    // scrubbed to nothing drop, token counts re-derive — stage 3b's
    // batch conventions verbatim, under the same stage-scoped sizing.
    val afterSubstr = (substrK, state.window) match {
      case (Some(k), Some(widx)) =>
        withScopedConfs(spark, SubstrStageConfs) {
          val scrubbed = SubstringDedup
            .incrementalWindowScrub(widx, lexKept.select(col("doc_id"), col("text")), k,
              broadcastIncrement = dayBroadcast)
            .filter(col("kept_text") =!= "")
            .select(col("doc_id"), col("kept_text"))
          Materialized.pin(lexKept.drop("text", "n_tokens")
            .join(scrubbed, Seq("doc_id"))
            .withColumn("text", col("kept_text")).drop("kept_text")
            .withColumn("n_tokens",
              TextFunctions.tokenCount(col("text")).cast("long"))
            .select(lexKept.columns.toIndexedSeq.map(col): _*))
        }
      case _ => lexKept
    }
    val dayWindow = (substrK, state.window) match {
      case (Some(k), Some(_)) =>
        Some(Materialized.pin(SubstringDedup.buildWindowIndex(
          lexKept.select(col("doc_id"), col("text")), k)))
      case _ => None
    }
    val newWindow = (substrK, state.window, dayWindow) match {
      case (Some(k), Some(widx), Some(dw)) =>
        Some(SubstringDedup.advanceWindowIndexPrebuilt(widx, dw, k))
      case _ => None
    }

    // 4. Lexical decontamination — stateless (the benchmark is a fixed
    // eval set, not accumulated state), q57's containment shape.
    val benchIds = benchmark.select(col("text")).distinct()
      .select(xxhash64(col("text")).as("doc_id"), col("text"))
    val contaminated = Approx.ngramContamination(spark,
        afterSubstr.select(col("doc_id"), col("text")), benchIds,
        n = 8, minContainment = minBenchContainment)
      .select(col("doc_id")).distinct()
    val lexClean = afterSubstr.join(contaminated, Seq("doc_id"), "left_anti")

    // 4b+4c. Semantic decontam (stateless — shared stage definition
    // with the batch pipeline) + the incremental semantic screen under
    // the state's frozen quantizer; ALL post-decontam day vectors fold
    // (cosine is not transitive). Docs without a vector pass unjudged,
    // the batch convention.
    var newSemantic = state.semantic
    var dayVectors: Option[DataFrame] = None
    val clean = dayEmbeddings match {
      case None => lexClean
      case Some(embAll) =>
        val semIdx = state.semantic.get
        val emb = embAll.select(col("doc_id"), col("embedding"))
          .join(lexClean.select(col("doc_id")), Seq("doc_id"))
        val afterDecon =
          semDecontamSurvivors(spark, emb, benchmarkEmbeddings, minCosine)
        val dayAssigned = Materialized.pin(Approx.buildSemanticIndex(
            afterDecon.select(col("doc_id").as("vec_id"), col("embedding")),
            semIdx.centroids).vectors)
        dayVectors = Some(dayAssigned)
        val keepers = Approx.incrementalSemanticDedup(semIdx,
            dayAssigned.select(col("vec_id"), col("embedding")), minCosine,
            arrivalOrder, broadcastIncrement = dayBroadcast)
          .filter(col("verdict") === "keep")
          .select(col("vec_id").as("doc_id"))
        newSemantic = Some(Approx.advanceSemanticIndexAssigned(semIdx, dayAssigned))
        lexClean.join(emb.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .unionByName(lexClean.join(keepers, Seq("doc_id"), "left_semi"))
    }

    // 5. Budget-aware admission: the day's candidates fill each lang's
    // REMAINING budget in salted-hash order — `ledger + cum_before <
    // budget` is the global prefix cut over (day, rk) order, so the
    // union of day admissions IS one quotaSampleBudgets run over the
    // arrival-ordered corpus. Langs whose budget is exhausted (or was
    // never listed) admit nothing, the whitelist rule.
    val counted = tokenCounter match {
      case Some(c) => clean.withColumn("n_tokens", c.cast("long"))
      case None => clean
    }
    val mixIn = Materialized.pin(counted.select(col("doc_id"), col("lang"),
      col("n_tokens"), md5(concat_ws(":", lit(salt), col("doc_id").cast("string"))).as("rk")))
    val remaining = budgets.flatMap { case (l, b) =>
      val left = b - state.ledger.getOrElse(l, 0L)
      if (left > 0) Some(l -> left) else None
    }
    val admitted =
      if (remaining.isEmpty)
        mixIn.select(col("doc_id"), col("lang"), col("n_tokens"),
          lit(0L).as("cum_before"), lit(0L).as("pick_pos")).limit(0)
      else Sampling.quotaSampleBudgets(mixIn, remaining)
    // Ledger: add the day's CANDIDATE tokens per whitelisted lang (the
    // prefix that defines later days' "tokens before"). Bounded
    // collect — at most one row per budgeted lang — computed from the
    // CHECKPOINTED mixIn (same rows as `counted`) so the decontam
    // chain is not re-executed for a three-column aggregate.
    val dayTokens = mixIn
      .filter(col("lang").isInCollection(budgets.keys.toSeq))
      .groupBy("lang").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val newLedger = state.ledger ++ budgets.keys.flatMap { l =>
      dayTokens.get(l).map(t => l -> (state.ledger.getOrElse(l, 0L) + t))
    }

    // Every returned frame now reads its OWN materialized blocks (the
    // slim fp checkpoint, the day signature frames, the day window/
    // vector checkpoints, admitted's layout — or mixIn when no budget
    // is left), so the day's transient checkpoints can be released — a
    // long-lived daily loop must not retain one O(day) cache per day.
    if (remaining.nonEmpty) Materialized.free(mixIn)
    Materialized.free(scored)
    Materialized.free(exactKept)
    Materialized.free(lexKept)
    if (substrK.isDefined) Materialized.free(afterSubstr)
    val newState = PipelineState(newFps, newMinhash, newWindow, newSemantic,
      newLedger)
    DayAdmission(admitted, newState,
      DayFolds(keptFps, daySets, dayBands.withColumn("inc", lit(true)),
        dayWindow, dayVectors, dayTokens),
      // `report = true` attaches the day's ingest-health frame over the
      // ADVANCED indexes (lazy — it costs nothing until consumed; the
      // streaming twin materializes it into the store's health log).
      health = if (report) Some(ingestHealth(newState)) else None)
  }

  // =====================================================================
  // PER-DAY durable state (round 16): the `batch_id=` append seam
  // applied to the COMPOSED pipeline. A long-lived ingest loop does
  //   init once → { load → advanceTrainingSet → append(day) } per day
  // paying O(day) writes per day, and a restart resumes from the last fully
  // appended day (dynamic partition overwrite makes a RETRIED day
  // replace its own partitions — idempotent, the StateStore contract).
  // A crash strictly between a day's partition writes leaves that day
  // torn; rerunning the SAME day heals it (every subdir's batch_id=N
  // is rewritten), so the caller's restart rule is "re-run the last
  // day you cannot prove committed" — same as the streaming twins.

  /** Create a durable state directory. Only the OPTIONAL stages need
    * day-zero artifacts: the window marker pins stage 3b on (and its
    * k, validated by the in-data k column on every later append) and
    * the frozen quantizer persists once — everything else starts as
    * "no partitions folded yet", which [[loadDurablePipelineState]]
    * reads as empty state. `substrK` / `semCentroids` decide the
    * stages exactly as [[initPipelineState]] does. */
  def initDurablePipelineState(spark: SparkSession, dir: String,
                               substrK: Option[Int] = None,
                               semCentroids: Option[Seq[Seq[Double]]] = None): Unit = {
    import spark.implicits._
    // Fail fast on a dir that already holds state: re-initializing a
    // live store does NOT clear its folded partitions, so the next
    // ingest would silently screen against the old corpus — every day
    // admits ~nothing while its empty-fold appends REPLACE the old
    // partitions one by one, quietly destroying the store from both
    // ends (observed exactly this way in a re-run smoke before this
    // guard). Resuming wants loadDurablePipelineState; a genuinely new
    // pipeline wants a new (or deleted) directory.
    val existing = pipelineStateArtifacts(spark, dir)
    require(existing.isEmpty,
      s"durable pipeline state at $dir is already initialized " +
        s"(found: ${existing.mkString(", ")}); load it to resume, or " +
        "point init at a fresh directory")
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    substrK.foreach { k =>
      graft.sources.StateStore.writePartition(
        SubstringDedup.buildWindowIndex(emptyDocs, k), s"$dir/window", 0L)
    }
    semCentroids.foreach { c =>
      Approx.semanticCentroidsDF(spark, c)
        .write.mode("overwrite").parquet(s"$dir/centroids")
    }
    // The init witness: a lex-only pipeline (no optional stages) writes
    // no day-zero table, so without a marker a freshly init'd store is
    // indistinguishable from a typo'd path — and appendPipelineDay's
    // uninit guard (the other half of the re-init fail-fast above)
    // would have nothing to check.
    graft.sources.StateStore.touch(spark, s"$dir/$InitMarker")
  }

  /** The durable-store init marker's file name — underscore-prefixed so
    * parquet directory listings ignore it. */
  private val InitMarker: String = "_graft_init"

  /** Every artifact that marks `dir` as a live durable pipeline store:
    * the seven state tables plus the init marker. */
  private def pipelineStateArtifacts(spark: SparkSession,
                                     dir: String): Seq[String] =
    (Seq("fingerprints", "sets", "bands", "vectors", "window", "ledger",
      "centroids") :+ InitMarker)
      .filter(t => graft.sources.StateStore.exists(spark, s"$dir/$t"))

  /** Append ONE day's fold frames ([[DayAdmission.folds]]) as the
    * `batch_id = batchId` partition of each state table — O(day)
    * writes over already-materialized blocks, no rewrite of prior
    * days. The ledger persists as per-day DELTAS (the cumulative value
    * is their sum — associative, so replay/retry order cannot corrupt
    * it). Call with a UNIQUE, monotonically assigned batchId per day;
    * retrying a day with the same batchId replaces its partitions. */
  def appendPipelineDay(spark: SparkSession, dir: String, batchId: Long,
                        folds: DayFolds): Unit = {
    import graft.sources.StateStore
    // The uninit fail-fast — the re-init guard's mirror image: a typo'd
    // stateDir in a restart script would otherwise silently grow a
    // parallel empty store while the real one stops advancing. A store
    // is live iff init's marker exists OR any state table does (the
    // latter grandfathers stores written before the marker, including
    // ones seeded directly at negative batch ids).
    require(pipelineStateArtifacts(spark, dir).nonEmpty,
      s"durable pipeline state at $dir was never initialized — call " +
        "initDurablePipelineState first (a typo'd stateDir would " +
        "silently start a parallel empty store here)")
    StateStore.writePartition(folds.fps, s"$dir/fingerprints", batchId)
    StateStore.writePartition(folds.sets, s"$dir/sets", batchId)
    StateStore.writePartition(folds.bands, s"$dir/bands", batchId)
    folds.window.foreach(w => StateStore.writePartition(w, s"$dir/window", batchId))
    folds.vectors.foreach(v => StateStore.writePartition(v, s"$dir/vectors", batchId))
    import spark.implicits._
    StateStore.writePartition(
      folds.ledgerDelta.toSeq.toDF("lang", "day_tokens"), s"$dir/ledger", batchId)
  }

  /** Reload a per-day durable state directory into a
    * [[PipelineState]]. Reads are explicit-schema folded scans (a
    * data-less or not-yet-created table is EMPTY state, never a schema
    * inference crash); optional stages resume exactly as initialized —
    * window iff the init marker/partitions exist, semantic iff the
    * frozen quantizer does. `md5Fps` must match the loop's
    * [[advanceTrainingSet]] calls (it decides the fingerprint column's
    * type — the same caller-owned family contract as the window
    * index's `md5Keys`). Schemas are derived from the live builders
    * over empty inputs, so a signature-frame schema change cannot
    * silently diverge from what the loader expects.
    *
    * `beforeBatch` bounds every folded read at `batch_id < bound`
    * (partition-pruned) — the retry fence for an exactly-once
    * microbatch consumer: batch N loads state bounded at N, so a
    * crashed attempt's partial append of batch N is invisible to the
    * retry (without the fence, the fingerprint screen would see the
    * batch's OWN fps and drop every doc as already-ingested). Seed the
    * store at NEGATIVE batch ids so seeds stay visible to batch 0. */
  def loadDurablePipelineState(spark: SparkSession, dir: String,
                               md5Fps: Boolean = false,
                               beforeBatch: Option[Long] = None): PipelineState = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.sources.StateStore
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (refSets, refBands) = Approx.md5SetsAndBands(spark, emptyDocs)
    val fpType: DataType = if (md5Fps) StringType else LongType
    val bandsSchema = StructType(refBands.schema.fields :+
      StructField("inc", BooleanType))
    val semantic =
      if (StateStore.exists(spark, s"$dir/centroids")) {
        val cents = Approx.semanticCentroidsFromDF(
          spark.read.parquet(s"$dir/centroids"))
        val vecSchema = Approx.buildSemanticIndex(
          Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), cents)
          .vectors.schema
        Some(Approx.SemanticIndex(
          StateStore.readFolded(spark, s"$dir/vectors", vecSchema, beforeBatch),
          cents))
      } else None
    PipelineState(
      fingerprints = StateStore.readFolded(spark, s"$dir/fingerprints",
        StructType(Seq(StructField("clean_fp", fpType))), beforeBatch),
      minhash = Approx.MinHashIndex(
        StateStore.readFolded(spark, s"$dir/sets", refSets.schema, beforeBatch),
        StateStore.readFolded(spark, s"$dir/bands", bandsSchema, beforeBatch)),
      window =
        if (StateStore.exists(spark, s"$dir/window"))
          Some(SubstringDedup.readWindowIndex(spark, s"$dir/window",
            beforeBatch = beforeBatch))
        else None,
      semantic = semantic,
      ledger = StateStore.readFolded(spark, s"$dir/ledger", StructType(Seq(
          StructField("lang", StringType), StructField("day_tokens", LongType))),
          beforeBatch)
        .groupBy("lang").agg(sum("day_tokens").as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Roll a per-day durable state directory into a fresh ONE-generation
    * store at `outDir` — the composed twin of
    * [[SubstringDedup.compactWindowIndexStore]]. A long-lived ingest
    * appends one `batch_id=` partition per table per day; after
    * hundreds of days the scan-planning cost of those partitions (and,
    * for the window table, the merge-on-read row multiplicity) is the
    * classic small-files tax, so the store wants a periodic O(state)
    * consolidation on the OPERATOR'S schedule — correctness never
    * requires it (every reader folds partitions already).
    *
    * What compaction does per table: fingerprints / sets / bands /
    * vectors are plain unions across days (set-property and verdicts
    * are partition-layout-independent), so they rewrite verbatim into
    * one partition — no distinct, no aggregation (each day's fps are
    * state-disjoint by the fp screen, day-unique by its keep-first);
    * the window table is the one real merge (count-sum / owner-min via
    * [[SubstringDedup.compactWindowIndex]], run under the substring
    * stage's measured sizing dials — the q76 sort class); ledger
    * deltas sum to ONE cumulative row per lang, which is itself a
    * valid delta set. The frozen quantizer copies verbatim.
    *
    * `asOfBatch` is the caller's commitment point: partitions with
    * `batch_id <= asOfBatch` consolidate into a single partition AT
    * `batch_id = asOfBatch`, so every later batch's retry fence
    * (`loadDurablePipelineState(beforeBatch = N)`, N > asOfBatch) sees
    * the compacted generation exactly as it saw the original days.
    * Compact only batches the consumer can never retry (a streaming
    * twin: ids its checkpoint has committed past) — a batch
    * <= asOfBatch retried against the compacted store would load part
    * of its OWN fold as prior state and screen itself out. Later
    * partitions are NOT carried: run at a quiescent point with
    * asOfBatch = the last committed batch (the normal case), exactly
    * like the window store's compaction. Writes to a NEW directory for
    * the same reason compactWindowIndexStore does: rewriting a store
    * in place while readers exist is unsafe and non-atomic — the
    * caller swaps generations (rename or config flip) on its own
    * schedule, and a crash mid-compaction leaves the source intact. */
  def compactPipelineState(spark: SparkSession, dir: String, outDir: String,
                           asOfBatch: Long, md5Fps: Boolean = false): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.sources.StateStore
    // Fail fast on a populated outDir — the same foot-gun family the
    // init guard closes: a second compaction into the same outDir at a
    // higher asOfBatch would leave BOTH cumulative generations
    // (batch_id=old and batch_id=new), so the next load double-counts
    // the ledger and duplicates fp/set/band rows (inflating MinHash
    // intersection counts). Each compaction wants a FRESH generation
    // directory; the caller swaps it in afterwards.
    val populated = pipelineStateArtifacts(spark, outDir)
    require(populated.isEmpty,
      s"compaction target $outDir already holds state " +
        s"(found: ${populated.mkString(", ")}); compact into a fresh " +
        "generation directory — two cumulative generations in one store " +
        "would double-count every reader")
    val bound = Some(asOfBatch + 1L)
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (refSets, refBands) = Approx.md5SetsAndBands(spark, emptyDocs)
    val fpType: DataType = if (md5Fps) StringType else LongType
    def roll(sub: String, schema: StructType): Unit =
      if (StateStore.exists(spark, s"$dir/$sub"))
        StateStore.writePartition(
          StateStore.readFolded(spark, s"$dir/$sub", schema, bound),
          s"$outDir/$sub", asOfBatch)
    roll("fingerprints", StructType(Seq(StructField("clean_fp", fpType))))
    roll("sets", refSets.schema)
    roll("bands", StructType(refBands.schema.fields :+
      StructField("inc", BooleanType)))
    if (StateStore.exists(spark, s"$dir/centroids")) {
      val centDf = Materialized.pin(spark.read.parquet(s"$dir/centroids"))
      val cents = Approx.semanticCentroidsFromDF(centDf)
      centDf.write.mode("overwrite").parquet(s"$outDir/centroids")
      Materialized.free(centDf)
      roll("vectors", Approx.buildSemanticIndex(
        Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), cents)
        .vectors.schema)
    }
    // Window keys in the composed store are always the long variant
    // (loadDurablePipelineState's contract); the k-uniformity guard
    // rides compactWindowIndex's output.
    if (StateStore.exists(spark, s"$dir/window"))
      withScopedConfs(spark, CompactStoreConfs) {
        StateStore.writePartition(
          SubstringDedup.compactWindowIndex(
            SubstringDedup.readWindowIndex(spark, s"$dir/window",
              beforeBatch = bound)),
          s"$outDir/window", asOfBatch)
      }
    if (StateStore.exists(spark, s"$dir/ledger"))
      StateStore.writePartition(
        StateStore.readFolded(spark, s"$dir/ledger", StructType(Seq(
            StructField("lang", StringType),
            StructField("day_tokens", LongType))), bound)
          .groupBy("lang").agg(sum("day_tokens").as("day_tokens")),
        s"$outDir/ledger", asOfBatch)
    // The compacted generation is a full durable store in its own
    // right — post-swap appends land here, so it carries init's marker.
    StateStore.touch(spark, s"$outDir/$InitMarker")
  }
}
