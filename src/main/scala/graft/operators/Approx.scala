package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate / sublinear twins of the exact operators — the shapes that
  * keep working when the data is 100 TB and an exact quadratic join or an
  * exact distinct is no longer the right plan (SURVEY.md §2.4, §2.10
  * capability rows).
  */
object Approx {

  /** HyperLogLog++ distinct counts — replaces `count(DISTINCT x)` when an
    * exact expand + two-phase agg would shuffle too much. rsd 0.05 default.
    * Not oracle-comparable (different sketch than DuckDB); CapabilitySpec
    * asserts |approx − exact|/exact < 0.05. */
  def approxDistinctUsers(events: DataFrame, rsd: Double = 0.05): DataFrame =
    events.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .orderBy("event_type")

  /** Approximate quantiles via the built-in KLL-style sketch
    * (`percentile_approx`): mergeable per-partition sketches → one
    * small final merge, vs an exact percentile's full sort. `accuracy`
    * is the standard 1/ε knob (10000 ≈ 0.01% rank error). The exact
    * twin for small data is `percentile`. */
  def approxQuantiles(df: DataFrame, valueCol: String, groupCol: String,
                      probs: Seq[Double], accuracy: Int = 10000): DataFrame =
    df.groupBy(groupCol)
      .agg(percentile_approx(col(valueCol),
        array(probs.map(lit): _*), lit(accuracy)).as("quantiles"))
      .orderBy(groupCol)

  /** MinHash-LSH near-duplicate join over document token sets — the
    * production twin of q35's exact Jaccard, in the classic two-phase
    * LSH shape: (1) candidate generation = bucket collision in ANY of
    * the model's hash tables, (2) exact Jaccard re-scoring on
    * candidates only. The hash family IS Spark ML's seeded `MinHashLSH`
    * model's — replayed natively ([[mlMinhashSignatures]], bit-identical
    * by test) — and the candidate join and re-score are built directly
    * on those signatures rather than going through the model's
    * `approxSimilarityJoin`, because the ML join shuffles the full row
    * structs of BOTH sides (token arrays + 2^18-dim sparse vectors + 8
    * hash vectors) for every pre-distinct candidate (~27M rows at
    * sf0.1, measured 48–60 s end-to-end) and filters with a
    * non-codegen UDF distance. Here only (doc_id, table, hash-value)
    * triples and id pairs cross exchanges — the repo-wide dedup
    * exchange discipline — and the re-score runs the codegen'd
    * sorted-merge intersect: measured 23.6 s at sf0.1 (2×), with the
    * IDENTICAL result — 30328 / 2968398 pairs at sf0.01 / sf0.1, the
    * pinned counts, confirming the dropped ESTIMATED-distance filter
    * (an ~5%-false-negative estimate on boundary pairs in theory) was
    * pure overhead on this family-threshold combination. Recall vs
    * exact q35 can only improve without it (CapabilitySpec pins ≥ 0.9;
    * measured 1.0 at sf0.01).
    * At 100 TB: signatures are linear in the corpus and the band join
    * shuffles ids only, BUT the ML family's single-hash OR-banding
    * makes the CANDIDATE count quadratic on low-similarity corpora
    * (per-table collision ≈ pairwise Jaccard — measured in ScaleSmoke:
    * a 150k-doc corpus's ~3.6·10⁸ candidate mass overwhelmed the
    * sandbox before re-scoring could cull it). Run
    * [[minHashCandidateMass]] (linear cost) first; if it comes back
    * super-linear, use q59's banded family (4 hashes per band ⇒
    * collision ≈ J⁴, linear mass on the same corpus) instead. */
  def minHashNearDup(spark: SparkSession, docs: DataFrame,
                     minJaccard: Double = 0.8, numHashTables: Int = 8): DataFrame = {
    val (tokens, banded) = mlMinhashBanded(spark, docs, numHashTables)
    minHashNearDupImpl(spark, tokens, banded, minJaccard)
  }

  /** Spark ML `MinHashLSH`'s hash-family prime (the same 2038074743 the
    * model uses — a prime just under 2^31). */
  private[graft] val MlMinhashPrime = 2038074743L

  /** Spark ML `MinHashLSH`'s seeded coefficient draw, replayed:
    * `createRawLSHModel` draws `numHashTables` pairs
    * `(1 + r.nextInt(P − 1), r.nextInt(P − 1))` from a `Random(seed)`
    * (org/apache/spark/ml/feature/MinHashLSH.scala), so replaying the
    * draw yields the EXACT fitted model's coefficients without fitting.
    * CapabilitySpec pins the resulting signatures against a genuinely
    * fitted model's `transform` output value-for-value. */
  private[graft] def mlMinhashCoefficients(seed: Long,
                                           numHashTables: Int): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Seq.fill(numHashTables)(
      (1L + r.nextInt(MlMinhashPrime.toInt - 1), r.nextInt(MlMinhashPrime.toInt - 1).toLong))
  }

  /** The q43 signature pipeline: the ML `MinHashLSH(seed=42)` +
    * `HashingTF(2^18, binary)` family computed with NATIVE codegen'd
    * expressions — bit-identical to `model.transform` (pinned by
    * CapabilitySpec's native-vs-model equality test), at a fraction of
    * the cost:
    *   - feature index: `pmod(murmur3_v2(w), 2^18)` replays
    *     `HashingTF.indexOf` — [[graft.expressions.Murmur3V2]] is the
    *     CORRECTED murmur3 the vectorizer uses (NOT SQL's legacy
    *     `hash`; see the expression's scaladoc) — without materializing
    *     a 2^18-dim sparse vector per doc. Bucket collisions merge
    *     tokens exactly as the vectorizer does; duplicate indices
    *     beyond that cannot move a min.
    *   - signature: the model hashes a vector to
    *     min over indices i of ((1+i)·a + b) mod P — here one codegen'd
    *     min-aggregate per table over the exploded (doc_id, 1+index)
    *     rows, the q59 shape, instead of two interpreted ML UDFs
    *     (vectorize + hash) per row.
    * Returns (tokens, banded), banded = (doc_id, sig, t, hv) — one row
    * per doc per hash table, sig the flat long signature (the primitive
    * band-join key; rides along so the emit-once filter can check
    * earlier bands). */
  private def mlMinhashBanded(spark: SparkSession, docs: DataFrame,
                              numHashTables: Int): (DataFrame, DataFrame) = {
    val tokens = docs.select(col("doc_id"),
      sort_array(array_distinct(filter(split(col("text"), " "), w => w =!= ""))).as("toks"))
    // Signature side from the RAW split (round 17): the min-aggregate is
    // duplicate-invariant, so the canonicalized `tokens` (which the
    // re-score joins still need) stays off the corpus-linear pass — see
    // md5SetsAndBands for the full rationale.
    val sigs = mlMinhashSignaturesFromWords(
        docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= ""), numHashTables)
      // Spread the signatures across cores before the band self-join: the
      // band build side broadcasts, so the join + exact re-score fuse into
      // one stage that runs AT THIS partitioning — a single-file corpus
      // (or the bench's 4 shuffle partitions) would otherwise serialize
      // the intersect CPU onto a handful of cores.
      .repartition(spark.sparkContext.defaultParallelism)
    val banded = sigs
      .select(col("doc_id"), col("sig"), posexplode(col("sig")).as(Seq("t", "hv")))
    (tokens, banded)
  }

  /** Native replay of `MinHashLSH(seed=42).fit(HashingTF(2^18, binary)
    * .transform(tokens)).transform(...)`: (doc_id, sig) with sig(t) the
    * table-t minhash as a long. Empty token sets are excluded — the ML
    * pipeline rejects all-zero vectors the same way; here the explode
    * does it structurally (an empty or NULL `toks` emits zero rows, so
    * the doc never reaches the aggregate). An explicit
    * `filter(size(toks) > 0)` would be pushed below the tokenize
    * projection and re-evaluate the whole HOF chain per doc (round 17). */
  private[graft] def mlMinhashSignatures(tokens: DataFrame,
                                         numHashTables: Int): DataFrame =
    mlMinhashSignaturesFromWords(
      tokens.select(col("doc_id"), explode(col("toks")).as("w")), numHashTables)

  /** The signature aggregate over already-exploded (doc_id, w) rows —
    * the seam that lets the corpus-linear pass skip per-doc array
    * canonicalization (duplicate tokens cannot move a min). */
  private[graft] def mlMinhashSignaturesFromWords(words: DataFrame,
                                                  numHashTables: Int): DataFrame = {
    val coefs = mlMinhashCoefficients(42L, numHashTables)
    val minExprs = coefs.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("ix") + lit(b)) % lit(MlMinhashPrime)).as(s"mh$i") }
    graft.expressions.GraftFunctions.register(words.sparkSession)
    words
      .select(col("doc_id"),
        (pmod(call_function("murmur3_v2", col("w")), lit(1 << 18)) + 1)
          .cast("long").as("ix"))
      .groupBy("doc_id")
      .agg(minExprs.head, minExprs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashTables).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** Candidate-pair mass the ML-LSH band join would materialize,
    * WITHOUT running the join: Σ over (table, bucket) of C(size, 2).
    * Linear work — one aggregation over the banded rows.
    *
    * This is the go/no-go check before launching [[minHashNearDup]] on
    * a large corpus. Spark ML's `MinHashLSH` amplifies with OR over
    * single-hash tables only, so any two docs collide in a table with
    * probability ≈ their Jaccard — and on a low-similarity corpus the
    * FALSE-candidate mass grows quadratically with the corpus
    * (≈ tables · J̄ · n²/2). Measured in ScaleSmoke: the 50k-doc corpus
    * joins fine (~4·10⁷ candidates), the 150k-doc corpus's ~3.6·10⁸
    * candidate mass filled the sandbox disk with spill before the join
    * completed. The banded family (q59: 4 hashes per band ⇒ collision
    * ≈ J⁴) keeps candidate mass linear on the same corpus — at 100 TB
    * use that family; this ML variant is only safe when this mass
    * check comes back near-linear. */
  def minHashCandidateMass(spark: SparkSession, docs: DataFrame,
                           numHashTables: Int = 8): Long = {
    // coalesce: sum over ZERO buckets (empty or all-stopword-filtered
    // corpus) is null — the probe must report mass 0, not NPE.
    val mass = mlMinhashBanded(spark, docs, numHashTables)._2
      .groupBy(col("t"), col("hv")).count()
      .agg(sum(expr("CAST(count * (count - 1) DIV 2 AS DECIMAL(38,0))")).as("mass"))
      .head().getDecimal(0)
    if (mass == null) 0L else mass.longValueExact()
  }

  /** The measured sandbox fence for the OR-banded candidate mass: the
    * 30× ScaleSmoke's ≈ 3.6·10⁸ candidates filled the disk with spill
    * mid-join; ≈ 4·10⁷ (10×) ran fine. On a real cluster, size the
    * budget to what the shuffle tier absorbs — the ROUTER below takes
    * it as a parameter; this default encodes the measured limit. */
  val DefaultCandidateMassBudget: Long = 100000000L

  /** Candidate-mass-ROUTED MinHash near-dup (VERDICT r9 #3): runs the
    * linear [[minHashCandidateMass]] pre-probe and picks the family —
    * the ML OR-banded [[minHashNearDup]] (per-table collision ≈ J, so
    * best recall, but quadratic candidate mass on low-similarity
    * corpora) when the measured mass fits `massBudget`, else the
    * AND-banded [[bandedMinHashNearDup]] (collision ≈ J⁴ per band —
    * linear mass on the same corpora). The manual go/no-go check the
    * q43 scaladoc prescribed, made structural: a caller can no longer
    * launch the OR join onto a corpus whose mass was never measured.
    * Logs the decision (mass, budget, chosen family) to stderr. Both
    * arms tokenize identically and emit (a, b, jaccard). */
  def nearDupAuto(spark: SparkSession, docs: DataFrame,
                  minJaccard: Double = 0.8, numHashTables: Int = 8,
                  massBudget: Long = DefaultCandidateMassBudget,
                  knownMass: Option[Long] = None): DataFrame = {
    // knownMass skips the probe when the caller already measured it
    // (same docs + numHashTables — ScaleSmoke reports the mass and then
    // routes; without this the linear probe ran twice per smoke stage).
    val mass = knownMass.getOrElse(
      minHashCandidateMass(spark, docs, numHashTables))
    val orBanded = mass <= massBudget
    System.err.println(
      s"graft.nearDupAuto: OR-banded candidate mass $mass vs budget $massBudget" +
        s" -> ${if (orBanded) "ML OR-banded family" else "AND-banded (J^4) family"}")
    if (orBanded) minHashNearDup(spark, docs, minJaccard, numHashTables)
    else bandedMinHashNearDup(spark, docs, minJaccard)
  }

  /** AND-banded MinHash near-dup over a (doc_id, text) corpus — the
    * 100 TB-safe arm of [[nearDupAuto]]: 16 explicit (a·x+b) mod p
    * minhashes over 32-bit md5 token prefixes (q59's literal family,
    * `graft.ops.Extended.MinHashA/B`), banded 4×4 — a candidate must
    * match ALL four hashes of a band, so unrelated docs collide per
    * band with probability ≈ J⁴ and candidate mass stays linear where
    * the ML family's single-hash OR-banding goes quadratic. Emit-once
    * banding, parametric size-ratio prune, codegen'd sorted-merge
    * re-score — the q59 plan discipline generalized to any corpus and
    * threshold. Tokenizes like [[minHashNearDup]] (split on single
    * space) so the router's two arms score the same token sets. */
  def bandedMinHashNearDup(spark: SparkSession, docs: DataFrame,
                           minJaccard: Double = 0.8): DataFrame = {
    val (sets, cand) = bandedMd5Candidates(spark, docs)
    // Single-merge acceptance via [[graft.expressions.SortedJaccard]] —
    // same rationale as minHashNearDupImpl (the pushed condition gets no
    // codegen subexpression elimination; the two-`i` ratio form paid two
    // merges per candidate). Values identical by construction.
    val jac = call_function("sorted_jaccard", col("ta"), col("tb"))
    rescoredPairsRaw(spark, cand, sets,
      // Parametric size-ratio prune, conservatively slackened exactly
      // like minHashNearDupImpl's (rounded-Jaccard acceptance + double
      // arithmetic can admit J as low as t − 5e-5; borderline
      // candidates fall through to the exact filter).
      least(col("na"), col("nb")).cast("double") >=
        (lit(minJaccard) - lit(5.1e-5)) * greatest(col("na"), col("nb"))
          - lit(1e-9) * greatest(col("na"), col("nb")))
      .select(col("a"), col("b"), round(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** The 16-hash / 4×4-band md5 MinHash family's shared core — ONE
    * implementation behind both the declared q59 (`graft.ops.Extended
    * .minhashPairs`, exact-ratio acceptance, oracle-replayed literal
    * for literal) and the parametric [[bandedMinHashNearDup]]
    * (rounded acceptance at any threshold): token sets, the literal
    * (a·x+b) mod p signatures over 32-bit md5 prefixes as 16 codegen'd
    * min-aggregates, and emit-once AND-banded candidate generation.
    * Returns (sets, cand): sets = (doc_id, set, n) for re-scoring,
    * cand = (a, b) candidate pairs. Folded in round 11 (VERDICT r10
    * #4) so a family fix can no longer land in only one arm; the
    * q59/q60 oracle + checksum pins prove the fold changed nothing.
    *
    * Only shuffles (doc_id, 16 partial mins) and (doc_id, sig, band)
    * rows — never tokens or text. The explode + min-agg shape replaced
    * an interpreted higher-order-function fold in round 6 (23 s →
    * seconds at sf0.1); min is order-independent and every
    * (a·x+b) mod p < p = the fold's initial accumulator, so values are
    * bit-identical to the fold's and to the oracle's literal replay. */
  /** The md5 family's shared signature chain: token SETS (with sizes),
    * and the banded signature index (doc_id, sig, g, v) at full
    * parallelism. Extracted so the symmetric self-join
    * ([[bandedMd5Candidates]]) and the asymmetric increment-vs-index
    * join ([[incrementalDedup]]) build from the SAME chain — a family
    * fix cannot land in only one arm. */
  private[graft] def md5SetsAndBands(spark: SparkSession,
                                     docs: DataFrame): (DataFrame, DataFrame) = {
    val p = 2147483647L
    val (as, bs) = (graft.ops.Extended.MinHashA, graft.ops.Extended.MinHashB)
    val minExprs = (0 until 16).map(i =>
      min((lit(as(i)) * col("x") + lit(bs(i))) % lit(p)).as(s"mh$i"))
    // Cheap text prefilter instead of `filter(size(set) > 0)` on the
    // computed column (round 17): Catalyst pushes the size filter below
    // the projection by substituting the alias, so the whole
    // split+distinct+sort chain (a HOF — interpreted, outside codegen)
    // ran once in the Filter and again in the Project, per document.
    // `trim(text) <> ''` keeps exactly the same rows: the split-on-' '
    // token set is non-empty iff text has a non-space character, and a
    // NULL text nulls both predicates. One tokenize pass per doc.
    val sets = docs
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        sort_array(array_distinct(filter(split(col("text"), " "), w => w =!= ""))).as("set"))
      .select(col("doc_id"), col("set"), size(col("set")).cast("long").as("n"))
    // Signature side explodes the RAW split (round 17): `min` over the
    // hashed tokens is invariant to duplicates, so the per-doc
    // sort_array(array_distinct(filter(...))) canonicalization — an
    // interpreted HOF chain that the optimizer's InferFiltersFromGenerate
    // additionally re-evaluates in a filter below the explode — buys the
    // aggregate nothing. The corpus-linear pass is now split → explode →
    // one row filter → md5, all inside whole-stage codegen; signatures
    // are bit-identical (same token VALUE set reaches every min).
    // The canonical sorted-distinct `sets` remain the re-score side's
    // (pair-bounded) representation above.
    val sigs = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"),
        expr("CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT)").as("x"))
      .groupBy("doc_id")
      .agg(minExprs.head, minExprs.tail: _*)
      .select(col("doc_id"), array((0 until 16).map(i => col(s"mh$i")): _*).as("sig"))
    // Full-parallelism spread before the quadratic stage: under the
    // BROADCAST self-join this corpus size plans, the band join +
    // re-score fuse into one stage that runs at THIS partitioning, and
    // round-robin spreads a hot band (the sf0.1 near-clique's shared
    // band value) across every task — a hash spread on (g, v) would
    // serialize that band into one task. A session tuned for small
    // aggregates (the bench's 4 shuffle partitions) would otherwise run
    // ~40 s of intersect CPU on 4 cores (measured: 10.4 s → 1.5 s for
    // the re-score at 32-way).
    // Regime boundary, stated rather than hidden: when the corpus
    // outgrows the broadcast threshold the planner inserts its own
    // (g, v) hash exchanges at the shuffle-partition count, this
    // round-robin exchange buys nothing, and hot-band skew is AQE's
    // skew-split's job — the right production fix there is sizing
    // shuffle partitions to the corpus, not this operator-side spread
    // (measured in the round-11 hot-band smoke; see COVERAGE.md).
    val bandParts = math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    val bands = sigs.select(col("doc_id"), col("sig"), explode(expr(
        "transform(sequence(0, 3), g -> struct(g, array_join(slice(sig, 1 + 4 * g, 4), ',') AS v))"))
        .as("band"))
      .select(col("doc_id"), col("sig"), col("band.g"), col("band.v"))
      .repartition(bandParts)
    graft.expressions.GraftFunctions.register(spark)
    (sets, bands)
  }

  private[graft] def bandedMd5Candidates(spark: SparkSession,
                                         docs: DataFrame): (DataFrame, DataFrame) = {
    val (sets, bands) = md5SetsAndBands(spark, docs)
    // Emit-once banding: a pair is emitted only at its MINIMAL matching
    // band (codegen'd earlier-band check on the flat signature, inside
    // the band-bucket partitions) — same candidate set as emit-per-band
    // + distinct(), minus the distinct's full candidate exchange.
    val cand = bands.as("x").join(bands.as("y"),
        col("x.g") === col("y.g") && col("x.v") === col("y.v") &&
        col("x.doc_id") < col("y.doc_id") &&
        !expr("band_match_before(x.sig, y.sig, 4, x.g)"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    (sets, cand)
  }

  /** Incremental near-dup dedup: screen a crawl INCREMENT against an
    * existing INDEX corpus without ever pairing index docs with each
    * other — the daily-increment shape of a production dedup, where
    * the index is orders of magnitude larger than the increment and
    * reprocessing it per batch is the cost that doesn't scale.
    *
    * Output: one row per increment doc, `(doc_id, verdict)` with
    * verdict ∈ {dup_old, dup_new, keep} — `dup_old` if the doc
    * near-dups (q59's exact acceptance: token-set Jaccard ≥ 0.8 after
    * the same 16-hash/4-band md5 MinHash banding) ANY index doc,
    * else `dup_new` if it near-dups an EARLIER increment doc (smaller
    * doc_id — q33's shadowed-by-any-earlier keep-first convention,
    * whether or not that earlier doc is itself kept), else `keep`.
    *
    * Scale shape: the signature chain is the family's single
    * implementation (md5SetsAndBands), but the candidate join is
    * ASYMMETRIC — increment bands against the full band index, so the
    * quadratic-in-corpus self-join never exists; candidate mass is
    * O(|increment| × band collisions). When the increment is small the
    * planner broadcasts its band side and the index streams through
    * map-side — no corpus-wide shuffle. In production the index's
    * (sets, bands) are precomputed once and reused per batch; this
    * self-contained form rebuilds them, and the `md5SetsAndBands` seam
    * is where a stored index would plug in. Doc ids must be disjoint
    * across the two inputs (the caller's id space is global).
    *
    * The banded candidate set restricted to increment-involving pairs
    * is IDENTICAL to the symmetric family's (banding is per-doc, and
    * the emit-once minimal-band check is symmetric in the two
    * signatures), so the verdicts equal what a full q59 pair run would
    * derive — IncrementalDedupSpec pins that equivalence. */
  /** A persisted-form MinHash index: the `md5SetsAndBands` output made
    * storable. `sets` = (doc_id, set, n) token sets; `bands` =
    * (doc_id, sig, g, v) banded signatures. Write both frames to
    * parquet once (bucket `sets` by doc_id to co-locate the re-score
    * join) and every daily batch pays only its own chain +
    * increment-proportional joins — the amortization the incremental
    * screen exists for. An index advanced by [[advanceIndex]]
    * additionally carries a boolean `inc` column on `bands` (folded-
    * increment provenance; absent ≡ all-false on a freshly built
    * index) — it round-trips through parquet like any other column. */
  case class MinHashIndex(sets: DataFrame, bands: DataFrame)

  /** Build the storable index for a corpus — one pass, reusable by
    * every subsequent [[incrementalDedup]] call. */
  def buildMinHashIndex(spark: SparkSession, docs: DataFrame): MinHashIndex = {
    val (sets, bands) = md5SetsAndBands(spark, docs.select("doc_id", "text"))
    MinHashIndex(sets, bands)
  }

  /** Band-occupancy monitor over a stored [[MinHashIndex]] — the
    * lexical twin of the semantic family's cell-balance report (q89):
    * one row per COLLIDING band value, (g, v, n_docs, pair_mass) with
    * pair_mass = n·(n−1)/2, the candidate pairs that bucket alone
    * contributes to the screen's band join. An ingest watches the top
    * of this table per day: band-value saturation (a closed or
    * converging vocabulary collapsing many docs into few signature
    * buckets) inflates candidate mass long before it shows up as a
    * slow day — the 1000×-class smoke measured 8–9× candidate
    * inflation from exactly this on a closed 5k-word vocabulary, and
    * this report is how a production loop sees the drift coming.
    * Scale shape: one hash aggregation over the band frame (four rows
    * per indexed doc, never text), output bounded by colliding values
    * only. Exact BIGINT arithmetic end to end — declared as the
    * oracle-checked q94. */
  def bandOccupancy(index: MinHashIndex): DataFrame =
    index.bands
      .select(col("g").cast("long").as("g"), col("v"))
      .groupBy("g", "v")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("g"), col("v"), col("n_docs"),
        expr("n_docs * (n_docs - 1) DIV 2").as("pair_mass"))

  def incrementalDedup(spark: SparkSession, index: DataFrame,
                       increment: DataFrame): DataFrame =
    incrementalDedup(spark,
      buildMinHashIndex(spark, index.select("doc_id", "text")), increment)

  /** The stored-index form: screen `increment` against a prebuilt
    * [[MinHashIndex]] (freshly built or read back from parquet — the
    * frames are plain tables). Semantics identical to the two-corpus
    * form; only where the index's signatures come from differs.
    *
    * `minJaccard` (default 0.8 — the family's banded design point) is
    * the exact acceptance threshold; the 16-hash/4-band family's
    * banded RECALL is sized for ≥ 0.8, so lower thresholds accept
    * every banded candidate that clears them but find proportionally
    * fewer of the true lower-similarity pairs — the same trade the
    * batch family documents.
    *
    * `arrivalOrder` selects the keep-first convention for pairs among
    * increment docs (`dup_old` vs the ingested index is unaffected):
    *  - false (default): keeper = SMALLEST doc_id — replay ≡
    *    single-batch under id-monotone day boundaries
    *    ([[advanceIndex]]'s contract); on a shuffled feed a
    *    later-arriving smaller-id near-dup of an already-screened doc
    *    gets `keep` and BOTH members of the pair survive.
    *  - true: keeper = FIRST ARRIVAL — a doc is `dup_new` if it pairs
    *    ANY previously folded increment doc (regardless of id), or an
    *    earlier-id doc of its own batch (within one batch "arrival" is
    *    undefined, so id order is the tiebreak in both modes). The
    *    equivalence guarantee becomes: an N-day replay equals the
    *    id-mode single-batch run on the corpus with ids renumbered by
    *    (arrival day, within-day id) — time-monotone feeds get exactly
    *    the guarantee id-monotone feeds get in id mode, which is what
    *    a production crawl (time-ordered, not id-ordered) needs.
    *    IncrementalDedupSpec pins both the renumbering equivalence and
    *    the shuffled-feed divergence between the modes. */
  def incrementalDedup(spark: SparkSession, index: MinHashIndex,
                       increment: DataFrame, minJaccard: Double = 0.8,
                       arrivalOrder: Boolean = false): DataFrame = {
    val (setsInc, bandsInc) = md5SetsAndBands(spark, increment.select("doc_id", "text"))
    incrementalDedupPrebuilt(spark, index, increment.select(col("doc_id")),
      setsInc, bandsInc, minJaccard, arrivalOrder)
  }

  /** [[incrementalDedup]] with the increment's signature frames already
    * built (a [[md5SetsAndBands]] output, typically localCheckpointed) —
    * the seam a screen-then-fold day shares with
    * [[advanceIndexPrebuilt]]: the signature chain (shingle → minhash →
    * band) is the day's dominant lexical cost, and a caller that both
    * screens AND folds the same day would otherwise run it twice (and,
    * lazy, re-run it inside every later consumer of the screen's
    * output). `incrementIds` is the increment's (doc_id) frame — the
    * verdict join's left side, one row per increment doc. */
  def incrementalDedupPrebuilt(spark: SparkSession, index: MinHashIndex,
                               incrementIds: DataFrame, setsInc: DataFrame,
                               bandsInc: DataFrame, minJaccard: Double = 0.8,
                               arrivalOrder: Boolean = false): DataFrame = {
    // The signature chain is per-doc (a pure function of text), so it
    // runs once PER SIDE and the old/new distinction rides each band
    // row as a LITERAL — never a corpus-wide flag join. (The first cut
    // attached flags by joining bands with a (doc_id, is_new) table:
    // +1.25 GB of exchange at the 300× smoke, and at production scale
    // that flag table is corpus-sized — the one thing this operator
    // must never shuffle. The increment's ids ARE joinable: that side
    // is small by the operator's premise.)
    graft.expressions.GraftFunctions.register(spark)
    val (setsIdx, bandsIdx) = (index.sets, index.bands)
    // An index built by [[buildMinHashIndex]] is all-old; one advanced
    // by [[advanceIndex]] carries folded increment docs flagged
    // `inc = true` — THOSE stay "new" for verdict purposes (a doc
    // pairing a previously-folded increment doc is dup_new, never
    // dup_old: the ingested-corpus/crawl distinction is provenance,
    // not index membership). `y_same` additionally marks the CURRENT
    // batch's rows — the per-branch literal that lets arrival-order
    // mode distinguish "folded earlier" (shadows unconditionally) from
    // "same batch" (id-order tiebreak) without any join.
    val all = flaggedBands(bandsIdx).withColumn("y_same", lit(false))
      .unionByName(bandsInc.withColumn("y_new", lit(true))
        .withColumn("y_same", lit(true)))
    val keepFirst =
      if (arrivalOrder)
        !col("y.y_new") || !col("y.y_same") || col("y.doc_id") < col("x.doc_id")
      else
        !col("y.y_new") || col("y.doc_id") < col("x.doc_id")
    val cand = bandsInc.as("x").join(all.as("y"),
        col("x.g") === col("y.g") && col("x.v") === col("y.v") &&
        col("x.doc_id") =!= col("y.doc_id") && keepFirst &&
        !expr("band_match_before(x.sig, y.sig, 4, x.g)"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("y.y_new").as("b_new"))
    // b_new rides the candidate row from the band join (a per-row
    // literal on each union branch), so no join recovers it — the
    // previous form re-derived it by joining pairs with the
    // increment's id set, one join the plan no longer needs.
    // The size-ratio prune: at the 0.8 design point the exact integer
    // form (na·5 ≥ nb·4) is kept verbatim — q86/q90's audited
    // arithmetic; the parametric form is the q35 slackened bound
    // (conservative: borderline candidates fall through to the exact
    // acceptance below, which alone decides).
    val prune =
      if (minJaccard == 0.8)
        col("na") * 5 >= col("nb") * 4 && col("nb") * 5 >= col("na") * 4
      else
        least(col("na"), col("nb")).cast("double") >=
          lit(minJaccard) * greatest(col("na"), col("nb")).cast("double") -
            lit(1e-9) * greatest(col("na"), col("nb")).cast("double")
    // Acceptance: at the 0.8 design point the exact-integer form is
    // equivalent to the double-ratio compare for every union size
    // u < 2^51 (proof: OPTIMIZATION_r17.md; the q59/minhashPairs site
    // carries the same rewrite) and halves the sorted_intersect_size
    // evaluations inside the pushed join condition. The PARAMETRIC
    // (t ≠ 0.8) branch gets the same one-merge cost through
    // [[graft.expressions.SortedJaccard]] on the raw token arrays
    // (round 18, VERDICT r17 #5): sorted_jaccard computes the IDENTICAL
    // double as the composed i/(na+nb−i) — same null-skipping merge,
    // same size terms, one IEEE division (the r17 generated-property
    // test pins the bit-equivalence; IncrementalDedupSpec pins pair-set
    // equality to the ratio form at several thresholds) — so the pushed
    // condition evaluates ONE sorted merge per candidate instead of two.
    val allSets = setsIdx.unionByName(setsInc)
    val pairs =
      if (minJaccard == 0.8)
        rescoredPairs(spark, cand, allSets, prune)
          .filter(col("i") * 9 >= (col("na") + col("nb")) * 4)
      else
        rescoredPairsRaw(spark, cand, allSets, prune)
          .filter(call_function("sorted_jaccard", col("ta"), col("tb")) >= lit(minJaccard))
    val flags = pairs
      .groupBy(col("a").as("doc_id"))
      .agg(max(when(!col("b_new"), 1).otherwise(0)).as("has_old"),
        max(when(col("b_new"), 1).otherwise(0)).as("has_new"))
    incrementIds.select(col("doc_id")).join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("has_old") === 1, "dup_old")
          .when(col("has_new") === 1, "dup_new")
          .otherwise("keep").as("verdict"))
  }

  /** Band frame → (band columns, y_new): `inc` (absent on a freshly
    * built index, present on an advanced one) becomes the verdict
    * provenance flag. */
  private def flaggedBands(bands: DataFrame): DataFrame =
    if (bands.columns.contains("inc"))
      bands.withColumn("y_new", coalesce(col("inc"), lit(false))).drop("inc")
    else bands.withColumn("y_new", lit(false))

  /** Fold an increment INTO a stored [[MinHashIndex]] — the
    * index-advance step of a multi-day ingest: screen day k with
    * [[incrementalDedup]], then fold day k with this, and day k+1
    * screens against index ∪ days(1..k) at O(day) signature cost.
    * The folded docs' band rows carry `inc = true` (parquet-storable
    * like every other index column), so later screens report a pair
    * with them as `dup_new` — they entered as crawl increment, not as
    * the ingested corpus, and the single-batch verdicts distinguish
    * exactly that.
    *
    * ALL of the day's docs fold, not only its keepers: `dup_new` is
    * "near-dups ANY earlier increment doc, kept or not" (q33's
    * shadowed-by-any-earlier convention), and near-dup at a Jaccard
    * threshold is NOT transitive — fold-kept-only would let this chain
    * through: index A; day-1 B ≈ A (dup_old, dropped); day-2 C ≈ B but
    * C ≉ A. Kept-only folding never sees B again and calls C `keep`;
    * the single-batch run calls it `dup_new`. IncrementalDedupSpec
    * plants exactly that chain.
    *
    * Replay ≡ single-batch equivalence (pinned in
    * IncrementalDedupSpec): if the increment is partitioned into days
    * MONOTONE in doc_id (day boundaries respect id order — the same
    * ordering contract as the streaming twins), then screening each
    * day against the advanced index and unioning the per-day verdicts
    * reproduces the single-batch [[incrementalDedup]] over the whole
    * increment row for row. Monotonicity is what makes the
    * `y.doc_id < x.doc_id` keep-first condition see the same earlier
    * set in both executions; day partitions that interleave ids lose
    * pairs whose smaller-id member arrives later — in BOTH directions
    * the batch run would count.
    *
    * Cost shape: the increment's chain runs once (O(day)); the union
    * is a metadata operation on DataFrames and an append on stored
    * parquet (the streaming twins write each day as one `batch_id=`
    * partition — no rewrite of the existing index). Doc ids must be
    * disjoint from everything already in the index. */
  def advanceIndex(spark: SparkSession, index: MinHashIndex,
                   increment: DataFrame): MinHashIndex = {
    val (setsInc, bandsInc) = md5SetsAndBands(spark, increment.select("doc_id", "text"))
    advanceIndexPrebuilt(index, setsInc, bandsInc)
  }

  /** [[advanceIndex]] with the increment's signature frames already
    * built (and typically localCheckpointed): the seam a multi-day
    * DRIVER loop needs — folding lazy frames would make every later
    * screen re-run every prior day's signature chain (O(days²) over a
    * replay, the exact lifetime term the durable streaming twins
    * killed), while a checkpointed day folds as an O(1)-plan union
    * over materialized blocks. Semantics identical to
    * [[advanceIndex]]. */
  def advanceIndexPrebuilt(index: MinHashIndex, setsInc: DataFrame,
                           bandsInc: DataFrame): MinHashIndex = {
    val bandsIdx =
      if (index.bands.columns.contains("inc")) index.bands
      else index.bands.withColumn("inc", lit(false))
    MinHashIndex(
      index.sets.unionByName(setsInc),
      bandsIdx.unionByName(bandsInc.withColumn("inc", lit(true))))
  }

  /** Candidate re-score join for [[bandedMd5Candidates]]: attach both
    * sides' token sets, apply the caller's size-ratio `prune` BEFORE
    * any intersection runs (candidates failing it skip the sorted-merge
    * entirely), and emit (a, b, …, i, na, nb) with `i` the codegen'd
    * sorted-merge intersect size — any EXTRA candidate columns beyond
    * (a, b) ride through untouched (incrementalDedup's per-row `b_new`
    * provenance literal; re-deriving it downstream would cost the join
    * this pass-through removes). The exact acceptance cut stays with
    * the caller — the prune may only discard pairs the cut would. */
  private[graft] def rescoredPairs(spark: SparkSession, cand: DataFrame,
                                   sets: DataFrame, prune: Column): DataFrame = {
    val inter = graft.expressions.GraftFunctions.sortedIntersectSize(spark, "ta", "tb")
    val carried = cand.columns.toIndexedSeq.map(col)
    rescoredPairsRaw(spark, cand, sets, prune)
      .select(carried :+ inter.as("i") :+ col("na") :+ col("nb"): _*)
  }

  /** [[rescoredPairs]] without the intersect projection: the joined,
    * size-pruned candidate frame with the token arrays (`ta`/`tb`) and
    * sizes still exposed, for callers whose acceptance runs the
    * single-merge [[graft.expressions.SortedJaccard]] directly on the
    * arrays instead of composing `i/(na+nb−i)` from the intersect
    * column (round 17 — see bandedMinHashNearDup). */
  private[graft] def rescoredPairsRaw(spark: SparkSession, cand: DataFrame,
                                      sets: DataFrame, prune: Column): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    cand
      .join(sets.select(col("doc_id").as("a"), col("set").as("ta"), col("n").as("na")), "a")
      .join(sets.select(col("doc_id").as("b"), col("set").as("tb"), col("n").as("nb")), "b")
      .filter(prune)
  }

  private def minHashNearDupImpl(spark: SparkSession, tokens: DataFrame,
                                 banded: DataFrame, minJaccard: Double): DataFrame = {
    // Emit-once candidate generation: a colliding pair is emitted only
    // at its MINIMAL matching band (codegen'd earlier-band check inside
    // the band-bucket partitions) instead of once per matching band
    // with a post-join distinct(). Identical candidate set; the
    // distinct()'s full O(candidates × band-duplication) exchange —
    // 62M rows for ~7M candidates at sf0.1 on this near-clique corpus —
    // disappears entirely. See [[graft.expressions.BandMatchBefore]].
    graft.expressions.GraftFunctions.register(spark)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.t") === col("y.t") && col("x.hv") === col("y.hv") &&
        col("x.doc_id") < col("y.doc_id") &&
        !expr("band_match_before(x.sig, y.sig, 1, x.t)"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val sets = tokens.select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
    // ONE merge per candidate (round 17): the acceptance below is pushed
    // into the candidate join's condition, where codegen does no
    // subexpression elimination — the previous `i/(na+nb−i)` ratio form
    // paid two sorted-merge passes per candidate there. [[graft
    // .expressions.SortedJaccard]] computes the identical double (same
    // merge, same size terms, one IEEE division) in a single pass.
    // Measured at sf0.1: q43 38.3 → 21.5 CPU-s.
    val jac = call_function("sorted_jaccard", col("ta"), col("tb"))
    cand
      .join(sets.select(col("doc_id").as("a"), col("toks").as("ta"), col("n").as("na")), "a")
      .join(sets.select(col("doc_id").as("b"), col("toks").as("tb"), col("n").as("nb")), "b")
      // Size-ratio pruning before any intersection runs (the q35 idiom):
      // J ≥ t forces min(|A|,|B|)/max(|A|,|B|) ≥ t, so candidates whose
      // set sizes alone rule them out skip the sorted-merge entirely —
      // with the ML family's single-hash OR-banding, most emitted
      // candidates fail the final threshold (12.35M candidates → 2.97M
      // pairs at sf0.1), and this culls them at integer-compare cost.
      // The bound is conservatively slackened for the PARAMETRIC
      // threshold: the declared filter accepts on the 4-dp ROUNDED
      // Jaccard (so true J as low as t − 5e-5 can pass), and t·max is
      // double arithmetic (≤ a few ulps of rounding); the 1e-9·max
      // slack dwarfs both, so no pair the exact filter below would keep
      // is ever pruned — borderline candidates just fall through to the
      // exact decision.
      .filter(least(col("na"), col("nb")).cast("double") >=
              (lit(minJaccard) - lit(5.1e-5)) * greatest(col("na"), col("nb"))
                - lit(1e-9) * greatest(col("na"), col("nb")))
      .select(col("a"), col("b"), round(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** LSH-bucketed approximate nearest neighbours: random-hyperplane
    * (SimHash) bucket signatures, candidates generated within a bucket,
    * exact cosine re-scoring on candidates only. Standard (L, b, h)
    * construction — `nTables` independent tables of `nPlanes` planes
    * each (candidate on a bucket match in ANY table), and multi-probe:
    * each probe also searches buckets within Hamming `maxProbeHamming`
    * of its per-table signature, since a true neighbour at angle θ flips
    * each plane independently with probability θ/π and so lands a few
    * bits away, not in the exact bucket.
    *
    * Scale shape: the corpus is bucketed once per table (L× linear) and
    * shuffled by (table, bucket); only the tiny probe side fans out
    * (L · sum_{i<=h} C(b, i) bucket keys per probe). Each executor
    * scores one bucket's candidates, never the corpus. The defaults
    * (L=8, b=8, h=2) are sized for the HARD regime the recall pin tests
    * — q36's true top-5 on this corpus sit at cosine 0.26–0.49, i.e.
    * θ≈70°, where per-table match probability is only ~0.3 — and reach
    * recall ≥ 0.9 there (CapabilitySpec, vs exact q36 at sf0.01).
    * Production near-dup targets (cosine ≥ 0.8 → θ ≤ 37°) match each
    * table at ~0.75, so the same defaults are generous and the dials
    * can drop to L=2–4, h=0–1 for a far smaller candidate fraction. */
  def annLshCosine(emb: DataFrame, probes: DataFrame, k: Int = 5,
                   nPlanes: Int = 8, seed: Long = 42L,
                   nTables: Int = 8, maxProbeHamming: Int = 2,
                   dim: Int = 64): DataFrame = {
    // `dim` MUST match the embedding dimension: zip_with null-pads the
    // shorter side, so a too-short plane nulls every dot, every bit
    // falls to 0, and all vectors silently share bucket 0 of every
    // table — the join degenerates to a full cross product (results
    // stay correct via the exact re-score, the scale win is gone).
    def planesFor(t: Int): Array[Array[Double]] = {
      val rnd = new scala.util.Random(seed + t)
      Array.fill(nPlanes, dim)(rnd.nextGaussian())
    }
    // Every dot product below (plane signatures, norms, re-score) runs
    // as the codegen'd [[graft.expressions.DoubleDotProduct]] — bit-
    // identical to the HOF `aggregate(zip_with(...))` fold it replaces
    // (same product types, same left-to-right double accumulation; the
    // pinned sim values and recall cannot move), but a primitive loop
    // instead of an interpreted boxed lambda per element. The corpus
    // side alone evaluates L·b dots per vector for the signatures.
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("double_dot", a, b)
    // ALL table signatures in one native call (round 17). The previous
    // per-plane Column tree — L·b CASE/shiftleft/double_dot nodes inside
    // one array(...) projection expression — was a single generated
    // method the expression splitter cannot divide; at (L=8, b=8,
    // dim=64) it crossed HotSpot's DontCompileHugeMethods limit and the
    // corpus-linear signature stage ran in the BYTECODE INTERPRETER:
    // measured 3.48 CPU-s for 2000 vectors vs 0.07 at L=4 (under the
    // cliff), reproducibly moved by the JVM flag. plane_signatures
    // computes the identical bits (same per-element widening, same
    // sequential double accumulation, same >= 0 compare — see the
    // expression's contract note) in a constant-size codegen call:
    // q46 end-to-end fell 3.67 → 0.32 CPU-s (−91%; wall 1.19 → 0.57 in
    // the same window). The 50-row pin and 0.94-recall pin stand.
    val allPlanes: Seq[Seq[Seq[Double]]] =
      (0 until nTables).map(t => planesFor(t).map(_.toSeq).toSeq)
    def signatures(v: org.apache.spark.sql.Column) =
      call_function("plane_signatures", v, typedLit(allPlanes))
    // Norms are computed once per vector BEFORE the candidate join so the
    // re-score is a true cosine — with the raw dot product instead, a
    // large-norm far vector would outrank a unit-norm near-duplicate
    // whenever embeddings are not unit-normalized (nothing in this API
    // requires them to be).
    val norm = (v: org.apache.spark.sql.Column) => sqrt(dot(v, v))
    // Spread the corpus across cores before the signature projection: a
    // single-file input arrives as ONE split, and with the probe side
    // broadcast the whole corpus stage (L·b signature dots + bucket
    // join + re-score) would run as one task — the q43/q59 single-
    // straggler shape (measured: 0.8 s of q46's wall on one core).
    // Width capped at 8 like the other probe-bounded loops: at this
    // corpus size wider tasks are dispatch overhead (A/B: 8p 1.13 s,
    // 32p 1.18 s, 1p 1.75 s); at real scale the input arrives
    // pre-split and this exchange is noise against the pair work.
    val corpus = emb
      .repartition(math.min(emb.sparkSession.sparkContext.defaultParallelism, 8))
      .select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .withColumn("nnorm", norm(col("ne")))
      // Zero-norm vectors have no direction: their cosine is 0/0 — a
      // hard DIVIDE_BY_ZERO under ANSI mode (Spark 4 default). They can
      // be neither neighbour nor probe; drop them before any division.
      .filter(col("nnorm") > 0)
      // All L per-table signatures materialize once into an array (the
      // same L·b dots as the per-struct form) and ride the exploded
      // rows, so the emit-once join predicate below can check EARLIER
      // tables without recomputing any plane dot.
      .withColumn("nsigs", signatures(col("ne")))
      .withColumn("tb", explode(array((0 until nTables).map(t =>
        struct(lit(t).as("t"), col("nsigs")(t).as("bucket"))): _*)))
      .select(col("nid"), col("ne"), col("nnorm"), col("nsigs"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val masks = (0 until (1 << nPlanes))
      .filter(m => Integer.bitCount(m) <= maxProbeHamming).map(_.toLong)
    // Signatures are materialized once per table into an array column;
    // the mask fan-out then only XORs — without this each of the
    // L·|masks| probe keys would re-derive its full b-plane signature.
    // The fan-out explodes a LITERAL (table, mask) array and XORs per
    // exploded row (round 18): the previous composed
    // array(struct(lit(t), sigs(t) ^ m) …) — L·|masks| = 296 struct
    // expressions at the defaults — generated ONE
    // generate_doConsume method of 58868 bytecode bytes, over HotSpot's
    // 8000-byte DontCompileHugeMethods limit: the probe fan-out ran in
    // the BYTECODE INTERPRETER (invisible at the declared q46's 10-row
    // probe set, but the probe side is the per-query workload side of
    // this API). The literal table is a reference object, not code;
    // element_at(sigs, t+1) ≡ sigs(t) for the in-range ts it contains,
    // so the (t, bucket) keys are identical.
    val tms: Seq[(Int, Long)] =
      for { t <- 0 until nTables; m <- masks } yield (t, m)
    val probed = probes.select(col("vec_id").as("pid"), col("embedding").as("pe"))
      .withColumn("pnorm", norm(col("pe")))
      .filter(col("pnorm") > 0)
      .withColumn("sigs", signatures(col("pe")))
      .withColumn("tm", explode(typedLit(tms)))
      .select(col("pid"), col("pe"), col("pnorm"), col("sigs"),
        col("tm._1").as("t"),
        element_at(col("sigs"), col("tm._1") + 1)
          .bitwiseXOR(col("tm._2")).as("bucket"))
    val dotCol = dot(col("pe"), col("ne"))
    val cosine = dotCol / (col("pnorm") * col("nnorm"))
    val w = Window.partitionBy("pid").orderBy(col("sim").desc, col("nid"))
    // The probe side is the designed-small side (L·|masks| keys per
    // probe) — broadcast it explicitly. Left to stats, the planner
    // builds on the CORPUS side: at bench scale that collects every
    // corpus vector + norm to the driver (measured ~0.8 s of q46's
    // wall-clock), and at 100 TB it is an OOM. With the probe side
    // built, the corpus streams scan-side, computing signatures and
    // the re-score inside one codegen stage with no corpus shuffle.
    // Emit-once across tables (round 17): a (probe, neighbour) pair used
    // to be emitted once per matching table — each duplicate paying the
    // full b-dim re-score dot — then collapsed by a `distinct()`
    // exchange over the scored candidate set. A pair matches table t
    // iff hamming(psig_t, nsig_t) <= maxProbeHamming (within a table,
    // exactly one probe mask matches, so duplication is cross-table
    // only); keeping a match only when NO earlier table also matches
    // emits each pair exactly once. Same candidate set, same sims (a
    // function of the vectors), minus the duplicate dots and the
    // distinct's exchange.
    val earlierTableMatches = (0 until nTables - 1).map(i =>
        col("t") > i &&
        bit_count(col("sigs")(i).bitwiseXOR(col("nsigs")(i))) <= maxProbeHamming)
      .reduce(_ || _)
    broadcast(probed).join(corpus, Seq("t", "bucket"))
      .filter(col("pid") =!= col("nid") && !earlierTableMatches)
      .select(col("pid"), col("nid"), round(cosine, 4).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("pid", "nid", "sim")
  }

  /** SimHash near-duplicate detection: 64-bit SimHash per doc, banded
    * into 4×16-bit keys for candidate generation — by pigeonhole, any
    * pair within Hamming distance 3 shares at least one exact band, so
    * the band-bucket self-join finds ALL such pairs without a quadratic
    * scan; candidates are then exactly filtered by `bit_count(a XOR b)`.
    * The band join shuffles on band values (2^16 per band — no hot-key
    * skew), which is the shape that survives 100 TB. */
  def simHashNearDup(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 bands of 16 bits guarantee recall only up to Hamming 3")
    // Same signature as TextFunctions.simhash64 (per-token xxhash64,
    // bitwise majority vote) but computed as explode + 64 codegen'd
    // sum(CASE bit) aggregates with map-side combine — the Column
    // formulation's 64 interpreted folds per doc ran outside codegen on
    // BOTH join sides (measured 11.4 s at sf0.1 vs ~1 s this shape).
    // Integer sums are order-independent, so signatures are identical.
    val balSums = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .cast("long").as(s"bal$i"))
    // Signature assembly through the native sign_bit_pack (round 18):
    // the composed 64-term when/shiftleft chain, fused into the
    // aggregate's output method, measured 9077 bytecode bytes — over
    // HotSpot's 8000-byte JIT limit, so the per-document signature
    // emission ran in the bytecode interpreter (the q46/q43 disease
    // class, caught by the now-non-vacuous PlanQualitySpec net). Pure
    // integer arithmetic, bit-identical by construction (same bal > 0
    // tests, same disjoint bits); the checksum pin re-verifies.
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val sh = docs
      // Raw split + row filter (round 17): identical token multiset, no
      // interpreted HOF in the corpus-linear pass — see q58's note.
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
      .groupBy("doc_id")
      .agg(balSums.head, balSums.tail: _*)
      .select(col("doc_id"), call_function("sign_bit_pack",
        array((0 until 64).map(i => col(s"bal$i")): _*)).as("sh"))
    val banded = sh.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), shiftright(col("sh"), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band"), col("bk.key"))
    val a = banded.select(col("doc_id").as("a"), col("sh").as("sha"), col("band"), col("key"))
    val b = banded.select(col("doc_id").as("b"), col("sh").as("shb"), col("band").as("band2"), col("key").as("key2"))
    // Emit-once banding (round 17, the q43/q59 idiom): emit a colliding
    // pair only at its MINIMAL shared 16-bit band — earlier bands are
    // re-derived from the signatures both sides already carry (pure
    // shift/mask compares inside codegen) — instead of once per shared
    // band followed by a full `distinct()` exchange over the candidate
    // set. Same pair set, same hamming (a function of the signatures);
    // the distinct's O(candidates × band-duplication) exchange is gone.
    val earlierBandMatches = (0 until 3).map(i =>
        col("band") > i &&
        (shiftright(col("sha"), 16 * i).bitwiseAND(lit(0xFFFFL)) ===
         shiftright(col("shb"), 16 * i).bitwiseAND(lit(0xFFFFL))))
      .reduce(_ || _)
    a.join(b, col("band") === col("band2") && col("key") === col("key2") &&
        col("a") < col("b") && !earlierBandMatches)
      .select(col("a"), col("b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Test-set decontamination — flag training documents containing
    * benchmark passages: word-n-gram shingles on both sides, containment
    * = |shared shingles| / |benchmark shingles| (containment, NOT
    * Jaccard: a long training doc fully embedding a short benchmark item
    * has low Jaccard but containment 1.0). The benchmark side is small
    * by construction → broadcast. At 100 TB the corpus side streams
    * through the broadcast equi-join in one pass; the only exchange is
    * the (doc, bench) hash aggregate over MATCHING shingle rows —
    * O(actual contamination), not O(corpus). Duplicate doc_id rows —
    * on EITHER side — score as the UNION of their shingles (corpus via
    * the distinct count below, benchmark via the per-bench_id distinct
    * build), one output row per (doc_id, bench_id). */
  def ngramContamination(spark: SparkSession, docs: DataFrame, benchmark: DataFrame,
                         n: Int = 5, minContainment: Double = 0.5): DataFrame = {
    require(minContainment > 0.0,
      "minContainment must be positive: zero-overlap (doc, bench) pairs are never emitted")
    // Full-length shingles only: a doc with < n tokens yields NO
    // shingles (not one truncated shingle — that made every whitespace-
    // only bench doc emit the "" shingle, pass the size(bs)>0 guard, and
    // spuriously "contaminate" every other short doc at containment 1.0).
    def shingles(c: Column) = {
      val toks = filter(split(c, "\\s+"), w => w =!= "")
      when(size(toks) >= n,
        array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
        .otherwise(array().cast("array<string>"))
    }
    // Exploded broadcast EQUI-join on the shingle, not a cross join
    // with a per-pair set intersect (round 10 — the pipeline smoke
    // measured the cross join at O(corpus × bench)): both shingle sets
    // are distinct per row, so each shared shingle joins exactly once
    // and the (doc, bench) group count IS the intersection size. Work
    // is O(matching shingles); a corpus doc sharing nothing with the
    // benchmark costs one hash probe per shingle and never reaches the
    // aggregate. Zero-overlap pairs are not emitted (hence the
    // minContainment > 0 precondition — they were filtered out before
    // anyway).
    val corpusSh = docs
      .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
    // Bench shingles distinct per bench_id, NOT per row: two benchmark
    // rows sharing a bench_id (duplicate or conflicting bench texts)
    // must score as one union set — a per-row build would join the same
    // shared shingle once per row, letting containment exceed 1.0 and
    // two sub-threshold rows sum past the threshold. The union also
    // defines `bn` (the denominator) as the distinct size of the merged
    // set, mirroring the corpus side's countDistinct semantics. The
    // extra aggregate runs on the SMALL side only, pre-broadcast.
    val benchSh = benchmark
      .select(col("doc_id").as("bench_id"), explode(shingles(col("text"))).as("bsh"))
      .distinct()
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy(col("bench_id"))).cast("double"))
    corpusSh.join(broadcast(benchSh), col("sh") === col("bsh"))
      .groupBy(col("doc_id"), col("bench_id"), col("bn"))
      // countDistinct, not count: a corpus doc_id appearing on several
      // rows joins each shared shingle once per row — a plain count
      // would sum across the rows and inflate containment past the
      // per-row value (even past 1.0 for a verbatim duplicated doc).
      // Distinct shingles give union-of-rows semantics instead.
      .agg(countDistinct(col("sh")).cast("double").as("shared"))
      .select(col("doc_id"), col("bench_id"),
        (col("shared") / col("bn")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Exact word-n-gram (shingle) Jaccard near-dup: contiguous n-token
    * shingles instead of single tokens — order-sensitive, the standard
    * content-overlap measure for near-dup text. Probe side bounded and
    * broadcast (same skew reasoning as q35). */
  def ngramJaccardNearDup(docs: DataFrame, n: Int = 3,
                          minJaccard: Double = 0.5, maxProbeId: Long = 100): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val toks = filter(split(col("text"), "\\s+"), w => w =!= "")
    // Same full-shingle guard as ngramContamination: < n tokens → no
    // shingles, and the size(sh) > 0 filter drops the doc entirely.
    // Shingle sets are canonicalized sorted+distinct ONCE per document
    // (round 17) so the per-pair score below is the single-pass
    // [[graft.expressions.SortedJaccard]] merge — `array_intersect`
    // built a hash set per CANDIDATE PAIR, and the pushed acceptance
    // evaluated it twice (intersection term and union term). Values are
    // identical: same sets, same i/(na+nb−i) double division.
    val shingles = when(size(toks) >= n,
      sort_array(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))))
      .otherwise(array().cast("array<string>"))
    val sh = docs.select(col("doc_id"), shingles.as("sh")).filter(size(col("sh")) > 0)
    val probe = sh.filter(col("doc_id") < maxProbeId)
      .select(col("doc_id").as("a"), col("sh").as("sa"))
    val corpus = sh.select(col("doc_id").as("b"), col("sh").as("sb"))
    broadcast(probe).crossJoin(corpus)
      .filter(col("a") < col("b"))
      .withColumn("jaccard", round(call_function("sorted_jaccard", col("sa"), col("sb")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("a", "b", "jaccard")
  }

  /** IVF (inverted-file) approximate nearest neighbours — the other
    * standard ANN scale path next to [[annLshCosine]]: a k-means coarse
    * quantizer partitions the corpus into `nlist` cells; each probe
    * scores only the `nprobe` cells whose centroids it is closest to.
    * At 100 TB the corpus is shuffled ONCE by cell id and each probe's
    * candidate scan touches nprobe/nlist of the data — the classic
    * recall/throughput dial. Centroids are tiny (nlist × dim) and
    * broadcast; exact float32 re-scoring keeps the final ordering
    * deterministic (seeded quantizer ⇒ reproducible cells). */
  def annIvfCosine(emb: DataFrame, probes: DataFrame, k: Int = 5,
                   nlist: Int = 8, nprobe: Int = 4, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val featured = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      array_to_vector(col("embedding")).as("features"))
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(featured)
    val corpus = model.transform(featured).select(col("nid"), col("ne"), col("cell"))
    // Per-probe nprobe nearest cells: centroids are driver-side — emit
    // them as a tiny broadcast table and rank by exact distance.
    val centers = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }.toSeq
    val centersDf = emb.sparkSession.createDataFrame(centers).toDF("cell", "centroid")
    val d2 = aggregate(zip_with(col("pe"), col("centroid"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, x) => a + x)
    val wCell = Window.partitionBy("pid").orderBy(col("d2"), col("cell"))
    val probeCells = probes.select(col("vec_id").as("pid"), col("embedding").as("pe"))
      .crossJoin(broadcast(centersDf))
      .select(col("pid"), col("pe"), col("cell"), d2.as("d2"))
      .withColumn("rc", row_number().over(wCell))
      .filter(col("rc") <= nprobe)
      .select("pid", "pe", "cell")
    // Codegen'd double-accumulated dot (float products widen into a
    // double accumulator, and array<double> inputs still type-check) —
    // bit-identical to the HOF fold it replaces, see DoubleDotProduct.
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    val dotCol = call_function("double_dot", col("pe"), col("ne"))
    // True cosine, not the raw dot: without the norm division a
    // large-norm far vector outranks a unit-norm near neighbour whenever
    // embeddings are not normalized (same fix as annLshCosine).
    val fnorm = (v: org.apache.spark.sql.Column) =>
      sqrt(call_function("double_dot", v, v))
    val cosine = dotCol / (fnorm(col("pe")) * fnorm(col("ne")))
    val w = Window.partitionBy("pid").orderBy(col("sim").desc, col("nid"))
    probeCells.join(corpus, "cell")
      .filter(col("pid") =!= col("nid"))
      // Zero-norm guard (cosine undefined; ANSI DIVIDE_BY_ZERO otherwise)
      .filter(fnorm(col("pe")) > 0 && fnorm(col("ne")) > 0)
      .select(col("pid"), col("nid"), round(cosine, 4).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("pid", "nid", "sim")
  }

  /** Salted equi-join for skewed keys: the big side gets a deterministic
    * per-row salt (hash of all columns), the small side is replicated
    * once per salt value, and the join key becomes (key, salt) — a hot
    * key's rows spread over `nSalts` shuffle partitions instead of one
    * straggler. Results are identical to the unsalted join for any salt
    * assignment; use when AQE's skew handling can't kick in (e.g. a
    * non-AQE streaming stage or a key so hot one partition spills). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 nSalts: Int = 8, joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      "salting preserves semantics for inner/left joins of a unique-keyed small side")
    val bigCols = big.columns.toIndexedSeq.map(col)
    val salted = big.withColumn("__salt",
      pmod(xxhash64(bigCols: _*), lit(nSalts.toLong)))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0L), lit(nSalts.toLong - 1))))
    salted.join(replicated,
        salted(key) === replicated(key) && salted("__salt") === replicated("__salt"),
        joinType)
      .drop(replicated(key)).drop("__salt")
  }

  /** Connected-components clustering over a near-dup pair graph — the
    * step that turns any pairwise near-dup detector (q35/q43/q44/q45)
    * into an actionable dedup map (keep min-id per component, drop the
    * rest). Returns (doc_id, cluster_id) for every node that appears in
    * `pairs` (columns a, b; self-loops, duplicates and either
    * orientation allowed — a node seen only in a self-loop is its own
    * singleton cluster), where cluster_id is the minimum node id of the
    * node's connected component.
    *
    * Rule: solve on the driver whenever the edge set fits
    * `localSolveEdges`, and contract on the cluster only until it does.
    *
    *  1. PIN ONCE, COUNT ONCE. The pair pipeline (for q60, q59's MinHash
    *     signature + banding + re-score) is pinned exactly once, as the
    *     raw (a, b) rows, and counted in one job over the resident
    *     blocks (`toRdd.count`: a `Dataset.count()` is an aggregate
    *     that AQE splits into two jobs).
    *  2. LOCAL SOLVE. At ≤ `localSolveEdges` undirected edges one more
    *     job collects the pin as primitive long arrays (16 bytes per
    *     edge) into a min-root union-find ([[localComponents]]), whose
    *     (node, root) answer is the result and the edge pin is freed —
    *     no seed, no contraction level, no compose join, no block left
    *     resident. Near-dup pair graphs that fit (every perfbench
    *     scale; q60 and q84 up to sf0.01) cost three jobs — pin, count,
    *     collect — where a full contraction level cost about twenty,
    *     most of them fixed dispatch. Driver footprint at the full 1M-edge
    *     budget, measured on a sparse graph of 1M edges over 2M nodes
    *     (local[4], 1 GB driver heap): the call returns in 1.6 s (7.3 s
    *     through a full contraction level), the sampled heap peak stays
    *     under 350 MB above the idle session, and 32 MB stay retained —
    *     the answer's two long arrays, held for the result's scans,
    *     which re-encode them in 0.7 s per full read.
    *  3. ITERATED STAR CONTRACTION above the budget (Kiveris et al.,
    *     SoCC 2014). Each level's aggregate assigns every node the
    *     minimum of its closed 1-ball (label(v) = min(v ∪ N(v))), then
    *     one pass rewrites every edge (x, y) to (label(x), label(y)) and
    *     drops self-loops and duplicates. Near-dup pair graphs are
    *     locally DENSE — a family of k near-identical docs arrives as
    *     ~all C(k,2) pairs — so one level already collapses them
    *     (measured at sf0.1: 2.53M pairs over 3856 nodes → 1613
    *     contracted edges). Path-like structure contracts slowly — on a
    *     path whose ids increase along it every label is the left
    *     neighbour, and a level removes one edge (measured: 39 → 38 →
    *     37). Levels therefore repeat only while the remainder is above
    *     `localSolveEdges`, keeps shrinking below 0.7× per level and
    *     `maxContractLevels` allows.
    *  4. TAIL. A remainder that fits the budget is solved locally as in
    *     2; one that stalled above it runs the iterative min-label loop
    *     with pointer doubling ([[propagateComponents]]); an empty one
    *     needs nothing. The level maps then COMPOSE back out,
    *     innermost-to-outermost.
    *
    * Correctness, per level: every seed label is a node id inside its
    * own component, so contracted components are exactly the images of
    * original components, and each original component minimum m
    * survives every level (m's neighbours are all ≥ m ⇒ label(m) = m,
    * by induction over levels). The tail therefore labels every
    * final-level node with its original component min, and the label
    * maps compose back out (identity where a family collapsed
    * completely and deeper levels never saw its label-node), giving the
    * local solve's answer bit for bit. Contraction never grows a
    * diameter, so a maxIter that covered the input graph always covers
    * every contracted one.
    *
    * Scale shape of a level: one aggregate (map-side partial, then an
    * O(nodes) exchange) plus two co-partitioned shuffled-hash joins
    * (build sides are O(nodes) per partition, never broadcast — nodes ~
    * documents at 100 TB). The level reads the previous pin (the raw
    * pairs at level 0) and its O(E) exchanges are the y-keyed edge
    * exchange into the seed join and the x-keyed re-key of the
    * half-contracted set; levels past the first run on the
    * geometrically shrinking remainder with partitioning sized to its
    * measured edge count. Driver state is the per-level edge counts,
    * the loop's change counter and, once a remainder fits, the local
    * solve's O(budget) arrays.
    *
    * Materialization goes through [[Materialized.pin]]. */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 20,
                    maxContractLevels: Int = 4,
                    localSolveEdges: Long = 1000000L): DataFrame = {
    require(maxContractLevels >= 1, "at least one contraction level")
    val sess = pairs.sparkSession
    val edgeParts = math.max(sess.sessionState.conf.numShufflePartitions,
      sess.sparkContext.defaultParallelism)
    val tick = new CcTicker("cc")
    // Checkpoint lifecycle: every materialization is tracked; the
    // success path frees each one explicitly the moment its last
    // consumer has materialized, and the failure path frees everything
    // tracked (unpersist is idempotent) so an exception cannot leak
    // session-lifetime blocks.
    var tracked = List.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val m = Materialized.pin(df); tracked ::= m; m
    }
    // One job over a pin's resident blocks, never an aggregate plan.
    def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()
    // ~1M directed edges per partition: keeps per-round/per-level work
    // in-memory at any scale while collapsing small remainders to
    // single-task stages (measured: 32-partition stages over thousands
    // of edges were ~1.5 s of pure scheduler overhead). Uncapped above:
    // a width over the core count means several waves of in-memory
    // tasks, never an OOM-sized partition.
    def partsFor(undirected: Long): Int =
      math.max(1L, (2 * undirected + 999999) / 1000000).toInt
    var ok = false
    try {
      // The only evaluation of the upstream pair pipeline. Unpartitioned:
      // the local solve needs no layout, and above the budget level 0's
      // own exchanges partition the edges.
      var curPairs = mat(pairs.select(col("a"), col("b")))
      var n = rows(curPairs)
      tick(s"pin edges=$n")
      var seeds = List.empty[DataFrame] // innermost (deepest level) first
      var prevCount = Long.MaxValue
      var level = 0
      while (n > localSolveEdges && level < maxContractLevels &&
             n < prevCount * 0.7) {
        // Both edge directions from one projection over the pin.
        val directed = curPairs.select(explode(array(
            struct(col("a").as("x"), col("b").as("y")),
            struct(col("b").as("x"), col("a").as("y")))).as("e"))
          .select(col("e.x").as("x"), col("e.y").as("y"))
        // Seed: label(v) = min of v's closed 1-ball. The aggregate
        // combines map-side, so only O(nodes) rows reach its exchange.
        // The pin preserves the explicit width (cluster parallelism at
        // level 0, the measured remainder's width after), and the edge
        // exchange into the first join below targets it.
        val width = if (level == 0) edgeParts else partsFor(n)
        val seed = mat(directed.groupBy(col("y"))
          .agg(min(col("x")).as("mn"))
          .select(col("y").as("id"), least(col("y"), col("mn")).as("label"))
          .repartition(width, col("id")))
        seeds ::= seed
        // Contract: (x, y) → (label(x), label(y)). Both joins are
        // shuffled-hash against the seed's layout — no sort; the O(E)
        // exchanges are the edges' y-keyed move into the first join and
        // the re-key of the half-contracted set. Self-loops vanish;
        // duplicates collapse map-side inside the distinct's partial
        // aggregate, so a dense family's C(k,2) pairs leave at most a
        // handful of contracted edges on the wire.
        val halfC = directed.join(seed.hint("shuffle_hash"),
            directed("y") === seed("id"))
          .select(col("x"), col("label").as("cb"))
        val seedX = seed.toDF("idx", "ca")
        val cpairs = mat(halfC.repartition(partsFor(n), col("x"))
          .join(seedX.hint("shuffle_hash"), col("x") === col("idx"))
          .select(col("ca").as("a"), col("cb").as("b"))
          .filter(col("a") < col("b"))
          .distinct())
        Materialized.free(curPairs)
        curPairs = cpairs
        // The shrink test compares contracted levels only: level 0's
        // input is the raw pair set, duplicates and both orientations
        // included.
        if (level > 0) prevCount = n
        n = rows(cpairs)
        level += 1
        tick(s"contract level$level edges=$n width=$width")
      }
      var lab: DataFrame =
        if (n == 0) sess.range(0).select(col("id").as("cid"), col("id").as("cl"))
        else if (n <= localSolveEdges) localComponents(sess, curPairs)
        else {
          val l = propagateComponents(sess, curPairs, maxIter, partsFor(n)).toDF("cid", "cl")
          tracked ::= l
          l
        }
      Materialized.free(curPairs)
      tick(if (n == 0) "tail empty"
           else if (n <= localSolveEdges) s"tail local-solve levels=$level"
           else s"tail loop levels=$level")
      // Compose the level maps back out, innermost → outermost:
      // lab_i(v) = lab_{i+1}(seed_i(v)), identity where deeper levels
      // never saw the label-node. Partitioned by seed.label: a
      // pathological giant component concentrates its members in one
      // partition here, but the per-row work is a hash probe +
      // projection — imbalance, not blowup (and AQE splits it when
      // enabled).
      for (seed <- seeds) {
        val next = mat(seed.join(lab.hint("shuffle_hash"),
            seed("label") === col("cid"), "left")
          .select(seed("id").as("cid"),
            coalesce(col("cl"), seed("label")).as("cl")))
        Materialized.free(lab)
        Materialized.free(seed)
        lab = next
      }
      if (seeds.nonEmpty) tick("compose")
      val out = lab.select(col("cid").as("doc_id"), col("cl").as("cluster_id"))
      tracked = tracked.filterNot(_ eq lab)
      ok = true
      out
    } finally {
      if (!ok) tracked.foreach(f =>
        try Materialized.free(f) catch { case _: Throwable => () })
    }
  }

  /** Per-phase wall-clock ticker, active under GRAFT_CC_DEBUG. The tags
    * name the path taken: `cc/pin`, then `cc/contract levelN` per level,
    * `cc/tail local-solve|loop|empty` and `cc/compose`; the distributed
    * loop ticks its own `loop/…` rounds. */
  private final class CcTicker(scope: String) {
    private val dbg = sys.env.contains("GRAFT_CC_DEBUG")
    private var t0 = System.nanoTime()
    def apply(tag: String): Unit = if (dbg) {
      System.err.println(f"CC $scope/$tag ${(System.nanoTime() - t0) / 1e9}%.3fs")
      t0 = System.nanoTime()
    }
  }

  /** Driver-local solve for an edge set small enough to collect (gated
    * by dedupClusters' `localSolveEdges`): one job packs each partition
    * into a primitive long array, then a min-root union-find runs over
    * dense indices of the sorted distinct node ids. Linking the larger
    * root index under the smaller keeps every root the MINIMUM of its
    * set by induction, and index order is id order, so find(v) is
    * exactly the component minimum — bit-identical to the distributed
    * loop's fixed point. Returns (cid, cl) for every node. */
  private def localComponents(sess: SparkSession, pairs: DataFrame): DataFrame = {
    import sess.implicits._
    val chunks = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .queryExecution.toRdd.mapPartitions { it =>
        val buf = scala.collection.mutable.ArrayBuilder.make[Long]
        it.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1))
            throw new IllegalArgumentException("dedupClusters: null node id in pairs")
          buf += r.getLong(0)
          buf += r.getLong(1)
        }
        Iterator.single(buf.result())
      }.collect()
    val ends = Array.concat(chunks: _*) // (a, b) interleaved
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var k = 0
    for (v <- ids) if (k == 0 || ids(k - 1) != v) { ids(k) = v; k += 1 }
    val parent = Array.range(0, k)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var i = 0
    while (i < ends.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, k, ends(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, k, ends(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    // The answer stays on the driver as slices of ≤ 50k nodes (800 KB
    // per task, under Spark's task-size warning) that each scan turns
    // into rows: no job, no resident block, and recomputable anywhere.
    // Measured (4 cores): a local relation costs optimizer time per
    // plan (0.18 s at 100k rows, 2.8 s at 1M, against ~5 ms here), and
    // on perfbench `dedup` both a local relation and a pinned copy of
    // these slices read higher `cpu_s` than this frame.
    val slices = (0 until k by 50000).map { s =>
      val e = math.min(k, s + 50000)
      (ids.slice(s, e), Array.tabulate(e - s)(j => ids(find(s + j))))
    }
    sess.sparkContext.parallelize(slices, math.max(1, slices.length))
      .flatMap { case (v, l) => v.indices.iterator.map(j => (v(j), l(j))) }
      .toDF("cid", "cl")
  }

  /** Phase 2 of [[dedupClusters]]: iterative min-label propagation with
    * hooking and pointer doubling over an undirected pair set (columns
    * a, b). Runs on the CONTRACTED graph — the sparse remainder after
    * star contraction — so the per-round O(E) is over bridges and paths,
    * not the dense family cliques. Throws on non-convergence within
    * maxIter. */
  private def propagateComponents(sess: SparkSession, pairs: DataFrame,
                                  maxIter: Int, edgeParts: Int): DataFrame = {
    val tick = new CcTicker("loop")
    // Edges are hash-partitioned and sorted by the join key ONCE before
    // materialization: checkpoint preserves outputPartitioning/ordering,
    // so every propagation round's edges⋈labels sort-merge join elides
    // the edge-side exchange AND sort — only the O(nodes) label side
    // moves per round.
    val edges = Materialized.pin(pairs
      .select(explode(array(
        struct(col("a").as("x"), col("b").as("y")),
        struct(col("b").as("x"), col("a").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .repartition(edgeParts, col("y"))
      .sortWithinPartitions("y"))
    // Round 1 is free: against identity labels, the propagated minimum
    // for node x is just min(x, min over neighbours y) — one partial
    // aggregate over the edges, no edges⋈labels join. This both seeds
    // the labels (replacing the old distinct-ids init, same shuffle
    // cost) and skips one full O(E) propagation round; every node with
    // an edge appears as an x (edges are directed both ways), so no id
    // is lost relative to the distinct init.
    tick("edges")
    // Labels live at the SAME partitioning+ordering as the edge join
    // expects — hash(id) over edgeParts, sorted by id — from the seed
    // onward. Checkpoint preserves partitioning and ordering, so every
    // round's edges⋈labels sort-merge join moves NOTHING on either side
    // (the edge side was pre-sorted above; the label side now arrives
    // pre-sorted too), and the round-output join below reuses the label
    // side as-is. Before this alignment each round exchanged+sorted the
    // O(nodes) label set three separate times (once per join it fed) —
    // measured at sf0.1: 0.26 s/round → 0.17 s/round, and at 1000
    // executors it is the difference between one O(nodes) shuffle per
    // round (the propagated mins — irreducible) and four.
    val align: DataFrame => DataFrame =
      df => df.repartition(edgeParts, col("id")).sortWithinPartitions("id")
    var checkpointedLabels = Materialized.pin(align(edges.groupBy(col("x"))
      .agg(min(col("y")).as("mn"))
      .select(col("x").as("id"), least(col("x"), col("mn")).as("label"))))
    tick("seed")
    // The convergence count rides on an accumulator updated INSIDE the
    // materialization job (the chg flag is computed by a side-effecting
    // udf as each row is checkpointed), so every round is exactly ONE
    // Spark job — not materialize + a second count job over the
    // checkpoint. Accumulators can over-count on task retry, but the
    // loop only asks "changed == 0?", and a retried task re-adds only
    // if it genuinely saw changed rows — a spurious non-zero is
    // impossible, so the convergence decision is exact.
    val chgAcc = sess.sparkContext.longAccumulator("graft_cc_changed")
    val markChg = udf { (nlabel: java.lang.Long, old: java.lang.Long) =>
      val c = nlabel != null && nlabel < old
      if (c) chgAcc.add(1L)
      c
    }.asNondeterministic()
    var labels = checkpointedLabels
    var changed = 1L
    var i = 1
    while (changed > 0 && i < maxIter) {
      // Per-node label candidates: every neighbour's label (one hop over
      // the pair graph), UNION the label of the node's own label —
      // pointer doubling, the "shortcut" step of Shiloach–Vishkin-style
      // CC (the same contraction Kiveris et al.'s large-star performs on
      // the label forest). Label values are always node ids inside the
      // same component, so the hop can never cross components and the
      // fixed point (labels constant across every edge ⇒ component-min
      // everywhere) is unchanged — but the distance a min travels along
      // a label tree per round compounds. The branches reuse the
      // checkpointed labels as-is (hash(id), sorted); the added movement
      // is O(nodes): the hop's probe side by label value and the hook's
      // offers by root.
      val base = edges.join(labels, edges("y") === labels("id"))
        .select(col("x"), col("label"))
      val nbr = base.groupBy(col("x")).agg(min(col("label")).as("label"))
      // Hooking (FastSV: Zhang, Azad & Hu, SIAM PP 2020): every edge
      // (x, y) also offers label(y) to the node label(x), so a whole
      // label tree moves onto a smaller neighbouring one in one round.
      // Without it, nothing joins two trees but their boundary edge: on
      // a path with many local minima the labels settle into one tree
      // per local minimum and the component minimum then crosses one
      // edge per round (a 40-node path with ids (i · 7919) mod 40 did
      // not converge in 20 rounds). The offers go through the neighbour
      // minimum `nbr` (min over x's edges of label(y)), so the hook is
      // one O(nodes) join, not an O(E) one. Offered values are ids from
      // the same component, so the fixed point is unchanged.
      val hook = nbr.join(labels.select(col("id").as("hx"), col("label").as("root")),
          col("x") === col("hx"))
        .select(col("root").as("x"), col("label"))
      // The hop is provably a no-op in the first two rounds: after the
      // seed, label(x) is the min of x's closed 1-ball, and inductively
      // label(label(x))'s reach stays inside the ball the neighbour
      // propagation covers anyway until labels are 3-ball minima
      // (label∘label ⊆ ball(2i) vs propagation's ball(i+1); 2i > i+1
      // only from i ≥ 2's output, i.e. round 3's input). Skipping it
      // there drops its exchange from the two rounds every graph pays
      // for, while deep-diameter graphs still get the exponential
      // reach growth from round 3 on.
      val cand = if (i <= 2) nbr.union(hook) else {
        val grand = labels.select(col("id").as("gx"), col("label").as("gl"))
          .join(labels.select(col("id").as("hid"), col("label").as("hl")),
            col("gl") === col("hid"))
          .select(col("gx").as("x"), col("hl").as("label"))
        nbr.union(hook).union(grand)
      }
      val prop = cand
        .groupBy(col("x").as("pid")).agg(min(col("label")).as("nlabel"))
      val nextPlan = labels
        .join(prop, labels("id") === prop("pid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          markChg(col("nlabel"), col("label")).as("chg"))
      chgAcc.reset()
      val next = Materialized.pin(nextPlan)
      changed = chgAcc.value
      tick(s"round$i changed=$changed")
      Materialized.free(checkpointedLabels)
      checkpointedLabels = next
      labels = next.select("id", "label")
      i += 1
    }
    Materialized.free(edges)
    // A component with diameter > maxIter would exit with labels still
    // moving — the clustering is then PARTIAL (one true component split
    // across several cluster_ids) and a dedup built on it under-drops.
    // Fail loudly rather than silently returning a wrong answer; callers
    // that genuinely want a bounded-effort pass can raise maxIter.
    if (changed > 0) {
      // Nothing is returned on this path, so the final label checkpoint
      // would otherwise stay resident with no handle to free it.
      Materialized.free(checkpointedLabels)
      throw new IllegalStateException(
        s"dedupClusters did not converge after $maxIter rounds " +
          s"($changed labels still changing); raise maxIter beyond the " +
          "component diameter")
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Semantic (embedding-space) deduplication — the SemDeDup shape a
    * pre-training pipeline runs over learned embeddings: a seeded
    * k-means coarse quantizer buckets the corpus into `nlist` cells,
    * exact cosine runs only WITHIN a cell, pairs at `sim ≥ minSim` feed
    * [[dedupClusters]], and every vector maps to its cluster keeper
    * (min id). Returns (vec_id, keeper, cluster_size, is_keeper) for
    * the WHOLE corpus — singletons are their own keeper.
    *
    * The cell bucketing is the standard blocking trade, stated rather
    * than hidden: cross-cell near-duplicates are missed BY CONSTRUCTION
    * (k-means puts near-identical embeddings in one cell except near
    * cell boundaries), and `nlist` dials recall against the quadratic
    * within-cell term — the same dial as IVF's. The declared exact twin
    * is [[cosineNearDup]] + [[dedupClusters]] on its pairs.
    *
    * Scale shape: the corpus is shuffled ONCE by cell id for the
    * self-join (both sides co-partitioned — embeddings cross exactly
    * one exchange, id pairs only after scoring); centroids are tiny and
    * live in the fitted model; a hot cell is a skew surface the same
    * way a hot blocking key is — AQE's skew split handles it, or raise
    * `nlist`. The k-means fit itself samples/iterates linearly and is
    * the only ML-model stage; everything downstream is codegen'd
    * (double_dot cosine, min-label clustering). */
  def semanticDedup(emb: DataFrame, minSim: Double = 0.95,
                    nlist: Int = 8, seed: Long = 42L,
                    fitFraction: Double = 1.0,
                    treeAssign: Boolean = false): DataFrame = {
    val pairs = semanticDedupPairs(emb, minSim, nlist, seed, fitFraction, treeAssign)
    keeperMap(emb.select(col("vec_id")), pairs)
  }

  /** The pair-graph → keeper-map tail shared by [[semanticDedup]] and
    * its literal-centroid declared twin (q84, ops/Extended — the one
    * variant whose values a DuckDB oracle can replay): cluster the
    * (a, b) pairs with [[dedupClusters]], back-join over the full
    * corpus (vectors with no qualifying pair never reach the clustering
    * and keep themselves), and annotate cluster sizes. `vecs` is one
    * row per corpus member with `idCol` first; any EXTRA columns (q84's
    * cell assignment) pass through untouched between `idCol` and the
    * appended (keeper, cluster_size, is_keeper). Scale shape: both
    * joins are id-keyed equi-joins on the (id, keeper) map — embeddings
    * never enter this tail. */
  private[graft] def keeperMap(vecs: DataFrame, pairs: DataFrame,
                               idCol: String = "vec_id"): DataFrame = {
    // The method is generic over vecs' extra passthrough columns, so a
    // caller-side column sharing one of the internal working names
    // would silently shadow or ambiguate resolution — fail loudly
    // instead (ADVICE r12).
    val internal = Set("vid", "kpr", "k", "keeper", "cluster_size", "is_keeper")
    val clash = vecs.columns.filter(internal.contains)
    require(clash.isEmpty,
      s"keeperMap: vecs columns ${clash.mkString(", ")} collide with internal names ${internal.mkString(", ")}")
    val labels = dedupClusters(pairs.select(col("a"), col("b")))
      .toDF("vid", "kpr")
    val passthrough = vecs.columns.map(col)
    val assigned = vecs
      .join(labels, col(idCol) === col("vid"), "left")
      .select(passthrough :+ coalesce(col("kpr"), col(idCol)).as("keeper"): _*)
    val sizes = assigned.groupBy(col("keeper").as("k"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, col("keeper") === col("k"))
      .select(passthrough ++ Seq(col("keeper"), col("cluster_size"),
        (col(idCol) === col("keeper")).as("is_keeper")): _*)
  }

  /** [[semanticDedup]]'s pair stage, exposed (package-private) so
    * PlanQualitySpec can pin the PRODUCTION plan — the cell-keyed
    * equi-join, never a cartesian — rather than a hand-rebuilt replica
    * that would not trip if the operator's join shape drifted. Returns
    * (a, b, sim) for all within-cell pairs at sim ≥ minSim; the k-means
    * fit runs eagerly here (the only ML-model stage), everything
    * downstream of the model is a declarative plan. */
  /** The fit-sample selection shared by [[semanticDedupPairs]] and
    * [[fitSemanticCentroids]]. The 1e-6 floor only guarantees bucket
    * RESOLUTION — a legal fraction can still sample fewer than nlist
    * rows on a small corpus (1e-6 × 100k rows ≈ 0), and KMeans would
    * then fail deep inside Lloyd's instead of at the precondition. The
    * guard only needs "does the sample reach nlist rows?", so it counts
    * through limit(nlist) — the scan short-circuits once nlist
    * survivors are found, costing ~nothing on the large corpora where
    * the guard can never fire (a full sample.count() would add one
    * complete corpus pass per call). Falls back to the full-corpus fit
    * when k centroids cannot be seeded — a small corpus is exactly
    * where the full fit is affordable. */
  private def ivfFitInput(featured: DataFrame, nlist: Int, seed: Long,
                          fitFraction: Double): DataFrame =
    if (fitFraction >= 1.0) featured
    else {
      val sample = Sampling.hashSample(featured, Seq("vec_id"), fitFraction, salt = seed)
      if (sample.limit(nlist).count() >= nlist) sample
      else {
        System.err.println(
          s"graft.semanticDedup: fitFraction $fitFraction sampled fewer " +
            s"than nlist $nlist rows — falling back to the full-corpus fit")
        featured
      }
    }

  private[graft] def semanticDedupPairs(emb: DataFrame, minSim: Double,
                                        nlist: Int, seed: Long,
                                        fitFraction: Double = 1.0,
                                        treeAssign: Boolean = false): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // 1e-6 floor: hashSample's bucket space is one-in-a-million, so a
    // smaller fraction rounds to an EMPTY fit sample and KMeans would
    // die deep in ML internals instead of here. The caller must also
    // keep the expected sample count well above nlist — k centroids
    // cannot be fit from fewer than k points.
    require(fitFraction >= 1e-6 && fitFraction <= 1.0,
      s"fitFraction $fitFraction outside [1e-6, 1]")
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    def dot(a: Column, b: Column) = call_function("double_dot", a, b)
    val featured = emb.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("features"))
    // fitFraction < 1 fits the quantizer on a deterministic hash-sample
    // of the corpus (Sampling.hashSample's rule, salted by `seed`) and
    // only ASSIGNS the full corpus — the 100× ScaleSmoke measured the
    // full-corpus fit as the dominant superlinear term when nlist grows
    // with the corpus to hold cell size constant: Lloyd's iterations
    // are O(N·nlist·iters) ⇒ O(N²) along that scaling path, while a
    // fixed-size fit sample caps the fit at O(nlist·iters) and leaves
    // the one-pass assignment (O(N·nlist), the true asymptote — a
    // coarse-quantizer tree would cut it to O(N·√nlist)) as the cost.
    // Default 1.0 keeps the declared q66's pinned centroids bit-exact.
    // Centroids move slightly vs a full fit, so pair recall at the
    // TIGHT operating point is what the spec re-measures under
    // sampling (cells can only lose boundary pairs; near-identical
    // vectors still quantize together).
    val fitInput = ivfFitInput(featured, nlist, seed, fitFraction)
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(fitInput)
    // Norms precomputed per VECTOR (linear), not per pair (quadratic).
    // Zero-norm vectors are excluded from the pair stage: their cosine
    // is undefined (0/0 — a hard DIVIDE_BY_ZERO under ANSI mode, the
    // Spark 4 default, not a quiet NaN), and "no direction" cannot be a
    // near-duplicate of anything; semanticDedup's back-join still
    // returns them as their own keeper.
    // treeAssign (round 11, VERDICT r10 #5): the flat `model.transform`
    // scores every vector against all nlist centroids — O(N·nlist),
    // which is O(N²) under the constant-cell-size scaling path (nlist ∝
    // N). The coarse-quantizer tree scores ~√nlist group means, then
    // only the best 2 groups' members — O(N·√nlist), as one codegen'd
    // expression over the (centroids, top_of) literals (the grouping
    // itself is a driver-side seeded Lloyd over nlist POINTS — free at
    // any corpus size). Assignment is the standard IVF approximation
    // (nearest member of probed groups ≠ global nearest near group
    // boundaries): cells can only LOSE boundary pairs; CapabilitySpec
    // re-measures and pins tight-regime recall with the tree on, and
    // the declared q66 keeps the exact flat assign (flag off).
    // nprobe = 2, measured at the 100× smoke: nprobe = 1 funneled
    // whole-group boundary mass into a 12.6k-vector hot cell (2.5× the
    // flat assign's within-cell pair mass — the quadratic stage ate the
    // assign savings); 2 probes restore near-flat balance.
    val assigned =
      if (!treeAssign) model.transform(featured)
      else {
        val cents = model.clusterCenters.map(_.toArray)
        val k = math.max(1, math.round(math.sqrt(cents.length.toDouble)).toInt)
        val topOf = graft.expressions.IvfTreeAssign.groupCentroids(cents, k)
        featured.withColumn("cell",
          call_function("ivf_tree_assign", col("embedding"),
            typedLit(cents.map(_.toSeq).toSeq), typedLit(topOf.toSeq), lit(2)))
      }
    val sides = assigned
      .select(col("vec_id"), col("embedding"), col("cell"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0)
    val lhs = sides.toDF("a", "ea", "cella", "na")
    val rhs = sides.toDF("b", "eb", "cellb", "nb")
    lhs.join(rhs,
        col("cella") === col("cellb") && col("a") < col("b"))
      .select(col("a"), col("b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("sim"))
      .filter(col("sim") >= minSim)
  }

  // -------------------------------------------------------------------
  // Incremental SEMANTIC dedup — [[incrementalDedup]]'s increment-vs-
  // index screen carried into embedding space: the production form of
  // declared q88 (whose 4-cell literal quantizer is the value harness;
  // this operator takes ANY centroid list, including one fitted by
  // [[fitSemanticCentroids]] — q66's sampled-fit IVF cells — or q84's
  // literals, under which it reproduces q88 row for row, pinned in
  // IncrementalDedupSpec).

  /** A persisted-form IVF semantic index: the ingested corpus's
    * embeddings with their quantizer cell and norm precomputed —
    * `vectors` = (vec_id, embedding, cell, nrm), a plain parquet-
    * storable table — plus the quantizer's centroid list (driver-side
    * by construction, like the KMeans model it comes from: nlist × dim
    * doubles; persist it with [[semanticCentroidsDF]] and rebuild via
    * [[semanticCentroidsFromDF]]). Build once per corpus with
    * [[buildSemanticIndex]]; every daily batch then pays only its own
    * O(batch × nlist) assignment plus within-cell pairing against
    * co-celled vectors — the corpus² self-join never exists, exactly
    * like [[MinHashIndex]] on the lexical side, and the index's own
    * vectors never pair with each other. */
  case class SemanticIndex(vectors: DataFrame, centroids: Seq[Seq[Double]])

  /** Fit IVF quantizer centroids for [[buildSemanticIndex]]: the same
    * seeded KMeans — optionally over a deterministic hash-sample, the
    * measured mitigation of the O(N·nlist) full-corpus fit — as
    * [[semanticDedup]]'s internal fit, exposed so production fits ONCE
    * and reuses the quantizer across every daily increment (re-fitting
    * per batch would move every cell boundary and silently change which
    * pairs are findable between batches). A corpus smaller than `nlist`
    * (a first-day deployment) degrades gracefully: Spark ML returns one
    * centroid per distinct point and the quantizer is simply smaller —
    * probed, not assumed. */
  def fitSemanticCentroids(emb: DataFrame, nlist: Int, seed: Long = 42L,
                           fitFraction: Double = 1.0): Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(fitFraction >= 1e-6 && fitFraction <= 1.0,
      s"fitFraction $fitFraction outside [1e-6, 1]")
    val featured = emb.select(col("vec_id"),
      array_to_vector(col("embedding")).as("features"))
    new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(ivfFitInput(featured, nlist, seed, fitFraction))
      .clusterCenters.map(_.toArray.toSeq).toSeq
  }

  /** Max-inner-product cell assignment over literal centroids as ONE
    * native expression ([[graft.expressions.MipAssign]]): per-centroid
    * scores are float×double per-term products with sequential double
    * accumulation — q84/q88's exact arithmetic — and the winner is the
    * FIRST index attaining the maximum (≡ q84's `>=`-over-later fold).
    * O(nlist·dim) per row in one tight loop, no exchange, constant
    * codegen size at any nlist (a composed per-centroid Column tree
    * goes interpreted past codegen limits — the q88_stored_batch smoke
    * measured the assign superlinear that way at nlist = 2400).
    * Max-inner-product is the right quantizer rule for COSINE dedup
    * (the similarity being thresholded); on unit-norm embeddings it
    * coincides with the Euclidean assign of [[semanticDedup]]'s
    * in-corpus KMeans path. */
  private[graft] def mipCell(emb: Column, centroids: Seq[Seq[Double]]): Column = {
    require(centroids.nonEmpty, "mipCell needs at least one centroid")
    call_function("mip_assign", emb, typedLit(centroids))
  }

  /** Assign every vector its quantizer cell and norm — one linear
    * codegen'd pass over (vec_id, embedding). The result is the
    * storable index table; zero-norm vectors are KEPT here (they are
    * corpus members) and excluded only at the pair stage, where their
    * cosine is undefined. */
  def buildSemanticIndex(emb: DataFrame, centroids: Seq[Seq[Double]]): SemanticIndex = {
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    SemanticIndex(
      emb.select(col("vec_id"), col("embedding"),
        mipCell(col("embedding"), centroids).as("cell"),
        sqrt(expr("float_dot(embedding, embedding)")).cast("float").as("nrm")),
      centroids)
  }

  /** Fold an embedding increment INTO a stored [[SemanticIndex]] under
    * the index's FIXED quantizer — the semantic half of the
    * index-advance loop ([[advanceIndex]] is the lexical half, and the
    * same reasoning applies verbatim): ALL of the day's vectors fold
    * (cosine at a threshold is not transitive, so kept-only folding
    * breaks the A≈B dropped, C≈B≉A chain — IncrementalDedupSpec plants
    * it), folded vectors carry `inc = true` so later screens report
    * pairs with them as dup_new, and an N-day replay with days
    * MONOTONE in vec_id reproduces the single-batch
    * [[incrementalSemanticDedup]] row for row. The quantizer must stay
    * fixed across folds — re-fitting would move cell boundaries and
    * silently change which pairs are findable (the
    * [[fitSemanticCentroids]] contract); the fold itself is one
    * O(day × nlist · dim) assignment pass plus a union (an append-one-
    * partition write on stored parquet). Vec ids must be disjoint from
    * everything already in the index. */
  def advanceSemanticIndex(index: SemanticIndex,
                           increment: DataFrame): SemanticIndex =
    advanceSemanticIndexAssigned(index, buildSemanticIndex(
      increment.select(col("vec_id"), col("embedding")), index.centroids).vectors)

  /** [[advanceSemanticIndex]] with the increment's vectors already
    * assigned (a [[buildSemanticIndex]] output under the SAME
    * centroids, typically localCheckpointed) — the prebuilt seam for
    * driver replay loops, same rationale as [[advanceIndexPrebuilt]]:
    * a lazy fold would re-run every prior day's assignment pass inside
    * every later screen. */
  def advanceSemanticIndexAssigned(index: SemanticIndex,
                                   assigned: DataFrame): SemanticIndex = {
    val idxVecs =
      if (index.vectors.columns.contains("inc")) index.vectors
      else index.vectors.withColumn("inc", lit(false))
    SemanticIndex(
      idxVecs.unionByName(assigned.withColumn("inc", lit(true))),
      index.centroids)
  }

  /** The centroid list as a tiny storable table (cell, centroid) —
    * write beside the index's `vectors` parquet, rebuild with
    * [[semanticCentroidsFromDF]]. */
  def semanticCentroidsDF(spark: SparkSession, centroids: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
  }

  /** Rebuild a stored centroid table. The collect is bounded by
    * construction — a quantizer is nlist × dim doubles, driver-resident
    * in ANY IVF system (the fitted KMeans model it mirrors lives on the
    * driver too). */
  def semanticCentroidsFromDF(df: DataFrame): Seq[Seq[Double]] = {
    val rows = df.select(col("cell").cast("int"), col("centroid"))
      .collect().sortBy(_.getInt(0))
    // Cell ids ARE the centroid indices mip_assign emits — a stored
    // table with a gap or duplicate would silently renumber every cell
    // in the rebuilt quantizer and desynchronize it from the index's
    // stored assignments. Fail loudly instead.
    require(rows.map(_.getInt(0)).toSeq == rows.indices,
      s"centroid table must carry cells 0..${rows.length - 1} exactly once, " +
        s"got ${rows.map(_.getInt(0)).mkString("[", ",", "]")}")
    rows.map(_.getSeq[Double](1).toSeq).toSeq
  }

  /** Screen an embedding increment against an ingested [[SemanticIndex]]:
    * verdict per increment vector — `dup_old` (cosine ≥ minSim against
    * an index vector within its cell), `dup_new` (only against EARLIER
    * increment vectors, keep-first by id — q86's convention), `keep`.
    * Pairing is increment-cells × (index ∪ earlier-increment)-cells, so
    * the index never pairs with itself and per-batch work is
    * O(batch × nlist · dim) assignment + within-cell candidates. The
    * increment side broadcasts (small by the operator's premise — a
    * daily batch against an ingested corpus), so the INDEX never
    * crosses an exchange: it streams map-side through the pair join,
    * and only already-thresholded (a, b_new, sim) tuples reach the
    * verdict aggregate. Zero-norm vectors never pair (cosine undefined)
    * and verdict `keep`. The float32 cosine chain with pair-level 4dp
    * rounding and a float-literal threshold is q45/q88's proven parity
    * arithmetic verbatim. Vec ids must be disjoint across the two
    * inputs (the caller's id space is global — same contract as the
    * lexical [[incrementalDedup]]). `arrivalOrder` selects the
    * keep-first convention among increment vectors — keeper = smallest
    * id (default; replay ≡ batch under id-monotone days) or keeper =
    * first arrival (replay ≡ batch on arrival-renumbered ids, the
    * time-ordered-crawl contract) — with exactly [[incrementalDedup]]'s
    * semantics and pins. */
  def incrementalSemanticDedup(index: SemanticIndex, increment: DataFrame,
                               minSim: Double = 0.35,
                               arrivalOrder: Boolean = false,
                               broadcastIncrement: Boolean = true): DataFrame = {
    graft.expressions.GraftFunctions.register(index.vectors.sparkSession)
    val inc = buildSemanticIndex(
      increment.select(col("vec_id"), col("embedding")), index.centroids).vectors
    val lhs = inc.filter(col("nrm") > 0)
      .select(col("vec_id").as("a"), col("embedding").as("ea"),
        col("cell").as("cella"), col("nrm").as("na"))
    // An `inc` column on the index marks vectors folded by
    // [[advanceSemanticIndex]] — crawl-increment provenance, so a pair
    // with them reports dup_new (under the keep-first condition),
    // exactly as the lexical twin treats advanced bands. `b_same`
    // marks the current batch's own vectors — the arrival-order mode's
    // per-branch literal (see [[incrementalDedup]]'s contract: folded
    // vectors arrived strictly earlier, so in arrival mode they shadow
    // unconditionally; same-batch vectors tiebreak by id in both
    // modes).
    val idxFlagged =
      if (index.vectors.columns.contains("inc"))
        index.vectors.withColumn("b_new", coalesce(col("inc"), lit(false))).drop("inc")
      else index.vectors.withColumn("b_new", lit(false))
    val rhs = idxFlagged.withColumn("b_same", lit(false))
      .unionByName(inc.withColumn("b_new", lit(true))
        .withColumn("b_same", lit(true)))
      .filter(col("nrm") > 0)
      .select(col("vec_id").as("b"), col("embedding").as("eb"),
        col("cell").as("cellb"), col("nrm").as("nb"), col("b_new"), col("b_same"))
    val keepFirst =
      if (arrivalOrder) !col("b_new") || !col("b_same") || col("b") < col("a")
      else !col("b_new") || col("b") < col("a")
    val sim = (expr("float_dot(ea, eb)") / (col("na") * col("nb"))).cast("float")
    // The forced hint holds for the operator's premise (a day-sized
    // increment); broadcastIncrement = false hands the join to
    // Spark/AQE for a NON-day-sized increment (a seed replayed as one
    // "day": 5M × 64-float vectors ≈ 1.3 GB — over the driver's
    // collect limit, and no cluster should broadcast it either).
    val pairs = (if (broadcastIncrement) broadcast(lhs) else lhs).join(rhs,
        col("cella") === col("cellb") && keepFirst)
      .select(col("a"), col("b_new"), round(sim, 4).as("sim"))
      .filter(col("sim") >= lit(minSim.toFloat))
    val flags = pairs.groupBy(col("a").as("vec_id"))
      .agg(max(when(!col("b_new"), 1).otherwise(0)).as("has_old"),
        max(when(col("b_new"), 1).otherwise(0)).as("has_new"))
    increment.select(col("vec_id")).join(flags, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("has_old") === 1, "dup_old")
          .when(col("has_new") === 1, "dup_new")
          .otherwise("keep").as("verdict"))
  }

  /** Exact embedding-cosine near-duplicate pairs (threshold form of q36):
    * all pairs with cosine ≥ minSim, probe side bounded. Norms are
    * divided out so the threshold is a true cosine even for
    * unnormalized embeddings (q45, the declared oracle-checked variant,
    * does the same with float32 parity machinery). */
  def cosineNearDup(emb: DataFrame, minSim: Double, maxProbeId: Long = 100): DataFrame = {
    // Same codegen'd double-accumulated dot as annLshCosine — bit-
    // identical to the HOF fold it replaces (see DoubleDotProduct).
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("double_dot", a, b)
    val norm = (v: org.apache.spark.sql.Column) => sqrt(dot(v, v))
    // Zero-norm vectors dropped on both sides: cosine is undefined and
    // the division is a hard DIVIDE_BY_ZERO under ANSI mode.
    val probes = emb.filter(col("vec_id") < maxProbeId)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        norm(col("embedding")).as("pn"))
      .filter(col("pn") > 0)
    val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      norm(col("embedding")).as("nn"))
      .filter(col("nn") > 0)
    val dotCol = dot(col("pe"), col("ne"))
    broadcast(probes).crossJoin(corpus)
      .filter(col("nid") > col("pid"))
      .select(col("pid"), col("nid"),
        round(dotCol / (col("pn") * col("nn")), 4).as("sim"))
      .filter(col("sim") >= minSim)
  }
}
