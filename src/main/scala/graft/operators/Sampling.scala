package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset splitting for training-data
  * curation (SURVEY.md §2.10 family).
  *
  * Everything here is HASH-decided per row, which is what a 100 TB
  * pipeline actually needs and what `DataFrame.sample()` does not give:
  * `sample()` draws from a seeded per-partition RNG, so its selection
  * changes whenever partitioning does (one extra input file reshuffles
  * everyone's "random" sample and silently changes a train set between
  * runs). A hash of stable row keys is reproducible across runs,
  * partition layouts, Spark versions, and engines — and it is a pure
  * scan-side codegen'd expression: sampling/splitting 100 TB adds zero
  * shuffles.
  */
object Sampling {

  private val Buckets = 1000000L

  /** Keep ~`fraction` of rows, decided by `xxhash64(salt, keys...)`.
    * Same keys + salt → same decision, forever; different salts →
    * independent samples (e.g. salt=1 for a holdout, salt=2 for an eval
    * subsample — overlap is hash-independent, not disjoint). */
  def hashSample(df: DataFrame, keyCols: Seq[String], fraction: Double,
                 salt: Long = 0L): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction outside [0,1]")
    val bucket = pmod(xxhash64((lit(salt) +: keyCols.map(col)): _*), lit(Buckets))
    df.filter(bucket < lit((fraction * Buckets).toLong))
  }

  /** Adds a `split` column ("train"/"val"/... per `weights`, which must
    * sum to ~1) by hash bucket over the key columns. Key-stable: a
    * document keeps its split across runs and reshards, and — when
    * keyed on content — duplicate documents land in the SAME split, so
    * near-dup leakage across train/test cannot happen through exact
    * copies. The md5-based declared twin is [[graft.ops.Extended]]'s
    * q50 (DuckDB-oracled); this variant uses xxhash64 (8-byte hash, no
    * hex detour) for production. */
  def assignSplit(df: DataFrame, keyCols: Seq[String],
                  weights: Seq[(String, Double)] =
                    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                  salt: Long = 0L): DataFrame = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-6,
      "split weights must sum to 1")
    val bucket = pmod(xxhash64((lit(salt) +: keyCols.map(col)): _*), lit(Buckets))
    val thresholds = weights.scanLeft(0.0)(_ + _._2).tail.map(c => (c * Buckets).toLong)
    val split = weights.map(_._1).zip(thresholds).init
      .foldRight(lit(weights.last._1)) { case ((name, upper), acc) =>
        when(bucket < upper, name).otherwise(acc)
      }
    df.withColumn("split", split)
  }

  /** Exactly `min(n, |stratum|)` rows per stratum, chosen by hash order
    * — a deterministic without-replacement "random" sample per group
    * (per-language quotas, per-source caps). One shuffle on the stratum
    * key; the hash order makes the pick independent of input order.
    * The final tie-break orders by EVERY column, so the selection stays
    * partition-invariant even when `keyCols` values repeat within a
    * stratum (duplicate texts are this repo's normal case) — rows that
    * are fully identical are interchangeable, so any pick is the same
    * output. */
  def stratifiedQuota(df: DataFrame, strataCol: String, keyCols: Seq[String],
                      n: Int, salt: Long = 0L): DataFrame = {
    require(n > 0, "quota must be positive")
    val w = Window.partitionBy(strataCol)
      .orderBy((pmod(xxhash64((lit(salt) +: keyCols.map(col)): _*), lit(Buckets))
        +: df.columns.toIndexedSeq.map(col)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** quotaSample's pre-materialization layout — the production range
    * exchange, exposed un-checkpointed so SamplingSpec's plan pin
    * inspects the operator's OWN shape (the checkpoint hides the
    * exchange from the final executed plan, and a hand-built replica
    * would not trip on drift). */
  private[graft] def quotaLayout(docs: DataFrame, groupCol: String,
      idCol: String, nCol: String, orderCol: String, parts: Int): DataFrame = {
    // Loud n validation (the duplicate-key-guard style): a NULL count
    // would silently DROP its row from the budget cut (null cum_before
    // fails the filter) while still occupying a pick_pos, and a negative
    // count corrupts the running sum — and with it the budget semantics
    // of every later doc in the group. Both are upstream bugs; fail the
    // job at the scan rather than emit a plausible wrong mixture.
    val nRaw = col(nCol).cast("long")
    val nGuard = coalesce(
      assert_true(nRaw.isNotNull && nRaw >= 0,
        lit(s"quotaSample: $nCol must be non-null and >= 0")).cast("long"),
      lit(0L))
    // Guard on the LEFT of the add: binary expressions short-circuit on
    // a null left operand (BinaryExpression.eval returns null without
    // touching the right child), so `nRaw + nGuard` would skip the
    // assertion for exactly the NULL rows it exists to catch.
    docs.select(
        col(idCol).as("id"), col(groupCol).as("grp"),
        (nGuard + nRaw).as("n"), col(orderCol).as("rk"))
      .repartitionByRange(parts, col("grp"), col("rk"), col("id"))
      .sortWithinPartitions("grp", "rk", "id")
      .withColumn("pid", spark_partition_id())
  }

  /** Materializes [[quotaLayout]] — both prefix-sum phases (and any
    * caller-side aggregate, e.g. [[quotaSampleEpochs]]' group masses)
    * must read ONE layout: repartitionByRange samples boundaries and
    * spark_partition_id is non-deterministic, so two independent
    * evaluations could disagree on pid and corrupt the base-offset
    * join. Four small columns per doc; text stays behind. */
  private def quotaSized(docs: DataFrame, groupCol: String, idCol: String,
      nCol: String, orderCol: String, nParts: Int): DataFrame = {
    val sess = docs.sparkSession
    val parts = if (nParts > 0) nParts
      else math.max(sess.sessionState.conf.numShufflePartitions,
        sess.sparkContext.defaultParallelism)
    Materialized.pin(quotaLayout(docs, groupCol, idCol, nCol, orderCol, parts))
  }

  /** Shared core of the quota samplers: every doc's exclusive running
    * token sum (`cum_before`) and 1-based fill position (`pick_pos`)
    * within its group's (orderCol, idCol) order, as (id, grp, n,
    * cum_before, pick_pos) — the budget cut happens in the callers.
    * [[graft.operators.Sharding.shuffleShards]] reuses this as its
    * global rank (constant group, unit counts), so the two-phase
    * machinery has ONE implementation. */
  private[operators] def quotaSpans(docs: DataFrame, groupCol: String,
      idCol: String, nCol: String, orderCol: String, nParts: Int): DataFrame =
    quotaSpansFrom(
      quotaSized(docs, groupCol, idCol, nCol, orderCol, nParts),
      groupCol, idCol, orderCol)

  /** The two prefix-sum phases over an already-materialized
    * [[quotaLayout]]. */
  private def quotaSpansFrom(sized: DataFrame, groupCol: String,
      idCol: String, orderCol: String): DataFrame = {
    // Phase 1: per-(partition, group) totals — the group's exclusive
    // prefix over pid order is its base (token + count) offset at the
    // partition boundary.
    val wBase = Window.partitionBy("grp").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = sized.groupBy(col("pid"), col("grp"))
      .agg(sum(col("n")).as("ptok"), count(lit(1)).as("pcnt"))
      .withColumn("tbase", coalesce(sum(col("ptok")).over(wBase), lit(0L)))
      .withColumn("cbase", coalesce(sum(col("pcnt")).over(wBase), lit(0L)))
      .select(col("pid").as("bpid"), col("grp").as("bgrp"),
        col("tbase"), col("cbase"))
    // Phase 2: within-partition running sums + broadcast bases. ROWS
    // frame (the default RANGE frame would hand tied keys each other's
    // tokens); ties are asserted away instead.
    val ord = Window.partitionBy("pid", "grp").orderBy("rk", "id")
    val wRun = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevRk = lag(col("rk"), 1).over(ord)
    val prevId = lag(col("id"), 1).over(ord)
    val dupGuard = coalesce(
      assert_true(prevRk.isNull ||
          !(prevRk === col("rk") && prevId === col("id")),
        lit(s"quotaSample: duplicate ($groupCol, $orderCol, $idCol) — " +
          "fill order undefined"))
        .cast("long"),
      lit(0L))
    sized
      .join(broadcast(bases), col("pid") === col("bpid") && col("grp") === col("bgrp"))
      .withColumn("cum_before",
        col("tbase") + sum(col("n")).over(wRun) - col("n") + dupGuard)
      .withColumn("pick_pos", col("cbase") + row_number().over(ord))
  }

  /** Token-BUDGET quota sampling — the data-mixing step of a training
    * corpus build: each group (language, source domain, quality tier…)
    * contributes documents in a deterministic pseudo-random order until
    * its token budget fills. For per-group budgets derived from mixture
    * weights (budget_g = weight_g × total target tokens) use
    * [[quotaSampleBudgets]]; this entry applies one uniform budget.
    *
    * Selection rule: a document is kept iff the tokens accumulated by
    * the documents BEFORE it (same group, ascending (`orderCol`,
    * `idCol`)) are still under `budget` — each group overshoots by at
    * most one document and never undershoots while eligible docs
    * remain. The order key is caller-supplied (typically a salted hash
    * of the id, so the sample is reproducible and uncorrelated with id
    * order). Output: id, group, count columns plus `cum_before` (tokens
    * before this doc in its group) and `pick_pos` (1-based fill
    * position).
    *
    * Scale shape — unlike [[stratifiedQuota]] (row-count quotas via a
    * per-stratum window, fine when quotas are small), the running TOKEN
    * sum here must see every group row, and `Window.partitionBy(group)`
    * would serialize each group onto one reducer — five languages, five
    * tasks, at any corpus size. So this is [[Packing.packSequences]]'s
    * two-phase distributed prefix sum keyed by group: rows
    * range-partition by (group, orderKey, id) — a group spans many
    * partitions, each holding a contiguous key range — then
    * per-(partition, group) totals (≤ partitions × groups tiny rows)
    * take a small window for the group's base offsets, which broadcast
    * back for the within-partition running sum. Only (id, group, n,
    * key) tuples shuffle — across three narrow exchanges (range
    * layout, the window's (pid, group) re-cluster the checkpoint's
    * erased partitioning metadata forces, and the tiny totals); text
    * never moves through any of them. The declared q68 twin is
    * DuckDB-oracled value-for-value.
    *
    * The (`groupCol`, `orderCol`, `idCol`) triple must be unique — the
    * fill order is otherwise undefined; duplicates fail loudly at
    * execution (packSequences' in-window lag guard: range partitioning
    * makes equal triples adjacent, so the lag sees them). The sized
    * layout (pinned through [[Materialized.pin]]; four small columns
    * per doc) stays RESIDENT behind the returned plan —
    * the working set both phases read, same contract as dedupClusters'
    * final labels; long-lived sessions release it with
    * [[Materialized.free]] once done with the result.
    */
  def quotaSample(docs: DataFrame, budget: Long,
                  groupCol: String = "lang", idCol: String = "doc_id",
                  nCol: String = "n_tokens", orderCol: String = "rk",
                  nParts: Int = 0): DataFrame = {
    require(budget > 0, "budget must be positive")
    quotaSpans(docs, groupCol, idCol, nCol, orderCol, nParts)
      .filter(col("cum_before") < lit(budget))
      .select(col("id").as(idCol), col("grp").as(groupCol),
        col("n").as(nCol), col("cum_before"), col("pick_pos"))
  }

  /** [[quotaSample]] with per-group budgets — the actual mixture form:
    * `budgets` maps each group to its token budget (weight_g × target).
    * Groups absent from the map contribute NOTHING (weight 0) — a
    * mixture is a whitelist, so an unlisted source must not leak into
    * the output silently. Budgets are driver-side by construction
    * (mixture weights are a config, and the group count is small by
    * definition here); they broadcast as a literal map expression, so
    * the cut stays scan-side with no extra join or shuffle. */
  def quotaSampleBudgets(docs: DataFrame, budgets: Map[String, Long],
                         groupCol: String = "lang", idCol: String = "doc_id",
                         nCol: String = "n_tokens", orderCol: String = "rk",
                         nParts: Int = 0): DataFrame = {
    require(budgets.nonEmpty, "budgets must not be empty")
    require(budgets.values.forall(_ > 0), "every budget must be positive")
    val budgetFor = budgets.foldLeft(lit(0L)) { case (acc, (g, b)) =>
      when(col("grp") === lit(g), lit(b)).otherwise(acc)
    }
    quotaSpans(docs, groupCol, idCol, nCol, orderCol, nParts)
      .filter(col("cum_before") < budgetFor)
      .select(col("id").as(idCol), col("grp").as(groupCol),
        col("n").as(nCol), col("cum_before"), col("pick_pos"))
  }

  /** [[quotaSampleBudgets]] WITH REPLACEMENT — epoch-repeat upsampling,
    * the form a real multilingual mixture needs when a low-resource
    * group's budget EXCEEDS its corpus: the temperature law hands a
    * small language more tokens than it has, and the standard answer
    * (mBERT/XLM-R, every data-constrained scaling study) is to repeat
    * its data for multiple epochs rather than silently cap at one pass.
    *
    * Each group with token mass m and budget b contributes every
    * document `b div m` full epochs, plus a partial epoch holding the
    * hash-order prefix with `cum_before < b mod m` (the same
    * straddling-doc overshoot convention as [[quotaSample]]). Output is
    * one row per (document, epoch) with `epoch` 0-based — downstream
    * packing treats each occurrence as an independent stream element.
    * A group whose budget is at most its mass degenerates to
    * [[quotaSampleBudgets]]' selection at epoch 0; groups absent from
    * `budgets` contribute nothing (whitelist); a zero-mass group (all
    * zero-count docs) is dropped rather than dividing by zero.
    *
    * Scale shape: the spans are [[quotaSample]]'s two-phase prefix sum
    * (one materialized layout both phases read); the per-group masses
    * are a tiny aggregate over it (≤ group-space rows, broadcast back);
    * the epoch fan-out is a scan-side `explode(sequence(...))` whose
    * factor is exactly the repetition the caller asked for — no join,
    * no extra exchange, and the fan-out rows are five small columns,
    * never text.
    *
    * `maxEpochs` bounds the repetition factor `b div m`: a misconfigured
    * budget vastly exceeding a tiny group's mass would otherwise fan out
    * enormously (or die mid-job inside `sequence`'s array-size limit)
    * before anyone notices the config error. No real curriculum repeats
    * data four orders of magnitude (the data-constrained scaling studies
    * stop seeing value around 4–16 epochs), so the default cap of 10000
    * is pure pathology insurance; callers with a legitimate extreme
    * ratio raise it explicitly. The guard is an `assert_true` on `fe`
    * evaluated BEFORE the explode (the quotaLayout left-operand
    * convention), so the job fails at first evaluation with the
    * offending group and factor in the message, not with an opaque
    * array-allocation error after minutes of fan-out. */
  def quotaSampleEpochs(docs: DataFrame, budgets: Map[String, Long],
                        groupCol: String = "lang", idCol: String = "doc_id",
                        nCol: String = "n_tokens", orderCol: String = "rk",
                        nParts: Int = 0, maxEpochs: Long = 10000L): DataFrame = {
    require(budgets.nonEmpty, "budgets must not be empty")
    require(budgets.values.forall(_ > 0), "every budget must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val budgetFor = budgets.foldLeft(lit(0L)) { case (acc, (g, b)) =>
      when(col("grp") === lit(g), lit(b)).otherwise(acc)
    }
    // Masses aggregate the materialized LAYOUT directly — summing the
    // spans plan instead would drag the phase-1 bases aggregate and the
    // broadcast base join along for numbers a plain groupBy already has.
    val sized = quotaSized(docs, groupCol, idCol, nCol, orderCol, nParts)
    val spans = quotaSpansFrom(sized, groupCol, idCol, orderCol)
    val masses = sized.groupBy(col("grp")).agg(sum(col("n")).as("m"))
      .filter(col("m") > 0)
      .select(col("grp").as("mgrp"), col("m"))
    spans
      .join(broadcast(masses), col("grp") === col("mgrp"))
      .withColumn("b", budgetFor)
      .filter(col("b") > 0)
      // feGuard on the LEFT of the add (the quotaLayout convention):
      // a factor past maxEpochs is a budget/mass misconfiguration —
      // fail at first evaluation, naming group and factor, instead of
      // fanning out for minutes or dying inside sequence's array limit.
      .withColumn("fe", {
        val feRaw = expr("b div m")
        val feGuard = coalesce(
          assert_true(feRaw <= lit(maxEpochs),
            concat(lit("quotaSampleEpochs: repetition factor (budget div mass) for group "),
              col("grp"), lit(" is "), feRaw.cast("string"),
              lit(s", above maxEpochs=$maxEpochs — budget/mass misconfiguration?"))).cast("long"),
          lit(0L))
        feGuard + feRaw
      })
      .withColumn("rem", pmod(col("b"), col("m")))
      // epoch ranges 0..fe: epochs below fe keep every doc; epoch fe
      // keeps the budget-remainder prefix. sequence(0, fe) is safe —
      // fe >= 0 always (b > 0, m > 0) — and bounded by the repetition
      // factor the budgets encode (itself capped by maxEpochs above).
      .select(col("id"), col("grp"), col("n"), col("cum_before"),
        col("pick_pos"), col("fe"), col("rem"),
        explode(sequence(lit(0L), col("fe"))).as("epoch"))
      .filter(col("epoch") < col("fe") || col("cum_before") < col("rem"))
      .select(col("id").as(idCol), col("grp").as(groupCol),
        col("n").as(nCol), col("epoch"), col("cum_before"), col("pick_pos"))
  }

  /** The integer-exact α = 1/2 twin of [[temperatureBudgets]] — the
    * declared-query form (q79, ops/Extended). Weights are
    * `floor(sqrt(count))` — IEEE-754 requires sqrt correctly rounded,
    * so Scala's `math.sqrt` and DuckDB's `sqrt` produce the SAME double
    * and the same floor — and every later step is pure integer
    * arithmetic: floor_g = B·w_g div Z, remainder rank by
    * (B·w_g mod Z, group name). Nothing downstream of the one sqrt can
    * diverge between engines (no float sum whose ORDER matters, the
    * hazard [[temperatureBudgets]]' real-valued normalization carries),
    * which is what makes q79's DuckDB oracle exact by construction —
    * the q71 integer-coefficient convention applied to mixtures. Same
    * exact-sum and zero-budget-drop semantics as the general law.
    *
    * A zero-count group is legal (a language whose documents are all
    * empty): its weight is 0, so it draws floor 0 and — because the
    * integer remainder B·w mod Z is 0 and the topup count is strictly
    * less than the number of positive-remainder groups — can never be
    * topped up; it simply drops out, exactly as the q79 oracle's
    * `WHERE b > 0` drops it. The overflow guard bounds the LARGEST
    * per-group product B·w_max (each div/mod touches only one product),
    * so realistic budgets over many small groups are not rejected. */
  def sqrtBudgets(tokenCounts: Map[String, Long], totalBudget: Long): Map[String, Long] = {
    require(tokenCounts.nonEmpty, "tokenCounts must not be empty")
    require(tokenCounts.values.forall(_ >= 0), "every group count must be non-negative")
    require(totalBudget > 0, s"totalBudget $totalBudget must be positive")
    val w = tokenCounts.map { case (g, c) => g -> math.sqrt(c.toDouble).toLong }
    val z = w.values.sum
    require(z > 0, "all isqrt weights collapsed to zero")
    val wmax = w.values.max
    require(totalBudget <= Long.MaxValue / wmax,
      s"totalBudget $totalBudget x max weight $wmax would overflow the exact arithmetic")
    val floors = w.map { case (g, x) => g -> totalBudget * x / z }
    val rems = w.map { case (g, x) => g -> totalBudget * x % z }
    val topUp = rems.toSeq.sortBy { case (g, m) => (-m, g) }
      .take((totalBudget - floors.values.sum).toInt).map(_._1).toSet
    floors.map { case (g, b) => g -> (if (topUp(g)) b + 1 else b) }
      .filter(_._2 > 0)
  }

  /** Temperature-scaled mixture budgets — the standard multilingual
    * sampling law (mBERT / XLM-R style): group g gets budget
    * ∝ count_g^alpha, normalized to `totalBudget` tokens. alpha = 1 is
    * proportional sampling (the corpus's own mix); alpha → 0 flattens
    * toward uniform, up-weighting low-resource groups — the knob a
    * real pretraining mixture turns. Pure driver-side arithmetic over
    * per-group token counts (one tiny aggregate to obtain; the group
    * space is small by definition), feeding [[quotaSampleBudgets]].
    *
    * Rounding is largest-remainder (Hamilton) apportionment with ties
    * broken by group name, so the returned budgets sum EXACTLY to
    * totalBudget and the result is deterministic. The shares are
    * doubles (unlike [[sqrtBudgets]]' integer path), so near 2^53 the
    * floors can collectively miss totalBudget by more than the classic
    * 0..n-1 remainder — in either direction. The correction below
    * therefore walks the remainder-ranked order (forward when short,
    * reverse when over, never taking a group below zero) until the sum
    * is exact, so the contract holds for every representable budget,
    * not just the float-friendly ones. A group whose budget lands on
    * zero is OMITTED (quotaSampleBudgets' whitelist semantics: an
    * absent group contributes nothing). */
  def temperatureBudgets(tokenCounts: Map[String, Long], totalBudget: Long,
                         alpha: Double): Map[String, Long] = {
    require(tokenCounts.nonEmpty, "tokenCounts must not be empty")
    require(tokenCounts.values.forall(_ > 0), "every group count must be positive")
    require(totalBudget > 0, s"totalBudget $totalBudget must be positive")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha $alpha outside (0, 1]")
    val w = tokenCounts.map { case (g, c) => g -> math.pow(c.toDouble, alpha) }
    val z = w.values.sum
    val exact = w.map { case (g, x) => g -> totalBudget * (x / z) }
    val order = exact.toSeq
      .sortBy { case (g, e) => (-(e - math.floor(e)), g) }.map(_._1)
    val acc = scala.collection.mutable.LinkedHashMap(
      order.map(g => g ->
        math.min(totalBudget, math.max(0L, exact(g).toLong))): _*)
    var diff = totalBudget - acc.values.sum
    while (diff > 0)
      for (g <- order if diff > 0) { acc(g) += 1; diff -= 1 }
    while (diff < 0)
      for (g <- order.reverse if diff < 0 && acc(g) > 0) { acc(g) -= 1; diff += 1 }
    acc.toMap.filter(_._2 > 0)
  }
}
