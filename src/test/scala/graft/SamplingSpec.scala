package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** Quota (token-budget) sampling: exact fill semantics on a worked
  * example, prefix/overshoot invariants against a driver-side replay,
  * partition-layout invariance of the two-phase prefix sum, and the
  * scale-shape plan pin (range partitioning, no per-group reducer).
  */
class SamplingSpec extends SparkSpec {

  private def collectPicked(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).sortBy(t => (t._2, t._5))

  test("quotaSample: worked example — fill stops after the straddling doc") {
    import spark.implicits._
    // Group a fills 10 at doc 3 (cum_before 7 < 10 → kept, overshoots);
    // doc 4 has cum_before 12 → cut. Group b never reaches 10.
    val docs = Seq(
      (1L, "a", 4L, "k1"), (2L, "a", 3L, "k2"), (3L, "a", 5L, "k3"),
      (4L, "a", 2L, "k4"), (10L, "b", 6L, "k1"), (11L, "b", 1L, "k2"))
      .toDF("doc_id", "lang", "n_tokens", "rk")
    val got = collectPicked(Sampling.quotaSample(docs, budget = 10L))
    val want = Seq(
      (1L, "a", 4L, 0L, 1L), (2L, "a", 3L, 4L, 2L), (3L, "a", 5L, 7L, 3L),
      (10L, "b", 6L, 0L, 1L), (11L, "b", 1L, 6L, 2L))
    assert(got.toSeq === want)
  }

  test("quotaSample: matches a driver-side replay on a hashed corpus") {
    import spark.implicits._
    val docs = (0L until 400L).map { i =>
      (i, "g" + (i % 5), 1 + (i * 2654435761L % 53),
        f"${(i * 0x9e3779b97f4a7c15L).toHexString}%16s")
    }.toDF("doc_id", "lang", "n_tokens", "rk")
    val budget = 500L
    val got = collectPicked(Sampling.quotaSample(docs, budget))
    // Driver replay: per group, sort by (rk, id), keep while the
    // exclusive running sum is under budget.
    val want = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        val ordered = rows.sortBy(t => (t._4, t._1))
        val cums = ordered.scanLeft(0L)(_ + _._3)
        ordered.zip(cums).zipWithIndex.collect {
          case (((id, g, n, _), cum), i) if cum < budget =>
            (id, g, n, cum, (i + 1).toLong)
        }
      }.sortBy(t => (t._2, t._5))
    assert(got.toSeq === want)
    // Overshoot bound: each group's kept token mass < budget + its last
    // doc's tokens.
    got.groupBy(_._2).foreach { case (_, rows) =>
      val mass = rows.map(_._3).sum
      assert(mass - rows.maxBy(_._5)._3 < budget)
    }
  }

  test("quotaSample: output is invariant to the partition count") {
    import spark.implicits._
    val docs = (0L until 300L).map(i =>
      (i, "g" + (i % 3), 1 + i % 17, f"${i * 0x9e3779b97f4a7c15L}%020d"))
      .toDF("doc_id", "lang", "n_tokens", "rk")
    val one = collectPicked(Sampling.quotaSample(docs, 300L, nParts = 1)).toSeq
    val seven = collectPicked(Sampling.quotaSample(docs, 300L, nParts = 7)).toSeq
    val thirty = collectPicked(Sampling.quotaSample(docs, 300L, nParts = 32)).toSeq
    assert(one === seven)
    assert(one === thirty)
  }

  test("quotaSample: duplicate (group, key, id) fails loudly") {
    import spark.implicits._
    val docs = Seq((1L, "a", 5L, "k"), (1L, "a", 7L, "k"))
      .toDF("doc_id", "lang", "n_tokens", "rk")
    val ex = intercept[Throwable] {
      Sampling.quotaSample(docs, 100L, nParts = 1).collect()
    }
    // The specific dupGuard assertion must be what fired — accepting any
    // exception would keep passing if the guard were pruned away and
    // some unrelated error happened to throw.
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("duplicate (lang, rk, doc_id)")),
      s"expected the duplicate-key assertion, got: $ex")
  }

  test("quotaSample: NULL or negative n_tokens fails loudly (ADVICE r10)") {
    import spark.implicits._
    // A NULL count used to silently DROP its row (null cum_before fails
    // the budget filter) while still occupying a pick_pos; a negative
    // count corrupted the running sum for every later doc in the group.
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val withNull = Seq((1L, "a", Some(5L), "k1"), (2L, "a", None, "k2"))
      .toDF("doc_id", "lang", "n_tokens", "rk")
    val exNull = intercept[Throwable] {
      Sampling.quotaSample(withNull, 100L, nParts = 1).collect()
    }
    assert(messages(exNull).exists(_.contains("n_tokens must be non-null")),
      s"expected the n-validation assertion, got: $exNull")
    val withNeg = Seq((1L, "a", 5L, "k1"), (2L, "a", -3L, "k2"))
      .toDF("doc_id", "lang", "n_tokens", "rk")
    val exNeg = intercept[Throwable] {
      Sampling.quotaSample(withNeg, 100L, nParts = 1).collect()
    }
    assert(messages(exNeg).exists(_.contains("n_tokens must be non-null")),
      s"expected the n-validation assertion, got: $exNeg")
  }

  test("Materialized.free releases the quota layout's resident block") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, "g", 1L, i.toString))
      .toDF("doc_id", "lang", "n_tokens", "rk")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val picked = Sampling.quotaSample(docs, 10L)
    picked.count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "expected the sized layout checkpoint to be resident")
    // free waits for the removal, so the block is gone on return
    graft.operators.Materialized.free(picked)
    assert(!spark.sparkContext.getPersistentRDDs.keySet.exists(added),
      "quota layout block still resident after Materialized.free")
  }

  test("quotaSample plan: range-partitioned data path, no per-group reducer") {
    import spark.implicits._
    val docs = (0L until 100L).map(i =>
      (i, "g" + (i % 3), 1L + i % 7, i.toString)).toDF("doc_id", "lang", "n_tokens", "rk")
    // The operator's OWN layout stage (the checkpoint hides it from the
    // final executed plan): the full-data exchange must be a RANGE
    // partition on (grp, rk, id) — hash-partitioning by grp alone would
    // put each group on one reducer, the shape this operator exists to
    // avoid. Windows keyed by grp alone see only the per-partition
    // totals (≤ parts × groups rows), never data.
    val layout = Sampling.quotaLayout(docs, "lang", "doc_id", "n_tokens", "rk", 8)
      .queryExecution.executedPlan.toString
    assert(layout.contains("rangepartitioning(grp"),
      s"expected a range exchange on (grp, rk, id):\n$layout")
    assert(!layout.contains("hashpartitioning(grp"),
      s"group-only hash exchange on the data path:\n$layout")
  }

  test("quotaSampleBudgets: per-group budgets, unlisted groups excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", 4L, "k1"), (2L, "a", 3L, "k2"), (3L, "a", 5L, "k3"),
      (10L, "b", 6L, "k1"), (11L, "b", 1L, "k2"),
      (20L, "c", 2L, "k1")) // group c not in the mixture → dropped
      .toDF("doc_id", "lang", "n_tokens", "rk")
    val got = collectPicked(Sampling.quotaSampleBudgets(docs,
      Map("a" -> 5L, "b" -> 6L)))
    // a: doc1 (cum 0<5) + doc2 (cum 4<5, overshoots) but not doc3
    // (cum 7); b: doc10 (cum 0<6) but not doc11 (cum 6); c: nothing.
    val want = Seq(
      (1L, "a", 4L, 0L, 1L), (2L, "a", 3L, 4L, 2L),
      (10L, "b", 6L, 0L, 1L))
    assert(got.toSeq === want)
  }

  test("q68 pick order is a deterministic hash permutation, not id order") {
    val got = SparkEntry.queries("q68_mixture_sample")(spark, sf001)
    val rows = got.collect()
    assert(rows.length > 0)
    // Within a language the fill order must not be doc_id order (the
    // md5 key decorrelates) — a regression to id order would silently
    // bias the sample toward early docs.
    val en = rows.filter(_.getString(1) == "en").sortBy(_.getLong(4))
    val ids = en.map(_.getLong(0)).toSeq
    assert(ids !== ids.sorted, "fill order collapsed to doc_id order")
  }

  test("temperatureBudgets: exact-sum apportionment, alpha semantics") {
    import graft.operators.Sampling.temperatureBudgets
    val counts = Map("en" -> 8000L, "de" -> 1000L, "es" -> 800L, "zh" -> 200L)
    // alpha = 1: proportional to the corpus mix, summing exactly.
    val p1 = temperatureBudgets(counts, 1000L, 1.0)
    assert(p1.values.sum === 1000L)
    assert(p1("en") === 800L && p1("de") === 100L && p1("es") === 80L
      && p1("zh") === 20L)
    // alpha < 1 flattens: every low-resource group gains share, the
    // head loses it, and the sum stays exact.
    val p3 = temperatureBudgets(counts, 1000L, 0.3)
    assert(p3.values.sum === 1000L)
    assert(p3("en") < p1("en") && p3("zh") > p1("zh"))
    // Monotone flattening across alphas (down-weighting is strictly
    // stronger at lower temperature exponents for the head group).
    val alphas = Seq(1.0, 0.7, 0.5, 0.3)
    val heads = alphas.map(a => temperatureBudgets(counts, 1000L, a)("en"))
    assert(heads === heads.sorted.reverse, s"head share not monotone: $heads")
    // Deterministic (no float-order drift) and zero-budget groups drop.
    assert(temperatureBudgets(counts, 1000L, 0.3)
      === temperatureBudgets(counts, 1000L, 0.3))
    val tiny = temperatureBudgets(Map("a" -> 1000000L, "b" -> 1L), 10L, 1.0)
    assert(tiny === Map("a" -> 10L), s"zero-budget group leaked: $tiny")
  }

  test("sqrtBudgets: integer-exact alpha=1/2 apportionment (q79's law)") {
    import graft.operators.Sampling.{sqrtBudgets, temperatureBudgets}
    val counts = Map("en" -> 8100L, "de" -> 900L, "es" -> 400L, "zh" -> 100L)
    // isqrt weights 90/30/20/10 (sum 150): exact shares of 1000 are
    // 600/200/133.33/66.67 — floors 600/200/133/66 leave 1 to top up,
    // and es's remainder (500) beats zh's (1000 mod 150 = 100)... check
    // via the function itself for the ground truth below.
    val b = sqrtBudgets(counts, 1000L)
    assert(b.values.sum === 1000L)
    assert(b("en") === 600L && b("de") === 200L)
    assert(b("es") + b("zh") === 200L && b("es") >= 133L && b("zh") >= 66L)
    // The flattening direction matches the real-valued alpha=0.5 law
    // (same head-loss/tail-gain shape), and on perfect squares with
    // exact shares the two agree outright.
    val t = temperatureBudgets(counts, 1000L, 0.5)
    assert(math.abs(b("en") - t("en")) <= 1 && math.abs(b("zh") - t("zh")) <= 1)
    // Deterministic, exact-sum under awkward budgets, zero-budget drop.
    assert(sqrtBudgets(counts, 7L) === sqrtBudgets(counts, 7L))
    assert(sqrtBudgets(counts, 7L).values.sum === 7L)
    val tiny = sqrtBudgets(Map("a" -> 1000000L, "b" -> 1L), 3L)
    assert(tiny === Map("a" -> 3L), s"zero-budget group leaked: $tiny")
    // Ties on remainder break by group name (the oracle's ORDER BY
    // rem DESC, lang): two symmetric groups and an odd budget must give
    // the extra unit to the lexicographically smaller name.
    val tie = sqrtBudgets(Map("aa" -> 100L, "bb" -> 100L), 5L)
    assert(tie === Map("aa" -> 3L, "bb" -> 2L), s"tie-break drifted: $tie")
  }

  test("quotaSampleEpochs: repetition regimes, conservation, whitelist") {
    import spark.implicits._
    import graft.operators.Sampling
    // 2 langs x 10 docs x 10 tokens (mass 100 each) + one zero-mass
    // lang (all empty docs) that must drop rather than divide by zero.
    val docs = ((0 until 20).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "zh", 10L)
    } ++ (20 until 25).map(i => (i.toLong, "void", 0L)))
      .toDF("doc_id", "lang", "n_tokens")
      .withColumn("rk", md5(concat_ws(":", lit("e"), col("doc_id"))))
    val out = Sampling.quotaSampleEpochs(docs,
        Map("en" -> 60L, "zh" -> 250L, "void" -> 10L))
      .collect()
    val en = out.filter(_.getString(1) == "en")
    val zh = out.filter(_.getString(1) == "zh")
    // en: budget under mass -> without-replacement degenerate case,
    // all epoch 0, and it matches quotaSampleBudgets row for row.
    assert(en.forall(_.getLong(3) == 0L))
    val wr = Sampling.quotaSampleBudgets(docs, Map("en" -> 60L)).collect()
      .map(r => (r.getLong(0), r.getLong(4))).sorted.toSeq
    assert(en.map(r => (r.getLong(0), r.getLong(5))).sorted.toSeq === wr)
    // zh: 250 over mass 100 -> 2 full epochs of all 10 docs + a
    // 50-token prefix; conservation within one straddling doc.
    assert(zh.count(_.getLong(3) == 0L) === 10)
    assert(zh.count(_.getLong(3) == 1L) === 10)
    val partial = zh.filter(_.getLong(3) == 2L)
    assert(partial.length === 5, s"prefix epoch wrong: ${partial.length}")
    val zhTokens = zh.map(_.getLong(2)).sum
    assert(zhTokens >= 250L && zhTokens < 250L + 10L, s"mass drifted: $zhTokens")
    // The partial epoch picks the SAME hash-order prefix every epoch
    // fill uses (pick_pos 1..5), zero-mass and unlisted groups vanish.
    assert(partial.map(_.getLong(5)).sorted.toSeq === (1L to 5L))
    assert(out.forall(_.getString(1) != "void"))
    // Exact-multiple boundary: budget == 2 x mass -> exactly two full
    // epochs, NO partial-epoch row.
    val exact = Sampling.quotaSampleEpochs(docs, Map("en" -> 200L)).collect()
    assert(exact.length === 20 && exact.forall(_.getLong(3) <= 1L))
  }

  test("budget apportionment edge regimes: zero counts, huge budgets") {
    import graft.operators.Sampling.{sqrtBudgets, temperatureBudgets}
    // A zero-count group (a language of all-empty docs) is legal input:
    // weight 0, never topped up, dropped from the result — the q79
    // oracle's WHERE b > 0 behavior, not an exception.
    val withZero = sqrtBudgets(Map("en" -> 8100L, "empty" -> 0L), 100L)
    assert(withZero === Map("en" -> 100L), s"zero-count group leaked: $withZero")
    assert(sqrtBudgets(Map("en" -> 8100L, "de" -> 900L), 100L)
      === sqrtBudgets(Map("en" -> 8100L, "de" -> 900L, "z" -> 0L), 100L),
      "a zero-count group changed other groups' budgets")
    // sqrtBudgets' overflow guard bounds the largest per-group PRODUCT,
    // not budget x weight-sum: a trillion-token budget over many small
    // groups must be accepted (the old weight-sum guard rejected it).
    val many = (1 to 100).map(i => f"g$i%03d" -> 1000000000000L).toMap
    val big = sqrtBudgets(many, 1000000000000L)
    assert(big.values.sum === 1000000000000L)
    // temperatureBudgets' exact-sum contract must survive float error
    // at budgets past 2^50, where the double shares' floors can miss
    // totalBudget by more than the classic 0..n-1 remainder in EITHER
    // direction — the correction walk keeps the sum exact.
    val counts = Map("en" -> 7919L, "de" -> 104729L, "es" -> 1299709L,
      "fr" -> 15485863L, "zh" -> 32452843L)
    for (b <- Seq(1L << 50, (1L << 53) - 1, (1L << 53) + 1, Long.MaxValue / 2)) {
      val t = temperatureBudgets(counts, b, 0.7)
      assert(t.values.sum === b, s"sum drifted at budget $b: ${t.values.sum}")
    }
  }

  test("temperatureBudgets composes with quotaSampleBudgets end-to-end") {
    import spark.implicits._
    import graft.operators.Sampling
    // 3 langs x 40 docs of 10 tokens: counts 400/400/400 -> alpha has
    // no skew to flatten (uniform), so each lang's budget is total/3
    // and the fill takes ceil(budget/10) docs per lang.
    val docs = (0 until 120).map { i =>
      (i.toLong, Seq("en", "de", "es")(i % 3), 10L)
    }.toDF("doc_id", "lang", "n_tokens")
      .withColumn("rk", org.apache.spark.sql.functions.col("doc_id"))
    val budgets = Sampling.temperatureBudgets(
      Map("en" -> 400L, "de" -> 400L, "es" -> 400L), 99L, 0.5)
    assert(budgets.values.sum === 99L)
    val picked = Sampling.quotaSampleBudgets(docs, budgets)
      .collect().groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // 33-token budget straddles the 4th 10-token doc in each lang.
    assert(picked === Map("en" -> 4, "de" -> 4, "es" -> 4))
  }
}
