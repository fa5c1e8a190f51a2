package graft

import org.apache.spark.sql.functions._

/** Incremental dedup (round 13): the asymmetric increment-vs-index
  * screen must agree with the symmetric family it claims to shortcut,
  * and its verdict conventions must hold on a corpus where every case
  * is planted by hand. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("crafted corpus: dup_old / dup_new / keep conventions") {
    // Index: doc 1 is the "already ingested" text, doc 2 is unrelated.
    val index = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    // Increment:
    //  17 ≡ index doc 1                        → dup_old
    //  27 new-unique text, first of its pair   → keep (nothing earlier)
    //  37 ≡ 27 (within-increment duplicate)    → dup_new (27 is earlier)
    //  47 shares 5 of 10 tokens with 27        → keep (J = 1/3 < 0.8)
    //  57 empty text (no token set)            → keep (never pairs)
    //  67 ≡ index doc 1 AND ≡ 17               → dup_old (CASE priority
    //     over the also-true dup_new)
    val increment = Seq(
      (17L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (27L, "red orange yellow green blue indigo violet black white grey"),
      (37L, "red orange yellow green blue indigo violet black white grey"),
      (47L, "red orange yellow green blue lion tiger bear wolf fox"),
      (57L, ""),
      (67L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val out = graft.operators.Approx.incrementalDedup(spark, index, increment)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(
      17L -> "dup_old", 27L -> "keep", 37L -> "dup_new",
      47L -> "keep", 57L -> "keep", 67L -> "dup_old"))
  }

  test("stored-index round trip: parquet-persisted MinHashIndex screens identically") {
    // The production deployment builds the index ONCE, writes it, and
    // every batch reads it back — the screen must not care. The index
    // frames round-trip through parquet (losing lineage, stats, and
    // the in-memory partitioning) and the verdicts must equal the
    // direct two-corpus form row for row.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) >= 7
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx").toString
    val built = graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isNew))
    built.sets.write.mode("overwrite").parquet(s"$dir/sets")
    built.bands.write.mode("overwrite").parquet(s"$dir/bands")
    val stored = graft.operators.Approx.MinHashIndex(
      spark.read.parquet(s"$dir/sets"), spark.read.parquet(s"$dir/bands"))
    val viaStored = graft.operators.Approx
      .incrementalDedup(spark, stored, docs.filter(isNew))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val direct = SparkEntry.queries("q86_incremental_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(viaStored.toSeq === direct.toSeq)
  }

  test("asymmetric screen ≡ verdicts derived from the symmetric pair set (sf0.001)") {
    // The operator's claim: restricting the symmetric q59 pair set to
    // increment-involving pairs yields exactly what the asymmetric
    // band join emits (banding is per-doc; the emit-once minimal-band
    // check is symmetric in the two signatures). So deriving verdicts
    // from minhashPairs — the declared q59 surface, a completely
    // independent join shape — must reproduce q86 row for row.
    val isNewOf: Long => Boolean = id => id % 10 >= 7
    val pairs = graft.ops.Extended.minhashPairs(spark, sf0001)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val newIds = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).filter(isNewOf).sorted
    val expected = newIds.map { d =>
      val others = sym.collect { case (x, y) if x == d => y }
      val verdict =
        if (others.exists(!isNewOf(_))) "dup_old"
        else if (others.exists(o => isNewOf(o) && o < d)) "dup_new"
        else "keep"
      d -> verdict
    }.toMap
    val actual = SparkEntry.queries("q86_incremental_dedup")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(actual === expected)
  }

  test("parametric screen (t ≠ 0.8): sorted_jaccard acceptance ≡ composed-ratio form") {
    // Round 18 (VERDICT r17 #5): the parametric acceptance branch now
    // evaluates ONE sorted_jaccard merge per candidate instead of the
    // composed i/(na+nb−i) double-ratio (two sorted_intersect_size
    // evaluations inside the pushed join condition). This pins the
    // VERDICT SET to the ratio form at several thresholds on real data:
    // the reference replica below is the pre-r18 parametric pipeline —
    // same band join, same slackened prune, composed-ratio acceptance
    // through rescoredPairs — differing ONLY in the acceptance
    // expression. (The bitwise sorted_jaccard ≡ composed-form identity
    // is property-tested in GeneratedPropertiesSpec.)
    graft.expressions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) >= 7
    val index = graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isNew))
    val inc = docs.filter(isNew)
    def ratioFormScreen(t: Double): Array[(Long, String)] = {
      val (setsInc, bandsInc) = graft.operators.Approx
        .md5SetsAndBands(spark, inc.select("doc_id", "text"))
      // Fresh index ⇒ no `inc` column: flaggedBands reduces to the
      // all-old literal.
      val all = index.bands.withColumn("y_new", lit(false))
        .unionByName(bandsInc.withColumn("y_new", lit(true)))
      val cand = bandsInc.as("x").join(all.as("y"),
          col("x.g") === col("y.g") && col("x.v") === col("y.v") &&
          col("x.doc_id") =!= col("y.doc_id") &&
          (!col("y.y_new") || col("y.doc_id") < col("x.doc_id")) &&
          !expr("band_match_before(x.sig, y.sig, 4, x.g)"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("y.y_new").as("b_new"))
      val prune = least(col("na"), col("nb")).cast("double") >=
        lit(t) * greatest(col("na"), col("nb")).cast("double") -
          lit(1e-9) * greatest(col("na"), col("nb")).cast("double")
      val pairs = graft.operators.Approx
        .rescoredPairs(spark, cand, index.sets.unionByName(setsInc), prune)
        .filter(col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double") >= lit(t))
      val flags = pairs.groupBy(col("a").as("doc_id"))
        .agg(max(when(!col("b_new"), 1).otherwise(0)).as("has_old"),
          max(when(col("b_new"), 1).otherwise(0)).as("has_new"))
      inc.select(col("doc_id")).join(flags, Seq("doc_id"), "left")
        .select(col("doc_id"), when(col("has_old") === 1, "dup_old")
          .when(col("has_new") === 1, "dup_new").otherwise("keep").as("verdict"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    }
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val actual = graft.operators.Approx
        .incrementalDedup(spark, index, inc, minJaccard = t)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(actual === ratioFormScreen(t), s"threshold $t")
      // The thresholds must not silently route through the integer
      // fast path — this test exists for the parametric branch.
      assert(t != 0.8)
    }
  }

  // ----- semantic family (incrementalSemanticDedup / declared q88) -----

  test("semantic crafted corpus: dup_old / dup_new / keep conventions") {
    // Hand-planted 4-dim vectors where every verdict case is known.
    // Quantizer: two axis centroids; 27/37 score 0 against BOTH (tie →
    // first cell, q84's convention), so they co-cell with v1 but their
    // cosine against it is 0 → only their mutual ≈1 pairs.
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    val index = graft.operators.Approx.buildSemanticIndex(
      Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
        .toDF("vec_id", "embedding"), cents)
    val increment = Seq(
      17L -> Seq(0.995f, 0.0999f, 0f, 0f), //  ≈ index v1     → dup_old
      27L -> Seq(0f, 0f, 0.9f, 0.436f),    //  ⊥ everything   → keep
      37L -> Seq(0f, 0f, 0.9f, 0.436f),    //  ≡ 27 (earlier) → dup_new
      47L -> Seq(0f, 0f, 0f, 0f),          //  zero-norm      → keep
      67L -> Seq(0.995f, 0.0999f, 0f, 0f)  //  ≈ v1 AND ≈ 17  → dup_old
                                           //  (CASE priority over dup_new)
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Approx.incrementalSemanticDedup(index, increment)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(17L -> "dup_old", 27L -> "keep", 37L -> "dup_new",
      47L -> "keep", 67L -> "dup_old"))
  }

  test("semantic: operator with q84's literal cells ≡ declared q88 (sf0.001)") {
    // The operator generalizes q88's quantizer to ANY centroid list;
    // under q84's literals it must reproduce the declared, DuckDB-
    // value-checked query row for row — cell arithmetic (double_dot ≡
    // the element_at fold), first-max tie rule, float32 cosine chain,
    // and verdict CASE all pinned at once.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val isNew = pmod(col("vec_id"), lit(10)) >= 7
    val cents = graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble))
    val index = graft.operators.Approx.buildSemanticIndex(emb.filter(!isNew), cents)
    val viaOp = graft.operators.Approx
      .incrementalSemanticDedup(index, emb.filter(isNew))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val declared = SparkEntry.queries("q88_incremental_semantic")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(viaOp.toSeq === declared.toSeq)
  }

  test("semantic: unhinted (shuffle-join) screen ≡ broadcast-hinted verdicts") {
    // The corpus-sized-increment escape hatch: with broadcastIncrement
    // = false the cell-keyed pair join is planned by Spark/AQE instead
    // of a forced increment broadcast — verdicts must be identical.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val isNew = pmod(col("vec_id"), lit(10)) >= 7
    val cents = graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble))
    val index = graft.operators.Approx.buildSemanticIndex(emb.filter(!isNew), cents)
    def verdicts(hint: Boolean) = graft.operators.Approx
      .incrementalSemanticDedup(index, emb.filter(isNew),
        broadcastIncrement = hint)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(verdicts(false) === verdicts(true),
      "unhinted semantic screen diverged from the broadcast-hinted plan")
  }

  test("semantic stored-index round trip: parquet vectors + centroid table") {
    // Production builds the index once and reads it back per batch:
    // vectors through parquet, the quantizer through its tiny
    // (cell, centroid) table — the screen must not care.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val isNew = pmod(col("vec_id"), lit(10)) >= 7
    val cents = graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble))
    val dir = java.nio.file.Files.createTempDirectory("graft_semidx").toString
    val built = graft.operators.Approx.buildSemanticIndex(emb.filter(!isNew), cents)
    built.vectors.write.mode("overwrite").parquet(s"$dir/vectors")
    graft.operators.Approx.semanticCentroidsDF(spark, built.centroids)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val stored = graft.operators.Approx.SemanticIndex(
      spark.read.parquet(s"$dir/vectors"),
      graft.operators.Approx.semanticCentroidsFromDF(
        spark.read.parquet(s"$dir/centroids")))
    assert(stored.centroids === built.centroids)
    val viaStored = graft.operators.Approx
      .incrementalSemanticDedup(stored, emb.filter(isNew))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val direct = SparkEntry.queries("q88_incremental_semantic")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(viaStored.toSeq === direct.toSeq)
  }

  test("semantic: fitted IVF quantizer (q66's production cells) screens sanely") {
    // The production path: fit centroids ONCE on the full corpus (the
    // sampled-fit seam is the same hashSample rule the q66 smoke
    // measured), index the old side, screen the increment. Fitted cells
    // have no SQL twin — the pins here are structural: one verdict per
    // increment vector, planted families straddling the %10 split must
    // surface as dup_old (family members are near-identical, and a
    // same-family index vector exists for some increment vectors), and
    // keepers exist (singletons whose family fell wholly old or new).
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val isNew = pmod(col("vec_id"), lit(10)) >= 7
    val cents = graft.operators.Approx.fitSemanticCentroids(emb, nlist = 8)
    assert(cents.length === 8)
    val index = graft.operators.Approx.buildSemanticIndex(emb.filter(!isNew), cents)
    val out = graft.operators.Approx
      .incrementalSemanticDedup(index, emb.filter(isNew))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expectedIds = emb.filter(isNew).collect().map(_.getLong(0)).sorted
    assert(out.map(_._1).sorted.toSeq === expectedIds.toSeq)
    val hist = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(hist.getOrElse("dup_old", 0) > 0, s"no dup_old in $hist")
    assert(hist.getOrElse("keep", 0) > 0, s"no keep in $hist")
  }

  // ----- index-advance loop (round 14): advanceIndex / advanceSemanticIndex -----

  /** Split a sorted id list into `n` contiguous ranges — day partitions
    * MONOTONE in id, the replay ordering contract. */
  private def days[T](sorted: Seq[T], n: Int): Seq[Seq[T]] =
    sorted.grouped(math.max(1, (sorted.length + n - 1) / n)).toSeq

  test("N-day replay with advanceIndex == single-batch q86 (sf0.001)") {
    // The seam between "per-batch cost measured" and "a production
    // ingest works": screen day k against index ∪ folded(days 1..k−1),
    // fold day k, repeat — the unioned per-day verdicts must equal the
    // single-batch screen over the whole increment row for row. The
    // advanced index additionally round-trips through parquet between
    // day 1 and day 2 (including the `inc` provenance column), so the
    // replay exercises exactly what a nightly job would read back.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) >= 7
    val incDocs = docs.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    import spark.implicits._
    var idx = graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isNew))
    val dir = java.nio.file.Files.createTempDirectory("graft_advance").toString
    val replayed = days(incDocs, 3).zipWithIndex.flatMap { case (day, k) =>
      val dayDf = day.toDF("doc_id", "text")
      val verdicts = graft.operators.Approx.incrementalDedup(spark, idx, dayDf)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      idx = graft.operators.Approx.advanceIndex(spark, idx, dayDf)
      if (k == 0) {
        idx.sets.write.mode("overwrite").parquet(s"$dir/sets")
        idx.bands.write.mode("overwrite").parquet(s"$dir/bands")
        idx = graft.operators.Approx.MinHashIndex(
          spark.read.parquet(s"$dir/sets"), spark.read.parquet(s"$dir/bands"))
        assert(idx.bands.columns.contains("inc"),
          "advanced index lost its provenance column in parquet")
      }
      verdicts
    }.sortBy(_._1)
    val batch = SparkEntry.queries("q86_incremental_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(replayed.length === batch.length)
    assert(replayed.toSeq === batch.toSeq,
      "replayed per-day verdicts diverged from the single-batch screen")
  }

  test("advanceIndex folds ALL docs: a dropped day-1 dup still shadows day 2") {
    // Near-dup at a Jaccard threshold is not transitive, so folding
    // only KEPT docs breaks this chain: index A; day-1 B ≈ A (dup_old,
    // dropped); day-2 C ≈ B but C ≉ A. The single-batch run calls C
    // dup_new (it pairs the earlier increment doc B, kept or not —
    // q33's shadowed-by-any-earlier convention); a kept-only fold
    // would never see B again and call C keep. advanceIndex folds all,
    // so the replay must say dup_new — and a pair with folded B must
    // NOT say dup_old (B entered as crawl, not as ingested corpus).
    import spark.implicits._
    // 30 tokens, 2 swapped per hop: J(a,b) = J(b,c) = 28/32 = 0.875
    // (≥ 0.8, and verified banded — the md5 banding is deterministic,
    // so acceptance was PROBED, not assumed), J(a,c) = 26/34 ≈ 0.765
    // (< 0.8 — the chain's broken transitivity).
    val base = (1 to 30).map(i => s"tok$i")
    val a = base.mkString(" ")
    val b = base.updated(5, "X0").updated(17, "Y0").mkString(" ")
    val c = base.updated(5, "X0").updated(17, "Y0")
      .updated(9, "Z0").updated(23, "W0").mkString(" ")
    val index = Seq((1L, a)).toDF("doc_id", "text")
    val day1 = Seq((11L, b)).toDF("doc_id", "text")
    val day2 = Seq((21L, c)).toDF("doc_id", "text")
    var idx = graft.operators.Approx.buildMinHashIndex(spark, index)
    val v1 = graft.operators.Approx.incrementalDedup(spark, idx, day1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1 === Map(11L -> "dup_old"), s"day-1 chain head: $v1")
    idx = graft.operators.Approx.advanceIndex(spark, idx, day1)
    val v2 = graft.operators.Approx.incrementalDedup(spark, idx, day2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2 === Map(21L -> "dup_new"),
      s"day-2 must see the dropped day-1 doc as an earlier INCREMENT: $v2")
    // Same chain, single batch — the replay's target semantics.
    val batch = graft.operators.Approx.incrementalDedup(spark,
        graft.operators.Approx.buildMinHashIndex(spark, index),
        Seq((11L, b), (21L, c)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batch === Map(11L -> "dup_old", 21L -> "dup_new"))
  }

  test("semantic N-day replay with advanceSemanticIndex == single-batch q88 (sf0.001)") {
    // The embedding-space half of the replay proof, under q84's
    // literal quantizer so the target is the declared, DuckDB-checked
    // q88. The advanced index round-trips through parquet (vectors +
    // centroid table + `inc` column) between day 1 and day 2.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val isNew = pmod(col("vec_id"), lit(10)) >= 7
    val cents = graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble))
    val incVecs = emb.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    import spark.implicits._
    var idx = graft.operators.Approx.buildSemanticIndex(emb.filter(!isNew), cents)
    val dir = java.nio.file.Files.createTempDirectory("graft_semadvance").toString
    val replayed = days(incVecs, 3).zipWithIndex.flatMap { case (day, k) =>
      val dayDf = day.toDF("vec_id", "embedding")
      val verdicts = graft.operators.Approx
        .incrementalSemanticDedup(idx, dayDf)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      idx = graft.operators.Approx.advanceSemanticIndex(idx, dayDf)
      if (k == 0) {
        idx.vectors.write.mode("overwrite").parquet(s"$dir/vectors")
        graft.operators.Approx.semanticCentroidsDF(spark, idx.centroids)
          .write.mode("overwrite").parquet(s"$dir/centroids")
        idx = graft.operators.Approx.SemanticIndex(
          spark.read.parquet(s"$dir/vectors"),
          graft.operators.Approx.semanticCentroidsFromDF(
            spark.read.parquet(s"$dir/centroids")))
        assert(idx.vectors.columns.contains("inc"),
          "advanced semantic index lost its provenance column in parquet")
      }
      verdicts
    }.sortBy(_._1)
    val batch = SparkEntry.queries("q88_incremental_semantic")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(replayed.length === batch.length)
    assert(replayed.toSeq === batch.toSeq,
      "replayed per-day semantic verdicts diverged from the single-batch screen")
  }

  test("durable fold: batch retry is verdict-invariant and replaces, not duplicates") {
    // foreachBatch's delivery contract is at-least-once: the same
    // batch id can re-run after a partial failure. The durable fold
    // writes each batch as ONE batch_id= partition under dynamic
    // overwrite (retry replaces) and folds BEFORE screening (verdicts
    // are invariant to the batch already being in the index), so a
    // retry emits identical verdicts and leaves identical state.
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) >= 7
    val idx = graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isNew))
    val incDocs = docs.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val Seq(day1, day2) = days(incDocs, 2).map(_.toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_retry").toString
    graft.streaming.StreamingIncrementalDedup
      .foldAndScreen(spark, idx, dir, day1, 0L).collect()
    val first = graft.streaming.StreamingIncrementalDedup
      .foldAndScreen(spark, idx, dir, day2, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val stateRows = spark.read.parquet(s"$dir/bands").count()
    val retried = graft.streaming.StreamingIncrementalDedup
      .foldAndScreen(spark, idx, dir, day2, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(retried.toSeq === first.toSeq, "retry changed verdicts")
    assert(spark.read.parquet(s"$dir/bands").count() === stateRows,
      "retry duplicated the batch's folded state")
    // A LATE retry of day 1 — after day 2 was folded — is also
    // verdict-invariant: folded day-2 docs carry larger ids, so the
    // keep-first `y.doc_id < x.doc_id` condition filters them out of
    // day 1's candidate set entirely. The two-day durable screen
    // therefore equals the single-batch run even replayed from state.
    val day1Late = graft.streaming.StreamingIncrementalDedup
      .foldAndScreen(spark, idx, dir, day1, 0L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batch = SparkEntry.queries("q86_incremental_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert((day1Late ++ first).sortBy(_._1).toSeq === batch.toSeq)
    // The semantic twin's fold: same contract over its `vectors` table.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val isNewVec = pmod(col("vec_id"), lit(10)) >= 7
    val semIdx = graft.operators.Approx.buildSemanticIndex(emb.filter(!isNewVec),
      graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble)))
    val incVecs = emb.filter(isNewVec).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    val Seq(vday1, vday2) = days(incVecs, 2).map(_.toDF("vec_id", "embedding"))
    val semDir = java.nio.file.Files.createTempDirectory("graft_semretry").toString
    def semFold(day: org.apache.spark.sql.DataFrame, id: Long) =
      graft.streaming.StreamingIncrementalSemantic
        .foldAndScreen(spark, semIdx, semDir, day, id, 0.35)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    semFold(vday1, 0L)
    val semFirst = semFold(vday2, 1L)
    val vecRows = spark.read.parquet(s"$semDir/vectors").count()
    assert(semFold(vday2, 1L).toSeq === semFirst.toSeq, "semantic retry changed verdicts")
    assert(spark.read.parquet(s"$semDir/vectors").count() === vecRows,
      "semantic retry duplicated the batch's folded vectors")
  }

  test("declared replays: q90 ≡ q86 and q91 ≡ q88 (sf0.001)") {
    // The declared q90/q91 run the ntile-day replay loop; their
    // oracles are q86's/q88's SQL verbatim, which is only honest if
    // the Spark outputs coincide too — pin it directly (the driver
    // then re-proves it against DuckDB at sf0.01).
    def rows(name: String) = SparkEntry.queries(name)(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows("q90_index_advance") === rows("q86_incremental_dedup"))
    assert(rows("q91_semantic_advance") === rows("q88_incremental_semantic"))
    assert(SparkEntry.oracleSql("q90_index_advance") ===
      SparkEntry.oracleSql("q86_incremental_dedup"))
    assert(SparkEntry.oracleSql("q91_semantic_advance") ===
      SparkEntry.oracleSql("q88_incremental_semantic"))
    // q92's single increment sees the whole corpus as its horizon, so
    // the declared stored-index screen must equal batch q76 restricted
    // to the increment rows (its oracle is exactly that restriction).
    val q92 = SparkEntry.queries("q92_incremental_window")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val q76 = SparkEntry.queries("q76_window_stats")(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(10)) >= 7)
      .collect().map(_.toSeq).toSeq
    assert(q92 === q76)
  }

  // ----- arrival-order keep-first mode (round 15, VERDICT r14 #4) -----

  test("arrival-order mode: first arrival shadows a later smaller id; id mode keeps both") {
    // A production crawl is TIME-ordered, not id-ordered. Plant the
    // exact divergence: doc 50 arrives day 1, its near-identical twin
    // doc 10 arrives day 2 with a SMALLER id.
    //  - id mode (keeper = smallest id): day-2's screen looks backward
    //    by id, sees nothing smaller, and keeps 10 — BOTH survive (the
    //    documented id-monotone-only loss on a shuffled feed).
    //  - arrival mode (keeper = first folded): 50 was folded before 10
    //    arrived, so 10 is dup_new.
    // Same-batch docs tiebreak by id in BOTH modes (60 dups 55).
    val index = Seq(
      (1L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val sharedA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val sharedB = "red orange yellow green blue indigo violet black white grey"
    val day1 = Seq((50L, sharedA)).toDF("doc_id", "text")
    val day2 = Seq((10L, sharedA), (55L, sharedB), (60L, sharedB))
      .toDF("doc_id", "text")
    def replay(arrival: Boolean): Map[Long, String] = {
      var idx = graft.operators.Approx.buildMinHashIndex(spark, index)
      Seq(day1, day2).flatMap { d =>
        val v = graft.operators.Approx
          .incrementalDedup(spark, idx, d, arrivalOrder = arrival)
          .collect().map(r => r.getLong(0) -> r.getString(1))
        idx = graft.operators.Approx.advanceIndex(spark, idx, d)
        v
      }.toMap
    }
    assert(replay(arrival = false) === Map(
      50L -> "keep", 10L -> "keep", 55L -> "keep", 60L -> "dup_new"))
    assert(replay(arrival = true) === Map(
      50L -> "keep", 10L -> "dup_new", 55L -> "keep", 60L -> "dup_new"))
  }

  test("arrival replay ≡ id-mode single batch on arrival-renumbered ids (sf0.001)") {
    // Arrival mode's equivalence guarantee: an N-day replay over ANY
    // day partitioning equals the id-mode single-batch screen on the
    // corpus with ids renumbered by (arrival day, within-day id) —
    // i.e. a time-monotone feed gets exactly what an id-monotone feed
    // gets in id mode. Days here are deliberately id-INTERLEAVED
    // (md5-shuffled), the case id mode provably cannot handle.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) >= 7
    val incDocs = docs.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // Deterministic shuffle into "arrival order", 3 days, each day
    // internally sorted by original id (within-batch arrival is
    // undefined; id is the tiebreak in both modes).
    val arrival = incDocs.sortBy(d =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(d._1.toString.getBytes).map(b => f"$b%02x").mkString)
    val days = arrival.grouped(math.max(1, (arrival.length + 2) / 3))
      .map(_.sortBy(_._1).toSeq).toSeq
    assert(days.length === 3 &&
      days.sliding(2).exists { w => w(1).head._1 < w(0).last._1 },
      "day split failed to interleave ids — the pin would be vacuous")
    var idx = graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isNew))
    val viaArrival = days.flatMap { day =>
      val d = day.toDF("doc_id", "text")
      val v = graft.operators.Approx
        .incrementalDedup(spark, idx, d, arrivalOrder = true)
        .collect().map(r => r.getLong(0) -> r.getString(1))
      idx = graft.operators.Approx.advanceIndex(spark, idx, d)
      v
    }.toMap
    // Renumber: sequential ids in (day, within-day id) order, offset
    // past every real id so the index stays disjoint.
    val renum = days.flatten.zipWithIndex
      .map { case ((orig, text), i) => (orig, 10000000L + i, text) }
    val renumDf = renum.map { case (_, r, t) => (r, t) }.toDF("doc_id", "text")
    val backMap = renum.map { case (orig, r, _) => r -> orig }.toMap
    val viaRenum = graft.operators.Approx
      .incrementalDedup(spark,
        graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isNew)),
        renumDf)
      .collect().map(r => backMap(r.getLong(0)) -> r.getString(1)).toMap
    assert(viaArrival === viaRenum,
      "arrival-order replay diverged from the renumbered single-batch screen")
    // And both modes coincide on an id-MONOTONE feed: re-split the
    // increment into id-sorted days and compare against the declared
    // (id-mode, single-batch) q86 verdicts.
    val monoDays = incDocs.sortBy(_._1)
      .grouped(math.max(1, (incDocs.length + 2) / 3)).map(_.toSeq).toSeq
    var idx2 = graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isNew))
    val monoArrival = monoDays.flatMap { day =>
      val d = day.toDF("doc_id", "text")
      val v = graft.operators.Approx
        .incrementalDedup(spark, idx2, d, arrivalOrder = true)
        .collect().map(r => r.getLong(0) -> r.getString(1))
      idx2 = graft.operators.Approx.advanceIndex(spark, idx2, d)
      v
    }.toMap
    val q86 = SparkEntry.queries("q86_incremental_dedup")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(monoArrival === q86,
      "arrival mode on an id-monotone feed must equal id mode")
  }

  test("semantic arrival replay ≡ id-mode single batch on renumbered ids (sf0.001)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val isNew = pmod(col("vec_id"), lit(10)) >= 7
    val cents = graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble))
    val incVecs = emb.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val arrival = incVecs.sortBy(d =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(d._1.toString.getBytes).map(b => f"$b%02x").mkString)
    val days = arrival.grouped(math.max(1, (arrival.length + 2) / 3))
      .map(_.sortBy(_._1).toSeq).toSeq
    var idx = graft.operators.Approx.buildSemanticIndex(emb.filter(!isNew), cents)
    val viaArrival = days.flatMap { day =>
      val d = day.toDF("vec_id", "embedding")
      val v = graft.operators.Approx
        .incrementalSemanticDedup(idx, d, arrivalOrder = true)
        .collect().map(r => r.getLong(0) -> r.getString(1))
      idx = graft.operators.Approx.advanceSemanticIndex(idx, d)
      v
    }.toMap
    val renum = days.flatten.zipWithIndex
      .map { case ((orig, e), i) => (orig, 10000000L + i, e) }
    val backMap = renum.map { case (orig, r, _) => r -> orig }.toMap
    val viaRenum = graft.operators.Approx
      .incrementalSemanticDedup(
        graft.operators.Approx.buildSemanticIndex(emb.filter(!isNew), cents),
        renum.map { case (_, r, e) => (r, e) }.toDF("vec_id", "embedding"))
      .collect().map(r => backMap(r.getLong(0)) -> r.getString(1)).toMap
    assert(viaArrival === viaRenum,
      "semantic arrival-order replay diverged from the renumbered single-batch screen")
  }
}
