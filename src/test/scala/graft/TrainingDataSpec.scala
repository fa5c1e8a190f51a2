package graft

import org.apache.spark.sql.functions._

import graft.operators.TrainingData

/** End-to-end training-set pipeline: stage semantics verified on the
  * real sf0.01 documents table — contaminated docs dropped, duplicates
  * collapsed, budgets respected, packing conserves tokens, and the
  * whole run reproduces bit-for-bit.
  */
class TrainingDataSpec extends SparkSpec {

  private lazy val docs = graft.ops.Tables.documents(spark, sf001)
    .select("doc_id", "text", "lang")
  // Benchmark = the first ten documents' texts: every one of their
  // 8-grams is "an eval question", so those docs (and any doc sharing
  // an 8-gram) must be decontaminated away.
  private lazy val benchmark = docs.filter(col("doc_id") < 10).select("text")
  private val budgets = Map("en" -> 3000L, "de" -> 1500L, "es" -> 1500L,
    "fr" -> 1500L, "zh" -> 1500L)

  private lazy val ts = TrainingData.buildTrainingSet(
    spark, docs, benchmark, budgets, seqLen = 256L)
  private lazy val selected = ts.selected.collect()

  test("pipeline survives to a non-empty packed training set") {
    assert(selected.length > 50)
    assert(ts.packed.count() > 0)
  }

  test("contaminated documents are gone") {
    val picked = selected.map(_.getLong(0)).toSet
    assert((0L until 10L).forall(id => !picked.contains(id)),
      "benchmark-source docs must be dropped by decontamination")
  }

  test("no two selected documents share text") {
    val texts = docs.join(
        ts.selected.select("doc_id"), "doc_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("text")).as("d"))
      .head()
    assert(texts.getLong(0) === texts.getLong(1))
  }

  test("every language stays within its token budget (+ one overshoot doc)") {
    selected.groupBy(_.getString(1)).foreach { case (lang, rows) =>
      val mass = rows.map(_.getLong(2)).sum
      val last = rows.maxBy(_.getLong(4)).getLong(2)
      assert(mass - last < budgets(lang),
        s"$lang kept $mass tokens against budget ${budgets(lang)}")
    }
  }

  test("packing conserves the selected token stream exactly") {
    val selTokens = selected.map(_.getLong(2)).sum
    val packTokens = ts.packed.agg(sum(col("slice_len"))).head().getLong(0)
    assert(packTokens === selTokens)
    // Full sequences tile exactly; the final one holds the remainder.
    val perSeq = ts.packed.groupBy("seq_id").agg(sum(col("slice_len")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(perSeq.init.forall(_._2 == 256L))
    assert(perSeq.last._2 === (if (selTokens % 256 == 0) 256L else selTokens % 256))
  }

  test("the pipeline is reproducible bit-for-bit") {
    val again = TrainingData.buildTrainingSet(
        spark, docs, benchmark, budgets, seqLen = 256L)
      .selected.collect()
    assert(again.map(r => (r.getLong(0), r.getLong(4))).sortBy(_._1).toSeq ===
      selected.map(r => (r.getLong(0), r.getLong(4))).sortBy(_._1).toSeq)
  }

  test("stage 6 packs a document-shuffled stream, not id order") {
    // The packed stream must follow the fresh pack hash: sequences
    // would otherwise inherit corpus adjacency (language/source runs)
    // that stage 7's sequence-level shuffle cannot undo. With ~190
    // selected docs, id-order packing would make nearly every adjacent
    // slice pair consecutive ids; the hash order makes that vanishingly
    // rare (deterministic here: same salt, same corpus, same chain).
    val chains = ts.packed.collect()
      .groupBy(_.getLong(0)).values
      .map(_.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq)
    val pairs = chains.flatMap(c => c.zip(c.tail)).toSeq
    assert(pairs.nonEmpty)
    val consecutive = pairs.count { case (a, b) => b == a + 1 }
    assert(consecutive.toDouble / pairs.size < 0.2,
      s"packed stream still id-ordered: $consecutive/${pairs.size} consecutive")
  }

  test("withReplacement: an over-mass budget fills by repeating data") {
    // zh's surviving corpus is a few thousand whitespace tokens; a
    // 30k budget can only fill by repetition. Without replacement the
    // fill silently caps at one pass; with it the budget is MET
    // (within one straddling doc) and epochs appear.
    val budgets = Map("zh" -> 30000L)
    val wr = TrainingData.buildTrainingSet(
      spark, docs, benchmark, budgets, seqLen = 256L, withReplacement = true)
    val rows = wr.selected.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(1) == "zh"))
    val mass = rows.map(_.getLong(2)).sum
    val maxDoc = rows.map(_.getLong(2)).max
    assert(mass >= 30000L && mass < 30000L + maxDoc,
      s"with-replacement fill missed the budget: $mass")
    val epochs = wr.selected.select("epoch").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(epochs.length > 1, s"no repetition despite over-mass budget: $epochs")
    // Packing conserves the REPEATED stream (every copy packed), and
    // the copies' stream slots are their own: total packed tokens equal
    // the epoch-expanded mass, not the distinct-doc mass.
    val packTokens = wr.packed.agg(sum(col("slice_len"))).head().getLong(0)
    assert(packTokens === mass)
    // Reproducible like the without-replacement path.
    val again = TrainingData.buildTrainingSet(
        spark, docs, benchmark, budgets, seqLen = 256L, withReplacement = true)
      .selected.collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(again === rows.map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq)
  }

  test("semTreeAssign auto rule: flat inside the measured envelope, tree beyond") {
    // The switch point is the EDGE of the measured flat-vs-tree parity
    // envelope (round-14 sem_xover smoke: walls tied through nlist
    // 4800 / ~3M survivors, so exact flat is free there; beyond it the
    // tree bounds the unmeasured asymptote). Pin the rule and the
    // threshold so a drive-by change to either shows up here, next to
    // the derivation in TrainingData.scala.
    assert(!TrainingData.semTreeAuto(8))
    assert(!TrainingData.semTreeAuto(4800))
    assert(TrainingData.semTreeAuto(4801))
    // nlist = survivors/625 ⇒ the auto default flips at 3M survivors.
    assert(!TrainingData.semTreeAuto((3000000L / 625L).toInt))
    assert(TrainingData.semTreeAuto((3001000L / 625L).toInt + 1))
  }

  test("substring stage 3b: scrub composes, budgets hold, run reproduces") {
    // The optional ExactSubstr stage: duplicated >= 8-token runs are
    // cut keep-first across the survivors BEFORE decontam/mixture, and
    // n_tokens re-derives from the scrubbed text. This corpus's own
    // verbatim repeats all live inside near-dup clusters that stage 3
    // collapses first (measured: zero selected docs shrink), so the
    // stage's arithmetic is pinned on two PLANTED docs: both reuse
    // quality-proven selected texts, both get the same 12-nonsense-
    // token tail (tail-internal 8-windows duplicate EXACTLY — but the
    // overall Jaccard stays far below 0.8, so stage 3 cannot collapse
    // them), and their sources leave the corpus so nothing near-dups.
    // Keep-first: the smaller-id plant OWNS the tail; the larger-id
    // plant must lose exactly the 12 covered tail positions. A
    // dedicated lang + budget guarantees both reach `selected`.
    import spark.implicits._
    val tail = (1 to 12).map(i => s"plantedtail$i").mkString(" ")
    def ws(t: String): Long = t.trim.split("\\s+").count(_.nonEmpty).toLong
    val srcIds = selected.map(_.getLong(0)).sorted.take(2)
    val srcText = docs.filter(col("doc_id").isin(srcIds: _*))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val planted = Seq(
      (maxId + 1, s"${srcText(srcIds(0))} $tail", "xx"),
      (maxId + 2, s"${srcText(srcIds(1))} $tail", "xx"))
      .toDF("doc_id", "text", "lang")
    val augmented = docs.filter(!col("doc_id").isin(srcIds: _*))
      .unionByName(planted)
    val budgets2 = budgets + ("xx" -> 100000L)
    def run() = TrainingData.buildTrainingSet(
      spark, augmented, benchmark, budgets2, seqLen = 256L, substrK = Some(8))
    val tsSub = run()
    val sub = tsSub.selected.collect()
    assert(sub.length > 50)
    val subTok = sub.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(subTok.contains(maxId + 1) && subTok.contains(maxId + 2),
      s"planted docs missing from the selected set — quality or dedup ate them")
    assert(subTok(maxId + 1) === ws(srcText(srcIds(0))) + 12,
      "the tail's OWNER must keep every token")
    assert(subTok(maxId + 2) === ws(srcText(srcIds(1))),
      "the shadowed plant must lose exactly its 12 tail tokens")
    // Scrub can only shrink: every selected count <= its input count.
    val inTok = augmented.select(col("doc_id"),
        size(filter(split(trim(col("text")), "\\s+"), w => w =!= ""))
          .cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sub.forall(r => subTok(r.getLong(0)) <= inTok(r.getLong(0))),
      "scrub grew a document's token count")
    sub.groupBy(_.getString(1)).foreach { case (lang, rows) =>
      val mass = rows.map(_.getLong(2)).sum
      val last = rows.maxBy(_.getLong(4)).getLong(2)
      assert(mass - last < budgets2(lang),
        s"$lang kept $mass scrubbed tokens against budget ${budgets2(lang)}")
    }
    val packTokens = tsSub.packed.agg(sum(col("slice_len"))).head().getLong(0)
    assert(packTokens === sub.map(_.getLong(2)).sum,
      "packing no longer conserves the scrubbed token stream")
    val again = run().selected.collect().map(_.toSeq).sortBy(_.toString)
    assert(again === sub.map(_.toSeq).sortBy(_.toString),
      "substring-staged pipeline is not reproducible")
  }

  test("semantic stages: decontam + dedup compose into the pipeline correctly") {
    // Wiring test for the round-13 optional stages 4b/4c — the PIECES
    // (q87's broadcast-cosine decontam, semanticDedup's IVF keepers)
    // are value-verified elsewhere; this pins the COMPOSITION: they
    // run on the lexically-clean survivors, docs WITHOUT a vector pass
    // through unjudged, and the whole build stays deterministic.
    // Budgets are huge so selection == survival and set algebra holds.
    val big = Map("en" -> 10000000L, "de" -> 10000000L, "es" -> 10000000L,
      "fr" -> 10000000L, "zh" -> 10000000L)
    val base = TrainingData.buildTrainingSet(
        spark, docs, benchmark, big, seqLen = 256L)
      .selected.collect().map(_.getLong(0)).toSet
    val emb250 = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .filter(col("doc_id") < 250)
    val benchEmb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(pmod(col("vec_id"), lit(40)) === 0).select("embedding")
    val ts3 = TrainingData.buildTrainingSet(
      spark, docs, benchmark, big, seqLen = 256L,
      embeddings = Some(emb250), benchmarkEmbeddings = Some(benchEmb))
    val picked = ts3.selected.collect().map(_.getLong(0)).toSet
    // Docs without a vector (id >= 250) are untouched by the stages.
    assert(base.filter(_ >= 250L).subsetOf(picked),
      "a doc without an embedding was dropped by the semantic stages")
    assert(picked.filter(_ >= 250L) === base.filter(_ >= 250L))
    // Expected survivors among the vectored lexical survivors: not a
    // q87 decontam hit, and a semanticDedup keeper of what remains —
    // the same operators the stages delegate to, applied to the same
    // survivor base.
    val dot = (a: String, b: String) =>
      graft.expressions.GraftFunctions.floatDot(spark, a, b)
    val survivors = emb250.join(
      spark.createDataset(base.toSeq.filter(_ < 250L))(
        org.apache.spark.sql.Encoders.scalaLong).toDF("doc_id"), Seq("doc_id"))
    val b = broadcast(benchEmb.select(col("embedding").as("be"))
      .withColumn("bnorm", sqrt(dot("be", "be")).cast("float")))
    val sim = (dot("be", "embedding") / (col("bnorm") * col("cnorm"))).cast("float")
    val hits = survivors
      .withColumn("cnorm", sqrt(dot("embedding", "embedding")).cast("float"))
      .crossJoin(b).filter(round(sim, 4) >= lit(0.35f))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val afterDecon = survivors.filter(!col("doc_id").isin(hits.toSeq: _*))
    val keepers = graft.operators.Approx.semanticDedup(
        afterDecon.select(col("doc_id").as("vec_id"), col("embedding")),
        minSim = 0.35)
      .filter(col("is_keeper")).collect().map(_.getLong(0)).toSet
    assert(picked.filter(_ < 250L) === keepers,
      "semantic-stage survivors diverge from decontam+dedup applied to the survivor base")
    assert(hits.nonEmpty && keepers.size < (base.count(_ < 250L)),
      "the semantic stages did no work on this corpus — test is vacuous")
    // Determinism: a second build reproduces the selection exactly.
    val again = TrainingData.buildTrainingSet(
        spark, docs, benchmark, big, seqLen = 256L,
        embeddings = Some(emb250), benchmarkEmbeddings = Some(benchEmb))
      .selected.collect().map(_.getLong(0)).toSet
    assert(again === picked)
  }

  test("semantic stages: semTreeAssign plumbing — composes, unvectored untouched, deterministic") {
    // The tree assign is the measured O(N·√nlist) mitigation of the
    // flat O(N·nlist) cell assignment; its cell approximation is
    // pinned at the operator level (CapabilitySpec's tight-regime
    // recall). Here only the PLUMBING: the flag reaches semanticDedup,
    // docs without a vector stay unjudged, and the build reproduces.
    val big = Map("en" -> 10000000L, "de" -> 10000000L, "es" -> 10000000L,
      "fr" -> 10000000L, "zh" -> 10000000L)
    val emb250 = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .filter(col("doc_id") < 250)
    val benchEmb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(pmod(col("vec_id"), lit(40)) === 0).select("embedding")
    def build() = TrainingData.buildTrainingSet(
        spark, docs, benchmark, big, seqLen = 256L,
        embeddings = Some(emb250), benchmarkEmbeddings = Some(benchEmb),
        semTreeAssign = Some(true))
      .selected.collect().map(_.getLong(0)).toSet
    val base = TrainingData.buildTrainingSet(
        spark, docs, benchmark, big, seqLen = 256L)
      .selected.collect().map(_.getLong(0)).toSet
    val tree = build()
    assert(tree.filter(_ >= 250L) === base.filter(_ >= 250L),
      "a doc without an embedding was judged by the tree-assign stages")
    assert(tree.filter(_ < 250L).subsetOf(base.filter(_ < 250L)) &&
      tree.exists(_ < 250L),
      "tree-assign keepers must be a nonempty subset of the vectored lexical survivors")
    assert(build() === tree, "tree-assign build is not reproducible")
  }

  test("semantic stages: a fully-contaminated vectored batch empties cleanly") {
    // benchmarkEmbeddings = the corpus's own vectors → every vectored
    // doc cosines 1.0 against the benchmark and is decontaminated
    // away. The IVF dedup must not be asked to fit zero rows (the
    // crash the guard exists for — found by the 100× smoke, where a
    // 12.5k-vector benchmark slice at τ = 0.35 contaminated the whole
    // corpus); unvectored docs still pass through.
    val big = Map("en" -> 10000000L, "de" -> 10000000L, "es" -> 10000000L,
      "fr" -> 10000000L, "zh" -> 10000000L)
    val emb250 = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .filter(col("doc_id") < 250)
    val ts4 = TrainingData.buildTrainingSet(
      spark, docs, benchmark, big, seqLen = 256L,
      embeddings = Some(emb250),
      benchmarkEmbeddings = Some(emb250.select("embedding")))
    val picked = ts4.selected.collect().map(_.getLong(0)).toSet
    assert(picked.nonEmpty && picked.forall(_ >= 250L),
      "every vectored doc should be contaminated; unvectored docs should survive")
  }

  test("stage 7: sharding addresses every slice, balanced and complete") {
    val sharded = TrainingData.shardTrainingSet(ts.packed, nShards = 4)
    val rows = sharded.select("seq_id", "shard", "pos", "doc_id", "slice_len")
      .collect()
    // Every packed slice row survives with exactly one (shard, pos)
    // address, and the token mass is untouched.
    assert(rows.length === ts.packed.count())
    assert(rows.map(_.getLong(4)).sum ===
      ts.packed.agg(sum(col("slice_len"))).head().getLong(0))
    // A sequence has ONE address (all its slices agree), shards are
    // balanced to +-1 over sequences, and within a shard the positions
    // are dense.
    val bySeq = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getLong(2))).distinct).toMap
    assert(bySeq.values.forall(_.length == 1), "a sequence split across shards")
    val perShard = bySeq.values.map(_.head).groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(perShard.values.map(_.length).max -
      perShard.values.map(_.length).min <= 1, "shards unbalanced")
    perShard.foreach { case (sh, ps) =>
      assert(ps === (0L until ps.length.toLong), s"shard $sh positions not dense")
    }
    // Different epoch salt -> different permutation of the same set.
    val epoch1 = TrainingData.shardTrainingSet(ts.packed, 4, salt = 1L)
      .select("seq_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(epoch1.map(_._1) === bySeq.keySet)
    assert(epoch1 !== rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "epoch salt did not change the shard order")
  }

  // ===== the incremental pipeline (round 15, VERDICT r14 #1) =====

  private def admittedTriples(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "lang", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq

  test("incremental pipeline: 3-day replay == one-call run, every stage on, with a state round trip") {
    // The product guarantee: a daily ingest that screens, admits, and
    // advances all the indexes reproduces — under id-monotone day
    // boundaries and non-binding budgets — exactly what one call over
    // the whole increment produces, with a parquet save/load of the
    // ENTIRE pipeline state (all three indexes + fingerprints +
    // ledger) and an empty day planted mid-replay.
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select("doc_id", "text", "lang")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val benchmark = docs.filter(col("doc_id") < 3).select("text")
    val benchEmb = emb.filter(col("doc_id") < 3).select("embedding")
    val cents = graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble))
    val big = Map("en" -> 100000000L, "de" -> 100000000L, "es" -> 100000000L,
      "fr" -> 100000000L, "zh" -> 100000000L)
    def init() = TrainingData.initPipelineState(spark,
      substrK = Some(8), semCentroids = Some(cents))
    def day(st: TrainingData.PipelineState,
            d: org.apache.spark.sql.DataFrame): TrainingData.DayAdmission =
      TrainingData.advanceTrainingSet(spark, st, d, benchmark, big,
        dayEmbeddings = Some(emb), benchmarkEmbeddings = Some(benchEmb),
        substrK = Some(8))
    // One call over everything.
    val single = day(init(), docs)
    val singleAdm = admittedTriples(single.admitted)
    assert(singleAdm.nonEmpty)
    // 3 id-monotone days (+ one EMPTY day in the middle), state saved
    // and reloaded through parquet between days 2 and 3.
    import spark.implicits._
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val emptyDay = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    var st = init()
    val adm = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val d1 = day(st, docs.filter(col("doc_id") <= cuts(0))); st = d1.state
    adm ++= admittedTriples(d1.admitted)
    val dEmpty = day(st, emptyDay); st = dEmpty.state
    assert(dEmpty.admitted.count() === 0L, "an empty day admitted rows")
    val d2 = day(st,
      docs.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)))
    st = d2.state; adm ++= admittedTriples(d2.admitted)
    val stDir = java.nio.file.Files.createTempDirectory("graft_pstate").toString
    TrainingData.savePipelineState(spark, st, stDir)
    st = TrainingData.loadPipelineState(spark, stDir)
    val d3 = day(st, docs.filter(col("doc_id") > cuts(1)))
    adm ++= admittedTriples(d3.admitted)
    assert(adm.sortBy(_._1).toSeq === singleAdm,
      "day-replay admission diverged from the one-call run")
    // The reloaded state resumed with every stage (window + semantic
    // present) and a consistent ledger.
    assert(d3.state.window.isDefined && d3.state.semantic.isDefined)
    assert(d3.state.ledger.values.sum > 0L)
  }

  test("incremental pipeline: per-day durable state — restart mid-replay ≡ uninterrupted, retried day idempotent") {
    // The O(day) durability seam (VERDICT r15 #2): a loop that appends
    // each day's fold frames as batch_id= partitions and reloads state
    // from disk EVERY day (the worst-case restart cadence — each day is
    // a fresh driver) must admit exactly what the in-memory driver loop
    // admits, including across a re-appended (retried) day, with every
    // stage on.
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select("doc_id", "text", "lang")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val benchmark = docs.filter(col("doc_id") < 3).select("text")
    val benchEmb = emb.filter(col("doc_id") < 3).select("embedding")
    val cents = graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble))
    val big = Map("en" -> 100000000L, "de" -> 100000000L, "es" -> 100000000L,
      "fr" -> 100000000L, "zh" -> 100000000L)
    def day(st: TrainingData.PipelineState,
            d: org.apache.spark.sql.DataFrame): TrainingData.DayAdmission =
      TrainingData.advanceTrainingSet(spark, st, d, benchmark, big,
        dayEmbeddings = Some(emb), benchmarkEmbeddings = Some(benchEmb),
        substrK = Some(8))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val days = Seq(
      docs.filter(col("doc_id") <= cuts(0)),
      docs.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
      docs.filter(col("doc_id") > cuts(1)))
    // Reference: the in-memory driver loop.
    var st = TrainingData.initPipelineState(spark,
      substrK = Some(8), semCentroids = Some(cents))
    val ref = days.flatMap { d =>
      val out = day(st, d); st = out.state; admittedTriples(out.admitted)
    }
    assert(ref.nonEmpty)
    // Durable loop: load-from-disk before EVERY day, append after.
    val dir = java.nio.file.Files.createTempDirectory("graft_dstate").toString
    TrainingData.initDurablePipelineState(spark, dir,
      substrK = Some(8), semCentroids = Some(cents))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    days.zipWithIndex.foreach { case (d, i) =>
      val out = day(TrainingData.loadDurablePipelineState(spark, dir), d)
      TrainingData.appendPipelineDay(spark, dir, i.toLong, out.folds)
      if (i == 1) // retried day: the SAME batch id re-appends in place
        TrainingData.appendPipelineDay(spark, dir, i.toLong, out.folds)
      got ++= admittedTriples(out.admitted)
    }
    assert(got.sortBy(_._1).toSeq === ref.sortBy(_._1).toSeq,
      "durable per-day replay diverged from the in-memory loop")
    // The final reloaded state resumed every stage and the summed
    // ledger deltas equal the in-memory cumulative ledger.
    val fin = TrainingData.loadDurablePipelineState(spark, dir)
    assert(fin.window.isDefined && fin.semantic.isDefined)
    assert(fin.ledger === st.ledger,
      "summed ledger deltas diverged from the in-memory ledger")
    // And the durable state keeps screening: an exact re-feed of day 3
    // admits nothing new (every fp is folded).
    val refeed = day(fin, days(2))
    assert(refeed.admitted.count() === 0L,
      "a re-fed day passed the durable fingerprint screen")
  }

  test("incremental pipeline: re-init of a populated durable store fails fast") {
    // Re-initializing a live store would not clear its folded
    // partitions: the next ingest would screen against the old corpus
    // and its empty-fold appends would replace the old partitions one
    // by one — so init on a dir that already holds any state table
    // must throw, naming what it found.
    val dir = java.nio.file.Files.createTempDirectory("graft_reinit").toString
    TrainingData.initDurablePipelineState(spark, dir, substrK = Some(8))
    val e = intercept[IllegalArgumentException] {
      TrainingData.initDurablePipelineState(spark, dir, substrK = Some(8))
    }
    assert(e.getMessage.contains("already initialized"))
  }

  test("incremental pipeline: durable-store guards — uninit append, marker-only re-init, populated compaction target all fail fast") {
    import spark.implicits._
    // (a) appendPipelineDay against a never-initialized dir: the
    // re-init guard's mirror image — a typo'd stateDir in a restart
    // script must fail fast, not silently grow a parallel empty store.
    val fresh = java.nio.file.Files.createTempDirectory("graft_uninit").toString
    val folds = {
      val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val (sets, bands) = graft.operators.Approx.md5SetsAndBands(spark, emptyDocs)
      TrainingData.DayFolds(
        Seq.empty[Long].toDF("clean_fp"), sets,
        bands.withColumn(
          "inc", org.apache.spark.sql.functions.lit(true)),
        None, None, Map.empty)
    }
    val eA = intercept[IllegalArgumentException] {
      TrainingData.appendPipelineDay(spark, s"$fresh/typo", 0L, folds)
    }
    assert(eA.getMessage.contains("never initialized"))
    // (b) a LEX-ONLY pipeline's init writes no day-zero table; the
    // marker alone must still trip the re-init guard and license the
    // first append.
    val lexDir = java.nio.file.Files.createTempDirectory("graft_lexinit").toString
    TrainingData.initDurablePipelineState(spark, lexDir)
    val eB = intercept[IllegalArgumentException] {
      TrainingData.initDurablePipelineState(spark, lexDir)
    }
    assert(eB.getMessage.contains("already initialized"))
    TrainingData.appendPipelineDay(spark, lexDir, 0L, folds) // no throw
    // (c) compactPipelineState into a populated outDir: a second
    // cumulative generation would double-count the ledger and inflate
    // MinHash intersections — must fail fast naming the collision.
    val eC = intercept[IllegalArgumentException] {
      TrainingData.compactPipelineState(spark, lexDir, lexDir, asOfBatch = 0L)
    }
    assert(eC.getMessage.contains("fresh"))
    // (d) the window-store compactor enforces the same fresh-generation
    // contract.
    val eD = intercept[IllegalArgumentException] {
      graft.operators.SubstringDedup.compactWindowIndexStore(
        spark, s"$lexDir/sets", s"$lexDir/sets")
    }
    assert(eD.getMessage.contains("fresh"))
  }

  test("incremental pipeline: per-day ingest health report — q94/q89 laws from the product path") {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select("doc_id", "text", "lang")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble))
    val state = TrainingData.PipelineState(
      fingerprints = Seq.empty[String].toDF("clean_fp"),
      minhash = graft.operators.Approx.buildMinHashIndex(spark,
        docs.select("doc_id", "text")),
      window = None,
      semantic = Some(graft.operators.Approx.buildSemanticIndex(emb, cents)),
      ledger = Map.empty)
    val rep = TrainingData.ingestHealth(state, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getDouble(4)))
    // Band rows ARE the top-5 of the q94 monitor, share = mass/total.
    val occ = graft.operators.Approx.bandOccupancy(state.minhash)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val totalMass = occ.map(_._4).sum
    val top5 = occ.sortBy(t => (-t._4, t._1, t._2)).take(5)
      .map(t => ("band", s"${t._1}:${t._2}", t._3, t._4,
        math.floor(t._4.toDouble / totalMass * 1e6 + 0.5) / 1e6))
    assert(rep.filter(_._1 == "band").toSeq === top5.toSeq)
    // Cell rows: q89's balance law without the lang join — counts per
    // quantizer cell, shares summing to 1 (4 cells, all populated).
    val cellRows = rep.filter(_._1 == "cell")
    assert(cellRows.length === cents.length)
    assert(cellRows.map(_._3).sum === emb.count())
    assert(math.abs(cellRows.map(_._5).sum - 1.0) < 1e-3)
    // Product-path wiring: a reported day carries the frame (lazy),
    // an unreported one does not.
    val big = Map("en" -> 100000000L)
    val day = TrainingData.advanceTrainingSet(spark,
      TrainingData.initPipelineState(spark), docs,
      benchmark = Seq.empty[String].toDF("text"), budgets = big,
      minQuality = 0.0, maxRepetition = 1.0, minTokens = 0,
      report = true)
    assert(day.health.isDefined)
    assert(day.health.get.filter(col("family") === "band").count() > 0L)
    assert(TrainingData.advanceTrainingSet(spark,
      TrainingData.initPipelineState(spark), docs.limit(5),
      benchmark = Seq.empty[String].toDF("text"), budgets = big,
      minQuality = 0.0, maxRepetition = 1.0, minTokens = 0).health.isEmpty)
    // Streaming twin: a reported microbatch lands the frame in the
    // store's health log at its own batch_id partition.
    val dir = java.nio.file.Files.createTempDirectory("graft_health").toString
    TrainingData.initDurablePipelineState(spark, dir)
    graft.streaming.StreamingTrainingPipeline.processBatch(spark, dir,
      docs, 0L, Seq.empty[String].toDF("text"), big,
      minQuality = 0.0, maxRepetition = 1.0, minTokens = 0, report = true)
    val log = spark.read.parquet(s"$dir/health")
    assert(log.filter(col("batch_id") === 0L)
      .filter(col("family") === "band").count() > 0L,
      "reported batch wrote no health rows")
  }

  test("incremental pipeline: compacted durable store ≡ original — one generation per table, same screens, same ledger") {
    // compactPipelineState (round 16): rolling N day partitions into a
    // single batch_id = asOfBatch generation must be invisible to every
    // consumer — the next day screens and admits identically off either
    // store, the summed ledger is unchanged, the retry fence of the
    // first POST-compaction batch still excludes that batch's own
    // append, and the store keeps advancing (appends land beside the
    // compacted generation).
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select("doc_id", "text", "lang")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val benchmark = docs.filter(col("doc_id") < 3).select("text")
    val benchEmb = emb.filter(col("doc_id") < 3).select("embedding")
    val cents = graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble))
    val big = Map("en" -> 100000000L, "de" -> 100000000L, "es" -> 100000000L,
      "fr" -> 100000000L, "zh" -> 100000000L)
    def day(st: TrainingData.PipelineState,
            d: org.apache.spark.sql.DataFrame): TrainingData.DayAdmission =
      TrainingData.advanceTrainingSet(spark, st, d, benchmark, big,
        dayEmbeddings = Some(emb), benchmarkEmbeddings = Some(benchEmb),
        substrK = Some(8))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val days = Seq(
      docs.filter(col("doc_id") <= cuts(0)),
      docs.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
      docs.filter(col("doc_id") > cuts(1)))
    val dir = java.nio.file.Files.createTempDirectory("graft_cstate").toString
    TrainingData.initDurablePipelineState(spark, dir,
      substrK = Some(8), semCentroids = Some(cents))
    days.take(2).zipWithIndex.foreach { case (d, i) =>
      TrainingData.appendPipelineDay(spark, dir, i.toLong,
        day(TrainingData.loadDurablePipelineState(spark, dir), d).folds)
    }
    val comp = java.nio.file.Files.createTempDirectory("graft_cstate2").toString
    TrainingData.compactPipelineState(spark, dir, comp, asOfBatch = 1L)
    // One generation per table: exactly the batch_id=1 partition (the
    // window marker's batch 0 and both day appends are consolidated).
    Seq("fingerprints", "sets", "bands", "vectors", "window", "ledger")
      .foreach { t =>
        val d = new java.io.File(s"$comp/$t")
        assert(d.exists, s"compacted store is missing table $t")
        val parts = d.listFiles().filter(f =>
          f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName)
        assert(parts.toSeq.sorted === (
            // zero-row tables (an all-admitted run has no shadowed fps
            // etc.) commit the directory but write no partition dir —
            // still a valid, loadable generation
            if (parts.isEmpty) Seq.empty[String] else Seq("batch_id=1")),
          s"compacted $t holds partitions ${parts.toSeq} — expected the " +
            "single asOfBatch generation")
      }
    val stO = TrainingData.loadDurablePipelineState(spark, dir)
    val stC = TrainingData.loadDurablePipelineState(spark, comp)
    assert(stC.ledger === stO.ledger,
      "compaction changed the summed ledger")
    assert(stC.window.isDefined && stC.semantic.isDefined,
      "compaction dropped an optional stage's artifacts")
    val outO = day(stO, days(2))
    val outC = day(stC, days(2))
    assert(admittedTriples(outC.admitted).sortBy(_._1).toSeq ===
        admittedTriples(outO.admitted).sortBy(_._1).toSeq,
      "day 3 admitted differently off the compacted store")
    // The compacted store keeps advancing, and the first post-compaction
    // batch's retry fence (batch_id < 2) sees exactly the asOfBatch
    // generation — a retried day 3 re-admits its original docs.
    TrainingData.appendPipelineDay(spark, comp, 2L, outC.folds)
    val retry = day(TrainingData.loadDurablePipelineState(spark, comp,
      beforeBatch = Some(2L)), days(2))
    assert(admittedTriples(retry.admitted).sortBy(_._1).toSeq ===
        admittedTriples(outC.admitted).sortBy(_._1).toSeq,
      "the post-compaction retry fence leaked the batch's own fold")
    // And unfenced, the appended day screens out on re-feed.
    val refeed = day(TrainingData.loadDurablePipelineState(spark, comp), days(2))
    assert(refeed.admitted.count() === 0L,
      "a re-fed day passed the compacted+advanced fingerprint screen")
  }

  test("incremental pipeline: ledger admission == one prefix cut over (day, rk) order") {
    // Tight budgets that BIND mid-replay: the union of day admissions
    // must equal the quota prefix over the (arrival day, salted rk)
    // order — computed independently here with the same md5 — with ONE
    // global overshoot doc per lang (not one per day), and nothing
    // admitted after a lang's budget exhausts.
    import spark.implicits._
    val words = (0 until 400).map(i => s"w$i")
    // 12 distinct-text docs, ~25 tokens each, one lang.
    val all = (0 until 12).map { i =>
      (100L + i, words.slice(i * 30, i * 30 + 25).mkString(" "), "en")
    }
    val days = all.grouped(4).map(_.toDF("doc_id", "text", "lang")).toSeq
    val noBench = Seq.empty[String].toDF("text")
    val budgets = Map("en" -> 60L) // binds during day 1 (25-token docs)
    var st = TrainingData.initPipelineState(spark)
    val adm = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    days.foreach { d =>
      val out = TrainingData.advanceTrainingSet(spark, st, d, noBench, budgets,
        minQuality = 0.0, maxRepetition = 1.0, minTokens = 1)
      st = out.state
      adm ++= out.admitted.select("doc_id", "n_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    // Independent reference: same md5 rk, (day, rk) order, prefix cut.
    def rk(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s"0:$id".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val ordered = all.zipWithIndex
      .map { case ((id, text, _), i) =>
        (i / 4, rk(id), id, text.split("\\s+").count(_.nonEmpty).toLong) }
      .sortBy(t => (t._1, t._2))
    var cum = 0L
    val expected = ordered.flatMap { case (_, _, id, n) =>
      val admit = cum < 60L; cum += n
      if (admit) Some(id -> n) else None
    }
    assert(adm.sortBy(_._1).toSeq === expected.sortBy(_._1),
      "ledger admission diverged from the single prefix cut")
    // One global overshoot: admitted mass minus the straddling doc is
    // under budget; and the ledger carries ALL candidate tokens (the
    // prefix denominator), not just admitted ones.
    val mass = adm.map(_._2).sum
    assert(mass - adm.map(_._2).max < 60L && mass >= 60L,
      s"admitted $mass tokens against a 60-token budget")
    assert(st.ledger("en") === all.map(_._2.split("\\s+").count(_.nonEmpty).toLong).sum)
    // A later day against the exhausted budget admits nothing.
    val extra = Seq((900L, words.slice(380, 399).mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val out = TrainingData.advanceTrainingSet(spark, st, extra, noBench, budgets,
      minQuality = 0.0, maxRepetition = 1.0, minTokens = 1)
    assert(out.admitted.count() === 0L, "an exhausted budget admitted rows")
  }

  test("incremental vs batch: keep-first vs connected-component keepers, pinned on a planted bridge") {
    // The ONE semantic divergence between the pipelines' dedup stages:
    // batch picks one keeper per connected component; the incremental
    // screen drops a doc iff it near-dups an EARLIER one. Both drop C
    // here (it pairs both A and B); they differ exactly on B — a
    // later-id C bridges A and B (A !~ B), so batch's component
    // {A,B,C} keeps only A while keep-first keeps B too (B pairs
    // nothing earlier). 30-token docs, 2 swapped per hop: J(A,C) =
    // J(B,C) = 28/32 = 0.875 (banded reliably), J(A,B) = 26/34 = 0.76
    // < 0.8.
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i")
    val cText = base.mkString(" ")
    val aText = (base.dropRight(2) ++ Seq("ax", "ay")).mkString(" ")
    val bText = (Seq("bx", "by") ++ base.drop(2)).mkString(" ")
    val filler = (0 until 6).map(i =>
      (10L + i, (1 to 25).map(j => s"f${i}_$j").mkString(" "), "en"))
    val corpus = (Seq((1L, aText, "en"), (2L, bText, "en"), (3L, cText, "en"))
      ++ filler).toDF("doc_id", "text", "lang")
    val noBench = Seq.empty[String].toDF("text")
    val big = Map("en" -> 100000000L)
    val inc = TrainingData.advanceTrainingSet(spark,
      TrainingData.initPipelineState(spark), corpus, noBench, big,
      minQuality = 0.0, maxRepetition = 1.0, minTokens = 1)
    val incIds = inc.admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = TrainingData.buildTrainingSet(spark, corpus, noBench, big,
      minQuality = 0.0, maxRepetition = 1.0, minTokens = 1)
    val batchIds = batch.selected.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!incIds.contains(3L) && !batchIds.contains(3L),
      "the bridge doc pairs earlier docs in both conventions — it must drop")
    assert(incIds.contains(1L) && batchIds.contains(1L))
    assert(incIds.contains(2L), "keep-first: B pairs nothing earlier")
    assert(!batchIds.contains(2L), "CC keeper: B is in A's component via C")
    assert(incIds - 2L === batchIds,
      "the divergence must be exactly the bridged doc")
  }

  test("incremental pipeline: arrivalOrder threads to both near-dup screens") {
    // The planted shuffled-feed shape at the COMPOSED level: doc 50's
    // text arrives day 1, its smaller-id twin 10 arrives day 2; a
    // vector pair with the same shape (60 day 1, 20 day 2). id mode
    // keeps both members of both pairs (the documented loss); arrival
    // mode drops the later arrivals through BOTH screens.
    import spark.implicits._
    val words = (0 until 200).map(i => s"a$i")
    val tX = words.take(30).mkString(" ")
    val tOther = words.slice(60, 90).mkString(" ")
    val tThird = words.slice(120, 150).mkString(" ")
    val e1 = (1 to 64).map(i => if (i == 1) 1f else 0f)
    val e2 = (1 to 64).map(i => if (i == 2) 1f else 0f)
    val day1 = Seq((50L, tX, "en"), (60L, tOther, "en")).toDF("doc_id", "text", "lang")
    val day2 = Seq((10L, tX, "en"), (20L, tOther, "en"), (30L, tThird, "en"))
      .toDF("doc_id", "text", "lang")
    // Embeddings: make 60 and 20 LEXICALLY distinct but semantically
    // identical (e2); everyone else orthogonal or absent.
    val emb = Seq((50L, e1), (60L, e2), (20L, e2), (30L, e1.map(-_)))
      .toDF("doc_id", "embedding")
    // tOther/tX differ entirely, so the lexical screen judges the
    // (50,10) pair; the (60,20) pair is lexically distinct and only
    // the SEMANTIC screen can catch it.
    // 10 is a NEAR-dup of 50 (28/30 shared tokens, J = 0.875), not an
    // exact one — the fingerprint screen is arrival-first in BOTH
    // modes (a folded fp shadows every later arrival), so an exact
    // twin would never reach the MinHash screen this test targets.
    val tXNear = (words.take(28) ++ Seq("zz1", "zz2")).mkString(" ")
    val day2LexTwin = Seq((10L, tXNear, "en"),
      (20L, words.slice(90, 120).mkString(" "), "en"),
      (30L, tThird, "en")).toDF("doc_id", "text", "lang")
    val noBench = Seq.empty[String].toDF("text")
    val big = Map("en" -> 100000000L)
    val cents = Seq((1 to 64).map(i => if (i == 1) 1.0 else 0.0),
      (1 to 64).map(i => if (i == 2) 1.0 else 0.0))
    def replay(arrival: Boolean): Set[Long] = {
      var st = TrainingData.initPipelineState(spark, semCentroids = Some(cents))
      val admitted = Seq(day1, day2LexTwin).flatMap { d =>
        val out = TrainingData.advanceTrainingSet(spark, st, d, noBench, big,
          minQuality = 0.0, maxRepetition = 1.0, minTokens = 1,
          dayEmbeddings = Some(emb), minCosine = 0.9,
          arrivalOrder = arrival)
        st = out.state
        out.admitted.select("doc_id").collect().map(_.getLong(0))
      }
      admitted.toSet
    }
    val idMode = replay(arrival = false)
    val arrMode = replay(arrival = true)
    // id mode: 10 keeps (smaller id, looks backward by id and sees
    // nothing), 20 keeps (its semantic twin 60 has a larger id).
    assert(idMode === Set(50L, 60L, 10L, 20L, 30L))
    // arrival mode: both later arrivals drop — 10 through the MinHash
    // screen, 20 through the semantic screen.
    assert(arrMode === Set(50L, 60L, 30L),
      s"arrival mode kept $arrMode — a screen missed the fold-order shadow")
  }

  test("substring stage 3b: stage-scoped sizing restores the session confs") {
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      "spark.sql.join.preferSortMergeJoin")
    val before = keys.map(k => spark.conf.getOption(k))
    TrainingData.buildTrainingSet(
      spark, docs, benchmark, budgets, seqLen = 256L, substrK = Some(8))
    assert(keys.map(k => spark.conf.getOption(k)) === before,
      "stage-scoped confs leaked into the session")
  }
}
