package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Approx, Materialized, SubstringDedup, TrainingData}

/** Scale smoke: runs every product path once at default settings against
  * a locally synthesized dataset `SPARK_GRAFT_SMOKE_COPIES`× the sf0.1
  * tables (default 10×) and records wall-clock plus shuffle-write and
  * spill bytes, so the 100 TB design claims have measured scale-up
  * points. The synthesized data lives under the JVM temp dir and is
  * never committed (`sbt "runMain graft.ScaleSmoke"`;
  * `SPARK_GRAFT_SMOKE_ONLY` is a regex over the arm names).
  *
  * Dataset shape at 10×:
  *  - facts (lineitem 6M, orders 1.5M, events 1M) = 10 key-shifted
  *    copies of the sf0.1 tables — fact tables grow with scale;
  *  - dims (customer/nation/region/part/supplier) copied as-is — dims
  *    grow much slower than facts, which is exactly what keeps the
  *    broadcast side of q38 broadcast-able at scale;
  *  - documents = 50k docs synthesized fresh from a 5k-word vocabulary
  *    with planted near-dup families (1/7 of doc-triples share 38 of 40
  *    tokens → Jaccard ≈ 0.90 within a family, ≈ 0.004 across), so the
  *    q59/q60 near-dup workload grows LINEARLY with the corpus the way
  *    a real crawl's does — naive 10× replication would instead square
  *    the pair count and measure a workload no real corpus produces.
  *
  * Arms, in run order: the relational and near-dup queries; the stored
  * index batches (q86/q88) and their 5-day advance loops; the window
  * index days and compaction; the near-dup family (q43 mass, routed
  * near-dup, q58, semantic dedup); packing, sharding and the epoch
  * mixture; q73–q77; the batch training pipelines (lexical, substring,
  * semantic, BPE); the durable composed pipeline (driver loop, stream,
  * chunked backfill); the event-time queries; and q60's distributed
  * tail, whose label loop must converge within 5 rounds.
  *
  * Arms that re-ran a path under changed confs or flags, or split it
  * into parts, answered questions now recorded in COVERAGE.md and
  * BASELINE.md (AQE/scan sizing for q38/q76/q77, flat-vs-tree assign,
  * sampled fit, the q81 hot-source cap, arrival-order cost, the
  * full-rewrite state snapshot); their code is at
  * `git show 028633d:src/main/scala/graft/ScaleSmoke.scala`.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Facts and the document corpus both scale linearly with `copies`.
    val copies = sys.env.get("SPARK_GRAFT_SMOKE_COPIES")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption.filter(_ > 0))
      .getOrElse(10)
    val out = new java.io.File(sys.props("java.io.tmpdir"), s"graft-scale$copies").getPath
    // Unlike the microbench session, the smoke keeps AQE on — this IS
    // the production-shaped run the bench session's comments defer to.
    // Graft.session's µs output timestamps keep the synthesized events
    // µs-encoded (Spark's default INT96 would flip the adaptive events
    // reader onto a third encoding).
    val spark = Graft.session(threads = Bench.cpus, shufflePartitions = 32)
    spark.sparkContext.setLogLevel("WARN")

    // ---- synthesize the scaled directory ----
    // SPARK_GRAFT_SMOKE_DOCS_ONLY=1 skips the fact/dim synthesis: the
    // corpus arms (documents + embeddings) scale to copies=1000 (5M
    // docs) comfortably, while 1000× fact tables would be hundreds of
    // millions of rows of parquet written just to be ignored by a
    // docs-gated SMOKE_ONLY run.
    val docsOnly = sys.env.get("SPARK_GRAFT_SMOKE_DOCS_ONLY").contains("1")
    def shiftUnion(df: DataFrame, keyCols: Seq[String], span: Long): DataFrame =
      (0 until copies).map { k =>
        keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * span)))
      }.reduce(_ unionByName _)
    if (!docsOnly) {
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val ord = spark.read.parquet(s"$src/orders.parquet")
      val ev = spark.read.parquet(s"$src/events.parquet")
      val keySpan = 10L * 1000 * 1000
      shiftUnion(li, Seq("l_orderkey"), keySpan)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      shiftUnion(ord, Seq("o_orderkey"), keySpan)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      // Shift user_id too: each copy is a distinct user population, so the
      // stateful event-time operators (sessionization, per-user joins) see
      // 10× the state cardinality — the dimension that actually grows at
      // 100 TB — rather than 10 ts-identical echoes per user.
      shiftUnion(ev, Seq("event_id", "user_id"), keySpan)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      Seq("customer", "nation", "region", "part", "supplier").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }
    val nDocs = 5000L * copies
    spark.range(nDocs).select(
        col("id").as("doc_id"),
        expr("""concat_ws(' ', transform(sequence(1, 40), i ->
               |  CASE WHEN pmod(floor(id / 3), 7) = 0 AND i <= 38
               |       THEN concat('w', pmod(xxhash64(floor(id / 3), i), 5000))
               |       WHEN pmod(floor(id / 3), 7) = 0
               |       THEN concat('u', id, 'x', i)
               |       ELSE concat('w', pmod(xxhash64(id, i), 5000)) END))"""
          .stripMargin).as("text"))
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // Embeddings at the same scale, with the same planted-family law the
    // documents use: 1/7 of consecutive id-triples share a base vector
    // with ±2% noise (pairwise cosine ≈ 0.999), everything else is
    // hash-derived uniform noise (64-dim random cosines concentrate
    // near 0) — so the TRUE semantic-dup count grows linearly with the
    // corpus and growth at different `copies` is attributable.
    // Shared quirk with the documents generator (kept deliberately, for
    // parity): the "random" vector with id = f draws from the same
    // xxhash64(f, i) stream as family f's base, so most families carry
    // one extra near-dup SATELLITE (id = f) — clusters are size 4, not
    // 3, except where id = f is itself planted. Still linear in
    // `copies`; the measured non-keeper count ≈ nDocs/7 · 8/9.
    spark.range(nDocs).select(
        col("id").as("vec_id"),
        expr("""transform(sequence(1, 64), i ->
               |  CAST(CASE WHEN pmod(floor(id / 3), 7) = 0
               |    THEN (pmod(xxhash64(floor(id / 3), i), 2001) - 1000) / 1000.0
               |         + (pmod(xxhash64(id, i), 2001) - 1000) / 50000.0
               |    ELSE (pmod(xxhash64(id, i), 2001) - 1000) / 1000.0
               |  END AS FLOAT))""".stripMargin).as("embedding"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    if (docsOnly)
      println(s"SMOKE data at $out: docs-only gen, documents=$nDocs, embeddings=$nDocs")
    else
      println(s"SMOKE data at $out: lineitem=${spark.read.parquet(s"$out/lineitem.parquet").count()}, " +
        s"events=${spark.read.parquet(s"$out/events.parquet").count()}, documents=$nDocs, " +
        s"embeddings=$nDocs")

    // ---- harness ----
    // Every figure a SMOKE line prints comes from one Bench.measure
    // window per timed step; `io` sums the shuffle write and spill of
    // the windows a line covers.
    def measure[T](body: => T): (T, Bench.Work) = Bench.measure(spark)(() => body)
    def io(ws: Bench.Work*): String =
      f"shuffleWriteMB=${ws.map(_.shuffleWriteBytes).sum / 1e6}%.1f " +
        f"spillMB=${ws.map(_.spillBytes).sum / 1e6}%.1f"
    def report(name: String, rows: Long, sec: Double, ws: Seq[Bench.Work],
               extra: String = ""): Unit =
      println(f"SMOKE $name%-22s rows=$rows%-9d sec=$sec%.2f $extra${io(ws: _*)}")
    // SPARK_GRAFT_SMOKE_ONLY (regex) narrows the run to matching arms —
    // a focused probe re-uses the generator without paying the full arm
    // list (data gen still runs). Multi-line arms are gated by the names
    // of the rows they print.
    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY").map(_.r)
    def enabled(name: String): Boolean = only.forall(_.findFirstIn(name).isDefined)
    // Every timed query runs its WHOLE plan through the noop sink, and
    // the row count rides along as an observed metric. A count() may
    // prune sorts, joins and columns: q38's count plan is six broadcast
    // joins with its sort elided (295 shuffle bytes at 10× against
    // 514 MB, 4 s against 31 s, for the declared query); q86's count
    // eliminates its verdict join, which is provably unique on the key
    // (the first cut timed a 0.36 s parquet count at 300×); and q73's
    // count collapsed to a footer scan (its wall was flat 10×→100×).
    def rowsOf(df: DataFrame): Long = {
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      obs.get("rows").asInstanceOf[Long]
    }
    // 1 warm + 1 timed evaluation (smoke, not a microbench).
    def run(name: String)(df: => DataFrame): Unit =
      if (!enabled(name)) println(s"SMOKE $name SKIPPED (SPARK_GRAFT_SMOKE_ONLY)")
      else {
        rowsOf(df)
        val (rows, w) = measure(rowsOf(df))
        report(name, rows, w.sec, Seq(w))
      }
    // `run` for a body that pins frames (head = the counted one): each
    // evaluation frees the previous one's frames, the last are freed
    // after `last` has read them, so no arm leaves O(nDocs) blocks
    // resident while later arms are timed.
    def runPinned(name: String, last: Seq[DataFrame] => Unit = _ => ())(
        body: => Seq[DataFrame]): Unit = {
      var held = Seq.empty[DataFrame]
      run(name) { held.foreach(Materialized.free); held = body; held.head }
      if (held.nonEmpty) { last(held); held.foreach(Materialized.free) }
    }
    // A fresh generation directory: state stores and compactors fail
    // fast on a populated target (re-run safety), so wipe a prior run's.
    def fresh(path: String): String = {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      path
    }

    // ---- shared inputs: the 99% index corpus, the 1% increment split
    // into 5 id-monotone days, and the stored indexes over the 99%,
    // built and written once outside every timer (the amortized part) ----
    val corpus = spark.read.parquet(s"$out/documents.parquet")
    val docsAll = corpus.select("doc_id", "text", "lang")
    val docs = docsAll.select("doc_id", "text")
    val vecs = spark.read.parquet(s"$out/embeddings.parquet")
      .select("vec_id", "embedding")
    def isInc(id: String) = pmod(col(id), lit(100)) === 0
    def dayOf(id: String) = least(lit(4), floor(col(id) / lit(nDocs / 5))).cast("int")
    def incDay(k: Int, from: DataFrame = docs) =
      Materialized.pin(from.filter(isInc("doc_id") && dayOf("doc_id") === k))
    // FIXED-size benchmark (500 docs at every scale): an eval set does
    // not grow with the training corpus, and letting it grow made the
    // decontam stage O(corpus × bench) — quadratic.
    val bench = docsAll.filter(col("doc_id") < 500).select("text")
    lazy val mhIndex = {
      val idx = Approx.buildMinHashIndex(spark, docs.filter(!isInc("doc_id")))
      idx.sets.write.mode("overwrite").parquet(s"$out/mhidx/sets")
      idx.bands.write.mode("overwrite").parquet(s"$out/mhidx/bands")
      Approx.MinHashIndex(spark.read.parquet(s"$out/mhidx/sets"),
        spark.read.parquet(s"$out/mhidx/bands"))
    }
    // The frozen quantizer: the sampled fit (≈ 50k rows at any scale),
    // nlist ∝ corpus so the cell size stays constant.
    lazy val cents = Approx.fitSemanticCentroids(vecs.filter(!isInc("vec_id")),
      nlist = 8 * copies, fitFraction = math.min(1.0, 50000.0 / nDocs))
    lazy val semIndex = {
      Approx.buildSemanticIndex(vecs.filter(!isInc("vec_id")), cents)
        .vectors.write.mode("overwrite").parquet(s"$out/semidx/vectors")
      Approx.semanticCentroidsDF(spark, cents)
        .write.mode("overwrite").parquet(s"$out/semidx/centroids")
      Approx.SemanticIndex(spark.read.parquet(s"$out/semidx/vectors"),
        Approx.semanticCentroidsFromDF(spark.read.parquet(s"$out/semidx/centroids")))
    }

    run("q38_star_denorm") { SparkEntry.queries("q38_star_denorm")(spark, out) }
    run("q63_outlier_zscore") { SparkEntry.queries("q63_outlier_zscore")(spark, out) }
    run("q59_minhash_md5") { SparkEntry.queries("q59_minhash_md5")(spark, out) }
    run("q60_dedup_clusters") { SparkEntry.queries("q60_dedup_clusters")(spark, out) }
    // The DECLARED 30% split: an increment that is almost a third of
    // the corpus does NOT satisfy the operator's increment ≪ index
    // premise, so its wall sits a little above q59's — the value here
    // is the spill/shuffle shape, not a speedup.
    run("q86_incremental") { SparkEntry.queries("q86_incremental_dedup")(spark, out) }
    // The stored-index batch: exactly what a daily batch pays — read
    // the index tables, chain the 1% increment, join, verdict. q86's
    // production per-batch number at this scale.
    run("q86_stored_batch") {
      Approx.incrementalDedup(spark, mhIndex, docs.filter(isInc("doc_id")))
    }
    // Its embedding-space twin: assign the 1% increment to cells, pair
    // within cells against the stored index (the increment broadcasts;
    // the index streams map-side off its parquet scan), verdict. Under
    // the constant-cell-size rule each increment vector meets ~constant
    // within-cell partners, so the wall tracks the linear index SCAN.
    // minSim 0.98 = the tight regime (planted families sit ≈ 0.999).
    run("q88_stored_batch") {
      Approx.incrementalSemanticDedup(semIndex, vecs.filter(isInc("vec_id")), minSim = 0.98)
    }

    // ---- index-advance flat-day-cost ----
    // The premise of the whole incremental family: a 5-day durable
    // replay through the streaming twins' fold-then-screen seam, per-day
    // wall printed separately. Day k's screen reads the stored index
    // PLUS k folded batch partitions, so superlinear work in the advance
    // loop would make later days climb; the expected shape is FLAT.
    if (enabled("q86_advance_days") || enabled("q88_advance_days")) {
      val (mhStored, semStored) = (mhIndex, semIndex) // built outside the timers
      val mhState = fresh(s"$out/mhadv_state")
      (0 until 5).foreach { k =>
        val (n, w) = measure(rowsOf(graft.streaming.StreamingIncrementalDedup
          .foldAndScreen(spark, mhStored, mhState, incDay(k), k.toLong)))
        report(s"q86_advance_day$k", n, w.sec, Seq(w))
      }
      val semState = fresh(s"$out/semadv_state")
      (0 until 5).foreach { k =>
        val dayDf = Materialized.pin(vecs.filter(isInc("vec_id") && dayOf("vec_id") === k))
        val (n, w) = measure(rowsOf(graft.streaming.StreamingIncrementalSemantic
          .foldAndScreen(spark, semStored, semState, dayDf, k.toLong, 0.98)))
        report(s"q88_advance_day$k", n, w.sec, Seq(w))
      }
    }

    // ---- window-index day replay on the log-structured store ----
    // The SCREEN is increment-bounded (broadcast hashes, one map-side
    // index scan with merge-on-read over matched hashes — should stay
    // flat); the FOLD is appendWindowIndexDay, one O(day) `batch_id=`
    // partition append. The final compaction runs once, through the
    // sized store wrapper (its sort-class dials scoped to the operation).
    if (enabled("window_days")) {
      val wdir = fresh(s"$out/widx_log")
      SubstringDedup.appendWindowIndexDay(docs.filter(!isInc("doc_id")), k = 8, wdir,
        batchId = -1L)
      (0 until 5).foreach { k =>
        val stored = SubstringDedup.readWindowIndex(spark, wdir)
        val dayDf = incDay(k)
        val (n, wScreen) = measure(rowsOf(
          SubstringDedup.incrementalWindowStats(stored, dayDf, k = 8)))
        val (_, wFold) = measure(
          SubstringDedup.appendWindowIndexDay(dayDf, k = 8, wdir, batchId = k.toLong))
        report(s"q92_advance_day$k", n, wScreen.sec, Seq(wScreen, wFold),
          f"foldSec=${wFold.sec}%.2f ")
      }
      val (_, w) = measure(SubstringDedup.compactWindowIndexStore(
        spark, wdir, fresh(s"$out/widx_compacted")))
      println(f"SMOKE q92_compact_sized sec=${w.sec}%.2f ${io(w)}")
    }

    // ---- the near-dup family ----
    // q43's CANDIDATE mass is quadratic by construction: Spark ML's
    // MinHashLSH amplifies with OR over single-hash tables, so unrelated
    // docs collide per-table with probability ≈ their Jaccard (≈ 0.004
    // on this corpus) — ≈ 4·10⁷ candidates at 10×, and the 30× run's
    // ≈ 3.6·10⁸ filled the sandbox disk with spill mid-join. The smoke
    // therefore measures the mass exactly (linear work) at every scale
    // and runs the full join only where the mass fits the sandbox; the
    // q59 banded family (collision ≈ J⁴) is the 100 TB path.
    lazy val mass = Approx.minHashCandidateMass(spark, corpus)
    if (enabled("q43") || enabled("neardup_auto"))
      println(f"SMOKE q43 ML-LSH candidate mass = $mass%,d pairs at ${copies}x " +
        f"(quadratic in corpus by construction; the q59 banded family stays linear)")
    // nearDupAuto runs the same mass probe and picks the family: the ML
    // OR-banded arm at 10×, the AND-banded family once the mass exceeds
    // the measured 1e8 budget (30×).
    run("neardup_auto") {
      Approx.nearDupAuto(spark, corpus, minJaccard = 0.8, knownMass = Some(mass))
    }
    if (enabled("q43_minhash_neardup")) {
      if (mass <= 100000000L)
        run("q43_minhash_neardup") { SparkEntry.queries("q43_minhash_neardup")(spark, out) }
      else
        println(s"SMOKE q43_minhash_neardup full join SKIPPED at ${copies}x: " +
          s"$mass candidate pairs exceed the sandbox spill budget (measured: " +
          "the 30x mass fills the disk); the routed run above took the " +
          "AND-banded arm automatically — mass above is the measured scale law")
    }
    run("q58_simhash_md5") { SparkEntry.queries("q58_simhash_md5")(spark, out) }
    // `nlist` grows with the corpus so the CELL SIZE — and with it the
    // quadratic within-cell term — stays constant. The counted rows are
    // the NON-KEEPER docs, i.e. what a dedup pass would drop.
    run("semantic_dedup") {
      Approx.semanticDedup(vecs, minSim = 0.98, nlist = 8 * copies)
        .filter(!col("is_keeper"))
    }

    // ---- packing, sharding and the epoch mixture ----
    // The two-phase prefix sum's cost is one narrow shuffle of
    // (id, token-count) pairs — wall near-flat across `copies`, slice
    // count linear.
    run("pack_sequences") { SparkEntry.queries("q67_pack_sequences")(spark, out) }
    // Packing a SHUFFLED stream (the buildTrainingSet order): the range
    // layout carries one extra 32-char key per doc and nothing else
    // changes.
    val sizedShuf = corpus.select(col("doc_id"),
        expr("size(filter(split(text, '\\\\s+'), w -> w != ''))")
          .cast("long").as("n_tokens"),
        md5(concat_ws(":", lit("pk"), col("doc_id").cast("string"))).as("prk"))
    runPinned("pack_shuffled") {
      Seq(graft.operators.Packing.packSequences(sizedShuf, 2048, orderCol = "prk"))
    }
    // The global rank of shuffleShards is the same two-phase form over
    // (id, md5) pairs — wall near-flat, rows = ids.
    runPinned("shuffle_shards") {
      Seq(graft.operators.Sharding.shuffleShards(corpus.select("doc_id"),
        nShards = 64, idCol = "doc_id"))
    }
    // Budget = 3.5× the corpus mass at EVERY scale, so the fan-out
    // stays constant and the output rows grow linearly (≈ 3.5 × nDocs).
    val sizedEp = sizedShuf.select(col("doc_id"), lit("en").as("lang"),
      col("n_tokens"),
      md5(concat_ws(":", lit("mix"), col("doc_id").cast("string"))).as("rk"))
    lazy val epMass = sizedEp.agg(sum(col("n_tokens"))).head().getLong(0)
    runPinned("epoch_mixture_3p5x") {
      Seq(graft.operators.Sampling.quotaSampleEpochs(sizedEp,
        Map("en" -> (3L * epMass + epMass / 2))))
    }

    // ---- corpus statistics and substring dedup ----
    // q73 is shuffle-free by construction; q74's one exchange carries
    // TEXT (the doc_id rebuild); q75's payload crosses at most the
    // doc-keyed join and the seq_id rebuild; q76/q77's window stream is
    // (doc_id, start, h) tuples with no text bytes in its exchanges.
    run("q73_repetition") { SparkEntry.queries("q73_repetition_stats")(spark, out) }
    run("q74_boilerplate") { SparkEntry.queries("q74_boilerplate_scrub")(spark, out) }
    run("q75_packed_ids") { SparkEntry.queries("q75_packed_token_ids")(spark, out) }
    run("q76_window_stats") { SparkEntry.queries("q76_window_stats")(spark, out) }
    run("q77_window_scrub") { SparkEntry.queries("q77_window_scrub")(spark, out) }

    // ---- the batch training pipeline ----
    // quality → exact dedup → mass-routed near-dup → decontam (the fixed
    // 500-doc bench) → budget mixture → packing, in one call. The budget
    // scales with `copies` so the SELECTED mass grows linearly; counted
    // rows = selected docs. Quality thresholds are opened up: the
    // synthetic vocabulary has no stopwords, so the production default
    // would empty the corpus at stage 1.
    def build(substrK: Option[Int] = None, embeddings: Boolean = false,
              tokenCounter: Option[org.apache.spark.sql.Column] = None) = {
      val embAll = vecs.select(col("vec_id").as("doc_id"), col("embedding"))
      TrainingData.buildTrainingSet(spark, docsAll, bench,
        budgets = Map("en" -> 100000L * copies), seqLen = 2048,
        minQuality = 0.0, maxRepetition = 1.0, minTokens = 1, substrK = substrK,
        embeddings = Option.when(embeddings)(embAll),
        benchmarkEmbeddings = Option.when(embeddings)(
          embAll.filter(col("doc_id") < 500).select("embedding")),
        // 0.9, not the testdata queries' 0.35: this corpus's 64-dim
        // noise vectors cosine up to ~0.54 against some bench member,
        // so 0.35 would decontaminate everything; the planted families
        // sit at ~0.999.
        minCosine = 0.9, tokenCounter = tokenCounter)
    }
    runPinned("training_pipeline") {
      val ts = build(); Materialized.free(ts.packed); Seq(ts.selected)
    }
    // Stage 3b (ExactSubstr scrub, k = 8) on: the window chain and
    // ownership pass over the surviving corpus plus the rebuild join.
    runPinned("training_substr") {
      val ts = build(substrK = Some(8)); Materialized.free(ts.packed); Seq(ts.selected)
    }
    // Stages 4b/4c on: semantic decontam against the fixed 500-vector
    // bench, then the sampled-fit IVF dedup on the survivors.
    runPinned("training_semantic") {
      val ts = build(embeddings = true); Materialized.free(ts.packed); Seq(ts.selected)
    }
    // Budgets in TRUE merge-replay BPE tokens via the `tokenCounter`
    // seam. The merge table is a fixed 110-rank list over the synthetic
    // alphabet (digit-digit pairs then 'w'+digit), so every "w1234" word
    // replays through ~4 merges. After the run: the packed sequences
    // must conserve the selected BPE token mass, and the budget cut
    // must hold in BPE tokens.
    val bpeMerges: Seq[(String, String)] =
      (for (a <- '0' to '9'; b <- '0' to '9') yield (a.toString, b.toString)) ++
        ('0' to '9').map(d => ("w", d.toString))
    runPinned("training_bpe", last = { case Seq(selected, packed) =>
      val selTok = selected.agg(sum(col("n_tokens"))).head().getLong(0)
      println(s"SMOKE training_bpe selectedTokensBPE=$selTok " +
        s"packedSeqs=${packed.count()} budget=${100000L * copies}")
    }) {
      val ts = build(tokenCounter = Some(
        graft.operators.Tokenizer.bpeTokenCount(spark, bpeMerges, col("text"))))
      Seq(ts.selected, ts.packed)
    }

    // ---- the composed incremental pipeline on the durable store ----
    // advanceTrainingSet end to end — quality → exact → lexical screen →
    // substring screen → decontam → semantic screen → budget admission
    // + all four folds — seeded with the 99% corpus, then the 1%
    // increment as 5 id-monotone days. Every stage is increment-bounded,
    // so the per-day wall should be FLAT.
    if (enabled("pipeline_durable") || enabled("pipeline_stream") ||
        enabled("pipeline_backfill")) {
      val embAll = vecs.select(col("vec_id").as("doc_id"), col("embedding"))
      val benchEmb = embAll.filter(col("doc_id") < 500).select("embedding")
      // Above the total candidate mass (~40 tok x 5k docs x copies): the
      // seed must not exhaust the budget, or the measured days would
      // skip the admission stage entirely (rows = 0).
      val budgets = Map("en" -> 300000L * copies)
      def day(st: TrainingData.PipelineState, d: DataFrame) =
        TrainingData.advanceTrainingSet(spark, st, d, bench, budgets,
          minQuality = 0.0, maxRepetition = 1.0, minTokens = 1,
          dayEmbeddings = Some(embAll), benchmarkEmbeddings = Some(benchEmb),
          minCosine = 0.9, substrK = Some(8))
      def init(dir: String): String = {
        TrainingData.initDurablePipelineState(spark, fresh(dir),
          substrK = Some(8), semCentroids = Some(cents))
        dir
      }
      // One durable day: load the store, advance, append the day's folds.
      def durableDay(dir: String, d: DataFrame, batchId: Long) = {
        val (st, wLoad) = measure(TrainingData.loadDurablePipelineState(spark, dir))
        val ((o, rows), wDay) = measure { val o = day(st, d); (o, o.admitted.count()) }
        val (_, wSave) = measure(TrainingData.appendPipelineDay(spark, dir, batchId, o.folds))
        Materialized.free(o.admitted)
        (rows, wLoad, wDay, wSave)
      }
      // Generation roll: the periodic O(state) consolidation into one
      // generation, then a load off the compacted store — load cost
      // should DROP, and re-feeding the last day must admit nothing.
      def compactAndRefeed(name: String, dir: String, asOf: Long): Unit = {
        val cDir = fresh(s"${dir}_c")
        val (_, wCompact) = measure(TrainingData.compactPipelineState(
          spark, dir, cDir, asOfBatch = asOf))
        val (rows, wLoad, wDay, _) = durableDay(cDir, incDay(4, docsAll), asOf + 1)
        report(name, rows, wCompact.sec, Seq(wCompact, wLoad, wDay),
          f"loadSec=${wLoad.sec}%.2f refeedSec=${wDay.sec}%.2f ")
      }
      // The driver loop: load state from disk before EVERY day (the
      // worst-case restart cadence), append the day's fold frames after —
      // append cost FLAT per day, O(day) partition writes.
      if (enabled("pipeline_durable")) {
        val dDir = init(s"$out/pipeline_dstate")
        val (n, wLoad0, w0, wSave0) = durableDay(dDir, docsAll.filter(!isInc("doc_id")), 0L)
        report("pipedur_seed", n, wLoad0.sec + w0.sec, Seq(wLoad0, w0),
          f"saveSec=${wSave0.sec}%.2f ")
        (1 to 5).foreach { k =>
          val (rows, wLoad, wDay, wSave) = durableDay(dDir, incDay(k - 1, docsAll), k.toLong)
          report(s"pipedur_day${k - 1}", rows, wDay.sec, Seq(wLoad, wDay, wSave),
            f"loadSec=${wLoad.sec}%.2f saveSec=${wSave.sec}%.2f ")
        }
        compactAndRefeed("pipedur_compact", dDir, 5L)
        // Per-day ingest-health cost: the q94/q89 monitors off the
        // loaded store, output ≤ topK + nlist rows.
        val st = TrainingData.loadDurablePipelineState(spark, dDir)
        val (n2, w) = measure(TrainingData.ingestHealth(st).collect().length.toLong)
        report("pipedur_health", n2, w.sec, Seq(w))
      }
      // A real foreachBatch stream over the SAME five days must cost
      // what the driver loop's load+day+save costs: the shell adds one
      // fenced state load per trigger. The seed folds at batch_id = -1
      // (visible to batch 0 under the `batch_id < N` retry fence);
      // `report = true` lands each day's health frame in the store's
      // health log, so the day cost includes the monitor. Day texts
      // round-trip the driver (MemoryStream's API) — harness plumbing.
      if (enabled("pipeline_stream")) {
        val dDir = init(s"$out/pipeline_sstate")
        val (n, wLoad0, w0, wSave0) = durableDay(dDir, docsAll.filter(!isInc("doc_id")), -1L)
        report("pipestream_seed", n, wLoad0.sec + w0.sec + wSave0.sec, Seq(wLoad0, w0, wSave0))
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
        import spark.implicits._
        val stream = MemoryStream[(Long, String, String)]
        val admRows = scala.collection.mutable.Map.empty[Long, Long]
        val q = graft.streaming.StreamingTrainingPipeline.writer(spark, dDir,
          stream.toDF().toDF("doc_id", "text", "lang"), bench, budgets,
          minQuality = 0.0, maxRepetition = 1.0, minTokens = 1,
          embeddings = Some(embAll), benchmarkEmbeddings = Some(benchEmb),
          minCosine = 0.9, substrK = Some(8), report = true) { (id, adm) =>
            admRows(id) = adm.count()
            Materialized.free(adm)
          }.start()
        (0 until 5).foreach { k =>
          val rows = docsAll.filter(isInc("doc_id") && dayOf("doc_id") === k)
            .as[(Long, String, String)].collect()
          // The microbatch's jobs run on the stream thread; they finish
          // before processAllAvailable returns, so the window holds them.
          val (_, w) = measure {
            stream.addData(rows.toIndexedSeq)
            q.processAllAvailable()
          }
          report(s"pipestream_day$k", admRows.getOrElse(k.toLong, -1L), w.sec, Seq(w))
        }
        q.stop()
        val healthRows = spark.read.parquet(s"$dDir/health")
          .groupBy("batch_id").count().count()
        println(f"SMOKE pipestream_health batches=$healthRows%d")
      }
      // Chunked seed backfill: advanceTrainingSet is a DAY operator — a
      // single-call corpus seed makes its O(day) fold checkpoints
      // O(corpus) (5M docs exhaust a 48 GB heap at the window fold). The
      // production shape backfills the seed as bounded id-monotone chunks
      // (replay ≡ single-call), then normal 1% days. Chunk token mass
      // (~40M at 1000×) sits above BroadcastIncrementMaxTokens on
      // purpose: the backfill exercises the unhinted shuffle-join
      // screens, the days the hinted ones.
      if (enabled("pipeline_backfill")) {
        val dDir = init(s"$out/pipeline_bstate")
        val nChunks = 5
        (0 until nChunks).foreach { c =>
          val lo = nDocs.toDouble * c / nChunks
          val hi = nDocs.toDouble * (c + 1) / nChunks
          val chunk = Materialized.pin(docsAll.filter(!isInc("doc_id") &&
            col("doc_id") >= lo && col("doc_id") < hi))
          val (rows, wLoad, w, wSave) = durableDay(dDir, chunk, c.toLong)
          report(s"pipebf_chunk$c", rows, wLoad.sec + w.sec, Seq(wLoad, w, wSave),
            f"saveSec=${wSave.sec}%.2f ")
        }
        (0 until 5).foreach { k =>
          val (rows, wLoad, w, wSave) = durableDay(dDir, incDay(k, docsAll), (nChunks + k).toLong)
          report(s"pipebf_day$k", rows, wLoad.sec + w.sec, Seq(wLoad, w, wSave))
        }
        compactAndRefeed("pipebf_compact", dDir, (nChunks + 4).toLong)
      }
    }

    // ---- event-time family: q32 sessionization, q15 interval join ----
    run("q32_session_window") { SparkEntry.queries("q32_session_window")(spark, out) }
    run("q15_join_range_theta") { SparkEntry.queries("q15_join_range_theta")(spark, out) }
    // Convergence bound: the pair graph must settle within 5 rounds
    // (dense near-dup components ⇒ tiny diameter); dedupClusters throws
    // if labels are still moving at maxIter, so reaching the count IS
    // the assertion. localSolveEdges = 0 pins the DISTRIBUTED loop and
    // one contraction level hands it level 0's remainder: the
    // driver-local solve or further levels would otherwise absorb the
    // graph and the round bound would be vacuously true.
    if (enabled("q60_tail")) {
      val pairs = graft.ops.Extended.minhashPairs(spark, out).select(col("a"), col("b"))
      val clusters = Approx.dedupClusters(pairs, maxIter = 5,
        maxContractLevels = 1, localSolveEdges = 0L).count()
      println(s"SMOKE q60 converged within 5 rounds ($clusters labeled docs)")
    }
    spark.stop()
  }
}
