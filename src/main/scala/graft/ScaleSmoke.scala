package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale smoke (VERDICT r5 #4): runs the heaviest pipelines against a
  * locally synthesized ~10× dataset (vs sf0.1) and records wall-clock +
  * shuffle-write/spill bytes, so the 100 TB design claims get at least
  * one measured scale-up point. The synthesized data lives under the JVM
  * temp dir and is NEVER committed; this main is committed so the smoke
  * is reproducible (`sbt "runMain graft.ScaleSmoke"`).
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
  * Checks beyond timing: q60's label propagation must converge within 5
  * rounds on the 10× graph (diameter stays small because near-dup
  * components are dense), and every query must return plausible rows.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_SMOKE_COPIES scales the synthesized dataset (default
    // 10×; round 9 adds a 30× point — a second measured decade for the
    // near-dup family, VERDICT r8 #3). Facts and the document corpus
    // both scale linearly with `copies`.
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
    // Every figure a SMOKE line prints comes from one Bench.measure
    // window per timed step; `io` sums the shuffle write and spill of
    // the windows a line covers.
    def measure[T](body: => T): (T, Bench.Work) = Bench.measure(spark)(() => body)
    def io(ws: Bench.Work*): String =
      f"shuffleWriteMB=${ws.map(_.shuffleWriteBytes).sum / 1e6}%.1f " +
        f"spillMB=${ws.map(_.spillBytes).sum / 1e6}%.1f"

    // ---- synthesize the 10× directory ----
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

    // ---- timed runs (1 warm + 1 timed; smoke, not a microbench) ----
    // SPARK_GRAFT_SMOKE_ONLY (regex) narrows the run to matching
    // stages — a focused spill/sizing probe re-uses the generator
    // without paying the full stage list (data gen still runs).
    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY").map(_.r)
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
    def run(name: String)(df: => DataFrame): Unit = {
      if (only.exists(_.findFirstIn(name).isEmpty)) {
        println(s"SMOKE $name SKIPPED (SPARK_GRAFT_SMOKE_ONLY)")
        return
      }
      rowsOf(df)
      val (rows, w) = measure(rowsOf(df))
      println(f"SMOKE $name%-22s rows=$rows%-9d sec=${w.sec}%.2f ${io(w)}")
    }
    run("q38_star_denorm") { SparkEntry.queries("q38_star_denorm")(spark, out) }
    // Round 11 (VERDICT r10 #6): the ONE recorded smoke spill is q38's
    // sort (805 MB at 100×, 1.8 GB at 300×). Two constraints bind, and
    // BOTH must be sized — measured across two decades:
    //  - the AQE ADVISORY (64 MB compressed default) re-coalesces
    //    post-shuffle partitions regardless of shuffle.partitions; 64 MB
    //    compressed decodes to ~0.5 GB of sort rows per task, past the
    //    per-task execution share. At 100× (where 32 initial partitions
    //    were still fine-grained enough) advisory 16 MB alone → spill 0
    //    and faster (5.35 → 3.91 s; 8 MB: 3.48 s).
    //  - the INITIAL partition count (shuffle.partitions unless
    //    coalescePartitions.initialPartitionNum is set) CAPS how fine
    //    AQE can go — it only merges, never splits. At 300× the 3 GB
    //    exchange over 32 initial partitions is ~95 MB compressed each,
    //    already past the advisory, so the advisory is unreachable and
    //    both settings spill 1.8 GB; initialPartitionNum = 512 → spill
    //    0 and faster (12.8 → 10.8 s at 16 MB; even the 64 MB default
    //    is spill-free once the initial count is fine enough).
    // Production rule: initial partitions ≳ exchange bytes / advisory,
    // advisory ≤ per-task execution memory / decode expansion (~8×
    // here); AQE then coalesces to the right size instead of being
    // capped below it. Restores are in a finally so a failed run
    // cannot leak settings into later smoke stages.
    val priorAdvisory =
      spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val priorInit =
      spark.conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val priorScanQ38 = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 512)
      // Third dial (round 13): at 300× the two shuffle dials left a
      // consistent ~2.4 GB that the per-node attribution probe showed
      // belongs to NO operator — it is the map tasks' shuffle-write
      // sorters outgrowing their memory share on 128 MB scan chunks of
      // the wide fact. Small scan partitions size the map side the way
      // the advisory sizes the reduce side; with all three set the
      // 300× run is spill-free (COVERAGE round 13).
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
      run("q38_sized_advisory") { SparkEntry.queries("q38_star_denorm")(spark, out) }
    } finally {
      def restore(key: String, prior: Option[String]): Unit = prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      restore("spark.sql.adaptive.advisoryPartitionSizeInBytes", priorAdvisory)
      restore("spark.sql.adaptive.coalescePartitions.initialPartitionNum", priorInit)
      restore("spark.sql.files.maxPartitionBytes", priorScanQ38)
    }
    run("q63_outlier_zscore") { SparkEntry.queries("q63_outlier_zscore")(spark, out) }
    run("q59_minhash_md5") { SparkEntry.queries("q59_minhash_md5")(spark, out) }
    run("q60_dedup_clusters") { SparkEntry.queries("q60_dedup_clusters")(spark, out) }
    // Incremental dedup at scale (round 13). Two arms:
    //  - the DECLARED 30% split: an increment that is almost a third
    //    of the corpus does NOT satisfy the operator's increment ≪
    //    index premise, so its wall sits a little above q59's (the
    //    same family work plus the verdict tail) — the value here is
    //    the spill/shuffle shape, not a speedup;
    //  - a 1% increment (the premise the operator exists for): the
    //    candidate and re-score mass collapse to the increment-
    //    involving slice, and the remaining wall is dominated by the
    //    index-side signature build — the part a production deployment
    //    precomputes ONCE through the md5SetsAndBands seam and
    //    amortizes over every batch.
    run("q86_incremental") {
      SparkEntry.queries("q86_incremental_dedup")(spark, out)
    }
    run("q86_small_increment") {
      val docs = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text")
      val isInc = pmod(col("doc_id"), lit(100)) === 0
      graft.operators.Approx.incrementalDedup(spark,
        docs.filter(!isInc), docs.filter(isInc))
    }
    // The index signature chain ALONE (99% of the corpus): the part of
    // q86_small_increment's wall a production deployment computes once
    // and amortizes across every daily batch through the
    // md5SetsAndBands seam. small_increment − index_chain ≈ the true
    // per-batch marginal cost.
    run("q86_index_chain") {
      val docs = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text")
      val (_, bands) = graft.operators.Approx.md5SetsAndBands(spark,
        docs.filter(pmod(col("doc_id"), lit(100)) =!= 0))
      bands
    }
    // The stored-index batch itself: index built and WRITTEN once
    // (outside the timer — that is the amortized part), then the timed
    // run is exactly what a daily batch pays: read the index tables,
    // chain the 1% increment, join, verdict. This is q86's production
    // per-batch number at this scale.
    if (only.forall(_.findFirstIn("q86_stored_batch").nonEmpty)) {
      val docs = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text")
      val isInc = pmod(col("doc_id"), lit(100)) === 0
      val idx = graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isInc))
      idx.sets.write.mode("overwrite").parquet(s"$out/mhidx/sets")
      idx.bands.write.mode("overwrite").parquet(s"$out/mhidx/bands")
      run("q86_stored_batch") {
        graft.operators.Approx.incrementalDedup(spark,
          graft.operators.Approx.MinHashIndex(
            spark.read.parquet(s"$out/mhidx/sets"),
            spark.read.parquet(s"$out/mhidx/bands")),
          docs.filter(isInc))
      }
    }
    // Incremental SEMANTIC dedup (round 13): the embedding-space twin
    // of q86_stored_batch. Quantizer fit (sampled, the q66 law) + index
    // cell assignment + write happen ONCE outside the timer — the
    // amortized ingest cost; the timed run is a daily batch's true
    // marginal work: assign the 1% increment to cells (O(batch × nlist
    // · dim), scan-side), pair within cells against the stored index
    // (the increment broadcasts; the index streams map-side off its
    // parquet scan, never crossing an exchange), verdict aggregate.
    // Growth law: under the nlist ∝ N constant-cell-size rule each
    // increment vector meets ~constant within-cell partners, so the
    // timed wall should track the linear index SCAN, not pair mass.
    // minSim 0.98 = the tight regime the standalone semantic_dedup
    // arms measure on this corpus (planted families sit ≈ 0.999).
    if (only.forall(_.findFirstIn("q88_stored_batch").nonEmpty)) {
      val embAll = spark.read.parquet(s"$out/embeddings.parquet")
        .select("vec_id", "embedding")
      val isInc = pmod(col("vec_id"), lit(100)) === 0
      val cents = graft.operators.Approx.fitSemanticCentroids(
        embAll.filter(!isInc), nlist = 8 * copies,
        fitFraction = math.min(1.0, 50000.0 / nDocs))
      val semIdx = graft.operators.Approx.buildSemanticIndex(
        embAll.filter(!isInc), cents)
      semIdx.vectors.write.mode("overwrite").parquet(s"$out/semidx/vectors")
      graft.operators.Approx.semanticCentroidsDF(spark, cents)
        .write.mode("overwrite").parquet(s"$out/semidx/centroids")
      run("q88_stored_batch") {
        graft.operators.Approx.incrementalSemanticDedup(
          graft.operators.Approx.SemanticIndex(
            spark.read.parquet(s"$out/semidx/vectors"),
            graft.operators.Approx.semanticCentroidsFromDF(
              spark.read.parquet(s"$out/semidx/centroids"))),
          embAll.filter(isInc), minSim = 0.98)
      }
    }
    // The rest of the near-dup family (round 9): the ML-LSH variant and
    // the 64-bit SimHash — their pair/bucket behavior at scale is the
    // 100 TB question, and the planted-family corpus keeps their TRUE
    // pair count linear in the corpus so growth is attributable.
    //
    // q43's CANDIDATE mass, though, is quadratic by construction: Spark
    // ML's MinHashLSH amplifies with OR over single-hash tables, so
    // unrelated docs collide per-table with probability ≈ their Jaccard
    // (≈ 0.004 on this corpus) — ≈ 4·10⁷ candidates at 10×, and the
    // 30× run's ≈ 3.6·10⁸ filled the sandbox disk with spill mid-join.
    // The smoke therefore measures the mass exactly (linear work) at
    // every scale — the growth law IS the finding — and runs the full
    // join only where the mass fits the sandbox. The q59 banded family
    // (4 hashes per band ⇒ collision ≈ J⁴) is the 100 TB path; q43's
    // own scaladoc routes large corpora through this same mass check.
    def enabled(name: String): Boolean = only.forall(_.findFirstIn(name).isDefined)

    // ---- index-advance flat-day-cost (round 14, VERDICT r13 #1) ----
    // The premise of the whole incremental family, measured: a 5-day
    // durable replay through the streaming twins' fold-then-screen
    // seam, per-day wall printed separately. Day k's screen reads the
    // stored index PLUS k folded batch partitions, so if the advance
    // loop leaked superlinear work the later days would climb; the
    // expected shape is FLAT (the index scan dominates and the folded
    // state is ≤ the 1% increment in total).
    // Gated by the names of the rows it prints, so 'q86_advance' selects
    // it as well as 'advance_days'.
    if (enabled("q86_advance_days") || enabled("q88_advance_days")) {
      val docs = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text")
      val isInc = pmod(col("doc_id"), lit(100)) === 0
      val dayOf = least(lit(4), floor(col("doc_id") / lit(nDocs / 5))).cast("int")
      val idx0 = graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isInc))
      idx0.sets.write.mode("overwrite").parquet(s"$out/mhadv/sets")
      idx0.bands.write.mode("overwrite").parquet(s"$out/mhadv/bands")
      val stored = graft.operators.Approx.MinHashIndex(
        spark.read.parquet(s"$out/mhadv/sets"),
        spark.read.parquet(s"$out/mhadv/bands"))
      val stateDir = s"$out/mhadv_state_${System.nanoTime()}"
      (0 until 5).foreach { k =>
        val dayDf = docs.filter(isInc && dayOf === k).localCheckpoint(true)
        val (n, w) = measure(rowsOf(graft.streaming.StreamingIncrementalDedup
          .foldAndScreen(spark, stored, stateDir, dayDf, k.toLong)))
        println(f"SMOKE q86_advance_day$k%-9s rows=$n%-9d sec=${w.sec}%.2f ${io(w)}")
      }
      // Semantic twin of the same loop, same day split, same stateDir
      // discipline (fit + index write outside the timers).
      val embAll = spark.read.parquet(s"$out/embeddings.parquet")
        .select("vec_id", "embedding")
      val isIncV = pmod(col("vec_id"), lit(100)) === 0
      val dayOfV = least(lit(4), floor(col("vec_id") / lit(nDocs / 5))).cast("int")
      val cents = graft.operators.Approx.fitSemanticCentroids(
        embAll.filter(!isIncV), nlist = 8 * copies,
        fitFraction = math.min(1.0, 50000.0 / nDocs))
      val semIdx = graft.operators.Approx.buildSemanticIndex(
        embAll.filter(!isIncV), cents)
      semIdx.vectors.write.mode("overwrite").parquet(s"$out/semadv/vectors")
      val semStored = graft.operators.Approx.SemanticIndex(
        spark.read.parquet(s"$out/semadv/vectors"), cents)
      val semState = s"$out/semadv_state_${System.nanoTime()}"
      (0 until 5).foreach { k =>
        val dayDf = embAll.filter(isIncV && dayOfV === k).localCheckpoint(true)
        val (n, w) = measure(rowsOf(graft.streaming.StreamingIncrementalSemantic
          .foldAndScreen(spark, semStored, semState, dayDf, k.toLong, 0.98)))
        println(f"SMOKE q88_advance_day$k%-9s rows=$n%-9d sec=${w.sec}%.2f ${io(w)}")
      }
    }

    // ---- window-index day replay (round 14; round 15 re-measured on
    // the LOG-STRUCTURED store) ----
    // The substring seam's per-day cost, screen and fold timed apart:
    // the SCREEN is increment-bounded (broadcast hashes, one map-side
    // index scan with merge-on-read over matched hashes — should stay
    // flat); the FOLD is now appendWindowIndexDay — one O(day)
    // `batch_id=` partition append, never the r14 full-index
    // re-aggregation (which was O(index)/day: ~2.5 s/day at 100×, and
    // O(D·index) over D days). A final compactWindowIndex is timed
    // once, apart — the periodic consolidation the caller schedules.
    if (enabled("window_days")) {
      val docs = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text")
      val isInc = pmod(col("doc_id"), lit(100)) === 0
      val dayOf = least(lit(4), floor(col("doc_id") / lit(nDocs / 5))).cast("int")
      val wdir = s"$out/widx_log"
      graft.operators.SubstringDedup
        .appendWindowIndexDay(docs.filter(!isInc), k = 8, wdir, batchId = -1L)
      (0 until 5).foreach { k =>
        val stored = graft.operators.SubstringDedup.readWindowIndex(spark, wdir)
        val dayDf = docs.filter(isInc && dayOf === k).localCheckpoint(true)
        val (n, wScreen) = measure(rowsOf(graft.operators.SubstringDedup
          .incrementalWindowStats(stored, dayDf, k = 8)))
        val (_, wFold) = measure(graft.operators.SubstringDedup
          .appendWindowIndexDay(dayDf, k = 8, wdir, batchId = k.toLong))
        println(f"SMOKE q92_advance_day$k%-9s rows=$n%-9d sec=${wScreen.sec}%.2f " +
          f"foldSec=${wFold.sec}%.2f ${io(wScreen, wFold)}")
      }
      locally {
        // Round 16 (VERDICT r15 #3): the compaction runs through the
        // SIZED store wrapper — the q76 sort-class dials, scoped to the
        // operation (r15 measured the unsized form at 66.35 s / 7.4 GB
        // spill at 1000×-class; the session's own confs are untouched).
        // Fresh generation target: the compactor fails fast on a
        // populated outDir (re-run safety), so wipe any prior run's.
        locally {
          val hp = new org.apache.hadoop.fs.Path(s"$out/widx_compacted")
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(hp, true)
        }
        val (_, w) = measure(graft.operators.SubstringDedup.compactWindowIndexStore(
          spark, wdir, s"$out/widx_compacted"))
        println(f"SMOKE q92_compact_sized sec=${w.sec}%.2f ${io(w)}")
      }
    }

    // ---- flat-vs-tree assign crossover (round 14, VERDICT r13 #2) ----
    // The one measured superlinear term left in the semantic family:
    // the flat O(N·nlist) cell assign (≡ O(N²) under nlist = N/625).
    // The r13 pipeline decade measured flat wall ×3.40 vs tree ×2.27
    // per 3× data and EXTRAPOLATED the crossover to ~10⁶-vector
    // survivor sets; this arm measures it directly on standalone
    // synthetic corpora (same planted-family law, so true pair mass is
    // linear and identical between arms) at N values bracketing the
    // prediction. Both arms pay the same sampled fit inside the timer
    // (same seed ⇒ same centroids); the wall DIFFERENCE is the
    // assign-stage term. Gate: SPARK_GRAFT_SMOKE_ONLY=sem_xover; sizes
    // via SPARK_GRAFT_XOVER_NS (comma-separated), default 1M and 3M.
    if (only.exists(r => r.findFirstIn("sem_xover").isDefined ||
        r.findFirstIn("sem_assign").isDefined)) {
      val ns = sys.env.get("SPARK_GRAFT_XOVER_NS")
        .map(_.split(",").toSeq.map(_.trim.toLong))
        .getOrElse(Seq(1000000L, 3000000L))
      ns.foreach { n =>
        val path = s"$out/xemb$n"
        spark.range(n).select(
            col("id").as("vec_id"),
            expr("""transform(sequence(1, 64), i ->
                   |  CAST(CASE WHEN pmod(floor(id / 3), 7) = 0
                   |    THEN (pmod(xxhash64(floor(id / 3), i), 2001) - 1000) / 1000.0
                   |         + (pmod(xxhash64(id, i), 2001) - 1000) / 50000.0
                   |    ELSE (pmod(xxhash64(id, i), 2001) - 1000) / 1000.0
                   |  END AS FLOAT))""".stripMargin).as("embedding"))
          .write.mode("overwrite").parquet(path)
        val vecs = spark.read.parquet(path)
        val nlist = (n / 625L).toInt
        val frac = math.min(1.0, 50000.0 / n)
        Seq(false, true).foreach { tree =>
          run(f"sem_xover_${n}_${if (tree) "tree" else "flat"}") {
            graft.operators.Approx.semanticDedup(
              vecs.select(col("vec_id"), col("embedding")),
              minSim = 0.98, nlist = nlist, fitFraction = frac,
              treeAssign = tree)
          }
        }
        // Decomposition: the ASSIGN stage alone, both implementations,
        // so the end-to-end parity above is attributable — if the flat
        // and tree assigns differ here while the operator totals
        // match, the assign is a minor term at this scale and the
        // superlinear growth lives in the shared stages (the sampled
        // fit's O(sample·nlist) and the clustering tail). The shared
        // fit is paid only when one of these arms is actually selected
        // (at n = 10M / nlist = 16k the naive mip_assign arm alone is
        // ~O(10¹³) mults — gate it separately from the end-to-end
        // arms: SMOKE_ONLY 'sem_assign' vs 'sem_xover').
        if (enabled("sem_assign")) {
          val cents = graft.operators.Approx.fitSemanticCentroids(
            vecs, nlist = nlist, fitFraction = frac)
          run(f"sem_assign_${n}_flat") {
            graft.operators.Approx.buildSemanticIndex(
              vecs.select(col("vec_id"), col("embedding")), cents)
              .vectors.select(col("vec_id"), col("cell"), col("nrm"))
          }
          val k = math.max(1, math.round(math.sqrt(cents.length.toDouble)).toInt)
          val centsArr = cents.map(_.toArray).toArray
          val topOf = graft.expressions.IvfTreeAssign.groupCentroids(centsArr, k)
          run(f"sem_assign_${n}_tree") {
            graft.expressions.GraftFunctions.register(spark)
            vecs.select(col("vec_id"),
              call_function("ivf_tree_assign", col("embedding"),
                typedLit(centsArr.map(_.toSeq).toSeq), typedLit(topOf.toSeq),
                lit(2)).as("cell"))
          }
        }
      }
    }

    val docsDf = spark.read.parquet(s"$out/documents.parquet")
    lazy val mass = graft.operators.Approx.minHashCandidateMass(spark, docsDf)
    if (enabled("q43") || enabled("neardup_auto"))
      println(f"SMOKE q43 ML-LSH candidate mass = $mass%,d pairs at ${copies}x " +
        f"(quadratic in corpus by construction; the q59 banded family stays linear)")
    // Round 10: the manual fence is now structural — nearDupAuto runs
    // the same linear mass probe internally and picks the family (the
    // decision line lands on stderr). At 10× it selects the ML
    // OR-banded arm; at 30× the ~3.6·10⁸ mass exceeds the measured 1e8
    // budget and it MUST route to the AND-banded family instead of
    // filling the disk.
    run("neardup_auto") {
      graft.operators.Approx.nearDupAuto(spark, docsDf, minJaccard = 0.8,
        knownMass = Some(mass))
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
    // Semantic dedup at scale (round 9): `nlist` grows with the corpus
    // so the CELL SIZE — and with it the quadratic within-cell term —
    // stays constant: total scored pairs grow linearly with `copies`,
    // which is exactly the 100 TB operating mode (the dial the operator
    // exposes). The counted rows are the NON-KEEPER docs, i.e. what a
    // dedup pass would drop — must grow ≈ linearly on this corpus.
    run("semantic_dedup") {
      graft.operators.Approx.semanticDedup(
          spark.read.parquet(s"$out/embeddings.parquet"),
          minSim = 0.98, nlist = 8 * copies)
        .filter(!col("is_keeper"))
    }
    // Round 10: the 100× run measured the FULL-CORPUS k-means fit as
    // the dominant superlinear term of semantic_dedup (Lloyd's is
    // O(N·nlist·iters), and nlist ∝ N under constant cell size ⇒ O(N²):
    // 10.8 s at 30× → 59.2 s at 100×). The mitigation is structural —
    // fit the quantizer on a fixed-size hash-sample, assign-only over
    // the corpus — and is measured here side-by-side at every scale
    // (≈ 50k fit rows regardless of `copies`; dropped counts must stay
    // ≈ linear, CapabilitySpec pins tight-regime recall under the same
    // sampling).
    run("semantic_dedup_sfit") {
      graft.operators.Approx.semanticDedup(
          spark.read.parquet(s"$out/embeddings.parquet"),
          minSim = 0.98, nlist = 8 * copies,
          fitFraction = math.min(1.0, 50000.0 / nDocs))
        .filter(!col("is_keeper"))
    }
    // Round 11: with the fit sampled, the residual superlinear term is
    // the flat ASSIGNMENT — O(N·nlist) = O(N²) under nlist ∝ N. The
    // coarse-quantizer tree (ivf_tree_assign) cuts it to O(N·√nlist);
    // measured side-by-side. Dropped counts must stay ≈ the sfit run's
    // (boundary-only divergence; tight-regime recall pinned in
    // CapabilitySpec).
    run("semantic_dedup_tree") {
      graft.operators.Approx.semanticDedup(
          spark.read.parquet(s"$out/embeddings.parquet"),
          minSim = 0.98, nlist = 8 * copies,
          fitFraction = math.min(1.0, 50000.0 / nDocs),
          treeAssign = true)
        .filter(!col("is_keeper"))
    }
    // Sequence packing at scale (round 9): the two-phase prefix sum's
    // cost is one narrow shuffle of (id, token-count) pairs — wall
    // should stay near-flat across `copies` and the slice count linear.
    run("pack_sequences") { SparkEntry.queries("q67_pack_sequences")(spark, out) }
    // Packing a SHUFFLED stream (round 11, the buildTrainingSet order):
    // the same two-phase prefix sum ordered by a salted md5 — the range
    // layout carries one extra 32-char key per doc and nothing else
    // changes; wall must stay in pack_sequences' band and the slice
    // count within ±corpus/seqLen of it (same tokens, different cut
    // points).
    val sizedShuf = spark.read.parquet(s"$out/documents.parquet")
      .select(col("doc_id"),
        expr("size(filter(split(text, '\\\\s+'), w -> w != ''))")
          .cast("long").as("n_tokens"),
        md5(concat_ws(":", lit("pk"), col("doc_id").cast("string"))).as("prk"))
    // Each evaluation (run() = warm + timed) materializes a fresh
    // layout; free the previous one inside the thunk and the last one
    // after — the training_pipeline pattern, or the new stages would
    // pin 2 × O(nDocs) blocks each while later stages are timed.
    var lastSmoked: DataFrame = null
    def tracked(df: DataFrame): DataFrame = {
      if (lastSmoked != null) graft.operators.Materialized.free(lastSmoked)
      lastSmoked = df
      df
    }
    run("pack_shuffled") {
      tracked(graft.operators.Packing.packSequences(sizedShuf, 2048, orderCol = "prk"))
    }
    if (lastSmoked != null) { graft.operators.Materialized.free(lastSmoked); lastSmoked = null }
    // Shuffle-shard (round 11, pipeline stage 7): the global rank is
    // the same two-phase form as packing, over (id, md5) pairs — wall
    // near-flat, rows = ids, all exchanges narrow.
    run("shuffle_shards") {
      tracked(graft.operators.Sharding.shuffleShards(
        spark.read.parquet(s"$out/documents.parquet").select("doc_id"),
        nShards = 64, idCol = "doc_id"))
    }
    if (lastSmoked != null) { graft.operators.Materialized.free(lastSmoked); lastSmoked = null }
    // Epoch-repeat mixture (round 11): budget = 3.5× the corpus mass at
    // EVERY scale, so the fan-out factor stays constant and the output
    // rows must grow linearly (≈ 3.5 × nDocs; the mass probe is the
    // bounded one-row driver aggregate). The spans are the quota
    // two-phase form; the fan-out is scan-side explode.
    val sizedEp = sizedShuf.select(col("doc_id"), lit("en").as("lang"),
      col("n_tokens"),
      md5(concat_ws(":", lit("mix"), col("doc_id").cast("string"))).as("rk"))
    lazy val epMass = sizedEp.agg(sum(col("n_tokens"))).head().getLong(0)
    run("epoch_mixture_3p5x") {
      tracked(graft.operators.Sampling.quotaSampleEpochs(sizedEp,
        Map("en" -> (3L * epMass + epMass / 2))))
    }
    if (lastSmoked != null) { graft.operators.Materialized.free(lastSmoked); lastSmoked = null }
    // Repetition signals (round 11): shuffle-free by construction (the
    // plan pin proves no exchange but the orderBy); wall = the per-doc
    // tokenize + sort-fold passes, linear in corpus bytes.
    run("q73_repetition") {
      SparkEntry.queries("q73_repetition_stats")(spark, out)
    }
    // Boilerplate scrub (round 11): the one exchange that carries TEXT
    // (the doc_id rebuild — inherent to a corpus-statistic rewrite).
    // Expect shuffleWriteMB ≈ the corpus's token bytes + per-token pos
    // structs, linear in `copies`; the df-ranking side is
    // vocabulary-sized and must stay invisible here.
    run("q74_boilerplate") {
      SparkEntry.queries("q74_boilerplate_scrub")(spark, out)
    }
    // Packed payload (round 11): tokenize → slice map → materialized
    // training rows. The payload crosses AT MOST the doc-keyed join
    // and the seq_id rebuild; which crossings run is regime-dependent
    // (measured, COVERAGE q75 decade): below AQE's broadcast threshold
    // the slice map broadcasts and the ids cross once (~2.9 B/token at
    // 10×/30×); past it the join goes sort-merge and they cross twice.
    // The tokenizer runs twice by packTokenIds' documented trade.
    run("q75_packed_ids") { SparkEntry.queries("q75_packed_token_ids")(spark, out) }
    // Substring-level window dedup (round 11): the window stream is
    // (doc_id, start, h) tuples — expect the dedup exchanges linear in
    // corpus tokens and NO text bytes in them; q77 adds the rebuild
    // join (broadcast while the shadowed-starts side is small). The
    // planted families make the shadowed mass linear in `copies`.
    run("q76_window_stats") {
      SparkEntry.queries("q76_window_stats")(spark, out)
    }
    run("q77_window_scrub") {
      SparkEntry.queries("q77_window_scrub")(spark, out)
    }
    // q76's spill decomposes into TWO sorts with DIFFERENT dials
    // (measured at 300×, the round's only remaining multi-GB spill):
    // the reduce-side final SortAggregate reads the ~4 GB hash
    // exchange — sized by the q38 rule (initial partitions ≳ exchange
    // bytes / advisory; 6228 → 3945 MB spill with 512/16m alone) —
    // while the MAP-side partial SortAggregate sorts the exploded
    // windows BEFORE any exchange, so its task size is the SCAN
    // partition (files.maxPartitionBytes), untouched by shuffle
    // sizing. Both dials together are the complete rule; measured
    // side by side with the unsized runs above.
    val wPriorAdvisory =
      spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val wPriorInit =
      spark.conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val wPriorScan = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 512)
      run("q76_sized_advisory") {
        SparkEntry.queries("q76_window_stats")(spark, out)
      }
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
      run("q76_sized_both") {
        SparkEntry.queries("q76_window_stats")(spark, out)
      }
    } finally {
      def restore(key: String, prior: Option[String]): Unit = prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      restore("spark.sql.adaptive.advisoryPartitionSizeInBytes", wPriorAdvisory)
      restore("spark.sql.adaptive.coalescePartitions.initialPartitionNum", wPriorInit)
      restore("spark.sql.files.maxPartitionBytes", wPriorScan)
    }
    // Round 13 (VERDICT r12 #3b): chase q76/q77's residual ~1.9 GB.
    // COVERAGE r11 attributes it to the ownership JOIN + the q77
    // rebuild, both sort-merge at this scale (the grp side is
    // distinct-window-sized — not broadcastable — so SMJ sorts BOTH
    // the full window stream and the group table). Two arms, fully
    // sized (the q76 dials) so the remaining spill is attributable to
    // the join strategy alone:
    //  - *_sized:     dials only (reproduces the flagged residual on
    //                 q77, which ran unsized in r11);
    //  - *_sized_shj: dials + preferSortMergeJoin=false — Spark picks
    //                 shuffled-hash where the per-partition build side
    //                 fits, eliminating both SMJ sorts (the spill
    //                 surface) at the cost of a per-task hash map;
    //                 with 512 initial partitions each build is
    //                 ~1/512th of the distinct-window table.
    {
      val pAdv = spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      val pInit = spark.conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      val pScan = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      val pSmj = spark.conf.getOption("spark.sql.join.preferSortMergeJoin")
      try {
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 512)
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
        run("q77_sized") {
          SparkEntry.queries("q77_window_scrub")(spark, out)
        }
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
        run("q77_sized_shj") {
          SparkEntry.queries("q77_window_scrub")(spark, out)
        }
        run("q76_sized_shj") {
          SparkEntry.queries("q76_window_stats")(spark, out)
        }
      } finally {
        def restore(key: String, prior: Option[String]): Unit = prior match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        restore("spark.sql.adaptive.advisoryPartitionSizeInBytes", pAdv)
        restore("spark.sql.adaptive.coalescePartitions.initialPartitionNum", pInit)
        restore("spark.sql.files.maxPartitionBytes", pScan)
        restore("spark.sql.join.preferSortMergeJoin", pSmj)
      }
    }
    // Round 13 (VERDICT r12 #4): q81's WindowGroupLimit under REAL
    // skew — one crawl domain owning 90% of the corpus, the situation
    // the map-side partial limit exists for. The probe corpus is
    // (doc_id, source, rk) only (the cap's plan never touches text
    // until the keeper join, which this stage omits on purpose — the
    // claim under test is the limit's exchange, not the rebuild).
    // Claims measured, printed as one line:
    //  - shuffle RECORDS into the rank exchange ≈ maps × k per source
    //    bound (map-side partial limit ships ≤ k rows per source per
    //    map partition), NOT corpus-sized — the 90% source must ship
    //    thousands of rows, not its ~nDocs·0.9 crawl;
    //  - task-time balance: max/median task duration across the timed
    //    pass — the hot source's reduce task reads maps × k rows, so
    //    no straggler task proportional to the hot mass can appear.
    if (enabled("q81_hot")) {
      val hotDocs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) < 9, lit("hot"))
          .otherwise(concat(lit("cold"), pmod(col("id"), lit(97)).cast("string")))
          .as("source"),
        md5(concat_ws(":", lit("cap"), col("id").cast("string"))).as("rk"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))
      def capDf = hotDocs
        .withColumn("src_rank", row_number().over(w).cast("long"))
        .filter(col("src_rank") <= graft.ops.Extended.Q81CapPerSource)
        .select(col("doc_id"), col("source"), col("src_rank"))
      rowsOf(capDf) // warm (plan + codegen)
      val (rows, work) = measure(rowsOf(capDf))
      val durs = work.taskMs.sorted
      val maxD = durs.lastOption.getOrElse(0L)
      val medD = if (durs.nonEmpty) durs(durs.length / 2) else 0L
      println(f"SMOKE q81_hot_skew rows=$rows%-6d sec=${work.sec}%.2f " +
        f"corpus=$nDocs hotShare=0.9 shuffleRecords=${work.shuffleRecords} ${io(work)} " +
        f"tasks=${durs.length} taskMsMax=$maxD taskMsMedian=$medD")
    }
    // End-to-end training pipeline (round 10): quality → exact dedup →
    // mass-routed near-dup → decontam (fixed 500-doc benchmark slice)
    // → budget mixture → packing, composed in one call. The budget
    // scales with `copies` so the SELECTED mass grows linearly; wall
    // should track the near-dup stage (its dominant part). Counted
    // rows = selected docs. Each evaluation's TrainingSet checkpoints
    // are released per its contract — run() evaluates warm + timed, and
    // two leaked (selected + packed) block sets would sit in storage
    // while the remaining stages are being timed.
    var lastSelected: DataFrame = null
    run("training_pipeline") {
      if (lastSelected != null) graft.operators.Materialized.free(lastSelected)
      val docsAll = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text", "lang")
      // FIXED-size benchmark (500 docs at every scale): an eval set
      // does not grow with the training corpus, and letting it grow
      // here made the decontam stage O(corpus × bench) = quadratic —
      // the first cut of this smoke measured exactly that (30×→100×
      // wall 5.4× for a 3.33× corpus before the fix).
      val bench = docsAll.filter(col("doc_id") < 500).select("text")
      // Quality thresholds opened up: the synthetic vocabulary has no
      // stopwords, so the production default (quality ≥ 0.5) would
      // empty the corpus at stage 1 — this smoke measures the
      // pipeline's SCALE, not filter selectivity on fake text.
      val ts = graft.operators.TrainingData.buildTrainingSet(spark, docsAll, bench,
        budgets = Map("en" -> 100000L * copies), seqLen = 2048,
        minQuality = 0.0, maxRepetition = 1.0, minTokens = 1)
      graft.operators.Materialized.free(ts.packed) // counted: selected only
      lastSelected = ts.selected
      ts.selected
    }
    if (lastSelected != null) { graft.operators.Materialized.free(lastSelected); lastSelected = null }
    // Substring-staged pipeline (round 14): the SAME build with the
    // optional stage 3b (ExactSubstr scrub, k = 8) active — the one
    // measured pipeline stage that was previously parked outside the
    // composition. The planted near-dup families mostly die at stage 3
    // first, so the scrub's duplicated-window mass here is the
    // family-survivor residue plus chance 8-token repeats from the 5k
    // vocabulary; the cost that matters is the window chain + ownership
    // pass over the whole surviving corpus (linear in tokens) plus the
    // rebuild join, and wall should stay a modest constant factor over
    // training_pipeline at every scale.
    run("training_substr") {
      if (lastSelected != null) graft.operators.Materialized.free(lastSelected)
      val docsAll = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text", "lang")
      val bench = docsAll.filter(col("doc_id") < 500).select("text")
      val ts = graft.operators.TrainingData.buildTrainingSet(spark, docsAll, bench,
        budgets = Map("en" -> 100000L * copies), seqLen = 2048,
        minQuality = 0.0, maxRepetition = 1.0, minTokens = 1,
        substrK = Some(8))
      graft.operators.Materialized.free(ts.packed)
      lastSelected = ts.selected
      ts.selected
    }
    if (lastSelected != null) { graft.operators.Materialized.free(lastSelected); lastSelected = null }
    // ---- the composed incremental pipeline, per-day (round 15,
    // VERDICT r14 #1's smoke) ----
    // advanceTrainingSet end to end: seed the state with the 99%
    // "already ingested" corpus (one big day — all stages on), persist
    // the WHOLE pipeline state to parquet, reload it (the production
    // restart shape), then ingest the 1% increment as 5 id-monotone
    // days, each day timed: quality → exact → lexical screen →
    // substring screen → decontam → semantic screen → budget admission
    // + all four folds. Expected shape: per-day wall FLAT (every stage
    // is increment-bounded; the stored indexes are scanned, never
    // shuffled), tracking the sum of the per-family day costs the
    // advance_days / window_days arms measure separately.
    if (enabled("pipeline_days") || enabled("pipeline_durable") ||
        enabled("pipeline_arrival") || enabled("pipeline_backfill") ||
        enabled("pipeline_stream")) {
      val docsAll = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text", "lang")
      val embAll = spark.read.parquet(s"$out/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val bench = docsAll.filter(col("doc_id") < 500).select("text")
      val benchEmb = embAll.filter(col("doc_id") < 500).select("embedding")
      val isInc = pmod(col("doc_id"), lit(100)) === 0
      val dayOf = least(lit(4), floor(col("doc_id") / lit(nDocs / 5))).cast("int")
      // Frozen quantizer, fit once on the seed corpus (outside the
      // timers, like every index build in the advance arms).
      val cents = graft.operators.Approx.fitSemanticCentroids(
        embAll.filter(!isInc).select(col("doc_id").as("vec_id"), col("embedding")),
        nlist = 8 * copies, fitFraction = math.min(1.0, 50000.0 / nDocs))
      def day(st: graft.operators.TrainingData.PipelineState, d: DataFrame,
              arrival: Boolean = false) =
        graft.operators.TrainingData.advanceTrainingSet(spark, st, d, bench,
          // Above the total candidate mass (~40 tok x 5k docs x copies):
          // the seed must not exhaust the budget, or the measured days
          // would skip the admission stage entirely (rows = 0).
          budgets = Map("en" -> 300000L * copies),
          minQuality = 0.0, maxRepetition = 1.0, minTokens = 1,
          dayEmbeddings = Some(embAll), benchmarkEmbeddings = Some(benchEmb),
          minCosine = 0.9, substrK = Some(8), arrivalOrder = arrival)
      // One measured day: the state (loaded inside the window when `st`
      // reads the store), the advance and its admitted count.
      def timedDay(st: => graft.operators.TrainingData.PipelineState, d: DataFrame,
                   arrival: Boolean = false) =
        measure { val o = day(st, d, arrival); (o, o.admitted.count()) }
      // ---- arrival-order cost parity (round 16, VERDICT r15 #7): the
      // mode is the same joins with a different literal predicate, so
      // its day cost must be within noise of id mode. ----
      if (enabled("pipeline_arrival")) locally {
        val ((seeded, n), w0) = timedDay(graft.operators.TrainingData.initPipelineState(spark,
          substrK = Some(8), semCentroids = Some(cents)),
          docsAll.filter(!isInc), arrival = true)
        println(f"SMOKE pipearr_seed      rows=$n%-9d sec=${w0.sec}%.2f ${io(w0)}")
        graft.operators.Materialized.free(seeded.admitted)
        var st = seeded.state
        (0 until 5).foreach { k =>
          val dayDf = docsAll.filter(isInc && dayOf === k).localCheckpoint(true)
          val ((out2, rows), w) = timedDay(st, dayDf, arrival = true)
          st = out2.state
          graft.operators.Materialized.free(out2.admitted)
          println(f"SMOKE pipearr_day$k%-11s rows=$rows%-7d sec=${w.sec}%.2f ${io(w)}")
        }
      }
      // ---- per-day durable state (round 16, VERDICT r15 #2): the
      // batch_id= append seam on the COMPOSED loop — load state from
      // disk before EVERY day (worst-case restart cadence), append the
      // day's fold frames after. Expected: append cost FLAT per day
      // (O(day) partition writes over already-materialized blocks,
      // vs savePipelineState's O(state) rewrite — the seed save below
      // prints that rewrite cost once for contrast). ----
      if (enabled("pipeline_durable")) locally {
        val dDir = s"$out/pipeline_dstate"
        // The arm measures a FRESH ingest: wipe any prior run's store
        // (init fails fast on a populated dir — the re-run safety the
        // operator itself enforces).
        Seq(dDir, s"$out/pipeline_dstate_c").foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(hp, true)
        }
        graft.operators.TrainingData.initDurablePipelineState(spark, dDir,
          substrK = Some(8), semCentroids = Some(cents))
        val ((seeded, n), w0) = timedDay(graft.operators.TrainingData
          .loadDurablePipelineState(spark, dDir), docsAll.filter(!isInc))
        println(f"SMOKE pipedur_seed      rows=$n%-9d sec=${w0.sec}%.2f ${io(w0)}")
        graft.operators.Materialized.free(seeded.admitted)
        val (_, wSave) = measure(
          graft.operators.TrainingData.appendPipelineDay(spark, dDir, 0L, seeded.folds))
        println(f"SMOKE pipedur_seedsave  sec=${wSave.sec}%.2f")
        (1 to 5).foreach { k =>
          val dayDf = docsAll.filter(isInc && dayOf === (k - 1)).localCheckpoint(true)
          val (st, wLoad) = measure(
            graft.operators.TrainingData.loadDurablePipelineState(spark, dDir))
          val ((out2, rows), wDay) = timedDay(st, dayDf)
          val (_, wSave) = measure(
            graft.operators.TrainingData.appendPipelineDay(spark, dDir, k.toLong, out2.folds))
          graft.operators.Materialized.free(out2.admitted)
          println(f"SMOKE pipedur_day${k - 1}%-11s rows=$rows%-7d sec=${wDay.sec}%.2f " +
            f"loadSec=${wLoad.sec}%.2f saveSec=${wSave.sec}%.2f ${io(wLoad, wDay, wSave)}")
        }
        // Generation roll (round 16): the periodic O(state)
        // consolidation of the six folded day partitions into one, then
        // the next load off the compacted store — load cost should DROP
        // (fewer partitions, window rows pre-merged), and the screen
        // keeps working (re-feeding day 5 admits nothing).
        locally {
          val (_, wCompact) = measure(graft.operators.TrainingData.compactPipelineState(
            spark, dDir, s"$out/pipeline_dstate_c", asOfBatch = 5L))
          val (st, wLoad) = measure(graft.operators.TrainingData.loadDurablePipelineState(
            spark, s"$out/pipeline_dstate_c"))
          val ((refeed, rows), wDay) =
            timedDay(st, docsAll.filter(isInc && dayOf === 4).localCheckpoint(true))
          graft.operators.Materialized.free(refeed.admitted)
          println(f"SMOKE pipedur_compact   rows=$rows%-7d sec=${wCompact.sec}%.2f " +
            f"loadSec=${wLoad.sec}%.2f refeedSec=${wDay.sec}%.2f ${io(wCompact, wLoad, wDay)}")
        }
        // Per-day ingest-health cost (round 17, VERDICT r16 #4): the
        // q94/q89 monitors off the loaded store — one band aggregate
        // (4 rows/doc, no text) + one cell aggregate, output ≤
        // topK + nlist rows. The product path attaches this frame per
        // reported day; this row prices it in isolation.
        locally {
          val st = graft.operators.TrainingData.loadDurablePipelineState(spark, dDir)
          val (n, w) = measure(graft.operators.TrainingData.ingestHealth(st).collect().length)
          println(f"SMOKE pipedur_health    rows=$n%-7d sec=${w.sec}%.2f ${io(w)}")
        }
      }
      // ---- composed STREAMING shell at scale (round 17, VERDICT r16
      // #3): a real foreachBatch stream over the SAME five 1% days
      // must cost what the pipeline_durable driver-loop cadence costs
      // (its load+day+save rows) plus nothing — the shell adds exactly
      // one fenced state load per trigger. The seed folds at
      // batch_id = -1 (the negative-id convention the `batch_id < N`
      // retry fence keeps visible to batch 0); `report = true` also
      // lands the per-day health frame in the store's health log, so
      // the measured day cost INCLUDES the monitor in the product
      // path. Day texts round-trip the driver here (MemoryStream's
      // API) — harness plumbing, not an operator pattern.
      if (enabled("pipeline_stream")) locally {
        val dDir = s"$out/pipeline_sstate"
        locally {
          val hp = new org.apache.hadoop.fs.Path(dDir)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(hp, true)
        }
        graft.operators.TrainingData.initDurablePipelineState(spark, dDir,
          substrK = Some(8), semCentroids = Some(cents))
        val ((seeded, n), w0) = measure {
          val s = day(graft.operators.TrainingData
            .loadDurablePipelineState(spark, dDir), docsAll.filter(!isInc))
          val n = s.admitted.count()
          graft.operators.TrainingData.appendPipelineDay(spark, dDir, -1L, s.folds)
          (s, n)
        }
        println(f"SMOKE pipestream_seed   rows=$n%-9d sec=${w0.sec}%.2f")
        graft.operators.Materialized.free(seeded.admitted)
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
        import spark.implicits._
        val stream = MemoryStream[(Long, String, String)]
        val admRows = scala.collection.mutable.Map.empty[Long, Long]
        val q = graft.streaming.StreamingTrainingPipeline.writer(spark, dDir,
          stream.toDF().toDF("doc_id", "text", "lang"), bench,
          budgets = Map("en" -> 300000L * copies),
          minQuality = 0.0, maxRepetition = 1.0, minTokens = 1,
          embeddings = Some(embAll), benchmarkEmbeddings = Some(benchEmb),
          minCosine = 0.9, substrK = Some(8), report = true) { (id, adm) =>
            admRows(id) = adm.count()
            graft.operators.Materialized.free(adm)
          }.start()
        (0 until 5).foreach { k =>
          val rows = docsAll.filter(isInc && dayOf === k)
            .as[(Long, String, String)].collect()
          // The microbatch's jobs run on the stream thread; they finish
          // before processAllAvailable returns, so the window holds them.
          val (_, w) = measure {
            stream.addData(rows.toIndexedSeq)
            q.processAllAvailable()
          }
          println(f"SMOKE pipestream_day$k%-8s rows=${admRows.getOrElse(k.toLong, -1L)}%-7d " +
            f"sec=${w.sec}%.2f ${io(w)}")
        }
        q.stop()
        val healthRows = spark.read.parquet(s"$dDir/health")
          .groupBy("batch_id").count().count()
        println(f"SMOKE pipestream_health batches=$healthRows%d")
      }
      // ---- chunked seed backfill (round 16, the 1000×-class composed
      // cell): advanceTrainingSet is a DAY operator — a single-call
      // corpus seed makes its O(day) fold checkpoints O(corpus)
      // (measured: 5M docs exhaust a 48 GB heap at the window fold).
      // The production shape is to BACKFILL the seed as bounded
      // id-monotone chunks (replay ≡ single-call, the per-family
      // contract), which is what this arm measures: seed in ~1M-doc
      // chunks through the durable store, then normal 1% days.
      // Chunk token mass (~40M) sits above BroadcastIncrementMaxTokens
      // on purpose — the backfill exercises the unhinted shuffle-join
      // screens, the days the hinted ones.
      if (enabled("pipeline_backfill")) locally {
        val dDir = s"$out/pipeline_bstate"
        locally {
          val hp = new org.apache.hadoop.fs.Path(dDir)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(hp, true)
        }
        graft.operators.TrainingData.initDurablePipelineState(spark, dDir,
          substrK = Some(8), semCentroids = Some(cents))
        val nChunks = 5
        (0 until nChunks).foreach { c =>
          val lo = nDocs.toDouble * c / nChunks
          val hi = nDocs.toDouble * (c + 1) / nChunks
          val chunk = docsAll.filter(!isInc &&
            col("doc_id") >= lo && col("doc_id") < hi).localCheckpoint(true)
          val ((out2, rows), w) = timedDay(
            graft.operators.TrainingData.loadDurablePipelineState(spark, dDir), chunk)
          val (_, wSave) = measure(
            graft.operators.TrainingData.appendPipelineDay(spark, dDir, c.toLong, out2.folds))
          graft.operators.Materialized.free(out2.admitted)
          println(f"SMOKE pipebf_chunk$c%-9s rows=$rows%-9d sec=${w.sec}%.2f " +
            f"saveSec=${wSave.sec}%.2f ${io(w, wSave)}")
        }
        (0 until 5).foreach { k =>
          val dayDf = docsAll.filter(isInc && dayOf === k).localCheckpoint(true)
          val ((out2, rows), w) = timedDay(
            graft.operators.TrainingData.loadDurablePipelineState(spark, dDir), dayDf)
          val (_, wSave) = measure(graft.operators.TrainingData.appendPipelineDay(spark, dDir,
            (nChunks + k).toLong, out2.folds))
          graft.operators.Materialized.free(out2.admitted)
          println(f"SMOKE pipebf_day$k%-11s rows=$rows%-7d sec=${w.sec}%.2f ${io(w, wSave)}")
        }
        // Generation roll at the backfilled scale (round 17, VERDICT
        // r16 #1's final cell): consolidate the 5 seed chunks + 5 days
        // into one generation, then prove the next load DROPS in cost
        // and the screen still holds (a re-fed day admits nothing).
        locally {
          val cDir = s"$out/pipeline_bstate_c"
          locally {
            val hp = new org.apache.hadoop.fs.Path(cDir)
            hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(hp, true)
          }
          val (_, wCompact) = measure(graft.operators.TrainingData.compactPipelineState(
            spark, dDir, cDir, asOfBatch = (nChunks + 4).toLong))
          val (st, wLoad) = measure(
            graft.operators.TrainingData.loadDurablePipelineState(spark, cDir))
          val ((refeed, rows), wDay) =
            timedDay(st, docsAll.filter(isInc && dayOf === 4).localCheckpoint(true))
          graft.operators.Materialized.free(refeed.admitted)
          println(f"SMOKE pipebf_compact    rows=$rows%-7d sec=${wCompact.sec}%.2f " +
            f"loadSec=${wLoad.sec}%.2f refeedSec=${wDay.sec}%.2f ${io(wCompact, wLoad, wDay)}")
        }
      }
      if (enabled("pipeline_days")) locally {
        val ((seeded, n), w0) = timedDay(graft.operators.TrainingData.initPipelineState(spark,
          substrK = Some(8), semCentroids = Some(cents)),
          docsAll.filter(!isInc))
        println(f"SMOKE pipeline_seed     rows=$n%-9d sec=${w0.sec}%.2f ${io(w0)}")
        graft.operators.Materialized.free(seeded.admitted)
        val stDir = s"$out/pipeline_state"
        val (_, wSave) = measure(
          graft.operators.TrainingData.savePipelineState(spark, seeded.state, stDir))
        println(f"SMOKE pipeline_save     sec=${wSave.sec}%.2f")
        var st = graft.operators.TrainingData.loadPipelineState(spark, stDir)
        (0 until 5).foreach { k =>
          val dayDf = docsAll.filter(isInc && dayOf === k).localCheckpoint(true)
          val ((out2, rows), w) = timedDay(st, dayDf)
          st = out2.state
          graft.operators.Materialized.free(out2.admitted)
          println(f"SMOKE pipeline_day$k%-10s rows=$rows%-7d sec=${w.sec}%.2f ${io(w)}")
        }
      }
    }
    // Semantic-staged pipeline (round 13): the SAME build but with the
    // optional 4b/4c stages active — semantic decontam against the
    // 1-in-40 embedding slice, then the q66 sampled-fit IVF dedup —
    // both running on the lexically-clean survivors. The embeddings
    // table shares the documents' planted-family law, so the semantic
    // dedup does real work (≈ corpus/7 · 8/9 non-keepers) and the
    // stage's wall should track the standalone semantic_dedup smoke
    // plus the lexical pipeline (its two dominant parts).
    var lastSem: DataFrame = null
    run("training_semantic") {
      if (lastSem != null) graft.operators.Materialized.free(lastSem)
      val docsAll = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text", "lang")
      val bench = docsAll.filter(col("doc_id") < 500).select("text")
      val embAll = spark.read.parquet(s"$out/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      // FIXED-size benchmark embeddings (500 vectors at every scale),
      // mirroring the lexical bench above and for the same reason: an
      // eval set does not grow with the training corpus. The first cut
      // scaled the slice with the corpus (1-in-40 → 12.5k vectors at
      // 100×) and paid twice — a corpus × bench decontam join growing
      // quadratically, and enough memory pressure to trip Spark's
      // sorter-spill NPE in the downstream stage.
      val benchEmb = embAll.filter(col("doc_id") < 500)
        .select("embedding")
      // minCosine = 0.9, not the testdata queries' 0.35: this corpus's
      // 64-dim noise vectors cosine up to ~0.54 against SOME member of
      // a 12.5k-vector benchmark slice (max of n draws grows with
      // √ln n), so 0.35 would decontaminate the ENTIRE corpus — the
      // first cut of this stage did exactly that and crashed the IVF
      // fit on zero rows (now guarded). 0.9 is the production question
      // ("is this a near-copy of an eval item?") and the planted
      // families sit at ~0.999, so both stages do real, bounded work.
      val ts = graft.operators.TrainingData.buildTrainingSet(spark, docsAll, bench,
        budgets = Map("en" -> 100000L * copies), seqLen = 2048,
        minQuality = 0.0, maxRepetition = 1.0, minTokens = 1,
        embeddings = Some(embAll), benchmarkEmbeddings = Some(benchEmb),
        minCosine = 0.9)
      graft.operators.Materialized.free(ts.packed)
      lastSem = ts.selected
      ts.selected
    }
    if (lastSem != null) { graft.operators.Materialized.free(lastSem); lastSem = null }
    // The SAME semantic-staged build under the coarse-quantizer tree
    // assign (semTreeAssign): the 100×→300× flat-assign run measured
    // wall 3.40× for 3× data, and the attribution is the O(N·nlist)
    // assignment (nlist ∝ survivors ⇒ O(N²) along the scaling path —
    // the exact term the standalone semantic_dedup decade named). The
    // tree cuts it to O(N·√nlist); this arm measures the mitigation
    // END-TO-END so "reachable from the pipeline" is a number, not a
    // parameter. Selected-count law is NOT asserted identical to the
    // flat arm (boundary cells differ by the documented approximation);
    // the planted-family mass keeps it within a few percent.
    var lastSemT: DataFrame = null
    run("training_semantic_tree") {
      if (lastSemT != null) graft.operators.Materialized.free(lastSemT)
      val docsAll = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text", "lang")
      val bench = docsAll.filter(col("doc_id") < 500).select("text")
      val embAll = spark.read.parquet(s"$out/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val benchEmb = embAll.filter(col("doc_id") < 500).select("embedding")
      val ts = graft.operators.TrainingData.buildTrainingSet(spark, docsAll, bench,
        budgets = Map("en" -> 100000L * copies), seqLen = 2048,
        minQuality = 0.0, maxRepetition = 1.0, minTokens = 1,
        embeddings = Some(embAll), benchmarkEmbeddings = Some(benchEmb),
        minCosine = 0.9, semTreeAssign = Some(true))
      graft.operators.Materialized.free(ts.packed)
      lastSemT = ts.selected
      ts.selected
    }
    if (lastSemT != null) { graft.operators.Materialized.free(lastSemT); lastSemT = null }
    // BPE-counted pipeline (round 13, VERDICT r12 #2 / r11 #3): the
    // SAME buildTrainingSet call but with budgets measured in TRUE
    // merge-replay BPE tokens via the `tokenCounter` seam — budgeting,
    // packing, and sharding then all run on real tokenizer counts, the
    // last unproven leg of the "laws hold under BPE" claim (counting
    // alone was measured at 30× in round 11). The merge table is a
    // fixed 110-rank list over the synthetic alphabet (digit-digit
    // pairs then 'w'+digit): deterministic, vocabulary-shaped (a
    // config, not data), and every "w1234" word replays through ~4
    // merge applications, so the per-doc cost is the production
    // shape — O(text × merges scanned) inside whole-stage codegen.
    // Expected law: wall tracks the whitespace pipeline plus a
    // linear-in-corpus-bytes tokenize term on the post-dedup docs
    // (the counter runs AFTER dedup + decontam by buildTrainingSet's
    // contract — only surviving rows pay it); the selected-doc count
    // differs from the whitespace run only through the budget's new
    // unit (BPE tokens/doc ≈ 4-5× whitespace tokens on this corpus,
    // so the same numeric budget fills in fewer docs).
    if (enabled("training_bpe")) {
      val bpeMerges: Seq[(String, String)] =
        (for (a <- '0' to '9'; b <- '0' to '9') yield (a.toString, b.toString)) ++
          ('0' to '9').map(d => ("w", d.toString))
      var lastBpe: graft.operators.TrainingData.TrainingSet = null
      run("training_bpe") {
        if (lastBpe != null) {
          graft.operators.Materialized.free(lastBpe.selected)
          graft.operators.Materialized.free(lastBpe.packed)
        }
        val docsAll = spark.read.parquet(s"$out/documents.parquet")
          .select("doc_id", "text", "lang")
        val bench = docsAll.filter(col("doc_id") < 500).select("text")
        val ts = graft.operators.TrainingData.buildTrainingSet(spark, docsAll, bench,
          budgets = Map("en" -> 100000L * copies), seqLen = 2048,
          minQuality = 0.0, maxRepetition = 1.0, minTokens = 1,
          tokenCounter = Some(graft.operators.Tokenizer.bpeTokenCount(
            spark, bpeMerges, col("text"))))
        lastBpe = ts
        ts.selected
      }
      if (lastBpe != null) {
        // Downstream-law probe before freeing: the packed sequences
        // must conserve the selected BPE token mass (packing's
        // invariant, here verified at scale in the BPE unit), and the
        // budget cut must hold in BPE tokens.
        val selTok = lastBpe.selected.agg(sum(col("n_tokens"))).head().getLong(0)
        val packed = lastBpe.packed.count()
        println(s"SMOKE training_bpe selectedTokensBPE=$selTok " +
          s"packedSeqs=$packed budget=${100000L * copies}")
        graft.operators.Materialized.free(lastBpe.selected)
        graft.operators.Materialized.free(lastBpe.packed)
      }
    }
    // Event-time family at 1M events / 10× users (round 8 — the family
    // the encoding drift broke; now smoke-covered at scale): q32 is the
    // stateful sessionization path, q15 the per-user interval join.
    run("q32_session_window") { SparkEntry.queries("q32_session_window")(spark, out) }
    run("q15_join_range_theta") { SparkEntry.queries("q15_join_range_theta")(spark, out) }
    // convergence bound: the 10× pair graph must settle within 5 rounds
    // (dense near-dup components ⇒ tiny diameter); dedupClusters throws
    // if labels are still moving at maxIter, so reaching the count IS
    // the assertion.
    // localSolveEdges = 0 pins the DISTRIBUTED loop: the round-10 local
    // tail solve would otherwise absorb the remainder and the round
    // bound this smoke exists to measure would be vacuously true.
    if (enabled("q60_tail")) {
      val pairs = graft.ops.Extended.minhashPairs(spark, out).select(col("a"), col("b"))
      val clusters = graft.operators.Approx.dedupClusters(pairs, maxIter = 5,
        localSolveEdges = 0L).count()
      println(s"SMOKE q60 converged within 5 rounds ($clusters labeled docs)")
    }
    spark.stop()
  }
}
