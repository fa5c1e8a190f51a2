package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.{Events, Tables}
import graft.streaming.Streaming

/** Structured Streaming behavior beyond the tumbling-equivalence test in
  * CapabilitySpec: sliding-window equivalence, watermark late-data
  * dropping, and streaming session windows (SURVEY.md §2.9, §5.4).
  * All tests use MemoryStream + processAllAvailable — no wall-clock waits.
  */
class StreamingSpec extends SparkSpec {

  private type Ev = (Long, Timestamp, Long, String, Double)

  private def eventRows(sf: String): Array[Ev] = {
    import spark.implicits._
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().sortBy(_._2.getTime)
  }

  private def runToMemory(name: String, out: org.apache.spark.sql.DataFrame,
                          mode: String = "complete")(feed: => Unit): Unit = {
    val q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try { feed; q.processAllAvailable() } finally q.stop()
  }

  test("streaming sliding window == batch q31") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Ev]
    runToMemory("sliding_t",
      Streaming.slidingCounts(stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))) {
      stream.addData(eventRows(sf0001).toSeq)
    }
    val streamed = spark.table("sliding_t")
      .select(col("win_start").cast("timestamp"), col("n"), col("sv"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Events.q31SlidingWindow(spark, sf0001)
      .select(col("win_start").cast("timestamp"), col("n"), col("sv"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
  }

  test("streaming session windows cover every event exactly once") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Ev]
    runToMemory("session_t",
      Streaming.sessionAggregates(stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))) {
      stream.addData(eventRows(sf0001).toSeq)
    }
    val out = spark.table("session_t")
    val nEvents = out.agg(sum("n_events")).head.getLong(0)
    assert(nEvents === Tables.events(spark, sf0001).count())
    // session windows of one user never overlap
    val sessions = out.select("user_id", "sess_start", "sess_end")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      .groupBy(_._1)
    sessions.values.foreach { ss =>
      val sorted = ss.sortBy(_._2.getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(!b._2.before(a._3), s"overlap: $a / $b")
        case _ =>
      }
    }
  }

  test("watermark drops late data in update mode") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Ev]
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val q = Streaming.tumblingCounts(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("late_t").outputMode("append").start()
    try {
      // batch 1: events up to 11:30 → watermark advances to 11:20
      stream.addData(Seq[Ev]((1L, ts(0), 1L, "click", 1.0), (2L, ts(30), 1L, "click", 1.0)))
      q.processAllAvailable()
      stream.addData(Seq[Ev]((3L, Timestamp.valueOf("2024-01-01 11:30:00"), 1L, "click", 1.0)))
      q.processAllAvailable()
      // batch 3: an event from 10:0x — far behind the watermark → dropped
      stream.addData(Seq[Ev]((4L, ts(5), 1L, "click", 9.0)))
      q.processAllAvailable()
      stream.addData(Seq[Ev]((5L, Timestamp.valueOf("2024-01-01 13:00:00"), 1L, "click", 1.0)))
      q.processAllAvailable()
      val lastProgress = q.recentProgress.map(_.stateOperators.headOption.map(_.numRowsDroppedByWatermark).getOrElse(0L)).sum
      assert(lastProgress >= 1L, s"expected the 10:05 event to be dropped by the watermark, got $lastProgress")
    } finally q.stop()
  }

  test("stream-stream interval join == the same join on batch inputs") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = eventRows(sf0001)
    val viewRows = rows.filter(_._4 == "view").toSeq
    val purchaseRows = rows.filter(_._4 == "purchase").toSeq
    val vStream = MemoryStream[Ev]
    val pStream = MemoryStream[Ev]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    // Stream-stream joins emit only in append mode: a matched pair is
    // final once both watermarks pass it, never updated.
    runToMemory("ssj_t",
      Streaming.viewPurchaseJoin(
        vStream.toDF().toDF(cols: _*), pStream.toDF().toDF(cols: _*)),
      mode = "append") {
      vStream.addData(viewRows)
      pStream.addData(purchaseRows)
    }
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("view_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = key(spark.table("ssj_t"))
    val batch = key(Streaming.viewPurchaseJoin(
      Tables.events(spark, sf0001).filter(col("event_type") === "view")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
                col("user_id"), col("event_type"), col("value")),
      Tables.events(spark, sf0001).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
                col("user_id"), col("event_type"), col("value"))))
    assert(streamed.nonEmpty, "interval join produced no pairs — dataset regression?")
    assert(streamed === batch)
  }

  test("stream-static enrichment join == the same join on batch inputs") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_mktsegment"))
    val stream = MemoryStream[Ev]
    runToMemory("enrich_t",
      Streaming.enrichWithDimension(
        stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        dim, "user_id", "c_custkey"),
      mode = "append") {
      stream.addData(eventRows(sf0001).toSeq)
    }
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("c_mktsegment"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val streamed = key(spark.table("enrich_t"))
    val batch = key(Streaming.enrichWithDimension(
      Tables.events(spark, sf0001)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
                col("user_id"), col("event_type"), col("value")),
      dim, "user_id", "c_custkey"))
    assert(streamed.exists(_._2.nonEmpty), "no event matched a dimension row")
    assert(streamed === batch)
  }

  test("left-outer stream-stream join flushes unmatched views after the watermark passes") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = eventRows(sf0001)
    val viewRows = rows.filter(_._4 == "view").toSeq
    val purchaseRows = rows.filter(_._4 == "purchase").toSeq
    val maxTs = rows.map(_._2.getTime).max
    val vStream = MemoryStream[Ev]
    val pStream = MemoryStream[Ev]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = Streaming.viewPurchaseJoin(
        vStream.toDF().toDF(cols: _*), pStream.toDF().toDF(cols: _*), "left_outer")
      .writeStream.format("memory").queryName("ssj_outer_t").outputMode("append").start()
    try {
      vStream.addData(viewRows)
      pStream.addData(purchaseRows)
      q.processAllAvailable()
      // Outer null rows wait for BOTH watermarks to pass the join window;
      // a far-future sentinel on each stream advances them, and the
      // sentinel view itself (still inside its own open window) stays
      // held back — excluded from the assertion set below.
      val flush = Timestamp.from(java.time.Instant.ofEpochMilli(maxTs + 3600L * 1000))
      vStream.addData(Seq[Ev]((-1L, flush, -1L, "view", 0.0)))
      pStream.addData(Seq[Ev]((-2L, flush, -2L, "purchase", 0.0)))
      q.processAllAvailable()
      val out = spark.table("ssj_outer_t").filter(col("view_id") >= 0)
      val batch = Streaming.viewPurchaseJoin(
        Tables.events(spark, sf0001).filter(col("event_type") === "view")
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
                  col("user_id"), col("event_type"), col("value")),
        Tables.events(spark, sf0001).filter(col("event_type") === "purchase")
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
                  col("user_id"), col("event_type"), col("value")),
        "left_outer")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select(col("view_id"), col("purchase_id"))
          .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      val streamed = key(out)
      assert(streamed.exists(_._2.isEmpty), "no unmatched view flushed as an outer null row")
      assert(streamed === key(batch))
    } finally q.stop()
  }

  test("stateful aggregation is correct under the RocksDB state store provider") {
    // The large-state path: HDFSBackedStateStore holds state on the
    // executor heap (fine for small keyspaces); at 100 TB/day the state
    // store must spill — RocksDB keeps it off-heap/on-disk with
    // incremental checkpointing. Same query, same answer, different
    // provider is exactly the guarantee worth pinning.
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = scala.util.Try(spark.conf.get(key)).toOption
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Ev]
      runToMemory("rocksdb_t",
        Streaming.tumblingCounts(stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))) {
        stream.addData(eventRows(sf0001).toSeq)
      }
      val streamed = spark.table("rocksdb_t")
        .select(col("win").cast("timestamp"), col("event_type"), col("n"), col("sv"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = Events.q30TumblingWindow(spark, sf0001)
        .select(col("win").cast("timestamp"), col("event_type"), col("n"), col("sv"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed.nonEmpty && streamed === batch)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("flatMapGroupsWithState sessionization matches the q32 session windows") {
    val out = graft.streaming.StatefulOps.sessionize(spark, Tables.events(spark, sf0001)).toDF()
    val expected = Events.q32SessionWindow(spark, sf0001)
    assert(out.count() === expected.count())
    val a = out.select(col("user_id"), col("sess_start").cast("timestamp"),
      col("sess_end").cast("timestamp"), col("n_events").cast("long"), col("sv"))
    val b = expected.select(col("user_id"), col("sess_start").cast("timestamp"),
      col("sess_end").cast("timestamp"), col("n_events"), col("sv"))
    assert(a.exceptAll(b).count() === 0, "stateful sessions differ from window-formulation sessions")
  }

  private type Doc = (Long, Timestamp, String)

  private def docRows(sf: String, t0: Timestamp): Array[Doc] = {
    import spark.implicits._
    Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().map { case (id, tx) => (id, t0, tx) }
  }

  private def batchSimhashPairs(sf: String): Set[(Long, Long, Int)] =
    graft.operators.Approx.simHashNearDup(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def streamedPairs(table: String): Set[(Long, Long, Int)] =
    spark.table(table).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** Feeds each batch as its OWN micro-batch (processAllAvailable between
    * adds) — addData calls without an intervening trigger coalesce into
    * one micro-batch, which would defeat any cross-batch or
    * watermark-advance claim. */
  private def runDocBatches(name: String, stream: MemoryStream[Doc],
                            batches: Seq[Seq[Doc]], horizon: String = "10 minutes"): Unit = {
    val out = graft.streaming.StreamingDedup.simhashNearDupStream(
      stream.toDF().toDF("doc_id", "ts", "text"), horizon = horizon).toDF()
    val q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  test("streaming simhash near-dup == batch q44 pair set (single batch)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val stream = MemoryStream[Doc]
    runToMemory("snd_single",
      graft.streaming.StreamingDedup.simhashNearDupStream(
        stream.toDF().toDF("doc_id", "ts", "text")).toDF(), mode = "append") {
      stream.addData(docRows(sf0001, t0).toSeq)
    }
    val batch = batchSimhashPairs(sf0001)
    assert(batch.nonEmpty, "fixture must contain simhash near-dups")
    assert(streamedPairs("snd_single") === batch)
  }

  test("streaming simhash near-dup finds cross-micro-batch pairs (state carries)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val rows = docRows(sf0001, t0)
    val (even, odd) = rows.partition(_._1 % 2 == 0)
    val stream = MemoryStream[Doc]
    runDocBatches("snd_split", stream, Seq(even.toSeq, odd.toSeq))
    val batch = batchSimhashPairs(sf0001)
    // the interesting half: pairs whose sides arrived in DIFFERENT batches
    assert(batch.exists(p => p._1 % 2 != p._2 % 2), "fixture must have cross-parity pairs")
    assert(streamedPairs("snd_split") === batch)
  }

  test("streaming simhash near-dup is identical under the RocksDB state store provider") {
    // The ingest-dedup state (band-bucket membership over the watermark
    // horizon) is exactly the state that outgrows executor heaps at
    // 100 TB/day — same query, same pair set under the spill-capable
    // provider is the guarantee worth pinning.
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = scala.util.Try(spark.conf.get(key)).toOption
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
      val rows = docRows(sf0001, t0)
      val (even, odd) = rows.partition(_._1 % 2 == 0)
      val stream = MemoryStream[Doc]
      runDocBatches("snd_rocksdb", stream, Seq(even.toSeq, odd.toSeq))
      assert(streamedPairs("snd_rocksdb") === batchSimhashPairs(sf0001))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("streaming simhash near-dup expires state past the watermark horizon") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val stream = MemoryStream[Doc]
    runDocBatches("snd_expiry", stream, Seq(
      // batch 1: the original document
      Seq((1L, Timestamp.valueOf("2026-01-01 00:00:00"), dupText)),
      // batch 2: an unrelated document 50 min later — advances the
      // watermark to 00:40, past doc 1's retention
      Seq((2L, Timestamp.valueOf("2026-01-01 00:50:00"),
        "completely different content about spark physical plans and shuffles")),
      // batch 3: an exact duplicate of doc 1, one hour later — doc 1
      // must already be pruned, so NO pair comes out
      Seq((3L, Timestamp.valueOf("2026-01-01 01:00:00"), dupText))))
    assert(streamedPairs("snd_expiry") === Set.empty[(Long, Long, Int)])
  }

  test("streaming packing across microbatches == batch packSequences") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingPacking
    // Real token counts from the sf0.001 documents table, fed on one
    // shard in doc_id order SPLIT ACROSS THREE MICROBATCHES — the state
    // store must carry the mid-sequence fill position between batches
    // (doc streams rarely align to sequence boundaries), and the result
    // must equal the batch operator's slice map row-for-row.
    val sized = graft.ops.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), w => w =!= ""))
          .cast("long").as("n_tokens"))
      .collect().map(r => (0L, r.getLong(0), r.getLong(1))).sortBy(_._2)
    val stream = MemoryStream[(Long, Long, Long)]
    runToMemory("pack_t",
      StreamingPacking.packStream(
        stream.toDF().toDF("shard", "doc_id", "n_tokens"), seqLen = 256L).toDF(),
      mode = "append") {
      sized.grouped(math.max(1, sized.length / 3)).foreach { b =>
        stream.addData(b.toSeq)
        // One microbatch per chunk: without this, all chunks coalesce
        // into a single batch and the cross-batch state is never used.
        spark.streams.active.foreach(_.processAllAvailable())
      }
    }
    val streamed = spark.table("pack_t")
      .select("seq_id", "doc_id", "doc_offset", "seq_offset", "slice_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._4))
    val batch = graft.operators.Packing.packSequences(
        sized.map(t => (t._2, t._3)).toSeq.toDF("doc_id", "n_tokens"), 256L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._4))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming payload packing across microbatches == batch packTokenIds") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingPacking
    // Real vocab_tokenize id streams from the sf0.001 corpus, one
    // shard, doc_id order, THREE microbatches: the state store carries
    // the partial sequence's ids (not just a position) between batches,
    // and every COMPLETE emitted sequence must equal the batch
    // materializer's — the final partial stays in state by design.
    val docsIds = graft.ops.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.operators.Tokenizer.tokenIds(spark,
          graft.ops.Extended.Q70Vocab, col("text")).as("token_ids"))
    val ordered = docsIds.collect()
      .map(r => (0L, r.getLong(0), r.getSeq[Long](1))).sortBy(_._2)
    val stream = MemoryStream[(Long, Long, Seq[Long])]
    runToMemory("packids_t",
      StreamingPacking.packIdsStream(
        stream.toDF().toDF("shard", "doc_id", "token_ids"), seqLen = 256L).toDF(),
      mode = "append") {
      ordered.grouped(math.max(1, ordered.length / 3)).foreach { b =>
        stream.addData(b.toSeq)
        spark.streams.active.foreach(_.processAllAvailable())
      }
    }
    val streamed = spark.table("packids_t")
      .select("seq_id", "token_ids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    val batch = graft.operators.Packing.packTokenIds(
        ordered.map(t => (t._2, t._3)).toSeq.toDF("doc_id", "token_ids"), 256L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    assert(streamed.nonEmpty)
    // The stream holds the last (partial) sequence open; batch emits it.
    val batchComplete = batch.filter(_._2.length == 256)
    assert(streamed.toSeq === batchComplete.toSeq,
      "streamed complete sequences diverged from the batch materializer")
    assert(batch.length === batchComplete.length + 1 &&
      batch.last._2.length < 256,
      "exactly the final partial sequence should be withheld by the stream")
  }

  test("streaming quota fill across microbatches == batch quotaSampleBudgets") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingQuota
    // The real sf0.001 corpus with q69's budgets and order key, fed in
    // (rk, doc_id) order SPLIT ACROSS THREE MICROBATCHES: the state
    // store must carry each group's (tokens, picks) pair between
    // batches — budgets usually fill mid-stream, not on a batch
    // boundary — and the selection must equal the batch operator's
    // row-for-row (including fr's whitelist exclusion).
    val budgets = Map("en" -> 3000L, "de" -> 800L, "es" -> 500L, "zh" -> 1200L)
    val toks = filter(split(col("text"), "\\s+"), w => w =!= "")
    val corpus = graft.ops.Tables.documents(spark, sf0001)
      .select(col("lang"), col("doc_id"), size(toks).cast("long").as("n_tokens"),
        md5(concat_ws(":", lit("mix"), col("doc_id").cast("string"))).as("rk"))
    val ordered = corpus.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._4, t._2))
    val stream = MemoryStream[(String, Long, Long, String)]
    runToMemory("quota_t",
      StreamingQuota.quotaStreamBudgets(
        stream.toDF().toDF("grp", "doc_id", "n_tokens", "rk"), budgets).toDF(),
      mode = "append") {
      ordered.grouped(math.max(1, ordered.length / 3)).foreach { b =>
        stream.addData(b.toSeq)
        spark.streams.active.foreach(_.processAllAvailable())
      }
    }
    val streamed = spark.table("quota_t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    val batch = graft.operators.Sampling.quotaSampleBudgets(corpus, budgets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(streamed.nonEmpty)
    assert(!streamed.exists(_._2 == "fr"), "whitelist must exclude fr")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming quota guards: negative counts and duplicate keys fail loudly") {
    import spark.implicits._
    import graft.streaming.StreamingQuota
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val neg = Seq(("en", 1L, -5L, "k1"))
      .toDF("grp", "doc_id", "n_tokens", "rk")
    val exNeg = intercept[Throwable] {
      StreamingQuota.quotaStream(neg, 100L).collect()
    }
    assert(messages(exNeg).exists(_.contains("n_tokens must be >= 0")),
      s"expected the n guard, got: $exNeg")
    val dup = Seq(("en", 1L, 5L, "k1"), ("en", 1L, 7L, "k1"))
      .toDF("grp", "doc_id", "n_tokens", "rk")
    val exDup = intercept[Throwable] {
      StreamingQuota.quotaStream(dup, 100L).collect()
    }
    assert(messages(exDup).exists(_.contains("duplicate (rk, doc_id)")),
      s"expected the duplicate-key guard, got: $exDup")
  }

  test("streaming source cap across microbatches == batch q81SourceCap") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingCap
    // The real sf0.001 corpus with q81's exact order key, fed in
    // (rk, doc_id) order SPLIT ACROSS THREE MICROBATCHES: the state
    // store must carry each source's (kept, seen) pair between batches
    // — a source's cap usually fills mid-stream, not on a batch
    // boundary — and the selection must equal the batch window
    // operator's row-for-row INCLUDING src_rank.
    val k = graft.ops.Extended.Q81CapPerSource.toLong
    val corpus = graft.ops.Tables.documents(spark, sf0001)
      .select(col("source"), col("doc_id"),
        md5(concat_ws(":", lit("cap"), col("doc_id").cast("string"))).as("rk"))
    val ordered = corpus.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._3, t._2))
    val stream = MemoryStream[(String, Long, String)]
    runToMemory("cap_t",
      StreamingCap.capStream(
        stream.toDF().toDF("source", "doc_id", "rk"), k).toDF(),
      mode = "append") {
      ordered.grouped(math.max(1, ordered.length / 3)).foreach { b =>
        stream.addData(b.toSeq)
        spark.streams.active.foreach(_.processAllAvailable())
      }
    }
    val streamed = spark.table("cap_t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    val batch = graft.ops.Extended.q81SourceCap(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "streamed cap selection diverged from the batch WindowGroupLimit form")
    // Every source must be capped AT k (the testdata gives each source
    // more than k docs, so the cap genuinely bites everywhere).
    val perSource = streamed.groupBy(_._2).view.mapValues(_.length)
    assert(perSource.values.forall(_ == k.toInt),
      s"expected exactly $k rows per source, got $perSource")
  }

  test("streaming cap quotas: whitelist exclusion and per-source limits") {
    import spark.implicits._
    import graft.streaming.StreamingCap
    // Batch-mode execution of the streaming operator (each source
    // complete in one call): quota map semantics — per-source limits,
    // absent sources dropped entirely.
    val docs = (1L to 10L).map(i => ("web", i, f"k$i%02d")) ++
      (11L to 20L).map(i => ("books", i, f"k$i%02d")) ++
      (21L to 25L).map(i => ("wiki", i, f"k$i%02d"))
    val out = StreamingCap.capStreamQuotas(
        docs.toDF("source", "doc_id", "rk"),
        Map("web" -> 3L, "books" -> 30L))
      .collect().map(o => (o.doc_id, o.source, o.src_rank)).sortBy(_._1)
    assert(out.count(_._2 == "web") === 3, "web capped at its quota")
    assert(out.count(_._2 == "books") === 10, "books under-quota keeps all")
    assert(!out.exists(_._2 == "wiki"), "absent source must be whitelisted out")
    // Ranks are the (rk, doc_id) fill positions.
    assert(out.filter(_._2 == "web").map(_._3).toSeq === Seq(1L, 2L, 3L))
  }

  test("streaming cap fails loudly on a duplicate (rk, doc_id) key") {
    import spark.implicits._
    import graft.streaming.StreamingCap
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val dup = Seq(("web", 1L, "k1"), ("web", 1L, "k1"))
      .toDF("source", "doc_id", "rk")
    val ex = intercept[Throwable] {
      StreamingCap.capStream(dup, 5L).collect()
    }
    assert(messages(ex).exists(_.contains("duplicate (rk, doc_id)")),
      s"expected the duplicate-key guard, got: $ex")
  }

  test("streaming packing fails loudly on a duplicate doc_id (batch-twin guard)") {
    import spark.implicits._
    import graft.streaming.StreamingPacking
    // Same contract as packSequences' assert_true lag-guard: silently
    // packing a replayed row would shift every later sequence cut.
    val dup = Seq((0L, 1L, 5L), (0L, 1L, 5L), (0L, 2L, 3L))
      .toDF("shard", "doc_id", "n_tokens")
    val ex = intercept[Throwable] {
      StreamingPacking.packStream(dup, seqLen = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("duplicate doc_id")),
      s"expected the duplicate-id guard, got: $ex")
  }

  test("streaming incremental dedup across microbatches == batch q86") {
    import spark.implicits._
    // The full sf0.001 increment fed in doc_id order across three
    // microbatches must reproduce the single-shot q86 verdicts
    // row-for-row — including dup_new pairs whose two docs arrive in
    // DIFFERENT batches (the state the foreachBatch twin carries).
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) >= 7
    val incDocs = docs.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = graft.streaming.StreamingIncrementalDedup.start(spark,
      docs.filter(!isNew), stream.toDF().toDF("doc_id", "text")) { (_, v) =>
        v.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
    }
    try {
      incDocs.grouped(math.max(1, incDocs.length / 3)).foreach { b =>
        stream.addData(b.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val batch = SparkEntry.queries("q86_incremental_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val streamed = got.toArray(Array.empty[(Long, String)]).sortBy(_._1)
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq,
      "streamed incremental-dedup verdicts diverged from the batch screen")
  }

  test("streaming incremental dedup: cross-batch dup_new and dup_old priority") {
    import spark.implicits._
    // Crafted corpus (IncrementalDedupSpec's) split so the interesting
    // pairs SPAN batches: 37's only mate (27) is one batch earlier →
    // dup_new from state, not from within-batch pairing; 67 pairs the
    // static index (doc 1) AND batch-1's 17 → dup_old wins.
    val index = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batches = Seq(
      Seq((17L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (27L, "red orange yellow green blue indigo violet black white grey")),
      Seq((37L, "red orange yellow green blue indigo violet black white grey"),
        (47L, "red orange yellow green blue lion tiger bear wolf fox")),
      Seq((57L, ""),
        (67L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")))
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = graft.streaming.StreamingIncrementalDedup.start(spark, index,
      stream.toDF().toDF("doc_id", "text")) { (_, v) =>
        v.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
    }
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
    assert(got.toArray(Array.empty[(Long, String)]).toMap === Map(
      17L -> "dup_old", 27L -> "keep", 37L -> "dup_new",
      47L -> "keep", 57L -> "keep", 67L -> "dup_old"))
  }

  test("streaming incremental SEMANTIC dedup across microbatches == batch q88") {
    import spark.implicits._
    // The embedding-space twin of the q86 stream test: the full sf0.001
    // vector increment fed in vec_id order across three microbatches
    // must reproduce the single-shot batch screen row-for-row —
    // including dup_new pairs whose two vectors arrive in DIFFERENT
    // batches (the seen-state the foreachBatch twin carries). The batch
    // operator itself equals declared q88 under these centroids
    // (IncrementalDedupSpec), so stream ≡ q88 transitively.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val isNew = pmod(col("vec_id"), lit(10)) >= 7
    val index = graft.operators.Approx.buildSemanticIndex(
      emb.filter(!isNew),
      graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble)))
    val incVecs = emb.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Float])]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = graft.streaming.StreamingIncrementalSemantic.start(spark, index,
      stream.toDF().toDF("vec_id", "embedding")) { (_, v) =>
        v.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
    }
    try {
      incVecs.grouped(math.max(1, incVecs.length / 3)).foreach { b =>
        stream.addData(b.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val batch = graft.operators.Approx
      .incrementalSemanticDedup(index, emb.filter(isNew))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val streamed = got.toArray(Array.empty[(Long, String)]).sortBy(_._1)
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq,
      "streamed semantic verdicts diverged from the batch screen")
  }

  test("streaming incremental dedup: stateDir survives a stream restart") {
    import spark.implicits._
    // What a caller-owned stateDir buys over the writer-owned scratch
    // default (which a restart forgets): kill the stream after two
    // batches, start a SECOND stream over the same stateDir, feed the
    // rest — the folded signatures read back from parquet, so
    // post-restart near-dups of pre-restart docs still screen dup_new.
    // Verdict union must equal the single-shot q86.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) >= 7
    val incDocs = docs.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val batches = incDocs.grouped(math.max(1, incDocs.length / 4)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_restart").toString
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val onBatch = (_: Long, v: org.apache.spark.sql.DataFrame) =>
      v.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
    val stream1 = MemoryStream[(Long, String)]
    val q1 = graft.streaming.StreamingIncrementalDedup.start(spark,
      docs.filter(!isNew), stream1.toDF().toDF("doc_id", "text"), Some(dir))(onBatch)
    try batches.take(2).foreach { b => stream1.addData(b.toSeq); q1.processAllAvailable() }
    finally q1.stop()
    // Fresh stream, fresh driver-side everything — only stateDir persists.
    // Its batch ids restart at 0: the fold is keyed by (stateDir,
    // batch_id), so the second stream's partitions would COLLIDE with
    // the first's. A real deployment either resumes from the same
    // checkpoint (same batch ids ⇒ collision IS the idempotent retry)
    // or offsets ids; here the memory source has no checkpoint to
    // resume, so offset by writing the remaining batches through the
    // durable seam directly at distinct ids.
    val idx = graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isNew))
    batches.drop(2).zipWithIndex.foreach { case (b, i) =>
      val v = graft.streaming.StreamingIncrementalDedup.foldAndScreen(
        spark, idx, dir, b.toSeq.toDF("doc_id", "text"), 100L + i)
      v.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
    }
    val batch = SparkEntry.queries("q86_incremental_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val streamed = got.toArray(Array.empty[(Long, String)]).sortBy(_._1)
    assert(streamed.toSeq === batch.toSeq,
      "verdicts across the restart diverged from the single-shot screen")
  }

  test("streaming incremental SEMANTIC dedup: stateDir survives a stream restart") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val isNew = pmod(col("vec_id"), lit(10)) >= 7
    val index = graft.operators.Approx.buildSemanticIndex(
      emb.filter(!isNew),
      graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble)))
    val incVecs = emb.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val batches = incVecs.grouped(math.max(1, incVecs.length / 4)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_semrestart").toString
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val stream1 = MemoryStream[(Long, Seq[Float])]
    val q1 = graft.streaming.StreamingIncrementalSemantic.start(spark, index,
      stream1.toDF().toDF("vec_id", "embedding"), 0.35, Some(dir)) { (_, v) =>
        v.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
    }
    try batches.take(2).foreach { b => stream1.addData(b.toSeq); q1.processAllAvailable() }
    finally q1.stop()
    batches.drop(2).zipWithIndex.foreach { case (b, i) =>
      val v = graft.streaming.StreamingIncrementalSemantic.foldAndScreen(
        spark, index, dir, b.toSeq.toDF("vec_id", "embedding"), 100L + i, 0.35)
      v.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
    }
    val batch = graft.operators.Approx
      .incrementalSemanticDedup(index, emb.filter(isNew))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val streamed = got.toArray(Array.empty[(Long, String)]).sortBy(_._1)
    assert(streamed.toSeq === batch.toSeq,
      "semantic verdicts across the restart diverged from the single-shot screen")
  }

  test("streaming soak: 10 durable microbatches of index advancement == batch q86") {
    import spark.implicits._
    // The multi-day ingest demonstration end to end: ten microbatches
    // ("days") through the REAL stream with durable index advancement
    // between every pair — each day folds one batch_id= partition into
    // the state tables, each screen reads the whole advanced index
    // back. Verdict union equals the single-shot batch screen; state
    // grows by exactly one partition per day (signatures only).
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) >= 7
    val incDocs = docs.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val dir = java.nio.file.Files.createTempDirectory("graft_soak").toString
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = graft.streaming.StreamingIncrementalDedup.start(spark,
      docs.filter(!isNew), stream.toDF().toDF("doc_id", "text"), Some(dir)) { (_, v) =>
        v.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
    }
    val nDays = 10
    try {
      incDocs.grouped(math.max(1, (incDocs.length + nDays - 1) / nDays)).foreach { b =>
        stream.addData(b.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val batch = SparkEntry.queries("q86_incremental_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val streamed = got.toArray(Array.empty[(Long, String)]).sortBy(_._1)
    assert(streamed.toSeq === batch.toSeq,
      "10-day soak verdicts diverged from the single-shot screen")
    val parts = new java.io.File(s"$dir/bands").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(parts === math.min(nDays, incDocs.grouped(
      math.max(1, (incDocs.length + nDays - 1) / nDays)).length),
      s"expected one state partition per day, got $parts")
  }

  test("durable twins: empty microbatches at every seam position are harmless") {
    import spark.implicits._
    // The r14 ADVICE defect: an empty batch arriving BEFORE any
    // non-empty one used to write a data-less partitionBy directory,
    // whose immediate schema-inference read then crashed the stream
    // ('Unable to infer schema for Parquet'). The fix skips the write
    // on empty batches and reads state with the batch chain's explicit
    // schema — so empty-first, empty-between, and empty-when-no-state
    // all screen cleanly and leave later verdicts untouched.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) >= 7
    val idx = graft.operators.Approx.buildMinHashIndex(spark, docs.filter(!isNew))
    val incDocs = docs.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val halves = incDocs.grouped((incDocs.length + 1) / 2).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val emptyBatch = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def screen(b: org.apache.spark.sql.DataFrame, id: Long) =
      graft.streaming.StreamingIncrementalDedup
        .foldAndScreen(spark, idx, dir, b, id)
        .collect().map(r => (r.getLong(0), r.getString(1)))
    // Empty FIRST: no state directory exists yet — must not create a
    // broken one, must return a well-formed zero-row verdict frame.
    assert(screen(emptyBatch, 0L).isEmpty)
    assert(!new java.io.File(s"$dir/sets").exists(),
      "an empty batch must not create a data-less state directory")
    val v1 = screen(halves.head.toSeq.toDF("doc_id", "text"), 1L)
    // Empty BETWEEN: state exists, screen returns zero rows, folded
    // state is untouched.
    assert(screen(emptyBatch, 2L).isEmpty)
    val v2 = screen(halves(1).toSeq.toDF("doc_id", "text"), 3L)
    val batch = SparkEntry.queries("q86_incremental_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert((v1 ++ v2).sortBy(_._1).toSeq === batch.toSeq,
      "verdicts around the empty batches diverged from the single-shot screen")
    // Same seam on the semantic twin, empty-first included.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val isNewV = pmod(col("vec_id"), lit(10)) >= 7
    val sIdx = graft.operators.Approx.buildSemanticIndex(
      emb.filter(!isNewV),
      graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble)))
    val sDir = java.nio.file.Files.createTempDirectory("graft_sempty").toString
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    def sScreen(b: org.apache.spark.sql.DataFrame, id: Long) =
      graft.streaming.StreamingIncrementalSemantic
        .foldAndScreen(spark, sIdx, sDir, b, id, 0.35)
        .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sScreen(emptyVecs, 0L).isEmpty)
    val sv = sScreen(emb.filter(isNewV), 1L)
    val sBatch = graft.operators.Approx
      .incrementalSemanticDedup(sIdx, emb.filter(isNewV))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(sv.sortBy(_._1).toSeq === sBatch.toSeq,
      "semantic verdicts after an empty-first batch diverged")
  }

  test("streaming COMPOSED pipeline == driver-loop replay, across a restart and a retried batch") {
    import spark.implicits._
    // The composed twin (VERDICT r15 #4): each microbatch is one
    // advanceTrainingSet day against the per-day durable state dir,
    // fenced at batch_id < id. Four id-monotone day batches, every
    // stage on: the first two through a REAL stream, then a "restart"
    // (fresh driver calls over only-disk state) drives the rest through
    // the foreachBatch body — including a RETRY of an already-committed
    // batch id, which must re-emit its original admissions (the load
    // fence hides its own crashed-attempt append) and leave the final
    // state unchanged. Admission union must equal the in-memory driver
    // loop's.
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select("doc_id", "text", "lang")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val benchmark = docs.filter(col("doc_id") < 3).select("text")
    val benchEmb = emb.filter(col("doc_id") < 3).select("embedding")
    val cents = graft.ops.Extended.Q84Centroids.map(_.map(_.toDouble))
    val big = Map("en" -> 100000000L, "de" -> 100000000L, "es" -> 100000000L,
      "fr" -> 100000000L, "zh" -> 100000000L)
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val batches = rows.grouped(math.max(1, (rows.length + 3) / 4)).toSeq
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang", "n_tokens").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // Reference: the in-memory driver loop, same config.
    var st = graft.operators.TrainingData.initPipelineState(spark,
      substrK = Some(8), semCentroids = Some(cents))
    val ref = batches.flatMap { b =>
      val out = graft.operators.TrainingData.advanceTrainingSet(spark, st,
        b.toSeq.toDF("doc_id", "text", "lang"), benchmark, big,
        dayEmbeddings = Some(emb), benchmarkEmbeddings = Some(benchEmb),
        substrK = Some(8))
      st = out.state
      triples(out.admitted)
    }
    assert(ref.nonEmpty)
    // Stream: batches 0-1 through a real foreachBatch stream.
    val dir = java.nio.file.Files.createTempDirectory("graft_spipe").toString
    graft.operators.TrainingData.initDurablePipelineState(spark, dir,
      substrK = Some(8), semCentroids = Some(cents))
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.Map.empty[Long, Seq[(Long, String, Long)]]
    val q = graft.streaming.StreamingTrainingPipeline.writer(spark, dir,
      stream.toDF().toDF("doc_id", "text", "lang"), benchmark, big,
      embeddings = Some(emb), benchmarkEmbeddings = Some(benchEmb),
      substrK = Some(8)) { (id, adm) =>
        got.synchronized { got(id) = triples(adm).toSeq }
    }.start()
    try batches.take(2).foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
    finally q.stop()
    // RETRY batch 1 (its partitions are already committed): the fence
    // must reproduce its admissions exactly and overwrite in place.
    val retry = triples(graft.streaming.StreamingTrainingPipeline.processBatch(
      spark, dir, batches(1).toSeq.toDF("doc_id", "text", "lang"), 1L,
      benchmark, big, embeddings = Some(emb),
      benchmarkEmbeddings = Some(benchEmb), substrK = Some(8)))
    assert(retry.toSeq === got(1L),
      "a retried batch re-emitted different admissions — the load fence leaked")
    // Restart: the remaining batches as fresh driver calls over the
    // same stateDir (the memory source cannot resume a checkpoint; ids
    // continue monotonically, the real checkpoint's behavior).
    batches.zipWithIndex.drop(2).foreach { case (b, i) =>
      got(i.toLong) = triples(graft.streaming.StreamingTrainingPipeline
        .processBatch(spark, dir, b.toSeq.toDF("doc_id", "text", "lang"),
          i.toLong, benchmark, big, embeddings = Some(emb),
          benchmarkEmbeddings = Some(benchEmb), substrK = Some(8))).toSeq
    }
    val streamed = got.values.flatten.toSeq.sortBy(_._1)
    assert(streamed === ref.sortBy(_._1).toSeq,
      "streamed composed-pipeline admissions diverged from the driver loop")
    // The post-retry durable state still screens: a re-feed of the last
    // batch at a LATER id admits nothing (every fp already folded).
    val refeed = graft.streaming.StreamingTrainingPipeline.processBatch(
      spark, dir, batches.last.toSeq.toDF("doc_id", "text", "lang"), 99L,
      benchmark, big, embeddings = Some(emb),
      benchmarkEmbeddings = Some(benchEmb), substrK = Some(8))
    assert(refeed.count() === 0L,
      "a re-fed batch passed the durable fingerprint screen")
  }

  test("Graft facade: registerTables + SQL + named operator") {
    Graft.registerTables(spark, sf0001)
    val viaSql = spark.sql(
      "SELECT c_mktsegment, count(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1")
    assert(viaSql.count() === 5)
    // Derived from the registry itself so declaring a new query can never
    // desynchronize this pin (r12 shipped red with a stale literal 83).
    assert(Graft.operators.size === SparkEntry.queries.size)
    assert(Graft.operators.size >= 85)
    assert(Graft.query("q21_sort_topk")(spark, sf0001).count() === 25)
    // SQL over the events view (ns-timestamp table) works too
    assert(spark.sql("SELECT count(*) FROM events WHERE user_id < 5").head.getLong(0) > 0)
    // native functions are SQL-callable after registerTables
    assert(spark.sql(
      "SELECT max(float_dot(embedding, embedding)) FROM embeddings").head.getFloat(0) > 0f)
    assert(spark.sql(
      "SELECT sorted_intersect_size(array('a','b'), array('b','c'))").head.getLong(0) === 1L)
  }
}
