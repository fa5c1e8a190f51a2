package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.operators.{Approx, Materialized}
import graft.operators.Approx.MinHashIndex

/** Streaming incremental dedup — the ingest-time twin of the batch
  * screen ([[graft.operators.Approx.incrementalDedup]] / declared q86).
  * Incremental dedup is INHERENTLY micro-batch shaped: an "increment"
  * is a batch of newly crawled documents, so the streaming form is the
  * batch operator driven per microbatch ([[FoldScreen]]) around the
  * index-advance loop ([[graft.operators.Approx.advanceIndex]]): each
  * microbatch's signatures FOLD into the advanced index (flagged
  * `inc = true` — crawl provenance), and the batch is screened against
  * (static index ∪ all folded batches). A batch doc pairing a PREVIOUS
  * batch's doc is therefore `dup_new` (both are increment docs), never
  * `dup_old` — the provenance flag is exactly what keeps the fold from
  * getting that wrong. Folding happens BEFORE the screen: the verdicts
  * are invariant to the batch's own signatures already being in the
  * index (a doc never pairs itself — `doc_id` inequality — and a
  * batch-mate pair found through the folded copy is the same pair the
  * increment side emits), which is what makes a microbatch RETRY of
  * the same batch id a no-op rather than a double-count
  * (StreamingSpec pins both properties).
  *
  * Durability: each batch's (sets, bands) append to parquet under one
  * `batch_id=` partition of the state directory via DYNAMIC partition
  * overwrite — a retried batch REPLACES its own partition instead of
  * duplicating it — and every screen reads the whole directory back,
  * so state never accumulates in driver memory or plan depth. With
  * `stateDir` set, a RESTARTED stream (same checkpoint + same
  * stateDir) reads every previously folded batch back before its
  * first trigger, so post-restart near-dups of pre-restart docs still
  * screen correctly. `stateDir = None` means a scratch directory owned
  * by the writer (created per `writer` call, deleted at JVM exit):
  * retries are just as idempotent, but a restart forgets the state —
  * use a fresh checkpoint dir and re-feed the stream, or pass
  * `stateDir`. The state grows with the STREAM (one partition per
  * batch, signatures only — never text) and is independent of the
  * static index; compaction of a long-running stream's many small
  * partitions is the caller's retention policy.
  *
  * Ordering contract (same as the batch [[Approx.advanceIndex]]
  * replay): feed batches MONOTONE in doc_id and the emitted verdicts
  * equal the single-shot batch run row-for-row (proven across three
  * microbatches in StreamingSpec, cross-batch dup_new pair included).
  * On an unordered feed the verdicts are still deterministic per
  * arrival order, but they match NEITHER keep-first-by-id nor
  * first-to-arrive: a later-arriving smaller-id near-dup of an
  * already-emitted doc gets `keep` (the `y.doc_id < x.doc_id`
  * keep-first condition looks backward by ID, and the earlier-emitted
  * larger-id doc was screened before its smaller-id twin existed), so
  * BOTH members of such a cross-batch pair survive.
  *
  * Scale shape: per-trigger work is the batch's own signature chain
  * (O(batch)) plus the asymmetric band join in which the advanced
  * index streams map-side — the measured q86 stored-index shape
  * (6.8 s / 405 MB for a 1% batch against a 1.485M-doc index at the
  * 300× smoke). The previous cut of this twin re-derived the seen
  * increments' signatures from text EVERY trigger — O(stream²)
  * signature work over a stream's lifetime; the fold writes them
  * once. Verdicts are delivered through `onBatch` (batch id, verdict
  * frame) — the frame is already materialized (collect-safe) when the
  * callback runs, and valid only inside it: its blocks are freed when
  * the callback returns.
  */
object StreamingIncrementalDedup {

  /** Configure (not start) the stream: call `.start()` on the result.
    * `increments` must be a STREAMING DataFrame with (doc_id, text);
    * `index` is the static ingested corpus (its signatures are built
    * once and pinned at writer construction — pass a prebuilt
    * [[MinHashIndex]] via the other overload to reuse stored parquet
    * frames instead). */
  def writer(spark: SparkSession, index: DataFrame, increments: DataFrame,
             stateDir: Option[String] = None)
            (onBatch: (Long, DataFrame) => Unit): DataStreamWriter[Row] = {
    val built = Approx.buildMinHashIndex(spark, index.select("doc_id", "text"))
    // Pin the static index's signatures once — the stream would
    // otherwise re-run the index's full chain every trigger.
    val pinned = MinHashIndex(Materialized.pin(built.sets), Materialized.pin(built.bands))
    writer(spark, pinned, increments, stateDir)(onBatch)
  }

  /** Prebuilt-index form: `index` frames are used as-is (typically
    * parquet-backed — no per-trigger recompute beyond the scan). */
  def writer(spark: SparkSession, index: MinHashIndex,
             increments: DataFrame, stateDir: Option[String])
            (onBatch: (Long, DataFrame) => Unit): DataStreamWriter[Row] = {
    graft.expressions.GraftFunctions.register(spark)
    val dir = stateDir.getOrElse(FoldScreen.scratchDir(spark))
    FoldScreen.writer(spark, increments, Seq("doc_id", "text"))(
      foldAndScreen(spark, index, dir, _, _))(onBatch)
  }

  /** Durable fold-then-screen for one batch: write the batch's
    * signatures as the `batch_id = id` partition of `stateDir`'s two
    * parquet tables (dynamic overwrite — a retry REPLACES the
    * partition), then screen the batch against
    * index ∪ everything-in-stateDir. An EMPTY batch writes nothing
    * (partitionBy on zero rows leaves a data-less directory whose
    * schema-inference read then crashes the stream) and screens
    * against whatever state already exists; the state read takes the
    * batch chain's explicit schema, so even a data-less directory
    * reads as an empty fold ([[graft.sources.StateStore]]). Returns
    * the verdicts materialized. Exposed so restart/retry scenarios are
    * testable without driving a real stream. */
  private[graft] def foldAndScreen(spark: SparkSession, index: MinHashIndex,
                                   stateDir: String, batch: DataFrame,
                                   id: Long): DataFrame = {
    import graft.sources.StateStore
    val (setsB, bandsB) = Approx.md5SetsAndBands(spark, batch)
    if (!batch.isEmpty) {
      StateStore.writePartition(setsB, s"$stateDir/sets", id)
      StateStore.writePartition(bandsB, s"$stateDir/bands", id)
    }
    val advanced = Approx.advanceIndexPrebuilt(index,
      StateStore.readFolded(spark, s"$stateDir/sets", setsB.schema),
      StateStore.readFolded(spark, s"$stateDir/bands", bandsB.schema))
    Materialized.pin(Approx.incrementalDedup(spark, advanced, batch))
  }

  /** Start the stream and return the query (test convenience). */
  def start(spark: SparkSession, index: DataFrame, increments: DataFrame,
            stateDir: Option[String] = None)
           (onBatch: (Long, DataFrame) => Unit): StreamingQuery =
    writer(spark, index, increments, stateDir)(onBatch).start()
}
