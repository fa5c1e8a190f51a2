package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.operators.{Approx, Materialized}
import graft.operators.Approx.SemanticIndex

/** Streaming incremental SEMANTIC dedup — the ingest-time twin of the
  * batch screen ([[graft.operators.Approx.incrementalSemanticDedup]] /
  * declared q88), completing the streaming story for BOTH dedup
  * families: [[StreamingIncrementalDedup]] covers the lexical MinHash
  * screen, this twin covers the embedding-space one, and the structure
  * is identical because both ride the same index-advance loop
  * ([[graft.operators.Approx.advanceSemanticIndex]]): each
  * microbatch's vectors fold into the advanced index under the
  * stream's FIXED quantizer (flagged `inc = true` — crawl provenance),
  * and the batch is screened against (static index ∪ all folded
  * batches). A batch vector pairing a PREVIOUS batch's vector is
  * therefore `dup_new`, never `dup_old` — the provenance flag keeps
  * the fold from getting that wrong. Folding happens BEFORE the
  * screen: verdicts are invariant to the batch's own vectors already
  * being in the index (a vector never pairs itself, and a batch-mate
  * pair found through the folded copy is the same pair the increment
  * side emits), so a microbatch RETRY of the same batch id is a
  * no-op rather than a double-count.
  *
  * Durability: each batch's assigned vectors append to parquet under
  * one `batch_id=` partition of the state directory via DYNAMIC
  * partition overwrite, and every screen reads the directory back —
  * the same single mode, contract and caveats as the lexical twin
  * (retry replaces; with `stateDir` set a restart reads back;
  * `stateDir = None` is a writer-owned scratch directory, so a restart
  * forgets). The centroid table itself is static and persists via
  * [[Approx.semanticCentroidsDF]].
  *
  * Ordering contract: feed batches MONOTONE in vec_id and the emitted
  * verdicts equal the single-shot batch run row-for-row. On an
  * unordered feed a later-arriving smaller-id near-dup of an
  * already-emitted vector gets `keep` — both members of such a
  * cross-batch pair survive (neither keep-first-by-id nor
  * first-to-arrive; see the lexical twin's contract note).
  *
  * Scale shape: the quantizer is fixed for the stream's lifetime —
  * per-trigger work is the batch's own O(batch × nlist · dim) cell
  * assignment plus within-cell pairing in which the advanced index
  * streams map-side (the batch side broadcasts); folded state is
  * (vec_id, embedding, cell, nrm) rows, written once per batch.
  * Verdicts are delivered through `onBatch` (batch id, verdict frame)
  * — the frame is already materialized (collect-safe) when the
  * callback runs, and valid only inside it: its blocks are freed when
  * the callback returns.
  */
object StreamingIncrementalSemantic {

  /** Configure (not start) the stream: call `.start()` on the result.
    * `increments` must be a STREAMING DataFrame with
    * (vec_id, embedding); `index` is the static ingested corpus's
    * prebuilt semantic index. */
  def writer(spark: SparkSession, index: SemanticIndex,
             increments: DataFrame, minSim: Double = 0.35,
             stateDir: Option[String] = None)
            (onBatch: (Long, DataFrame) => Unit): DataStreamWriter[Row] = {
    graft.expressions.GraftFunctions.register(spark)
    val dir = stateDir.getOrElse(FoldScreen.scratchDir(spark))
    FoldScreen.writer(spark, increments, Seq("vec_id", "embedding"))(
      foldAndScreen(spark, index, dir, _, _, minSim))(onBatch)
  }

  /** Durable fold-then-screen for one batch: write the batch's
    * assigned vectors as the `batch_id = id` partition of `stateDir`'s
    * parquet table (dynamic overwrite — a retry REPLACES the
    * partition), then screen the batch against
    * index ∪ everything-in-stateDir. An EMPTY batch writes nothing and
    * screens against existing state; the read takes the batch chain's
    * explicit schema so a data-less state directory reads as an empty
    * fold instead of crashing schema inference (the lexical twin's
    * contract, [[graft.sources.StateStore]]). Returns the verdicts
    * materialized. Exposed so restart/retry scenarios are testable
    * without driving a real stream. */
  private[graft] def foldAndScreen(spark: SparkSession, index: SemanticIndex,
                                   stateDir: String, batch: DataFrame,
                                   id: Long, minSim: Double): DataFrame = {
    import graft.sources.StateStore
    val vb = Approx.buildSemanticIndex(batch, index.centroids).vectors
    if (!batch.isEmpty)
      StateStore.writePartition(vb, s"$stateDir/vectors", id)
    val advanced = Approx.advanceSemanticIndexAssigned(index,
      StateStore.readFolded(spark, s"$stateDir/vectors", vb.schema))
    Materialized.pin(Approx.incrementalSemanticDedup(advanced, batch, minSim))
  }

  /** Start the stream and return the query (test convenience). */
  def start(spark: SparkSession, index: SemanticIndex,
            increments: DataFrame, minSim: Double = 0.35,
            stateDir: Option[String] = None)
           (onBatch: (Long, DataFrame) => Unit): StreamingQuery =
    writer(spark, index, increments, minSim, stateDir)(onBatch).start()
}
