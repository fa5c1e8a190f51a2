package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.operators.TrainingData

/** Streaming twin of the COMPOSED incremental pipeline
  * ([[graft.operators.TrainingData.advanceTrainingSet]]): each
  * microbatch is one ingest "day" — quality → exact-fp screen →
  * lexical near-dup screen → (optional) substring scrub → decontam →
  * (optional) semantic screen → budget-aware admission — against the
  * per-day durable state directory, whose indexes the batch then
  * advances with O(batch) `batch_id=` partition appends
  * ([[TrainingData.appendPipelineDay]]).
  *
  * State is durable and caller-owned (`stateDir` is required; the
  * per-family twins' writer-owned scratch default does not apply): the
  * composed state includes the FINGERPRINT SET, whose screen — unlike
  * the per-family near-dup joins — is not self-pair-proof (a doc's own
  * folded fp would shadow it on a microbatch retry). The retry fence
  * is therefore load-time, not verdict-time: batch N loads state
  * bounded at `batch_id < N`
  * ([[TrainingData.loadDurablePipelineState]]'s `beforeBatch`), so a
  * crashed attempt's partial append of batch N is invisible to the
  * retry, which re-screens against exactly the pre-batch state and
  * re-appends over its own partitions (dynamic overwrite — the
  * [[graft.sources.StateStore]] idempotence contract). A RESTARTED
  * stream (same checkpoint + same stateDir) resumes with every
  * previously committed batch folded. Seed the store from an
  * already-ingested corpus at NEGATIVE batch ids
  * (e.g. [[TrainingData.appendPipelineDay]] with batchId = −1), which
  * the `batch_id < N` fence keeps visible to every stream batch.
  *
  * Ordering contract: Structured Streaming batch ids are monotone in
  * arrival, so with `arrivalOrder = true` the screens carry the
  * time-ordered-crawl guarantee (keeper = first folded); the default
  * id mode needs batches monotone in doc_id for the replay ≡
  * single-batch equivalence — the same per-family contracts as the
  * batch loop, unchanged by the streaming shell.
  *
  * Scale shape: identical to the driver loop's (the shell adds one
  * state load per trigger — explicit-schema partition-pruned scans —
  * and the O(batch) appends); admissions are delivered through
  * `onBatch(id, admitted)` already materialized. `embeddings` is a
  * STATIC side table keyed by doc_id (the batch joins out its own
  * vectors), matching the batch API's `dayEmbeddings` convention.
  */
object StreamingTrainingPipeline {

  /** Configure (not start) the stream: call `.start()` on the result.
    * `increments` must be a STREAMING DataFrame with
    * (doc_id, text, lang); `stateDir` must have been initialized with
    * [[TrainingData.initDurablePipelineState]] (whose `substrK` /
    * `semCentroids` choices must match the parameters here, the batch
    * API's own contract). */
  def writer(spark: SparkSession, stateDir: String, increments: DataFrame,
             benchmark: DataFrame, budgets: Map[String, Long],
             minJaccard: Double = 0.8,
             minBenchContainment: Double = 1e-9,
             minQuality: Double = 0.5, maxRepetition: Double = 0.2,
             minTokens: Int = 10, salt: Long = 0L,
             embeddings: Option[DataFrame] = None,
             benchmarkEmbeddings: Option[DataFrame] = None,
             minCosine: Double = 0.35,
             substrK: Option[Int] = None,
             arrivalOrder: Boolean = false,
             md5Fps: Boolean = false,
             report: Boolean = false)
            (onBatch: (Long, DataFrame) => Unit): DataStreamWriter[Row] =
    FoldScreen.writer(spark, increments, Seq("doc_id", "text", "lang"))(
      processBatch(spark, stateDir, _, _, benchmark, budgets, minJaccard,
        minBenchContainment, minQuality, maxRepetition, minTokens, salt,
        embeddings, benchmarkEmbeddings, minCosine, substrK, arrivalOrder,
        md5Fps, report))(onBatch)

  /** One microbatch's load-fenced screen-and-fold — the step
    * [[FoldScreen]] runs per microbatch, exposed (like the per-family
    * twins' foldAndScreen) so restart/retry scenarios are testable
    * without driving a real stream. Returns the batch's admissions, materialized. */
  private[graft] def processBatch(spark: SparkSession, stateDir: String,
                                  batch: DataFrame, id: Long,
                                  benchmark: DataFrame,
                                  budgets: Map[String, Long],
                                  minJaccard: Double = 0.8,
                                  minBenchContainment: Double = 1e-9,
                                  minQuality: Double = 0.5,
                                  maxRepetition: Double = 0.2,
                                  minTokens: Int = 10, salt: Long = 0L,
                                  embeddings: Option[DataFrame] = None,
                                  benchmarkEmbeddings: Option[DataFrame] = None,
                                  minCosine: Double = 0.35,
                                  substrK: Option[Int] = None,
                                  arrivalOrder: Boolean = false,
                                  md5Fps: Boolean = false,
                                  report: Boolean = false): DataFrame = {
    val st = TrainingData.loadDurablePipelineState(spark, stateDir,
      md5Fps, beforeBatch = Some(id))
    val out = TrainingData.advanceTrainingSet(spark, st, batch, benchmark,
      budgets, minJaccard, minBenchContainment, minQuality, maxRepetition,
      minTokens, salt, tokenCounter = None, dayEmbeddings = embeddings,
      benchmarkEmbeddings = benchmarkEmbeddings, minCosine = minCosine,
      substrK = substrK, arrivalOrder = arrivalOrder, md5Fps = md5Fps,
      report = report)
    val admitted = out.admitted.localCheckpoint()
    TrainingData.appendPipelineDay(spark, stateDir, id, out.folds)
    // With `report` on, the day's ingest-health frame lands in the
    // store's own health log (`$stateDir/health/batch_id=N`) — an
    // operator tails ONE table to watch band saturation and cell skew
    // per ingested day; retries overwrite their own partition like any
    // state table. Not part of the pipeline state proper: compaction
    // does not consolidate it and loads never read it.
    out.health.foreach(h =>
      graft.sources.StateStore.writePartition(h, s"$stateDir/health", id))
    admitted
  }

  /** Start the stream and return the query (test convenience). */
  def start(spark: SparkSession, stateDir: String, increments: DataFrame,
            benchmark: DataFrame, budgets: Map[String, Long],
            minQuality: Double = 0.5, maxRepetition: Double = 0.2,
            minTokens: Int = 10,
            embeddings: Option[DataFrame] = None,
            substrK: Option[Int] = None,
            arrivalOrder: Boolean = false)
           (onBatch: (Long, DataFrame) => Unit): StreamingQuery =
    writer(spark, stateDir, increments, benchmark, budgets,
      minQuality = minQuality, maxRepetition = maxRepetition,
      minTokens = minTokens, embeddings = embeddings, substrK = substrK,
      arrivalOrder = arrivalOrder)(onBatch).start()
}
