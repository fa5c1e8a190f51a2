package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the step that turns a curated document corpus into
  * fixed-length training sequences: documents are concatenated in a
  * deterministic order into one virtual token stream and the stream is
  * cut every `seqLen` tokens. Documents MAY straddle a cut (the
  * standard GPT-style packing: zero padding waste except in the final
  * sequence); the output maps every document to the sequence(s) holding
  * it, with exact offsets, so a downstream loader can materialize any
  * sequence by slicing its documents' token ranges.
  *
  * Output, one row per (sequence, document-slice), fully determined by
  * (corpus, seqLen):
  *   - seq_id      — 0-based sequence index in the stream
  *   - doc_id      — the document contributing this slice
  *   - doc_offset  — first token of the slice within the document
  *   - seq_offset  — position of the slice within the sequence
  *   - slice_len   — token count of the slice (> 0)
  * Every document's slices concatenate, in seq_id order, to the whole
  * document; every sequence's slices tile [0, seqLen) exactly (the last
  * sequence tiles [0, total mod seqLen)). Zero-token documents are
  * dropped (nothing to pack). `idCol` values MUST be unique — packing
  * is defined over a stream ordered by id, so a duplicate id has no
  * well-defined position; the running sum detects adjacent equal ids
  * and FAILS LOUDLY (assert_true) instead of silently double-counting.
  *
  * Scale shape — the global prefix sum is the textbook two-phase form,
  * NOT a single-partition window: documents are range-partitioned by
  * id and sorted within partitions; per-partition token totals (one
  * tiny row per partition) take a driver-size window for the partition
  * base offsets, which broadcast back for the within-partition running
  * sum. No stage ever sees more than one partition's rows plus a
  * partition-count-sized side; the explode emits ≤ 1 + len/seqLen rows
  * per document. At 100 TB this is three narrow exchanges over (id,
  * token-count) tuples — the range layout, the within-partition
  * window's (pid) re-cluster (the checkpoint erases the layout's
  * partitioning metadata, so Catalyst must re-shuffle the same tiny
  * rows to prove co-location), and the per-partition totals — document
  * TEXT never moves through any of them.
  */
object Packing {

  /** Pack `docs` (must expose `idCol` and a token-count column `nCol`)
    * into sequences of exactly `seqLen` tokens. Deterministic: stream
    * order is ascending `idCol`, or ascending (`orderCol`, `idCol`)
    * when `orderCol` is set — pass a salted hash column to pack a
    * SHUFFLED stream (a packed sequence then mixes unrelated documents
    * instead of id-adjacent ones, the order a training corpus actually
    * wants; [[graft.operators.TrainingData.buildTrainingSet]] does
    * exactly this). With `orderCol`, ids need only be unique PER ORDER
    * KEY — the stream position is defined by the pair — so an
    * epoch-repeat stream ([[graft.operators.Sampling
    * .quotaSampleEpochs]]) packs by giving each (doc, epoch) copy its
    * own key; a duplicate PAIR still fails loudly. The sized layout
    * (pinned through [[Materialized.pin]]; three longs per doc, plus
    * the order key — e.g. ~40 bytes for an md5 hex string — with
    * `orderCol`) stays RESIDENT behind the returned plan — it is the
    * working set both phases read, same contract as dedupClusters'
    * final labels; long-lived sessions release it with
    * [[Materialized.free]] once done with the result. */
  def packSequences(docs: DataFrame, seqLen: Long,
                    idCol: String = "doc_id", nCol: String = "n_tokens",
                    nParts: Int = 0, orderCol: String = ""): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val sess = docs.sparkSession
    val parts = if (nParts > 0) nParts
      else math.max(sess.sessionState.conf.numShufflePartitions,
        sess.sparkContext.defaultParallelism)
    val hasOrd = orderCol.nonEmpty && orderCol != idCol
    val sortKeys = if (hasOrd) Seq(col("ord"), col("doc_id")) else Seq(col("doc_id"))
    // MATERIALIZED (dedupClusters' pattern), not merely declared: both
    // the phase-1 totals and the phase-2 spans read this layout, and
    // repartitionByRange samples its boundaries + spark_partition_id is
    // non-deterministic — two independent evaluations could disagree on
    // pid, silently corrupting the base-offset join. Exchange reuse
    // usually hides that, but correctness must not hang on an optimizer
    // artifact. The checkpoint stores three longs per document (id, n,
    // pid; plus the order key when set) — the text never enters this
    // operator.
    val baseCols = Seq(col(idCol).as("doc_id"), col(nCol).cast("long").as("n"))
    val selCols = if (hasOrd) baseCols :+ col(orderCol).as("ord") else baseCols
    val sized = Materialized.pin(docs.select(selCols: _*)
      .filter(col("n") > 0)
      .repartitionByRange(parts, sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
      .withColumn("pid", spark_partition_id()))
    // Phase 1: per-partition totals — one row per partition — and their
    // exclusive prefix (the partition's base offset in the stream). The
    // window here runs over ≤ `parts` rows, never data.
    val bases = sized.groupBy(col("pid")).agg(sum(col("n")).as("ptotal"))
      .withColumn("base",
        coalesce(sum(col("ptotal")).over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("pid").as("bpid"), col("base"))
    // Phase 2: within-partition running sum (partitioned window — no
    // global sort) + the broadcast base = each document's [start, end)
    // span in the virtual token stream. The frame is ROWS-based: the
    // default RANGE frame would hand tied keys the full tied cumulative,
    // silently overlapping their spans — keys are asserted unique below,
    // and with unique keys ROWS ≡ RANGE at strictly lower cost.
    val ord = Window.partitionBy("pid").orderBy(sortKeys: _*)
    val wRun = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Duplicate-key guard, zero extra shuffle (same window spec as the
    // running sum; range partitioning sends equal keys to one partition,
    // and the sort makes duplicates adjacent): assert_true throws at
    // execution when the lag equals the current stream key, and folding
    // its null result into `end` keeps column pruning from discarding
    // the check.
    val prevId = lag(col("doc_id"), 1).over(ord)
    val dupPair =
      if (hasOrd) prevId === col("doc_id") && lag(col("ord"), 1).over(ord) === col("ord")
      else prevId === col("doc_id")
    val dupMsg =
      if (hasOrd) s"packSequences: duplicate ($orderCol, $idCol) — stream position undefined"
      else s"packSequences: duplicate $idCol — packing requires unique ids"
    val dupGuard = coalesce(
      assert_true(prevId.isNull || !dupPair, lit(dupMsg)).cast("long"),
      lit(0L))
    val spans = sized
      .join(broadcast(bases), col("pid") === col("bpid"))
      .withColumn("end", col("base") + sum(col("n")).over(wRun) + dupGuard)
      .withColumn("start", col("end") - col("n"))
    // A document spanning [start, end) overlaps sequences
    // start div L .. (end-1) div L; per overlapped sequence the slice
    // bounds are pure arithmetic on the span. Integer `div`, NOT
    // floor(/): Long/Long `/` routes through Double and loses exactness
    // past 2^53 total tokens — real at the 100 TB stream this models.
    // (Both operands are non-negative, so div == floor division.)
    val L = lit(seqLen)
    val firstSeq = expr(s"`start` div $seqLen")
    val lastSeq = expr(s"(`end` - 1) div $seqLen")
    spans
      .select(col("doc_id"), col("start"), col("end"),
        explode(sequence(firstSeq, lastSeq)).as("seq_id"))
      .select(col("doc_id"), col("seq_id"),
        greatest(col("seq_id") * L, col("start")).as("lo"),
        least((col("seq_id") + 1) * L, col("end")).as("hi"),
        col("start"))
      .select(col("seq_id"), col("doc_id"),
        (col("lo") - col("start")).as("doc_offset"),
        (col("lo") - col("seq_id") * L).as("seq_offset"),
        (col("hi") - col("lo")).as("slice_len"))
  }

  /** Packing efficiency summary: sequences, the token count of the last
    * (possibly partial) sequence, and the fill ratio — sanity dial for
    * choosing seqLen. One aggregate over the packed map. */
  def packingStats(packed: DataFrame, seqLen: Long): DataFrame =
    packed.groupBy(col("seq_id"))
      .agg(sum(col("slice_len")).as("seq_tokens"),
           count(lit(1)).as("n_slices"))
      .agg(count(lit(1)).as("n_sequences"),
           sum(col("seq_tokens")).as("total_tokens"),
           max(col("n_slices")).as("max_docs_per_seq"),
           min(col("seq_tokens")).as("min_seq_tokens"))
      .withColumn("fill_ratio",
        col("total_tokens").cast("double") /
          (col("n_sequences") * lit(seqLen)).cast("double"))

  /** Materialize packed sequences' PAYLOAD — the "downstream loader"
    * the slice-map contract promises, as an operator: one row per
    * sequence, `(seq_id, token_ids)`, where `token_ids` is the
    * seqLen-long concatenation of the documents' id slices (the final
    * sequence carries `total mod seqLen`). The token count is
    * `size(idsCol)` BY CONSTRUCTION, so the budget the slice map was
    * computed from and the payload emitted here cannot disagree.
    *
    * Scale shape: the slice map itself still moves no payload (see
    * [[packSequences]]); materialization is where the ids inherently
    * cross the wire — at most twice, and which crossings run is
    * regime-dependent (measured, COVERAGE.md q75 decade): while the
    * slice map fits the broadcast threshold the doc-keyed join
    * broadcasts the SLICES and the payload crosses only the seq_id
    * reassembly exchange (~1× the id-stream bytes); past it the join
    * becomes a sort-merge and the payload crosses twice. The seq_id
    * exchange pre-merges per map task (partial ObjectHashAggregate),
    * and `slice()` on the join side trims the array BEFORE the
    * reassembly shuffle, so a straddling document ships only the
    * tokens each sequence actually uses. Keep the
    * slice-map form for anything that doesn't need the raw ids (stats,
    * budgets, audits); materialize once, at the end, into the training
    * sink.
    *
    * Cost note (review finding, round 11): `idsCol`'s expression
    * evaluates TWICE over the corpus — once inside packSequences'
    * checkpointed sizing pass (only `size()` survives it) and once in
    * the payload join. For a cheap ids column that is the right trade
    * (pure CPU, no extra shuffle, no payload-sized checkpoint); for an
    * expensive tokenizer on a huge corpus, materialize the ids
    * yourself (checkpoint/write) and compose [[packSequences]] +
    * [[materializeSlices]] directly — the seam exists for exactly
    * that. */
  def packTokenIds(docs: DataFrame, seqLen: Long,
                   idsCol: String = "token_ids", idCol: String = "doc_id",
                   nParts: Int = 0): DataFrame = {
    // Same bound the streaming twin asserts: a materialized sequence is
    // ONE Spark array, and arrays are int-indexed.
    require(seqLen > 0 && seqLen <= Int.MaxValue,
      "a materialized sequence must be array-sized (0 < seqLen <= Int.MaxValue)")
    val ids = docs.select(col(idCol), col(idsCol))
    val sized = ids.select(col(idCol),
      size(col(idsCol)).cast("long").as("n_tokens"))
    val slices = packSequences(sized, seqLen, idCol, "n_tokens", nParts)
    materializeSlices(slices, ids, idsCol, idCol)
  }

  /** The slice-map → payload step by itself: join ANY packed slice map
    * — [[packSequences]]' output, or [[graft.operators.TrainingData
    * .TrainingSet]]'s `packed` (both expose the id as `doc_id`
    * regardless of the packer's input `idCol`; `idCol` here names the
    * column in `ids`) — with the documents' id arrays and emit
    * `(seq_id, token_ids)`. This is how a pipeline materializes its
    * training rows without re-packing: the slice map already fixed
    * every cut; this step only moves the payload. PRECONDITION (shared
    * with the slice map itself): `ids` must count the same tokens the
    * slice map was budgeted from — i.e. `size(idsCol)` equals the
    * `nCol` the packer saw per doc (true by construction when both
    * come from the same tokenizer column) — a shorter array would
    * slice out of range and a longer one would silently truncate.
    *
    * A duplicate id in `ids` (e.g. an upstream join that fanned out)
    * would silently double every affected slice; the final assembly
    * GUARDS it: `seq_offset` is unique within a sequence by the slice
    * map's tiling invariant, so a collision there is exactly a
    * duplicated join row, and the assert fires before a corrupt
    * training row can leave the operator. The int casts are safe by
    * construction: `doc_offset < size(ids)` ≤ Int.MaxValue (Spark
    * arrays are int-indexed) and `slice_len ≤ seqLen`, bounded by the
    * packer's require.
    *
    * `boundaries = true` adds `doc_spans`: one `(start, len, doc_id)`
    * struct per document slice in sequence order — the block-diagonal
    * attention-mask recipe (tokens attend within their own document)
    * and the packed-position → source-doc map, at no extra shuffle
    * (the structs ride the same aggregation). */
  def materializeSlices(slices: DataFrame, ids: DataFrame,
                        idsCol: String = "token_ids",
                        idCol: String = "doc_id",
                        boundaries: Boolean = false): DataFrame = {
    // doc_id rides the reassembly struct ONLY when doc_spans asked for
    // it — the default payload path ships just (seq_offset, piece)
    // through the seq_id exchange. seq_offset is unique per sequence by
    // the tiling invariant, so array_sort orders identically either way.
    val pieceStruct =
      if (boundaries) struct(col("seq_offset"), col("doc_id"), col("piece"))
      else struct(col("seq_offset"), col("piece"))
    val pieces = slices
      .join(ids.select(col(idCol).as("doc_id"), col(idsCol)), Seq("doc_id"))
      .select(col("seq_id"),
        slice(col(idsCol), (col("doc_offset") + 1).cast("int"),
          col("slice_len").cast("int")).as("piece"),
        col("seq_offset"), col("doc_id"))
      .groupBy("seq_id")
      .agg(array_sort(collect_list(pieceStruct)).as("ps"))
    val offs = transform(col("ps"), x => x("seq_offset"))
    val dupGuard = coalesce(
      assert_true(size(offs) === size(array_distinct(offs)),
        lit("materializeSlices: duplicate rows per doc in `ids` (a fanned-out " +
          "join?) — each id must appear exactly once")).cast("long"),
      lit(0L))
    val payload = when(dupGuard === 0L,
      flatten(transform(col("ps"), x => x("piece")))).as(idsCol)
    if (!boundaries) pieces.select(col("seq_id"), payload)
    else pieces.select(col("seq_id"), payload,
      // One struct per document slice, in sequence order — exactly the
      // information a loader needs to build a block-diagonal attention
      // mask (tokens attend within their own document) and to map a
      // packed position back to its source doc. start/len in tokens
      // within the sequence; start == the slice map's seq_offset.
      // Folded through the same dupGuard as the payload: a consumer
      // that prunes token_ids and reads only doc_spans must still trip
      // the fan-out assert, not receive overlapping spans.
      when(dupGuard === 0L,
        transform(col("ps"), x => struct(
          x("seq_offset").as("start"),
          size(x("piece")).cast("long").as("len"),
          x("doc_id").as("doc_id")))).as("doc_spans"))
  }
}
