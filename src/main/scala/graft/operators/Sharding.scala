package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic global shuffle + balanced shard assignment — the last
  * step of a training-data pipeline: packed sequences come out of
  * [[Packing.packSequences]] in document-stream order, which correlates
  * adjacent sequences (same language, same source, same crawl slice), and
  * a training run wants them decorrelated and split into equal-sized
  * shard files. This operator gives every row a pseudo-random but fully
  * reproducible position: rank the rows by a seeded hash of their id,
  * then deal them round-robin into `nShards` shards.
  *
  * Output, one row per input row, fully determined by (ids, nShards,
  * salt):
  *   - the id column, passed through
  *   - shard — 0-based shard index; shard sizes differ by at most 1
  *             (round-robin off the global hash rank, so balance is
  *             exact by construction, not probabilistic)
  *   - pos   — 0-based position within the shard, in hash order (the
  *             within-shard read order is itself shuffled)
  *
  * The global rank is the two-phase prefix form [[Packing.packSequences]]
  * uses, NOT a single-partition window: rows are range-partitioned by
  * the hash key, per-partition counts (one tiny row per partition) take
  * a driver-size window for base offsets, and the within-partition
  * row_number plus the broadcast base is the global rank. At 100 TB the
  * only data-sized exchange is the one range layout of (id, hash)
  * pairs — sequence CONTENT never enters this operator; join the result
  * back to the payload (or feed it to a partitionBy("shard") writer) to
  * materialize shard files.
  *
  * Ids MUST be unique — a duplicate id means a duplicated training
  * sequence, so the rank window detects adjacent equal ids (equal ids
  * hash equal, land in one range partition, and sort adjacent) and
  * FAILS LOUDLY (assert_true) instead of silently emitting both.
  */
object Sharding {

  /** Shuffle-shard `rows` by `idCol`. `salt` selects the permutation
    * (an epoch index in training terms: different salt, different
    * order, same exact balance). The ranked layout is pinned through
    * [[Materialized.pin]] and stays RESIDENT behind the returned plan —
    * release it with [[Materialized.free]] once consumed.
    *
    * md5 hex, not xxhash64: the declared q80 replays this rank in
    * DuckDB value-for-value, and md5-of-the-same-string is the one
    * hash family both engines render identically (the q59/q76
    * convention). Hex strings compare bytewise in both engines'
    * ORDER BY, so the rank order cannot drift.
    *
    * The global rank IS [[Sampling]]'s quota prefix sum with a constant
    * group and unit counts — `pick_pos - 1` over one all-rows group in
    * (hash, id) order — so the two-phase machinery (materialized range
    * layout, broadcast bases, pid-partitioned window, loud
    * duplicate-key guard) has one implementation, not a copy here. A
    * duplicate id hashes equal, collides on the (group, hash, id)
    * triple, and fails the guard — a duplicate id is a duplicated
    * training row. */
  def shuffleShards(rows: DataFrame, nShards: Int,
                    idCol: String = "seq_id", salt: Long = 0L,
                    nParts: Int = 0): DataFrame = {
    require(nShards > 0, s"nShards $nShards must be positive")
    val keyed = rows.select(col(idCol).as("sid"))
      .withColumn("srk", md5(concat_ws(":",
        lit("shuf"), lit(salt), col("sid").cast("string"))))
      .withColumn("sgrp", lit(""))
      .withColumn("sone", lit(1L))
    val n = lit(nShards.toLong)
    // rank0 = cum_before, NOT pick_pos - 1: with unit counts the two
    // are equal, but the duplicate-key guard is folded into cum_before
    // (the assert_true rides the running sum) — projecting pick_pos
    // alone would let column pruning silently discard the guard.
    Sampling.quotaSpans(keyed, "sgrp", "sid", "sone", "srk", nParts)
      .select(col("id").as(idCol),
        pmod(col("cum_before"), n).as("shard"),
        expr(s"cum_before div ${nShards.toLong}").as("pos"))
  }

  /** Shard-level summary — size and id-span per shard, the manifest a
    * training launcher reads: one aggregate over the assignment. */
  def shardStats(sharded: DataFrame, idCol: String = "seq_id"): DataFrame =
    sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
}
