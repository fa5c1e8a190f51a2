package graft

/** Bench's measurement helper (`Bench.measure`): its eager-at-construction
  * detection — the structural replacement for the old hand-maintained
  * `rebuildPerPass` set — and its task figures. A query that runs Spark
  * jobs while its DataFrame is built must be re-built per timed pass or
  * the bench times only its final assembly; the detector has to flag
  * such queries with no human in the loop.
  */
class BenchSpec extends SparkSpec {

  test("lazy construction launches zero execution jobs") {
    // spark.read.parquet DOES launch a metadata job (footer schema
    // inference, no spark.sql.execution.id) — the probe must not count
    // it, or every reader-based query would lose plan reuse.
    val (df, work) = Bench.measure(spark) { () =>
      spark.read.parquet(s"$sf0001/lineitem.parquet")
        .filter("l_quantity > 10")
        .groupBy("l_returnflag").count()
    }
    val jobs = work.jobs
    assert(jobs === 0)
    assert(df.count() > 0) // still a working plan after the probe
  }

  test("a synthetic eager query is auto-detected") {
    val (_, work) = Bench.measure(spark) { () =>
      val base = spark.read.parquet(s"$sf0001/orders.parquet")
      base.count() // eager work during construction, like q60's loop
      // ... and a groupBy whose exchange writes shuffle output
      base.groupBy("o_orderstatus").count().collect()
      base.select("o_orderkey")
    }
    val jobs = work.jobs
    assert(jobs >= 1)
    assert(work.cpuNs > 0, "the window's executor CPU was not summed")
    assert(work.shuffleWriteBytes > 0, "the groupBy exchange's shuffle write was not summed")
  }

  test("q60's clustering loop is auto-detected as eager") {
    val (_, work) = Bench.measure(spark) { () =>
      SparkEntry.queries("q60_dedup_clusters")(spark, sf0001)
    }
    val jobs = work.jobs
    assert(jobs >= 1,
      "q60 runs checkpointed label propagation at construction; if this " +
        "ever reads 0 the bench would silently time only its final assembly")
  }

  test("a plain declared query stays cacheable") {
    val (_, work) = Bench.measure(spark) { () =>
      SparkEntry.queries("q03_agg_pricing")(spark, sf0001)
    }
    val jobs = work.jobs
    assert(jobs === 0)
  }
}
