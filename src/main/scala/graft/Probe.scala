package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one probe main, under the bench session ([[Bench.session]]) so its
  * figures and plans match Bench's configuration. Three subcommands:
  *
  *   sbt "runMain graft.Probe time q61_fuzzy_join q64_ngram_jaccard"
  *   sbt "runMain graft.Probe plan r17 before all"
  *   sbt "runMain graft.Probe checksums /root/testdata/sf0.01 q46_ann_lsh"
  *
  * `time` runs one warm-up, then 3 passes per query; each pass builds the
  * query inside [[Bench.measure]] and executes the WHOLE plan through the
  * `noop` sink — a `count()` may legally prune a sort, a join or every
  * unreferenced column (q83's double evaluation hid behind exactly that),
  * so the probe never counts. It prints the minimum wall and the minimum
  * executor CPU across passes: on a shared host wall-clock swings with
  * external load while CPU-s tracks the work. `plan` writes each query's
  * `.explain("formatted")` to `plans/<tag>/<query>_<suffix>.txt`, so
  * plan-shape claims in OPTIMIZATION_r*.md are reviewable without running
  * Spark (a query whose construction runs jobs, like q60's clustering
  * loop, yields its final assembly's plan). `checksums` prints
  * [[resultChecksum]] twice per query, with a `stable=` flag, as the
  * evidence before a value is pinned in GoldenCountsSpec.
  *
  * SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS and
  * SPARK_GRAFT_SHUFFLE apply as in Bench.
  */
object Probe {
  /** Order-independent whole-result checksum: per-row xxhash64 over the
    * name-sorted columns, summed with Long wraparound. Any one-value
    * change anywhere in the result moves the sum (duplicate rows still
    * count — sum, not xor, so a dup/drop pair can't cancel); row and
    * partition order don't (sum commutes). This is the value pin for
    * queries whose semantics have no SQL oracle (q43/q44/q46/q48/q49):
    * rows-only pins caught cardinality drift but not a wrong value in
    * a kept row. Columns are name-sorted so a projection reorder isn't
    * a false alarm; a schema change shows up as a checksum change.
    */
  def resultChecksum(df: DataFrame): Long = {
    // Decimal(38,0) accumulation: ANSI mode (Spark 4 default) makes a
    // Long sum throw on overflow; the decimal sum is exact, and the
    // final wrap to Long (mod 2^64) keeps every input bit relevant.
    val h = xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*)
    val r = df.select(sum(h.cast("decimal(38,0)")).as("s")).collect()(0)
    if (r.isNullAt(0)) 0L
    else r.getDecimal(0).toBigInteger.longValue()
  }

  private val usage = "usage: Probe time <query...> | plan <tag> <suffix> <query...|all> | " +
    "checksums <dir> <query...>"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && Set("time", "plan", "checksums")(args(0)), usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(Bench.cpus)
    def query(name: String) =
      SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    try args(0) match {
      case "time" =>
        require(args.length >= 2, usage)
        args.drop(1).foreach { name =>
          val fn = query(name)
          def pass(): Bench.Work = {
            val (df, work) = Bench.measure(spark) { () =>
              val df = fn(spark, sfDir)
              df.write.format("noop").mode("overwrite").save()
              df
            }
            // Bench's freeAfter: each build's materialized blocks (q60's
            // labels) have no other reader.
            try graft.operators.Materialized.free(df)
            catch { case _: Throwable => () }
            work
          }
          pass()
          val ws = Seq.fill(3)(pass())
          println(f"PROBE $name wallMin=${ws.map(_.sec).min}%.3f " +
            f"cpuMin=${ws.map(_.cpuNs).min / 1e9}%.3f jobs=${ws.head.jobs} " +
            s"cpuAll=${ws.map(w => f"${w.cpuNs / 1e9}%.3f").mkString(",")}")
        }
      case "plan" =>
        require(args.length >= 3, usage)
        val Array(_, tag, suffix) = args.take(3)
        val names =
          if (args.drop(3).contains("all")) SparkEntry.queries.keys.toSeq.sorted
          else args.drop(3).toSeq
        val dir = Paths.get(s"plans/$tag")
        Files.createDirectories(dir)
        val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        names.foreach { name =>
          try {
            // queryExecution.explainString is exactly what explain("formatted") prints.
            val txt = query(name)(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(dir.resolve(s"${name}_$suffix.txt"),
              s"-- $name @ $sfDir (bench-session config: shuffle=$shuffle, AQE off)\n" + txt)
            println(s"[probe] wrote $name")
          } catch { case e: Throwable =>
            System.err.println(s"[probe] $name failed: ${e.getMessage}")
          }
        }
      case "checksums" =>
        require(args.length >= 3, usage)
        val dir = args(1)
        args.drop(2).foreach { name =>
          val c1 = resultChecksum(query(name)(spark, dir))
          val c2 = resultChecksum(query(name)(spark, dir))
          println(s"CHECKSUM $name $dir $c1 stable=${c1 == c2}")
        }
    } finally spark.stop()
  }
}
