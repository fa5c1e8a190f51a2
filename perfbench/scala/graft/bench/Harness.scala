package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry}
import graft.operators.Approx
import graft.ops.{Extended, Tables}
import graft.streaming.{StreamingIncrementalDedup, StreamingIncrementalSemantic}

/** One benchmark run of one workload, in one JVM with one
  * `Graft.session(threads = nproc)`.
  *
  * Sets the session up and registers the tables, runs one cold pass and
  * `--passes` warm passes over the workload's operations in a fixed
  * order, each operation timed from its builder call to a full
  * materialization: a declared query writes its whole output as parquet
  * (every column computed, and the file the correctness step reads); a
  * streaming twin runs every microbatch and collects every verdict.
  * Writes `result.json` (and, traced, `trace.jsonl`) under `--out`.
  *
  *   Harness --workload W --data DIR --out DIR --passes N --batches K
  *           --launch-ms EPOCH_MS --trace 0|1
  */
object Harness {

  val StreamDedup = "stream_dedup"
  val StreamSemantic = "stream_semantic"

  val Workloads: Map[String, Seq[String]] = Map(
    "relational" -> Seq("q01_scan_filter_project", "q03_agg_pricing",
      "q09_join_multiway_topn", "q17_win_rank", "q38_star_denorm"),
    "dedup" -> Seq("q58_simhash_md5", "q60_dedup_clusters", "q61_fuzzy_join",
      "q84_semantic_dedup_cells"),
    "ingest" -> Seq(StreamDedup, StreamSemantic))

  /** The oracle each streaming twin's verdict union must equal. */
  val StreamOracle = Map(
    StreamDedup -> "q86_incremental_dedup", StreamSemantic -> "q88_incremental_semantic")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val traced = opt.get("trace").contains("1")
    // Set-up is timed from process launch: JVM start, Spark's class
    // loading, the session and the table registrations.
    val spark = Graft.session("graft-bench", threads = Runtime.getRuntime.availableProcessors)
    Graft.registerTables(spark, data)
    val setup = (System.currentTimeMillis() - opt("launch-ms").toLong) / 1e3
    spark.sparkContext.setLogLevel("WARN")
    val out = new File(opt("out"))
    out.mkdirs()
    val run = new Run(spark, data, out, traced, opt("batches").toInt)
    val ops = Workloads(opt("workload"))
    val result = run.measure(ops, opt("passes").toInt)
    run.writeRecords(ops)
    result("setup_s") = setup
    Files.write(new File(out, "result.json").toPath, Json(result).getBytes(UTF_8))
    if (traced) Files.write(new File(out, "trace.jsonl").toPath,
      run.spans.map(Json(_)).mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }

  /** Minimal JSON rendering of maps, sequences, strings and numbers. */
  object Json {
    def apply(v: Any): String = v match {
      case m: collection.Map[_, _] =>
        m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case null => "null"
      case o => str(o.toString)
    }
    private def str(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  }
}

/** The measured part of one run: operations, passes, spans. */
final class Run(spark: SparkSession, data: String, out: File, traced: Boolean,
                batches: Int) {
  import Harness._
  import Recorder.{PhaseKey, SpanKey}

  private val sc = spark.sparkContext
  private val rec = new Recorder(traced)
  sc.addSparkListener(rec)
  if (traced) {
    spark.listenerManager.register(rec.queryListener)
    spark.streams.addListener(rec.streamListener)
  }

  val spans = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val failures = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val microbatches = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  /** (op, pass) -> verdicts of a streaming twin, in arrival order. */
  private val verdicts = mutable.LinkedHashMap.empty[(String, Int), Seq[(Long, String)]]
  private val stateDirs = mutable.ArrayBuffer.empty[(String, Int, File)]
  /** Streaming run id -> the operation span that started it. */
  private val streamRuns = mutable.HashMap.empty[String, String]

  // Streaming inputs: q86's/q88's increment (id % 10 >= 7) in id order,
  // cut into `batches` microbatches, collected once before any timing.
  private lazy val isNewDoc = pmod(col("doc_id"), lit(10)) >= 7
  private lazy val docs = Tables.documents(spark, data).select("doc_id", "text")
  private lazy val docBatches = cut(docs.filter(isNewDoc).orderBy("doc_id").collect()
    .map(r => (r.getLong(0), r.getString(1))).toSeq)
  private lazy val isNewVec = pmod(col("vec_id"), lit(10)) >= 7
  private lazy val vecs = Tables.embeddings(spark, data).select("vec_id", "embedding")
  private lazy val vecBatches = cut(vecs.filter(isNewVec).orderBy("vec_id").collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq)

  private def cut[T](rows: Seq[T]): Seq[Seq[T]] =
    rows.grouped(math.max(1, math.ceil(rows.size.toDouble / batches).toInt)).toSeq

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def span(id: String, kind: String, name: String, parent: String,
                   start: Long, end: Long): mutable.Map[String, Any] = {
    val s = mutable.LinkedHashMap[String, Any]("id" -> id, "kind" -> kind, "name" -> name,
      "parent" -> parent, "start_ms" -> start, "end_ms" -> end)
    if (traced) spans += s
    s
  }

  /** Cold pass plus `passes` warm passes; returns the result record. */
  def measure(ops: Seq[String], passes: Int): mutable.Map[String, Any] = {
    // Collect the streaming inputs before any clock starts.
    if (ops.contains(StreamDedup)) docBatches
    if (ops.contains(StreamSemantic)) vecBatches
    val passRecs = (0 to passes).map(p => runPass(ops, p))
    mutable.LinkedHashMap[String, Any](
      "ops" -> ops, "passes" -> passRecs, "failures" -> failures,
      "microbatches" -> microbatches,
      "state" -> stateDirs.map { case (op, p, d) =>
        Map("op" -> op, "pass" -> p, "dir" -> d.getPath) })
  }

  private def runPass(ops: Seq[String], pass: Int): mutable.Map[String, Any] = {
    val passId = s"p$pass"
    BenchBus.drain(sc)
    val cpu0 = rec.cpuNs.get
    rec.resetPeak()
    val gc0 = gcMs
    val t0 = System.currentTimeMillis()
    val opS = mutable.LinkedHashMap.empty[String, Double]
    ops.foreach { op =>
      val n0 = System.nanoTime()
      runOp(op, pass, passId)
      opS(op) = (System.nanoTime() - n0) / 1e9
      release()
    }
    BenchBus.drain(sc)
    span(passId, "pass", if (pass == 0) "cold" else "warm", "", t0, System.currentTimeMillis())
    val r = mutable.LinkedHashMap[String, Any]("pass" -> pass, "wall_s" -> opS.values.sum,
      "op_s" -> opS, "cpu_s" -> (rec.cpuNs.get - cpu0) / 1e9)
    if (traced) r ++= Seq("peak_storage_bytes" -> rec.peakStorageBytes,
      "gc_s" -> (gcMs - gc0) / 1e3)
    r
  }

  /** Unpersists every block an operation left behind (after its clock
    * stopped), so each operation starts from the same storage state. */
  private def release(): Unit =
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  private def runOp(op: String, pass: Int, passId: String): Unit = {
    val opId = s"$passId/$op"
    if (traced) BenchBus.drain(sc)
    val plan0 = rec.planMs.get
    val cg0 = CodeGenerator.compileTime
    sc.setLocalProperty(SpanKey, opId)
    sc.setLocalProperty(PhaseKey, "run")
    val t0 = System.currentTimeMillis()
    try op match {
      case StreamDedup => streamDedup(pass, opId)
      case StreamSemantic => streamSemantic(pass, opId)
      case q =>
        val df = build(opId) { SparkEntry.queries(q)(spark, data) }
        df.write.parquet(new File(out, s"outputs/$q/p$pass").getPath)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $op failed in pass $pass: $e")
        failures += mutable.LinkedHashMap("op" -> op, "pass" -> pass, "error" -> e.toString)
    } finally {
      sc.setLocalProperty(SpanKey, null)
      sc.setLocalProperty(PhaseKey, null)
    }
    val t1 = System.currentTimeMillis()
    if (traced) {
      BenchBus.drain(sc)
      val s = span(opId, "op", op, passId, t0, t1)
      s("plan_ms") = rec.planMs.get - plan0
      s("codegen_compile_ns") = CodeGenerator.compileTime - cg0
      s("codegen_max_method_bytes") =
        CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax
      s("storage_bytes") = rec.storageBytes
    }
  }

  private def build[T](opId: String)(mk: => T): T = {
    sc.setLocalProperty(PhaseKey, "build")
    val t0 = System.currentTimeMillis()
    try mk
    finally {
      span(s"$opId/build", "build", "build", opId, t0, System.currentTimeMillis())
      sc.setLocalProperty(PhaseKey, "run")
    }
  }

  private def stateDir(op: String, pass: Int): File = {
    val d = new File(out, s"state/$op/p$pass")
    stateDirs += ((op, pass, d))
    d
  }

  /** Feeds each microbatch and waits for it, recording its latency. */
  private def drive[T](op: String, pass: Int, opId: String, in: Seq[Seq[T]],
                       add: Seq[T] => Unit,
                       query: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    streamRuns(query.runId.toString) = opId
    try in.zipWithIndex.foreach { case (b, i) =>
      val t0 = System.nanoTime()
      add(b)
      query.processAllAvailable()
      microbatches += mutable.LinkedHashMap("op" -> op, "pass" -> pass, "batch" -> i,
        "rows" -> b.size, "latency_s" -> (System.nanoTime() - t0) / 1e9)
    } finally query.stop()
  }

  private def streamDedup(pass: Int, opId: String): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = stateDir(StreamDedup, pass)
    val got = new ConcurrentLinkedQueue[(Long, String)]()
    val stream = MemoryStream[(Long, String)]
    val writer = build(opId) {
      StreamingIncrementalDedup.writer(spark, docs.filter(!isNewDoc),
        stream.toDF().toDF("doc_id", "text"), Some(s"$dir/state")) { (_, v) =>
        v.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
      }
    }
    val q = writer.option("checkpointLocation", s"$dir/checkpoint").start()
    drive(StreamDedup, pass, opId, docBatches, (b: Seq[(Long, String)]) => stream.addData(b), q)
    verdicts((StreamDedup, pass)) = got.asScala.toSeq
  }

  private def streamSemantic(pass: Int, opId: String): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = stateDir(StreamSemantic, pass)
    val got = new ConcurrentLinkedQueue[(Long, String)]()
    val stream = MemoryStream[(Long, Seq[Float])]
    val writer = build(opId) {
      val index = Approx.buildSemanticIndex(vecs.filter(!isNewVec),
        Extended.Q84Centroids.map(_.map(_.toDouble)))
      StreamingIncrementalSemantic.writer(spark, index,
        stream.toDF().toDF("vec_id", "embedding"), stateDir = Some(s"$dir/state")) { (_, v) =>
        v.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
      }
    }
    val q = writer.option("checkpointLocation", s"$dir/checkpoint").start()
    drive(StreamSemantic, pass, opId, vecBatches, (b: Seq[(Long, Seq[Float])]) => stream.addData(b), q)
    verdicts((StreamSemantic, pass)) = got.asScala.toSeq
  }

  /** After timing: each streaming pass's verdicts as CSV, the oracle
    * SQL of every operation (DuckDB computes the reference from the same
    * inputs; nothing stored from an earlier run is compared) and, traced,
    * the job and trigger spans. */
  def writeRecords(ops: Seq[String]): Unit = {
    val dir = new File(out, "outputs")
    val names = ops.map(op => StreamOracle.getOrElse(op, op)) ++
      // q60's recursive-closure oracle does not finish at benchmark
      // scale; its output is checked against q59's edge set instead.
      (if (ops.contains("q60_dedup_clusters")) Seq("q59_minhash_md5") else Nil)
    val oracles = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    verdicts.foreach { case ((op, pass), rows) =>
      val f = new File(dir, s"$op/p$pass.csv")
      f.getParentFile.mkdirs()
      Files.write(f.toPath, rows.map { case (id, v) => s"$id,$v" }
        .mkString("id,verdict\n", "\n", "\n").getBytes(UTF_8))
    }
    Files.write(new File(out, "oracle_sql.json").toPath, Json(oracles).getBytes(UTF_8))
    if (traced) rec.synchronized {
      rec.jobs.foreach { j =>
        val s = span(s"job${j.id}", "job", s"job ${j.id}", j.span, j.start, j.end)
        s ++= Seq("phase" -> j.phase, "file" -> j.file, "module" -> j.module,
          "stages" -> j.stages, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
          "overhead_ms" -> j.overheadMs, "input_bytes" -> j.inputBytes,
          "shuffle_write_bytes" -> j.shuffleWriteBytes,
          "shuffle_read_bytes" -> j.shuffleReadBytes, "spill_bytes" -> j.spillBytes,
          "peak_exec_bytes" -> j.peakExecBytes)
      }
      rec.progress.foreach { e =>
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val s = span(s"trigger-${p.runId}-${p.batchId}", "trigger", "trigger",
          streamRuns.getOrElse(p.runId.toString, ""), start,
          start + d.getOrElse("triggerExecution", 0L))
        s ++= Seq("batch_id" -> p.batchId, "rows" -> p.numInputRows, "duration_ms" -> d)
      }
    }
  }
}
