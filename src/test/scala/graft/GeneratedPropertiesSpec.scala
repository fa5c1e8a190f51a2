package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.Determinism

/** Generator-based invariants (SURVEY.md §5.3) over small in-memory
  * DataFrames — these hold for ANY data, independent of the testdata.
  * Sampling is seed-pinned so failures reproduce.
  */
class GeneratedPropertiesSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def mkDf(rows: Seq[(Long, Long, Double)]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("k", LongType),
      StructField("v", DoubleType)))
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
  }

  private val rowsGen: Gen[List[(Long, Long, Double)]] =
    Gen.listOfN(40, for {
      id <- Gen.choose(0L, 1000L)
      k <- Gen.choose(0L, 5L)
      v <- Gen.choose(-1000.0, 1000.0)
    } yield (id, k, v))

  test("dround matches DuckDB's floor(x*p+0.5)/p on arbitrary doubles") {
    val xsSamples = samples(Gen.listOfN(50, Gen.choose(-100000.0, 100000.0)), 4)
    for ((xs, s) <- xsSamples.zip(Seq(0, 2, 4, 6)) if xs.nonEmpty) {
      import org.apache.spark.sql.types._
      val df = spark.createDataFrame(
        xs.map(x => org.apache.spark.sql.Row(x)).asJava,
        StructType(Seq(StructField("x", DoubleType))))
      val got = df.select(Determinism.dround(col("x"), s).as("r"))
        .collect().map(_.getDouble(0))
      val want = xs.map { x =>
        val p = math.pow(10, s)
        val scaled = x * p
        (if (scaled >= 0) math.floor(scaled + 0.5) else -math.floor(-scaled + 0.5)) / p
      }
      assert(got.toSeq === want, s"scale $s")
    }
  }

  test("sorted_intersect_size equals Set.intersect cardinality on arbitrary token arrays") {
    graft.expressions.GraftFunctions.register(spark)
    val tokGen = Gen.listOfN(2, Gen.listOfN(20, Gen.oneOf(
      "a", "b", "ab", "ba", "x", "yy", "z0", "", "longtoken", "日本語")))
    for (pair <- samples(tokGen, 30)) {
      val Seq(xs, ys) = pair
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("x", ArrayType(StringType)), StructField("y", ArrayType(StringType))))
      val df = spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(xs.distinct.sorted, ys.distinct.sorted)).asJava, schema)
      val got = df.select(expr("sorted_intersect_size(x, y)")).head.getLong(0)
      assert(got === (xs.toSet intersect ys.toSet).size.toLong,
        s"xs=$xs ys=$ys")
    }
  }

  test("dsumRound follows the DuckDB floor formula at half-way boundaries") {
    // 8000.00 + 202.845 sums to EXACTLY 8202.845 in DECIMAL(38,8); its
    // nearest double is 8202.84499…, so the DuckDB formula gives 8202.84
    // while Spark's builtin round (BigDecimal half-up on the shortest
    // repr "8202.845") gives 8202.85. dsumRound must take the DuckDB
    // side — this is the divergence the dround docstring documents, at
    // the aggregate level where cent-valued sums can actually land on it.
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(8000.0), org.apache.spark.sql.Row(202.845)).asJava,
      StructType(Seq(StructField("v", DoubleType))))
    val got = df.agg(Determinism.dsumRound(col("v"), 2)).head.getDouble(0)
    assert(got === 8202.84)
    val builtin = df.agg(round(sum(col("v").cast(DecimalType(38, 8))).cast("double"), 2))
      .head.getDouble(0)
    assert(builtin === 8202.85) // proves the two paths genuinely differ here
  }

  test("decimal sum is invariant under repartitioning (order independence)") {
    for (rows <- samples(rowsGen, 5) if rows.nonEmpty) {
      val df = mkDf(rows)
      val a = df.agg(Determinism.dsumRound(col("v"), 2)).head.getDouble(0)
      val b = df.repartition(7).agg(Determinism.dsumRound(col("v"), 2)).head.getDouble(0)
      val c = df.repartition(1).agg(Determinism.dsumRound(col("v"), 2)).head.getDouble(0)
      assert(a === b && b === c)
    }
  }

  test("keep-first dedup is idempotent and keeps min id per key") {
    for (rows <- samples(rowsGen, 5) if rows.nonEmpty) {
      val df = mkDf(rows)
      val w = Window.partitionBy("k").orderBy("id", "v")
      def dedup(in: org.apache.spark.sql.DataFrame) =
        in.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      val once = dedup(df)
      val twice = dedup(once)
      assert(once.exceptAll(twice).count() === 0 && twice.exceptAll(once).count() === 0)
      val minIds = df.groupBy("k").agg(min("id").as("mid")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      once.collect().foreach { r => assert(r.getLong(0) === minIds(r.getLong(1))) }
    }
  }

  test("semi ⊎ anti partitions the left side for any predicate threshold") {
    val thrs = samples(Gen.choose(-500.0, 500.0), 5)
    for ((rows, thr) <- samples(rowsGen, 5).zip(thrs) if rows.nonEmpty) {
      val left = mkDf(rows).select(col("id")).distinct()
      val right = mkDf(rows).filter(col("v") > thr).select(col("id").as("rid"))
      val semi = left.join(right, col("id") === col("rid"), "left_semi").count()
      val anti = left.join(right, col("id") === col("rid"), "left_anti").count()
      assert(semi + anti === left.count())
    }
  }

  test("union cardinality laws: unionAll adds; intersect+except partition A") {
    val pairs = samples(rowsGen, 6).grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    for ((ra, rb) <- pairs) {
      val a = mkDf(ra).select("k").distinct()
      val b = mkDf(rb).select("k").distinct()
      assert(a.unionAll(b).count() === a.count() + b.count())
      assert(a.intersect(b).count() <= math.min(a.count(), b.count()))
      assert(a.intersect(b).count() + a.except(b).count() === a.count())
    }
  }

  test("hashSample nesting law holds for arbitrary fraction pairs") {
    // For ANY f1 <= f2 with the same salt, the f1-sample is a subset of
    // the f2-sample (bucket thresholding), and fraction 1.0 keeps all.
    val fracs = samples(Gen.choose(0.0, 1.0), 8).sorted
    for (rows <- samples(rowsGen, 2).map(_.distinctBy(_._1)) if rows.nonEmpty) {
      val df = mkDf(rows)
      val sets = fracs.map(f =>
        graft.operators.Sampling.hashSample(df, Seq("id"), f)
          .select("id").collect().map(_.getLong(0)).toSet)
      sets.sliding(2).foreach { case Seq(lo, hi) => assert(lo.subsetOf(hi)); case _ => }
      assert(graft.operators.Sampling.hashSample(df, Seq("id"), 1.0).count() === df.count())
    }
  }

  test("assignSplit partitions every row for arbitrary weight vectors") {
    // Any normalized weight vector: each row gets exactly one split
    // label from the declared set, and the assignment is a pure
    // function of the key (repartition-invariant).
    val weightGen = Gen.listOfN(4, Gen.choose(0.05, 1.0)).map { raw =>
      val total = raw.sum
      raw.zipWithIndex.map { case (w, i) => s"s$i" -> w / total }
    }
    for ((rows, ws) <- samples(rowsGen, 3).map(_.distinctBy(_._1))
           .zip(samples(weightGen, 3)) if rows.nonEmpty) {
      val df = mkDf(rows)
      val split = graft.operators.Sampling.assignSplit(df, Seq("id"), ws)
      val byId = split.select("id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(byId.size === rows.map(_._1).distinct.size)
      assert(byId.values.toSet.subsetOf(ws.map(_._1).toSet))
      val again = graft.operators.Sampling.assignSplit(df.repartition(5), Seq("id"), ws)
        .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(again === byId)
    }
  }

  test("running sum over full partition equals group total") {
    for (rows <- samples(rowsGen, 5).map(_.distinctBy(r => (r._1, r._2))) if rows.nonEmpty) {
      val df = mkDf(rows)
      val w = Window.partitionBy("k").orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lastRunning = df.withColumn("run", sum("v").over(w))
        .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy(col("id").desc)))
        .filter(col("rn") === 1)
        .select(col("k"), round(col("run"), 6).as("run"))
      val totals = df.groupBy("k").agg(round(sum("v"), 6).as("tot"))
      val joined = lastRunning.join(totals, "k")
        .filter(abs(col("run") - col("tot")) > 1e-6)
      assert(joined.count() === 0)
    }
  }

  test("dedupClusters equals driver-side union-find on arbitrary graphs") {
    // The strongest guard on the clustering: for ANY edge set — dense
    // near-clique blobs, sparse bridges, long paths, isolated pairs,
    // self-loops, duplicate pairs, either orientation, no edges at all —
    // every node must map to the exact minimum id of its connected
    // component. The reference is an independent driver-side union-find
    // over the same edges; a node seen only in a self-loop is its own
    // singleton cluster.
    import spark.implicits._
    val graphGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(2, 60)                     // node universe 0..n-1
      m <- Gen.choose(0, 120)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L)
        b <- Gen.choose(0L, n - 1L)              // a == b and a > b included
      } yield (a, b))
      dups <- Gen.choose(0, 10)
    } yield edges ++ edges.take(dups)            // repeated pairs
    val cases = samples(graphGen, 12) :+
      (0L until 45L).map(i => (i, i + 1)).toList :+          // one long path
      (for (a <- 0L until 12L; b <- (a + 1) until 12L) yield (a, b)).toList :+ // one clique
      List((1L, 0L), (1L, 0L), (0L, 1L), (7L, 7L), (2L, 3L), (3L, 3L)) :+ // loops, repeats
      Nil                                                    // no edges
    // driver-side union-find
    def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    for ((edges, i) <- cases.zipWithIndex) {
      val want = components(edges)
      def check(path: String, df: org.apache.spark.sql.DataFrame): Unit = {
        assert(df.schema.map(f => f.name -> f.dataType) ===
          Seq("doc_id" -> org.apache.spark.sql.types.LongType,
              "cluster_id" -> org.apache.spark.sql.types.LongType), s"$path case $i schema")
        val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
        assert(rows.length === want.size, s"$path case $i: one row per node")
        assert(rows.toMap === want, s"$path case $i (${edges.size} edges)")
      }
      val pairs = edges.toDF("a", "b")
      // Default budget: every one of these graphs is solved on the
      // driver at level 0, with no contraction.
      check("local", graft.operators.Approx.dedupClusters(pairs))
      // A budget one below the edge count forces one contraction level,
      // and its remainder always fits: each component's minimum keeps
      // only self-loops after the level, so a graph with edges loses at
      // least one. This is the contract-then-local-tail path.
      check("contract+local", graft.operators.Approx.dedupClusters(pairs,
        localSolveEdges = math.max(0L, edges.size - 1L)))
      // No driver budget: contraction levels run while the graph keeps
      // shrinking (multi-level on most of these), and whatever survives
      // goes through the distributed pointer-doubling loop (the long
      // path stalls under the 0.7 shrink rule and always reaches it).
      check("contract+loop", graft.operators.Approx.dedupClusters(pairs,
        localSolveEdges = 0L))
    }
    // Scrambled paths, ids (i · 7919) mod n along the path: star
    // contraction stalls on them, and the loop then sees one label tree
    // per local minimum. Without hooking the component minimum crosses
    // one edge per round, and both ran out of the default 20 rounds.
    for (n <- Seq(40L, 1000L)) {
      val edges = (0L until n - 1).map(i => ((i * 7919) % n, ((i + 1) * 7919) % n)).toList
      val got = graft.operators.Approx.dedupClusters(edges.toDF("a", "b"),
          localSolveEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === components(edges), s"contract+loop scrambled path of $n nodes")
    }
  }

  test("incremental semantic screen ≡ verdicts from the symmetric within-cell pair set") {
    // The semantic analog of the lexical asym≡sym spec: for ANY vector
    // corpus and ANY index/increment split, the asymmetric
    // increment×(index ∪ earlier-increment) screen must emit exactly
    // the verdicts derivable from the SYMMETRIC within-cell pair set
    // (a < b, same cell, rounded float32 cosine ≥ τ) restricted to
    // increment-involving pairs — the structural claim (no pair found
    // twice, none missed, dup_old priority over dup_new, keep-first by
    // id) for corpora with planted exact duplicates, random near-misses
    // and a zero vector, across cells of a 3-centroid quantizer.
    import spark.implicits._
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 0.7, 0.7))
    val corpusGen: Gen[List[(Long, Array[Float])]] = for {
      n <- Gen.choose(4, 25)
      base <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-1.0f, 1.0f)))
      dups <- Gen.choose(0, 6)
    } yield {
      val b = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
      // exact duplicates under fresh ids: guaranteed cosine-1.0 pairs
      // that land on both sides of any id-based split
      val extra = (0 until dups).map(j => (100L + j, b(j % b.size)._2.clone))
      (b ++ extra).toList
    }
    for ((corpus0, ci) <- samples(corpusGen, 8).zipWithIndex) {
      val corpus = corpus0 :+ (999L, Array(0f, 0f, 0f, 0f)) // zero vector: never pairs
      val df = corpus.toDF("vec_id", "embedding")
      val isNewCol = pmod(col("vec_id"), lit(3)) === 0
      val idx = graft.operators.Approx.buildSemanticIndex(df.filter(!isNewCol), cents)
      val got = graft.operators.Approx
        .incrementalSemanticDedup(idx, df.filter(isNewCol), minSim = 0.3)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // Symmetric reference: ALL within-cell pairs over the whole
      // corpus (the q84 pair shape), verdicts derived driver-side.
      val all = graft.operators.Approx.buildSemanticIndex(df, cents).vectors
      val l = all.filter(col("nrm") > 0).select(col("vec_id").as("a"),
        col("embedding").as("ea"), col("cell").as("ca"), col("nrm").as("na"))
      val r = all.filter(col("nrm") > 0).select(col("vec_id").as("b"),
        col("embedding").as("eb"), col("cell").as("cb"), col("nrm").as("nb"))
      val simEx = (expr("float_dot(ea, eb)") / (col("na") * col("nb"))).cast("float")
      val sym = l.join(r, col("ca") === col("cb") && col("a") < col("b"))
        .select(col("a"), col("b"), round(simEx, 4).as("sim"))
        .filter(col("sim") >= lit(0.3f))
        .collect().map(row => (row.getLong(0), row.getLong(1)))
      val undirected = sym.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      val isNew = (id: Long) => id % 3 == 0
      val expected = corpus.map(_._1).filter(isNew).map { d =>
        val others = undirected.collect { case (x, y) if x == d => y }
        val verdict =
          if (others.exists(!isNew(_))) "dup_old"
          else if (others.exists(o => isNew(o) && o < d)) "dup_new"
          else "keep"
        d -> verdict
      }.toMap
      assert(got === expected, s"case $ci (${corpus.size} vectors)")
    }
  }

  test("sorted_jaccard is bit-identical to the composed intersect/size/div form") {
    // The round-17 single-merge expression must produce EXACTLY the
    // double the two-call composition produced (same merge, same size
    // terms, one IEEE division) — including the NaN (both-empty) and
    // null-element edge cases. Both forms are evaluated THROUGH Spark
    // on the same rows and compared bitwise.
    graft.expressions.GraftFunctions.register(spark)
    val tokGen = Gen.listOfN(2, Gen.listOfN(12, Gen.option(Gen.oneOf(
      "a", "b", "ab", "ba", "x", "yy", "z0", "longtoken", "日本語"))))
    val cases = samples(tokGen, 40).map { case Seq(xs, ys) =>
      // sorted, distinct, nulls first — the producers' canonical form.
      def canon(l: List[Option[String]]) =
        l.distinct.sortBy(_.getOrElse("")).sortBy(_.isDefined).map(_.orNull)
      (canon(xs), canon(ys))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("x", ArrayType(StringType)), StructField("y", ArrayType(StringType))))
    val df = spark.createDataFrame(
      cases.map { case (xs, ys) => org.apache.spark.sql.Row(xs, ys) }.asJava, schema)
    val rows = df
      // The composed Divide throws DIVIDE_BY_ZERO under ANSI on a
      // both-empty pair (union 0) — unreachable in the operators (empty
      // sets are filtered / explode-dropped before any candidate
      // exists); sorted_jaccard is total and returns NaN there
      // (asserted separately below).
      .filter(size(col("x")) + size(col("y")) > 0)
      .select(
        expr("sorted_jaccard(x, y)").as("sj"),
        (expr("sorted_intersect_size(x, y)").cast("double") /
          (size(col("x")) + size(col("y")) - expr("sorted_intersect_size(x, y)"))
            .cast("double")).as("composed"))
      .collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      val sj = r.getDouble(0); val composed = r.getDouble(1)
      assert(java.lang.Double.doubleToLongBits(sj) ===
        java.lang.Double.doubleToLongBits(composed), s"case $i: $sj vs $composed")
    }
    val nan = spark.sql(
      "SELECT sorted_jaccard(CAST(array() AS ARRAY<STRING>), CAST(array() AS ARRAY<STRING>))")
      .head.getDouble(0)
    assert(nan.isNaN, "both-empty must be NaN, not an error")
  }

  test("plane_signatures is bit-identical to the composed per-plane CASE/shiftleft form") {
    // The round-17 constant-codegen-size expression must produce EXACTLY
    // the signature longs of the per-plane Column tree it replaces
    // (q46's 50-row and 0.94-recall pins ride on those bits): same
    // per-element float→double widening, same sequential double
    // accumulation over the min-length prefix, same sign cut. Since
    // round 18 the kernel uses `!(acc < 0)` so the cut matches Spark's
    // `>= 0` on EVERY double — including a NaN dot (Spark orders NaN
    // above all values → bit set), which the previous Java `acc >= 0`
    // got wrong; the overflow case below pins that edge explicitly
    // (ADVICE r17).
    graft.expressions.GraftFunctions.register(spark)
    val dim = 8
    val planes: Seq[Seq[Seq[Double]]] = {
      val rnd = new scala.util.Random(7L)
      Seq.fill(3)(Seq.fill(5)(Seq.fill(dim)(rnd.nextGaussian() * math.pow(10, rnd.between(-3, 4)))))
    }
    val vecGen = Gen.listOfN(dim, Gen.oneOf(
      Gen.choose(-100.0f, 100.0f), Gen.oneOf(0.0f, -0.0f, 1.5e-30f, -3.2e30f)))
    val vecs = samples(vecGen, 60).map(_.toArray)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      vecs.map(v => org.apache.spark.sql.Row(v.toSeq)).asJava, schema)
    def composedSig(t: Int) = planes(t).zipWithIndex.map { case (p, i) =>
      when(call_function("double_dot", col("v"), lit(p.toArray)) >= 0,
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = df.select(
        call_function("plane_signatures", col("v"), typedLit(planes)).as("fast"),
        array((0 until 3).map(composedSig): _*).as("composed"))
      .collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"case $i")
    }
    // The NaN-dot edge, reachable only through double overflow
    // (+Inf + -Inf): both forms must SET the bit, matching Spark's
    // NaN-above-all ordering. Before the r18 `!(acc < 0)` fix the
    // kernel said false here while the composed form said true.
    val nanPlanes: Seq[Seq[Seq[Double]]] = Seq(Seq(Seq(1e300, -1e300)))
    val nanDf = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(Seq(3.0e38f, 3.0e38f))).asJava,
      StructType(Seq(StructField("v", ArrayType(FloatType)))))
    val nanRow = nanDf.select(
        call_function("plane_signatures", col("v"), typedLit(nanPlanes)).as("fast"),
        when(call_function("double_dot", col("v"), lit(nanPlanes.head.head.toArray)) >= 0,
          lit(1L)).otherwise(lit(0L)).as("composed"),
        call_function("double_dot", col("v"), lit(nanPlanes.head.head.toArray)).as("dot"))
      .head()
    assert(nanRow.getDouble(2).isNaN, "the overflow construction must yield a NaN dot")
    assert(nanRow.getSeq[Long](0) === Seq(1L), "kernel must set the bit on a NaN dot")
    assert(nanRow.getLong(1) === 1L, "Spark's >= 0 sets the bit on a NaN dot")
  }

  test("emit-once SimHash banding finds exactly the hamming<=3 pairs (vs brute force)") {
    // The round-17 emit-once rewrite must keep simHashNearDup's result
    // set identical to the pigeonhole guarantee: every a<b pair within
    // Hamming 3 of each other's 64-bit signature, each exactly once.
    // Brute-force ground truth: signatures via TextFunctions.simhash64
    // (the documented equal formulation), full cross join.
    val docGen = Gen.listOfN(40, Gen.listOfN(6, Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")))
    for ((texts, ci) <- samples(docGen, 3).zipWithIndex) {
      import org.apache.spark.sql.types._
      val docs = spark.createDataFrame(
        texts.zipWithIndex.map { case (ws, i) =>
          org.apache.spark.sql.Row(i.toLong, ws.mkString(" ")) }.asJava,
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      val got = graft.operators.Approx.simHashNearDup(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Number](2).longValue)).toSeq.sorted
      val sh = docs.select(col("doc_id"),
          graft.functions.TextFunctions.simhash64(col("text")).as("sh"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val expected = (for {
        (a, sa) <- sh; (b, sb) <- sh if a < b
        h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
      } yield (a, b, h.toLong)).sorted
      assert(got === expected, s"case $ci")
      assert(got.map(p => (p._1, p._2)).distinct.size === got.size,
        s"case $ci: duplicate pair emitted")
    }
  }
}
