package graft

import org.apache.spark.sql.functions._
import graft.functions.VecExprs

/** The custom DotProduct expression and the approx-distinct (Q17) bound. */
class VectorAndApproxSpec extends SparkTestBase {

  /** A graded row by name (the IVF/PQ sweep rows have no val of their own). */
  private def row(name: String): Q = SparkEntry.allQ.find(_.name == name).get

  /** The HOF formulation of LSH table `t`'s 8-plane bucket — the
    * reference side of the graft_lsh_sigs parity test. Its SUM semantics
    * match DuckDB's list_sum even on out-of-contract rows: list_sum SKIPS
    * NULL products and returns NULL for an all-NULL/empty list, while a
    * plain aggregate(0.0, acc + x) NULL-poisons the whole sum the moment
    * zip_with pads a ragged vector. So: filter the NULL products out and
    * start the fold from NULL (the first element coalesces it to 0.0) — a
    * ragged vector contributes its prefix pairs and an empty one yields
    * NULL >= 0 = false, as on the oracle. */
  private def bucketExprSpark(t: Int): String =
    (0 until 8).map { j =>
      val arr = graft.functions.LshPlanes.plane(8 * t + j)
        .mkString("array(", ", ", ")")
      s"IF(aggregate(filter(zip_with(embedding, $arr, (x, h) -> CAST(x AS DOUBLE) * h), p -> p IS NOT NULL), CAST(NULL AS DOUBLE), (acc, x) -> coalesce(acc, CAST(0.0 AS DOUBLE)) + x) >= 0, ${1 << j}, 0)"
    }.mkString("(", " + ", ")")

  test("graft_lsh_sigs matches the HOF bucket form, codegen and interpreted") {
    // Empty, ragged (< 64), exact-64 and over-long (> 64) vectors, at the
    // single-table and the 16-table serving widths. The data comes from
    // parquet so no optimizer rule folds the expression at plan time.
    val spk = spark
    import spk.implicits._
    def v(seed: Int, n: Int): Array[Float] =
      Array.tabulate(n)(i => ((seed * 37 + i * 11) % 19 - 9).toFloat / 9f)
    val rows = Seq(
      (0L, Array.empty[Float]), (1L, v(1, 1)), (2L, v(2, 7)), (3L, v(3, 63)),
      (4L, v(4, 64)), (5L, v(5, 64)), (6L, v(6, 65)), (7L, v(7, 130)))
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_parity").toString
    rows.toDF("vec_id", "embedding").write.parquet(s"$dir/e.parquet")
    val modes = Seq(
      Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "true"),
      Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false"))
    val keys = modes.head.keys.toSeq
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try modes.foreach { mode =>
      mode.foreach { case (k, x) => spark.conf.set(k, x) }
      Seq(1, 16).foreach { tables =>
        val e = spark.read.parquet(s"$dir/e.parquet")
        val sigs = VecExprs.lshSigs(spark, col("embedding"), tables)
        val bad = (0 until tables).flatMap { t =>
          e.filter(not(expr(bucketExprSpark(t)).cast("int") <=>
              sigs.getItem(t)))
            .select("vec_id").as[Long].collect().map(id => (t, id))
        }
        assert(bad.isEmpty,
          s"graft_lsh_sigs != HOF bucket ($mode, tables=$tables) at (table, vec_id) $bad")
      }
    } finally saved.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dot(v, v) == 1 for unit-norm fixture vectors (codegen path)") {
    val e = graft.sources.Tables.embeddings(spark, sf())
    val selfSims = e.select(
        round(VecExprs.dot(spark, col("embedding"), col("embedding")), 4).as("s"))
      .distinct().collect().map(_.getDouble(0))
    assert(selfSims.forall(s => math.abs(s - 1.0) <= 0.001),
      s"self-cosine not ~1: ${selfSims.mkString(",")}")
  }

  test("DotProduct matches the higher-order-function formulation exactly") {
    val e = graft.sources.Tables.embeddings(spark, sf()).limit(50)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val hof = expr(
      """aggregate(zip_with(a_vec, b_vec,
        |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
    val diff = a.join(b, col("a_id") < col("b_id"))
      .select((VecExprs.dot(spark, col("a_vec"), col("b_vec")) - hof).as("d"))
      .agg(max(abs(col("d")))).head().getDouble(0)
    assert(diff === 0.0, "codegen dot must be bit-identical to the HOF fold")
  }

  test("interpreted eval matches codegen result") {
    import graft.functions.DotProduct
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val xs = Array(0.5f, -0.25f, 0.125f)
    val lit1 = Literal.create(ArrayData.toArrayData(xs), ArrayType(FloatType))
    val v = DotProduct(lit1, lit1).eval(null).asInstanceOf[Double]
    val expected = xs.map(x => x.toDouble * x.toDouble).sum
    assert(v === expected)
  }

  test("approx_count_distinct within 5% of exact per group (Q17 contract)") {
    val df = graft.sources.Tables.lineitem(spark, sf("sf0.01"))
    val got = df.groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey").as("approx"),
        countDistinct("l_partkey").as("exact"))
      .collect()
    got.foreach { r =>
      val (a, x) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - x) / x <= 0.05,
        s"flag ${r.getString(0)}: approx $a vs exact $x off by >5%")
    }
  }

  test("hll union of daily sketches equals the whole-month sketch; within 5% of exact") {
    // The mergeability contract q_agg_sketch_merge grades on: rolling up
    // persisted per-day sketches must give EXACTLY the estimate a direct
    // whole-month sketch gives (DataSketches HLL union is deterministic),
    // and both land within the 5% accuracy band of the exact distinct.
    val dir = sf("sf0.01")
    val merged = SparkEntry.queries("q_agg_sketch_merge")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = graft.sources.Tables.orders(spark, dir)
      .select(org.apache.spark.sql.functions
        .date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_custkey"))
      .groupBy("month")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").as("whole"),
        org.apache.spark.sql.functions.countDistinct("o_custkey").as("exact"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(direct.nonEmpty && merged.size === direct.length)
    direct.foreach { case (m, whole, exact) =>
      assert(merged(m) === whole,
        s"month $m: merged daily sketches ${merged(m)} != whole-month sketch $whole")
      assert(math.abs(whole.toDouble - exact) / exact <= 0.05,
        s"month $m: sketch $whole vs exact $exact off by >5%")
    }
  }

  test("percentile_approx within rank-accuracy bound of exact percentile") {
    // accuracy=1000 guarantees the returned value's RANK is within
    // n/1000 of the target rank; assert via the exact percentiles of the
    // surrounding rank band (a value-error bound would be distribution-
    // dependent and wrong)
    val spk = spark
    val df = graft.sources.Tables.lineitem(spk, sf("sf0.01"))
    Seq(0.5, 0.95).foreach { p =>
      val eps = 2.0 / 1000 // 2x slack on the nominal 1/accuracy rank error
      val rows = df.groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"), lit(p), lit(1000)).as("approx"),
          expr(s"percentile(l_extendedprice, ${math.max(0.0, p - eps)})").as("lo"),
          expr(s"percentile(l_extendedprice, ${math.min(1.0, p + eps)})").as("hi"))
        .collect()
      rows.foreach { r =>
        val (a, lo, hi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
        assert(a >= lo && a <= hi,
          s"flag ${r.getString(0)} p=$p: approx $a outside exact rank band [$lo, $hi]")
      }
    }
  }

  test("OR-amplified multi-table LSH recall@3 >= single-table recall@3") {
    // Table 0 of q_vec_lsh_multi IS q_vec_lsh_bucketed's index, so the
    // multi-table candidate set is a superset and recall vs brute-force
    // ground truth can only improve — verify the implementation preserves
    // that construction instead of assuming it.
    val dir = sf()
    def pairs(q: graft.Q): Set[(Long, Long)] =
      q.fn(spark, dir).select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = { // exact top-3 per query vector over the full corpus
      val e = graft.sources.Tables.embeddings(spark, dir)
      val a = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
      a.join(b, col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(VecExprs.dot(spark, col("a_vec"), col("b_vec")), 6).as("sim"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val single = pairs(graft.operators.VectorOps.qVecLshBucketed)
    val multi = pairs(graft.operators.VectorOps.qVecLshMulti)
    val rSingle = (single & truth).size.toDouble / truth.size
    val rMulti = (multi & truth).size.toDouble / truth.size
    assert(rMulti >= rSingle,
      s"multi-table recall $rMulti < single-table recall $rSingle")
    assert(rMulti > 0.0)
  }

  test("q_vec_covariance: a planted perfectly-correlated pair dominates") {
    val spk = spark
    import spk.implicits._
    val dim = 64
    // components 0 and 1 move together (+s, +s); component 2 moves against
    // them (-s); everything else is 0 — so |cov(0,1)| = |cov(0,2)| are the
    // only nonzero covariances and (0,1) wins the i,j tiebreak.
    val rows = (0 until 40).map { k =>
      val s = if (k % 2 == 0) 0.5f else -0.5f
      val v = Array.fill(dim)(0f)
      v(0) = s; v(1) = s; v(2) = -s
      (k.toLong, v, k % 3)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_cov").toString
    rows.write.parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.VectorOps.qVecCovariance.fn(spark, dir)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
    assert(out.nonEmpty)
    val ((i0, j0), c0) = out.head
    assert((i0, j0) === ((0, 1)), s"top pair must be the planted (0,1), got ($i0,$j0)")
    // zero-mean ±0.5 at 1e-4 units: raw cov = n·Σqiqj = 40·40·5000² exactly
    assert(c0 === 40L * 40L * 5000L * 5000L, s"exact integer covariance, got $c0")
    val c1 = out(1)
    assert(c1._1 === ((0, 2)) && c1._2 === -c0, "anti-correlated pair mirrors the sign")
  }

  test("q_dedup_semantic: exact-text vs paraphrase split on a planted corpus") {
    val spk = spark
    import spk.implicits._
    val dim = 64
    val base = Array.tabulate(dim)(i => (math.cos(i + 1.0) / 8.0).toFloat)
    def jitter(eps: Float) = base.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + eps else x }
    // ids 0,1: same embedding, same text → exact pair. ids 2,3: near
    // embeddings, different text → paraphrase pair. id 4: different
    // label, never paired.
    val dir = java.nio.file.Files.createTempDirectory("graft_sem").toString
    Seq(
      (0L, base, 0), (1L, base, 0),
      (2L, jitter(0.001f), 1), (3L, jitter(-0.001f), 1),
      (4L, base, 2)
    ).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    Seq(
      (0L, "identical text body", "en", "srcA"),
      (1L, "identical text body", "en", "srcA"),
      (2L, "first paraphrase wording", "en", "srcA"),
      (3L, "second paraphrase wording", "en", "srcA"),
      (4L, "unrelated", "en", "srcA")
    ).map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.VectorOps.qDedupSemantic.fn(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0) === ((1L, 1L, 0L)), "identical text + embedding = exact pair")
    assert(out(1) === ((1L, 0L, 1L)), "near embedding + different text = paraphrase")
    assert(!out.contains(2), "a single-member label can produce no pair")
  }

  test("q_vec_pca_power: recovers a planted rank-1 direction") {
    val spk = spark
    import spk.implicits._
    val dim = 64
    // u is a fixed unit vector; each row is ±0.8·u (zero mean), so the
    // covariance is exactly rank 1 with eigenvector u.
    val u = Array.tabulate(dim)(i => math.sin(i + 1.0))
    val norm = math.sqrt(u.map(x => x * x).sum)
    val un = u.map(x => (x / norm).toFloat)
    val rows = (0 until 50).map { k =>
      val s = if (k % 2 == 0) 0.8f else -0.8f
      (k.toLong, un.map(x => x * s), k % 3)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_pca").toString
    rows.write.parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.VectorOps.qVecPcaPower.fn(spark, dir)
      .orderBy("pos").collect()
    assert(out.length === dim)
    val v = out.map(_.getDouble(1))
    val dot = math.abs(v.zip(un).map { case (a, b) => a * b }.sum)
    assert(dot >= 0.99, s"planted direction not recovered: |cos| = $dot")
    val eig = out.head.getDouble(2)
    assert(eig > 0.0, "dominant eigenvalue must be positive on a rank-1 corpus")
    // The distributed-matvec path (the d >~ 2000 scale form, where the
    // Gramian never leaves the executors) must agree with the driver loop:
    // same planted direction, same eigenvalue scale.
    val dist = graft.operators.VectorOps.pcaPowerDistributed(spark, dir)
      .orderBy("pos").collect()
    assert(dist.length === dim)
    val vd = dist.map(_.getDouble(1))
    val dotD = math.abs(vd.zip(un).map { case (a, b) => a * b }.sum)
    assert(dotD >= 0.99, s"distributed matvec lost the direction: |cos| = $dotD")
    val align = math.abs(v.zip(vd).map { case (a, b) => a * b }.sum)
    assert(align >= 0.999999,
      s"driver and distributed power iterations diverged: |cos| = $align")
    assert(math.abs(dist.head.getDouble(2) - eig) <= math.abs(eig) * 1e-9 + 1e-6,
      s"eigenvalue mismatch: driver $eig vs distributed ${dist.head.getDouble(2)}")
  }

  test("q_dedup_semdedup: keep-first inside clusters, clusters bound the search") {
    val spk = spark
    import spk.implicits._
    val dim = 64
    // two orthogonal unit directions -> two clean clusters around seeds
    // 0 and 1; vectors 2,3 duplicate seed 0's direction exactly (cos 1),
    // vector 4 is seed 1's direction; vector 5 sits in cluster 1 nearly
    // orthogonal to 4 so it must NOT be dropped
    def unit(f: Int => Double) = {
      val u = Array.tabulate(dim)(f); val n = math.sqrt(u.map(x => x * x).sum)
      u.map(x => (x / n).toFloat)
    }
    val a = unit(i => if (i < 32) 1.0 else 0.0)
    val b = unit(i => if (i >= 32) 1.0 else 0.0)
    // one-hot inside b's half: assigned to cluster 1 (cos 1/sqrt(32) vs 0)
    // but below the 0.3 dup threshold against every cluster-1 member
    val lone = unit(i => if (i == 32) 1.0 else 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_semdedup").toString
    Seq((0L, a, 0), (1L, b, 0), (2L, a, 0), (3L, a, 0), (4L, b, 0), (5L, lone, 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.VectorOps.qDedupSemdedup.fn(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    graft.sources.Scratch.releaseAll()
    // all six vectors are seeds (vec_id < 8); exact-tie assignments break
    // to the LOWEST cid, so the a-copies {0,2,3} collapse into cluster 0
    // and the b-copies {1,4} into cluster 1; the one-hot sits alone
    assert(out.keySet === Set(0L, 1L, 5L), s"unexpected clusters: $out")
    // keep-first: 2 and 3 drop against keeper 0 (dropped-id sum 5)
    assert(out(0L) === ((3L, 2L, 5L)),
      s"cluster 0 expected 2 drops of ids 2+3, got ${out(0L)}")
    assert(out(1L) === ((2L, 1L, 4L)),
      s"cluster 1 expected only id 4 dropped, got ${out(1L)}")
    // below-threshold loner survives with zero drops — similarity is
    // checked inside the cluster, not mere membership
    assert(out(5L) === ((1L, 0L, 0L)),
      s"cluster 5 expected untouched loner, got ${out(5L)}")
  }

  test("pcaPowerDistributed matches the driver path on the fixture corpus") {
    val dir = sf()
    val drv = graft.operators.VectorOps.qVecPcaPower.fn(spark, dir)
      .orderBy("pos").collect().map(_.getDouble(1))
    graft.sources.Scratch.releaseAll()
    val dst = graft.operators.VectorOps.pcaPowerDistributed(spark, dir)
      .orderBy("pos").collect().map(_.getDouble(1))
    graft.sources.Scratch.releaseAll()
    val align = math.abs(drv.zip(dst).map { case (a, b) => a * b }.sum)
    assert(align >= 0.999999,
      s"distributed matvec diverged from the driver loop: |cos| = $align")
  }

  test("persisted ANN index probe matches the in-memory multi-table path") {
    // The write-once/probe-many artifact (VecIndex) must return the SAME
    // neighbors as q_vec_lsh_multi's in-memory derivation — on the real
    // sf0.001 corpus: write the signature+payload tables, read back,
    // probe with the vec_id < 50 panel, compare row-for-row.
    val spk = spark
    import spk.implicits._
    val dir = sf()
    val e = graft.sources.Tables.embeddings(spark, dir)
    // width PINNED to the in-memory pipeline's 4 tables: this test locks
    // round-trip fidelity against q_vec_lsh_multi; the default serving
    // width (16) has its own recall lock below
    graft.operators.VecIndex.write(e, "graft_vecspec_idx", tables = 4)
    graft.sources.Scratch.releaseAll()
    val probed = graft.operators.VecIndex.probe(
        spark, "graft_vecspec_idx", e.filter(col("vec_id") < 50),
        tables = 4)
      .orderBy("a_id", "rk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    graft.sources.Scratch.releaseAll()
    val inMem = graft.operators.VectorOps.qVecLshMulti.fn(spark, dir)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(probed.nonEmpty, "probe returned no neighbors")
    assert(probed === inMem,
      s"index probe diverged from in-memory path: ${probed.diff(inMem)} vs ${inMem.diff(probed)}")
    // the scale property the artifact exists for: the corpus signature
    // scan arrives pre-clustered on the candidate-join key (tbl, bucket)
    // — bucket-aware, no corpus-side re-hash
    val plan = graft.operators.VecIndex.probe(
        spark, "graft_vecspec_idx", e.filter(col("vec_id") < 50),
        tables = 4)
      .queryExecution.executedPlan.toString
    val sigScanSide = plan.linesIterator
      .filter(l => l.contains("graft_vecspec_idx_sig")).mkString("\n")
    assert(sigScanSide.contains("SelectedBucketsCount") ||
      plan.contains("Bucketed: true"),
      s"corpus signature scan is not bucket-aware:\n$plan")
    spark.sql("DROP TABLE IF EXISTS graft_vecspec_idx_sig")
    spark.sql("DROP TABLE IF EXISTS graft_vecspec_idx_emb")
  }

  test("the index's DEFAULT probe path clears the serving recall bar: mean recall@3 >= 0.8") {
    // VERDICT r19 #6: the 4-table default measured 0.47 recall@3 — the
    // default is now VecIndex.DefaultTables = 16 OR-amplified tables,
    // chosen by the measured ladder in its scaladoc (sf0.001 = 0.847,
    // sf0.01 = 0.90, sf0.1 = 0.89; graded as q_vec_recall_index).
    // Deterministic: hyperplanes are fixed integer literals, no RNG —
    // a hard >= 0.8 assertion cannot flake.
    val spk = spark
    import spk.implicits._
    val e = graft.sources.Tables.embeddings(spark, sf())
      .select("vec_id", "embedding")
    val name = "graft_vecspec_recidx"
    graft.operators.VecIndex.write(e, name) // DEFAULT width
    graft.sources.Scratch.releaseAll()
    val panel = e.filter(col("vec_id") < 50)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    val truth = panel
      .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_vec")),
        col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(graft.functions.VecExprs.dot(spk, col("a_vec"), col("b_vec")), 6)
          .as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("a_id", "b_id")
    val hits = truth.join(
        graft.operators.VecIndex.probe(spark, name, panel)
          .select("a_id", "b_id"),
        Seq("a_id", "b_id"), "left_semi").count()
    val recall = hits.toDouble / truth.count()
    assert(recall >= 0.8,
      f"default probe path recall@3 = $recall%.3f < 0.8 — the serving " +
        "config regressed below the graded bar")
    graft.sources.Scratch.releaseAll()
    spark.sql(s"DROP TABLE IF EXISTS ${name}_sig")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_emb")
  }

  test("VecIndex.compactIndex: one file per bucket, probe-equal, bucket-aware") {
    // The ANN index's maintenance operator: write half the corpus, append
    // the other half (two file generations per bucket), compact, and the
    // probe must return exactly the full-index neighbors over a
    // one-file-per-bucket layout that still serves the bucket-aware scan.
    val spk = spark
    import spk.implicits._
    val dir = sf()
    val e = graft.sources.Tables.embeddings(spark, dir)
    val name = "graft_vecspec_cpt_idx"
    graft.operators.VecIndex.write(e.filter(col("vec_id") % 2 === 0), name)
    graft.sources.Scratch.releaseAll()
    graft.operators.VecIndex.append(e.filter(col("vec_id") % 2 === 1), name)
    graft.sources.Scratch.releaseAll()
    val panel = e.filter(col("vec_id") < 50)
    val before = graft.operators.VecIndex.probe(spark, name, panel)
      .orderBy("a_id", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    graft.sources.Scratch.releaseAll()
    assert(spark.table(s"${name}_sig").inputFiles.length > 8,
      "write+append should leave two file generations per bucket")
    graft.operators.VecIndex.compactIndex(spark, name)
    assert(spark.table(s"${name}_sig").inputFiles.length <= 8,
      "sig table not compacted to one file per bucket")
    assert(spark.table(s"${name}_emb").inputFiles.length <= 8,
      "emb table not compacted to one file per bucket")
    val after = graft.operators.VecIndex.probe(spark, name, panel)
      .orderBy("a_id", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    assert(after === before,
      s"compaction changed probe results: ${after.diff(before)} vs ${before.diff(after)}")
    graft.sources.Scratch.releaseAll()
    val plan = graft.operators.VecIndex.probe(spark, name, panel)
      .queryExecution.executedPlan.toString
    val sigScanSide = plan.linesIterator
      .filter(l => l.contains(s"${name}_sig")).mkString("\n")
    assert(sigScanSide.contains("SelectedBucketsCount") ||
      plan.contains("Bucketed: true"),
      s"compacted signature scan is not bucket-aware:\n$plan")
    graft.sources.Scratch.releaseAll()
    spark.sql(s"DROP TABLE IF EXISTS ${name}_sig")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_emb")
  }

  test("persisted IVF index probe matches the in-memory 2-probe path") {
    // IVF's write-once/probe-many artifact: centroid table + cell-bucketed
    // corpus. Reading both back and probing must return exactly
    // q_vec_ivf_probe2's neighbors — the centroid doubles and float
    // payload must survive the parquet round-trip bit-for-bit, and the
    // shared ivfRank core guarantees the ranking logic cannot diverge.
    val spk = spark
    import spk.implicits._
    val dir = sf()
    val out = row("q_vec_index_ivf").fn(spark, dir)
      .as[(Long, Long, Double, Int)].collect().toSeq
    graft.sources.Scratch.releaseAll()
    val inMem = row("q_vec_ivf_probe2").fn(spark, dir)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(out.nonEmpty, "IVF index probe returned no neighbors")
    assert(out === inMem,
      s"IVF index round-trip diverged from in-memory path: " +
        s"${out.diff(inMem)} vs ${inMem.diff(out)}")
    Seq("_cent", "_cell").foreach(sfx => spark.sql(
      s"DROP TABLE IF EXISTS ${graft.operators.Scans.rtTable("ivf_idx")}$sfx"))
  }

  test("residual encoding beats flat codes when cells carry real structure") {
    // On the fixture corpus the label cells explain 0.45% of component
    // variance, so the residual and flat IVF-PQ recall rungs coincide
    // (BASELINE round 14). This planted corpus is the OTHER operating
    // point — four well-separated centers, small within-cluster noise —
    // where q1(x) removes most of the energy: the residual codebook's
    // 16×32 budget resolves the noise scale that actually ranks
    // neighbors, while the flat codebook must also span the center
    // scale. The residual rung must dominate here, or the residual
    // arithmetic isn't doing what the paper says it does.
    val spk = spark
    import spk.implicits._
    val dim = 64
    // deterministic noise in [-1, 1): splitmix-style hash of (row, pos)
    def h(a: Long, b: Long): Double = {
      val x = java.lang.Long.rotateLeft(a * 0x9E3779B97F4A7C15L + b, 31) *
        -4658895280553007687L // 0xBF58476D1CE4E5B9
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    val rows = (0 until 240).map { k =>
      val c = k % 4
      val v = Array.tabulate(dim) { p =>
        val center = if (p / 16 == c) 0.7 else 0.0
        (center + 0.05 * h(k.toLong, p.toLong)).toFloat
      }
      (k.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpqres").toString
    rows.write.parquet(s"$dir/embeddings.parquet")
    def meanRecall(q: graft.Q): Double = {
      val o = q.fn(spark, dir).collect().map(_.getDouble(2))
      graft.sources.Scratch.releaseAll()
      assert(o.nonEmpty, s"${q.name} returned no recall rows")
      o.sum / o.length
    }
    val res = meanRecall(row("q_vec_recall_ivfpq_res"))
    val flat = meanRecall(row("q_vec_recall_ivfpq"))
    info(f"planted-cluster recall@5: residual $res%.3f vs flat $flat%.3f")
    assert(res >= flat,
      s"residual recall $res < flat recall $flat on a clustered corpus")
    assert(res > 0.5,
      s"residual recall $res should resolve in-cluster neighbors here")
  }

  test("persisted residual IVF-PQ index probe matches the in-memory path") {
    // The residual artifact adds a coupling the flat variants don't
    // have: the codes are residuals AGAINST the persisted centroid
    // table, so any drift between the `_cent` write and the residual
    // derivation (or a lossy round-trip of either) shifts every ADC
    // score. Reading all three tables back and probing must return
    // exactly q_vec_ivfpq_res's ranking.
    val spk = spark
    import spk.implicits._
    val dir = sf()
    val out = row("q_vec_index_ivfpq_res").fn(spark, dir)
      .as[(Long, Long, Double, Int)].collect().toSeq
    graft.sources.Scratch.releaseAll()
    val inMem = row("q_vec_ivfpq_res").fn(spark, dir)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(out.nonEmpty, "residual IVF-PQ index probe returned no neighbors")
    assert(out === inMem,
      s"residual IVF-PQ round-trip diverged from in-memory path: " +
        s"${out.diff(inMem)} vs ${inMem.diff(out)}")
    Seq("_cent", "_cb", "_code").foreach(sfx => spark.sql(
      s"DROP TABLE IF EXISTS ${graft.operators.Scans.rtTable("ivfpqr_idx")}$sfx"))
  }

  test("exact re-rank never loses recall to the pure ADC tier") {
    // The two-tier contract: rr picks the exact-best 5 of ADC's top-20 —
    // a regression in the exact tier (wrong raw-float fetch join, stale
    // candidate cut, sim computed on the wrong column) shows up here as
    // the re-rank scoring BELOW the quantized tier it refines
    // (sf0.001 measures 0.29 vs 0.24; sf0.1 0.28 vs 0.19).
    val dir = sf()
    def mean(q: graft.Q): Double = {
      val o = q.fn(spark, dir).collect().map(_.getDouble(2))
      graft.sources.Scratch.releaseAll()
      o.sum / o.length
    }
    val rr = mean(row("q_vec_recall_ivfpq_rr"))
    val adc = mean(row("q_vec_recall_ivfpq"))
    assert(rr >= adc, s"re-rank recall $rr < pure-ADC recall $adc")
    assert(rr > 0.0, "re-rank recall must be nonzero on the fixture")
  }

  test("probe-4 widens recall over probe-2 at both tiers") {
    // The serving-recall lever: the r14 measurement proved the p=2 error
    // budget is 100% cell pruning, so 4 probed cells must strictly beat 2
    // for the SAME index at both the ADC tier and the re-ranked tier
    // (sf0.1 ladder: ADC 0.19→0.24, rerank 0.28→0.41). A tie here means
    // the probe parameter is not reaching the coarse ranker.
    val dir = sf()
    def mean(q: graft.Q): Double = {
      val o = q.fn(spark, dir).collect().map(_.getDouble(2))
      graft.sources.Scratch.releaseAll()
      o.sum / o.length
    }
    val adc2 = mean(row("q_vec_recall_ivfpq"))
    val adc4 = mean(row("q_vec_recall_ivfpq_p4"))
    val rr2 = mean(row("q_vec_recall_ivfpq_rr"))
    val rr4 = mean(row("q_vec_recall_ivfpq_rr_p4"))
    assert(adc4 >= adc2, s"p4 ADC recall $adc4 < p2 $adc2")
    assert(rr4 > rr2, s"p4 re-rank recall $rr4 must beat p2 $rr2")
    assert(rr4 >= adc4, s"p4 re-rank $rr4 < p4 ADC $adc4")
    // the cut-width knob: a 40-candidate cut must never lose to 20 (it
    // re-ranks a superset; sf0.1 measures 0.44 vs 0.41)
    val rr4w = mean(row("q_vec_recall_ivfpq_rr_p4_w40"))
    assert(rr4w >= rr4, s"w40 re-rank recall $rr4w < w20 $rr4")
    // the exact tier EQUALIZES code resolutions: the residual two-tier
    // rung must never fall below the flat one at the same probes/cut
    // (sf0.1 measures them exactly equal at both operating points)
    val resRr = mean(row("q_vec_recall_ivfpq_res_rr"))
    val resRr4w = mean(row("q_vec_recall_ivfpq_res_rr_p4_w40"))
    assert(resRr >= rr2, s"residual re-rank $resRr < flat re-rank $rr2")
    assert(resRr4w >= rr4, s"residual full stack $resRr4w < flat p4 $rr4")
  }

  test("residual encoding strictly beats flat codes on the clustered corpus") {
    // The operating-point claim, now over the GRADED generated corpus
    // (portable-md5 jitter around 8 planted centers — between-cell
    // variance dominates, the regime Jégou §V-A motivates residuals for):
    // same cells, same probes, same 16×32 code budget; only the encoding
    // differs. Measured: 0.71 vs 0.45 at 500 vectors; 0.58 vs 0.25 at
    // sf0.1's 2000. On the near-uniform parquet fixture the pair TIES —
    // that contrast is the point (see the clustered-corpus Scaladoc).
    val dir = sf()
    def mean(q: graft.Q): Double = {
      val o = q.fn(spark, dir).collect().map(_.getDouble(2))
      graft.sources.Scratch.releaseAll()
      o.sum / o.length
    }
    val flat = mean(row("q_vec_recall_ivfpq_clu"))
    val res = mean(row("q_vec_recall_ivfpq_res_clu"))
    assert(res > flat,
      s"residual recall $res must strictly beat flat $flat on a clustered corpus")
    assert(res > 0.5, s"residual recall $res unexpectedly low — generator drift?")
  }

  test("second Lloyd round: recall monotone, assignment shift shrinks") {
    // The q_vec_recall_ivfpq_t2 ladder claim: another training round at
    // fixed probes/codes never loses recall (measured: 0.44 -> 0.44 at
    // 500 vectors — already converged; 0.38 -> 0.41 at sf0.01; 0.28 ->
    // 0.30 at sf0.1), and the convergence readout behind it is the
    // q_vec_kmeans_iter machinery: the round-2 re-assignment moves only
    // a minority of vectors, i.e. the quantizer is settling, not
    // wandering.
    val dir = sf()
    def mean(q: graft.Q): Double = {
      val o = q.fn(spark, dir).collect().map(_.getDouble(2))
      graft.sources.Scratch.releaseAll()
      o.sum / o.length
    }
    val r1 = mean(row("q_vec_recall_ivfpq_trained"))
    val r2 = mean(row("q_vec_recall_ivfpq_t2"))
    info(f"trained recall@5: 1 round $r1%.3f vs 2 rounds $r2%.3f")
    // small tolerance, not strict monotonicity: Lloyd rounds minimize
    // quantization distortion, not recall@5 — a second round may shuffle
    // a boundary vector and drop mean recall by epsilon on a fixture/SF
    // change; the hard invariant is the convergence shift below
    assert(r2 >= r1 - 0.02, s"round 2 lost recall: $r1 -> $r2")
    // convergence shift: labels that changed between round 1 and round 2
    val e = graft.operators.VectorOps.cleanEmbeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val a1 = graft.operators.VectorOps.trainedCellsN(e, 1)._2
      .withColumnRenamed("label", "l1")
    val a2 = graft.operators.VectorOps.trainedCellsN(e, 2)._2
      .withColumnRenamed("label", "l2")
    val joined = a1.join(a2, "vec_id")
    val total = joined.count()
    val moved = joined.filter(col("l1") =!= col("l2")).count()
    graft.sources.Scratch.releaseAll()
    info(s"round-2 assignment shift: $moved of $total vectors moved")
    assert(moved * 2 < total,
      s"round 2 moved $moved of $total vectors — quantizer not converging")
  }

  test("trained quantizer recovers the planted partition on the clustered corpus") {
    // q_vec_recall_ivfpq_tclu's matrix corner: where real cell structure
    // exists, one Lloyd round from 8 arbitrary seeds lands on cells as
    // good as the PLANTED labels — measured an exact recall tie (0.45 at
    // sf0.001/sf0.01, 0.25 at sf0.1) because the trained cells converge
    // to the planted partition itself. Locked with a small tolerance:
    // training must recover at least label-recall minus noise.
    val dir = sf()
    def mean(q: graft.Q): Double = {
      val o = q.fn(spark, dir).collect().map(_.getDouble(2))
      graft.sources.Scratch.releaseAll()
      o.sum / o.length
    }
    val lab = mean(row("q_vec_recall_ivfpq_clu"))
    val trn = mean(row("q_vec_recall_ivfpq_tclu"))
    info(f"clustered-corpus recall@5: planted labels $lab%.3f vs trained $trn%.3f")
    assert(trn >= lab - 0.05,
      s"trained cells $trn fell below planted labels $lab on a clustered corpus")
    assert(trn > 0.3, s"trained clustered recall $trn unexpectedly low")
  }

  test("IVF-PQ append: fixed-codebook encode, replay-safe, probe-visible") {
    // The FAISS add() contract for the composed index: an appended batch
    // is encoded against the PERSISTED codebook (never retrained — the
    // codes must equal an offline pqAssign with the stored book), the
    // book and centroid tables stay byte-identical, a replayed append
    // adds nothing, and appended vectors surface in the next probe.
    val spk = spark
    import spk.implicits._
    val dir = sf()
    val e = graft.sources.Tables.embeddings(spark, dir)
    val name = "graft_vecspec_ivfpq_app"
    graft.operators.VecIndex.ivfpqWrite(e.filter(col("vec_id") % 2 === 0), name)
    val cbBefore = spk.table(s"${name}_cb")
      .as[(Int, Int, Seq[Double])].collect().toSet
    graft.operators.VecIndex.ivfpqAppend(e.filter(col("vec_id") % 2 === 1), name)
    graft.operators.VecIndex.ivfpqAppend(e.filter(col("vec_id") % 2 === 1), name)
    assert(spk.table(s"${name}_code").select("vec_id").distinct().count()
      === e.count(), "replayed IVF-PQ append duplicated code rows")
    assert(spk.table(s"${name}_cb").as[(Int, Int, Seq[Double])].collect().toSet
      === cbBefore, "append must not retrain the codebook")
    // the decisive identity: appended codes == offline encode with the
    // stored book (append cannot have trained or drifted)
    val expectOdd = graft.operators.VectorOps.pqAssign(spk,
        graft.operators.VectorOps.pqSubvectors(
          e.filter(col("vec_id") % 2 === 1)),
        spk.table(s"${name}_cb"))
      .select("vec_id", "s", "code").as[(Long, Int, Int)].collect().toSet
    val gotOdd = spk.table(s"${name}_code").filter(col("vec_id") % 2 === 1)
      .select("vec_id", "s", "code").as[(Long, Int, Int)].collect().toSet
    assert(gotOdd === expectOdd,
      "appended codes differ from a fixed-book offline encode")
    graft.sources.Scratch.releaseAll()
    val probed = graft.operators.VecIndex.ivfpqProbe(spark, name,
        e.filter(col("vec_id") < 20).select(col("vec_id"), col("embedding")))
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(probed.exists(_._2 % 2 == 1),
      "no appended (odd-id) vector ever surfaced as an ADC neighbor")
    Seq("_cent", "_cb", "_code").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $name$sfx"))
  }

  test("residual IVF-PQ append residualizes against the persisted centroids") {
    // Same add() contract for the residual artifact, plus its extra
    // coupling: the appended codes must be residuals of exactly the
    // PERSISTED centroid table (re-deriving centroids from the half
    // corpus at append time would shift every code).
    val spk = spark
    import spk.implicits._
    val dir = sf()
    val e = graft.sources.Tables.embeddings(spark, dir)
    val name = "graft_vecspec_ivfpqr_app"
    graft.operators.VecIndex.ivfpqResWrite(
      e.filter(col("vec_id") % 2 === 0), name)
    graft.operators.VecIndex.ivfpqResAppend(
      e.filter(col("vec_id") % 2 === 1), name)
    graft.operators.VecIndex.ivfpqResAppend(
      e.filter(col("vec_id") % 2 === 1), name)
    assert(spk.table(s"${name}_code").select("vec_id").distinct().count()
      === e.count(), "replayed residual append duplicated code rows")
    val resvOdd = e.filter(col("vec_id") % 2 === 1)
      .join(broadcast(spk.table(s"${name}_cent")), "label")
      .select(col("vec_id"), col("label"),
        expr("zip_with(embedding, cv, (x, y) -> CAST(x AS DOUBLE) - y)")
          .as("embedding"))
    val expectOdd = graft.operators.VectorOps.pqAssign(spk,
        graft.operators.VectorOps.pqSubvectors(resvOdd),
        spk.table(s"${name}_cb"))
      .select("vec_id", "s", "code").as[(Long, Int, Int)].collect().toSet
    val gotOdd = spk.table(s"${name}_code").filter(col("vec_id") % 2 === 1)
      .select("vec_id", "s", "code").as[(Long, Int, Int)].collect().toSet
    assert(gotOdd === expectOdd,
      "appended residual codes differ from a persisted-centroid encode")
    graft.sources.Scratch.releaseAll()
    Seq("_cent", "_cb", "_code").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $name$sfx"))
  }

  test("VecIndex.register re-declares the ANN artifact in a bare catalog") {
    // Same recovery contract as DedupIndex.register, for the LSH tables:
    // re-registering a second name over the first name's directories
    // (what a fresh session does with the known warehouse paths) must
    // probe row-identically, and dropping the external re-registration
    // must leave the data intact.
    val spk = spark
    import spk.implicits._
    val dir = sf()
    val e = graft.sources.Tables.embeddings(spark, dir)
    graft.operators.VecIndex.write(e, "graft_vecspec_reg_idx")
    val batch = e.filter(col("vec_id") < 20)
    val original = graft.operators.VecIndex.probe(
        spark, "graft_vecspec_reg_idx", batch)
      .orderBy("a_id", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    def loc(t: String): String = spk.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .location.toString
    graft.operators.VecIndex.register(spark, "graft_vecspec_reg2_idx",
      loc("graft_vecspec_reg_idx_sig"), loc("graft_vecspec_reg_idx_emb"))
    val recovered = graft.operators.VecIndex.probe(
        spark, "graft_vecspec_reg2_idx", batch)
      .orderBy("a_id", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    assert(recovered.nonEmpty && recovered === original,
      "re-registered ANN index diverged from the original")
    // drop-safety of the external re-registration is covered by the
    // DedupIndex.register test; here just clean up (reg2 first — it is
    // external, so the managed original still owns the data)
    Seq("graft_vecspec_reg2_idx", "graft_vecspec_reg_idx").foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS ${n}_sig")
      spark.sql(s"DROP TABLE IF EXISTS ${n}_emb")
    }
  }

  test("IVF append maintenance: payload-only admit, fixed centroids, probe-visible") {
    // IVF's admit path must be O(batch): payload rows append to the cell
    // table, the centroid table stays byte-identical (retraining is the
    // offline ivfWrite path). Appended vectors must surface as neighbors
    // of the next probe — candidate generation joins on the stored label.
    val spk = spark
    import spk.implicits._
    val dir = sf()
    // fixture embeddings are all in-contract, so the raw table equals the
    // pipeline's cleaned view
    val e = graft.sources.Tables.embeddings(spark, dir)
    graft.operators.VecIndex.ivfWrite(
      e.filter(col("vec_id") % 2 === 0), "graft_vecspec_ivf_app")
    val centBefore = spk.table("graft_vecspec_ivf_app_cent")
      .as[(Int, Seq[Double])].collect().toMap
    graft.operators.VecIndex.ivfAppend(
      e.filter(col("vec_id") % 2 === 1), "graft_vecspec_ivf_app")
    // replayed admit must append nothing (same guard as the LSH index)
    graft.operators.VecIndex.ivfAppend(
      e.filter(col("vec_id") % 2 === 1), "graft_vecspec_ivf_app")
    assert(spk.table("graft_vecspec_ivf_app_cell").count() === e.count(),
      "replayed IVF append duplicated cell rows")
    val centAfter = spk.table("graft_vecspec_ivf_app_cent")
      .as[(Int, Seq[Double])].collect().toMap
    assert(centAfter === centBefore,
      "append must not touch the centroid table")
    graft.sources.Scratch.releaseAll()
    val probed = graft.operators.VecIndex.ivfProbe(
        spark, "graft_vecspec_ivf_app",
        e.filter(col("vec_id") < 20).select(col("vec_id"), col("embedding")))
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(probed.nonEmpty, "IVF probe returned no neighbors after append")
    assert(probed.exists(_._2 % 2 == 1),
      "no appended (odd-id) vector ever surfaced as a neighbor")
    spark.sql("DROP TABLE IF EXISTS graft_vecspec_ivf_app_cent")
    spark.sql("DROP TABLE IF EXISTS graft_vecspec_ivf_app_cell")
  }

  test("VecIndex append maintenance: an admitted batch is visible to the next probe") {
    // Ingest-cycle loop: index half the corpus, append the other half,
    // then probe — the probe against the appended index must equal a
    // probe against an index WRITTEN whole (append is a pure union of
    // per-vector rows, so the two artifacts must be indistinguishable).
    val spk = spark
    import spk.implicits._
    val dir = sf()
    val e = graft.sources.Tables.embeddings(spark, dir)
    val batch = e.filter(col("vec_id") < 20)
    graft.operators.VecIndex.write(e.filter(col("vec_id") % 2 === 0), "graft_vecspec_app_idx")
    graft.operators.VecIndex.append(e.filter(col("vec_id") % 2 === 1), "graft_vecspec_app_idx")
    // REPLAY the append (foreachBatch at-least-once): the idempotence
    // guard must admit nothing — a duplicated payload row would give the
    // same neighbor two ranks in the probe top-k
    graft.operators.VecIndex.append(e.filter(col("vec_id") % 2 === 1), "graft_vecspec_app_idx")
    assert(spk.table("graft_vecspec_app_idx_emb").count() === e.count(),
      "replayed append duplicated payload rows")
    graft.operators.VecIndex.write(e, "graft_vecspec_whole_idx")
    graft.sources.Scratch.releaseAll()
    val appended = graft.operators.VecIndex.probe(
        spark, "graft_vecspec_app_idx", batch)
      .orderBy("a_id", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    val whole = graft.operators.VecIndex.probe(
        spark, "graft_vecspec_whole_idx", batch)
      .orderBy("a_id", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    assert(appended.nonEmpty && appended === whole,
      s"append-built index diverged from whole-written index: " +
        s"${appended.diff(whole)} vs ${whole.diff(appended)}")
    // odd-id neighbors exist in the result — the appended rows are live
    assert(appended.exists(_._2 % 2 == 1),
      "no appended (odd-id) vector ever surfaced as a neighbor")
    Seq("graft_vecspec_app_idx", "graft_vecspec_whole_idx").foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS ${n}_sig")
      spark.sql(s"DROP TABLE IF EXISTS ${n}_emb")
    }
  }

  test("VecIndex append replay after a crash between the two writes leaves no duplicate sig rows") {
    // Crash model: append wrote `_sig` and died before `_emb`. The replay
    // sees the batch absent from the admission record (`_emb`) and runs
    // again — its sig write must skip the rows already on disk, or the
    // artifact accumulates permanent duplicate signature rows.
    val spk = spark
    val dir = sf()
    val e = graft.sources.Tables.embeddings(spark, dir)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 === 1)
    graft.operators.VecIndex.write(evens, "graft_vecspec_crash_idx")
    // simulate the half-committed append: sig rows land, payload does not
    // (width = the index's serving default, the same width append replays)
    graft.sources.Sinks.writeBucketed(
      graft.operators.VectorOps.sigLongForm(odds,
        graft.operators.VecIndex.DefaultTables), 8, Seq("tbl", "bucket"),
      "graft_vecspec_crash_idx_sig", org.apache.spark.sql.SaveMode.Append)
    // foreachBatch replays the batch
    graft.operators.VecIndex.append(odds, "graft_vecspec_crash_idx")
    val sig = spk.table("graft_vecspec_crash_idx_sig")
    assert(sig.count() === sig.dropDuplicates("vec_id", "tbl").count(),
      "replayed append duplicated signature rows after a simulated crash")
    assert(sig.count() === e.count() * graft.operators.VecIndex.DefaultTables,
      "sig table does not hold exactly DefaultTables signatures per vector")
    assert(spk.table("graft_vecspec_crash_idx_emb").count() === e.count(),
      "payload table incomplete after the replayed append")
    Seq("_sig", "_emb").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS graft_vecspec_crash_idx$s"))
  }
}
