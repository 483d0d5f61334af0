package graft.operators

import graft.sources.Scratch.PersistSyntax
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Q
import graft.sources.Tables

/** Vector / similarity-search operators over the embeddings table
  * (SURVEY.md §2.7 Q33-Q34 + ANN variants): brute-force cosine top-k,
  * element-wise centroids, threshold near-dup pairs, and a bucketed
  * (IVF-style) ANN path.
  *
  * The dot product is pure higher-order-function SQL (zip_with + aggregate)
  * — codegen-friendly, no UDF, verified byte-identical vs DuckDB
  * (SURVEY §2.7 Q33). Embeddings are unit-norm so cosine ≡ dot product.
  *
  * Scale notes: brute-force pairing is the CORRECTNESS baseline; the scale
  * path is `q_vec_ann_bucketed`, which joins only within a coarse bucket
  * (here the label; at 100 TB, a k-means/IVF cell id or LSH band computed
  * the same way) — the join key turns the quadratic pair-gen into
  * per-bucket work, which is exactly how a 1000-executor cluster shards it.
  */
object VectorOps {

  /** dot(a, b) via the codegen'd DotProduct Catalyst expression
    * (functions.VecExprs) — same ascending-order double accumulation as
    * the DuckDB oracle's list_sum, ~30x faster than the equivalent
    * higher-order-function fold on all-pairs workloads. */
  private def dot(spark: SparkSession)(a: Column, b: Column): Column =
    graft.functions.VecExprs.dot(spark, a, b)

  private val sqlDot =
    "list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"

  /** The documented embedding contract: dim = 64 and every component in
    * [-1, 1] (the fixture vectors are L2-normalized). `abs(x) <= 1` is
    * also the finiteness gate — NaN and Inf fail the comparison on both
    * engines — so the NUMERIC-ACCUMULATING operators (integer-unit
    * centroid sums, the quantizer grid) can't overflow their
    * DECIMAL(38,0) on one junk row (RobustnessSpec). Out-of-contract
    * rows are counted by [[qVecValidate]] — the pipeline gate — never
    * silently lost: the validator is graded precisely so exclusions are
    * observable. */
  private val Dim = 64
  private[graft] def cleanEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === Dim &&
        expr("forall(embedding, x -> abs(x) <= 1.0d)"))
  private val sqlClean =
    s"len(embedding) = $Dim AND len(list_filter(embedding, x -> abs(x) <= 1.0)) = $Dim"

  /** Embedding-contract validator — the hygiene gate a pipeline runs
    * before the vector operators: per label, how many vectors violate
    * the dimension, the component range (which also catches NaN/Inf),
    * or are all-zero (cosine-undefined). One scan, pure per-row
    * expressions, a label-cardinality shuffle. */
  val qVecValidate = Q(
    "q_vec_validate",
    s"""SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(COUNT(*) FILTER (WHERE len(embedding) <> $Dim) AS BIGINT) AS n_bad_dim,
       |  CAST(COUNT(*) FILTER (WHERE len(list_filter(embedding, x -> abs(x) <= 1.0))
       |       <> len(embedding)) AS BIGINT) AS n_bad_component,
       |  CAST(COUNT(*) FILTER (WHERE len(embedding) = $Dim
       |       AND len(list_filter(embedding, x -> x = 0)) = $Dim) AS BIGINT) AS n_zero
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin
  ) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        count(when(size(col("embedding")) =!= Dim, 1)).as("n_bad_dim"),
        // coalesce(..., false): a NULL array element makes forall NULL —
        // such a vector must COUNT as bad (DuckDB's list_filter drops the
        // null and already counts it), not silently escape the gate.
        count(when(not(coalesce(expr("forall(embedding, x -> abs(x) <= 1.0d)"),
          lit(false))), 1)).as("n_bad_component"),
        count(when(size(col("embedding")) === Dim &&
          expr("forall(embedding, x -> x = 0.0d)"), 1)).as("n_zero"))
      .orderBy("label")
  }

  /** Q33 — brute-force cosine top-10 pairs (a_id < b_id). */
  val q33 = Q(
    "q_vec_knn",
    s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  round($sqlDot, 6) AS sim
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |ORDER BY sim DESC, a_id, b_id
       |LIMIT 10""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(spark)(col("a_vec"), col("b_vec")), 6).as("sim"))
      .orderBy(desc("sim"), asc("a_id"), asc("b_id"))
      .limit(10)
  }

  /** Q34 — per-label element-wise centroid, long format (label, pos, c).
    * Components are summed as exact 1e-9-resolution integer units (Det
    * discipline) so the mean is partition-order independent. The
    * accumulator is DECIMAL(38,0), mirroring Det.exactSum: unit values are
    * ~1e9, so a BIGINT sum would wrap past ~9e9 rows per group — DuckDB's
    * SUM(BIGINT) is already a 128-bit HUGEINT, so only the Spark side
    * needed widening; both engines then divide the exact sum as DOUBLE. */
  val q34 = Q(
    "q_vec_centroid",
    s"""SELECT label, CAST(i - 1 AS INT) AS pos,
      |  SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000000) AS BIGINT))
      |    / 1000000000.0 / COUNT(*) AS c,
      |  COUNT(*) AS n
      |FROM embeddings, range(1, 65) t(i)
      |WHERE ${sqlClean}
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin
  ) { (spark, dir) =>
    cleanEmbeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(
        (sum(round(col("v").cast("double") * 1000000000L).cast("decimal(38,0)"))
          .cast("double") / lit(1000000000.0) / count(lit(1))).as("c"),
        count(lit(1)).as("n"))
      .orderBy("label", "pos")
  }

  /** Embedding-cosine near-duplicate pairs: sim ≥ threshold, blocked by
    * label (near-identical vectors land in the same coarse bucket; the
    * documented recall tradeoff of every blocked ANN scheme). */
  val qVecNearDup = Q(
    "q_vec_neardup",
    s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
       |  round($sqlDot, 6) AS sim
       |FROM embeddings a JOIN embeddings b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE $sqlDot >= 0.3
       |ORDER BY a_id, b_id""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("vec_id").as("a_id"), col("label"), col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("embedding").as("b_vec"))
    a.join(b, col("label") === col("b_label") && col("a_id") < col("b_id"))
      .withColumn("sim_raw", dot(spark)(col("a_vec"), col("b_vec")))
      .filter(col("sim_raw") >= 0.3)
      .select(col("a_id"), col("b_id"), col("label"),
        round(col("sim_raw"), 6).as("sim"))
      .orderBy("a_id", "b_id")
  }

  /** Bucketed ANN (IVF-style): top-3 nearest neighbors per query vector,
    * searching ONLY its bucket. Window top-k per query after an in-bucket
    * equi join — the plan a 100 TB ANN lookup actually wants (shuffle on
    * bucket id, local heap per query). */
  val qVecAnnBucketed = Q(
    "q_vec_ann_bucketed",
    s"""SELECT a_id, b_id, sim, rk FROM (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    round($sqlDot, 6) AS sim,
       |    CAST(row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY round($sqlDot, 6) DESC, b.vec_id) AS INT) AS rk
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 50)
       |WHERE rk <= 3
       |ORDER BY a_id, rk""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    val a = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("a_id"), col("label"), col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("embedding").as("b_vec"))
    val w = Window.partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    a.join(b, col("label") === col("b_label") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(spark)(col("a_vec"), col("b_vec")), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy("a_id", "rk")
  }

  // ---- Random-hyperplane LSH ---------------------------------------------
  // 8 deterministic integer hyperplanes over dim 64, generated from one
  // formula and shared by the codegen'd graft_lsh_sigs and the DuckDB
  // oracle's array literals — so bucket assignment is bit-identical
  // cross-engine. sign(h·v) per hyperplane → an 8-bit bucket.
  // Hash TABLE t uses planes 8t..8t+7, so table 0 is the original
  // single-table index and tables 1-3 are the OR-amplification extras —
  // q_vec_lsh_multi's candidate set is a strict superset of table 0's,
  // which makes its recall@3 ≥ the single-table value by construction
  // (VectorAndApproxSpec asserts it).
  private val nPlanes = 8
  private[operators] val nTables = 4
  // ONE plane source for every formulation — see LshPlanes.
  private def plane(j: Int): IndexedSeq[Int] =
    graft.functions.LshPlanes.plane(j).toIndexedSeq

  private def bucketExprDuck(t: Int = 0): String =
    (0 until nPlanes).map { j =>
      val arr = plane(nPlanes * t + j).mkString("[", ", ", "]")
      s"CASE WHEN list_sum(list_transform(list_zip(embedding, $arr), x -> CAST(x[1] AS DOUBLE) * x[2])) >= 0 THEN ${1 << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** LSH-bucketed ANN: top-3 neighbors per query vector, searching only
    * its random-hyperplane bucket. Unlike q_vec_ann_bucketed (label = an
    * IVF cell stand-in, data-DEPENDENT), hyperplane buckets are
    * data-INDEPENDENT — the production shape when no clustering exists
    * yet. The bucket id is the equi-join key, so candidate generation is
    * a plain shuffle join at any scale. */
  val qVecLshBucketed = Q(
    "q_vec_lsh_bucketed",
    s"""WITH t AS (SELECT vec_id, embedding, CAST(${bucketExprDuck()} AS INT) AS bucket
       |           FROM embeddings)
       |SELECT a_id, b_id, bucket, sim, rk FROM (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket AS bucket,
       |    round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS sim,
       |    CAST(row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) DESC, b.vec_id) AS INT) AS rk
       |  FROM t a JOIN t b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 50)
       |WHERE rk <= 3
       |ORDER BY a_id, rk""".stripMargin
  ) { (spark, dir) =>
    // persist: both join sides re-derive the bucket (8 hyperplane dot
    // products per row) — cache the bucketed table once
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", graft.functions.VecExprs.lshSigs(
        spark, col("embedding"), 1).getItem(0)) // codegen'd table-0 bucket
      .persistScratch()
    val a = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("a_id"), col("bucket"), col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("bucket").as("b_bucket"),
      col("embedding").as("b_vec"))
    val w = Window.partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    a.join(b, col("bucket") === col("b_bucket") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("bucket"),
        round(dot(spark)(col("a_vec"), col("b_vec")), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy("a_id", "rk")
  }

  /** Embedding-cosine near-dup at 100 TB shape: candidates from the
    * random-hyperplane LSH bucket (data-independent equi-join key — the
    * scale path q_vec_neardup's label blocking stands in for), then exact
    * cosine-threshold verify. Recall is bucket-bounded by construction
    * (near-identical vectors land in the same bucket with high
    * probability; the standard multi-probe/multi-table extension raises
    * it) — the documented tradeoff of every LSH dedup. */
  val qVecLshNearDup = Q(
    "q_vec_lsh_neardup",
    s"""WITH t AS (SELECT vec_id, embedding, CAST(${bucketExprDuck()} AS INT) AS bucket
       |           FROM embeddings)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket AS bucket,
       |  round($sqlDot, 6) AS sim
       |FROM t a JOIN t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE $sqlDot >= 0.3
       |ORDER BY a_id, b_id""".stripMargin
  ) { (spark, dir) =>
    // persist: the bucketed table feeds both sides of the self-join (8
    // hyperplane dot products per row otherwise computed twice)
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", graft.functions.VecExprs.lshSigs(
        spark, col("embedding"), 1).getItem(0)) // codegen'd table-0 bucket
      .persistScratch()
    val a = e.select(col("vec_id").as("a_id"), col("bucket"),
      col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("bucket").as("b_bucket"),
      col("embedding").as("b_vec"))
    a.join(b, col("bucket") === col("b_bucket") && col("a_id") < col("b_id"))
      .withColumn("sim_raw", dot(spark)(col("a_vec"), col("b_vec")))
      .filter(col("sim_raw") >= 0.3)
      .select(col("a_id"), col("b_id"), col("bucket"),
        round(col("sim_raw"), 6).as("sim"))
      .orderBy("a_id", "b_id")
  }

  /** OR-amplified multi-table LSH ANN: 4 independent 8-plane hyperplane
    * tables; a pair is a candidate if ANY table buckets it together
    * (probability 1-(1-p^8)^4 vs the single table's p^8 — the standard
    * recall lever), then exact-dot re-rank to top-3 per query vector.
    *
    * Scale shape: the signature table is LONG FORM (vec_id, tbl, bucket) —
    * 4 small rows per vector, no embedding payload — so candidate
    * generation is one equi-join on (tbl, bucket) whose shuffle carries
    * ids+ints only; the 64-float vectors travel only in the final re-rank
    * join against the distinct candidate pairs. That ordering (sketch
    * join first, payload join last) is what keeps the plan viable when
    * the corpus is 100 TB of embeddings. Table 0 is exactly
    * q_vec_lsh_bucketed's index, so this candidate set is a superset of
    * the single-table one and recall@3 can only improve (asserted in
    * VectorAndApproxSpec, reported by q_vec_recall_multi). */
  // Shared CTE prefix: multi-table signatures -> distinct candidate pairs
  // -> exact top-3 re-rank, used by q_vec_lsh_multi and q_vec_recall_multi.
  private def multiTop3Duck(tables: Int = nTables): String =
    s"""WITH s AS (SELECT vec_id,
       |    ${(0 until tables).map(t => s"CAST(${bucketExprDuck(t)} AS INT) AS b$t").mkString(", ")}
       |  FROM embeddings),
       |sig AS (
       |  SELECT vec_id, t.tbl,
       |    CASE t.tbl ${(0 until tables).map(t => s"WHEN $t THEN b$t").mkString(" ")} END AS bucket
       |  FROM s, (VALUES ${(0 until tables).map(t => s"($t)").mkString(", ")}) AS t(tbl)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM sig a JOIN sig b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 50),
       |multi3 AS (
       |  SELECT a_id, b_id, sim, rk FROM (
       |    SELECT c.a_id, c.b_id,
       |      round($sqlDot, 6) AS sim,
       |      CAST(row_number() OVER (PARTITION BY c.a_id
       |        ORDER BY round($sqlDot, 6) DESC, c.b_id) AS INT) AS rk
       |    FROM cand c
       |    JOIN embeddings a ON a.vec_id = c.a_id
       |    JOIN embeddings b ON b.vec_id = c.b_id)
       |  WHERE rk <= 3)""".stripMargin

  /** Long-form multi-table signatures of an embeddings frame: (vec_id,
    * tbl, bucket), `nTables` ids+ints rows per vector, NO payload. The ONE
    * formulation shared by the in-memory pipeline ([[multiTop3]]) and the
    * persisted index writer/prober ([[VecIndex]]), so the disk artifact
    * and the oracle twin can never disagree on the signature shape. */
  private[graft] def sigLongForm(emb: DataFrame,
      tables: Int = nTables): DataFrame =
    // codegen'd bucket loop + posexplode (pos = tbl, col = bucket):
    // bit-identical to the HOF-per-plane + stack() form this replaces
    // (see LshSigs' parity note), but the plan carries ONE compact
    // expression instead of a tables×8-plane literal tree — measured
    // 3.0 s → ~0.2 s per sig derivation at sf0.1, and every index
    // write/probe/append/ingest-cycle pays it once per plan.
    emb.select(col("vec_id"),
      posexplode(graft.functions.VecExprs.lshSigs(emb.sparkSession,
        col("embedding"), tables)).as(Seq("tbl", "bucket")))

  /** Spark side of the shared pipeline: exact top-3 per query vector over
    * the OR'd multi-table candidate set (columns a_id, b_id, sim, rk). */
  private def multiTop3(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // long-form signatures — persisted because both sides of the
    // candidate self-join read it
    val sig = sigLongForm(e).persistScratch()
    val cand = sig.filter(col("vec_id") < 50)
      .select(col("vec_id").as("a_id"), col("tbl"), col("bucket"))
      .join(sig.select(col("vec_id").as("b_id"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val av = e.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val bv = e.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val w = Window.partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    cand.join(av, "a_id").join(bv, "b_id")
      .select(col("a_id"), col("b_id"),
        round(dot(spark)(col("a_vec"), col("b_vec")), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("a_id", "b_id", "sim", "rk")
  }

  val qVecLshMulti = Q(
    "q_vec_lsh_multi",
    s"""${multiTop3Duck()}
       |SELECT a_id, b_id, sim, rk FROM multi3
       |ORDER BY a_id, rk""".stripMargin
  ) { (spark, dir) =>
    multiTop3(spark, dir).orderBy("a_id", "rk")
  }

  /** Round-trip twin of q_vec_lsh_multi — IDENTICAL oracle — that routes
    * the corpus half of the pipeline through VecIndex's persisted bucketed
    * artifact: write the 4-table signature + payload tables to disk, read
    * them back through the catalog, probe with the query panel. The
    * in-memory row grades the ANN semantics; this row grades index
    * PERSISTENCE — at 100 TB the signatures are the expensive half of the
    * index (32 hyperplane dots per corpus vector), so they must be a disk
    * artifact each probe cycle reads back pre-clustered on the candidate
    * join key, never a re-hash (VectorAndApproxSpec asserts the
    * bucket-aware corpus scan and probe↔in-memory equality). */
  /** The streaming EMBEDDING-ingest loop, graded end-to-end — the ANN
    * twin of q_dedup_ingest: seed a persisted LSH index with 40% of the
    * embedding corpus, run THREE [[VecIndex.ingestBatch]] cycles over the
    * remaining thirds (each probing the index, rejecting vectors whose
    * banded-candidate cosine reaches the dup threshold against the
    * corpus or a smaller-id vector in the same batch, landing survivors
    * in `batch=<id>` and admitting them), then read the SINK back: per
    * batch, how many vectors survived and their id sum. The oracle
    * replays the keep-first policy declaratively over the same
    * multi-table signature relation the probe uses — LSH-candidate AND
    * rounded cosine ≥ 0.3 — so a cycle that re-probes admitted vectors,
    * misses a cross-batch dup, or leaks an in-batch pair breaks the
    * cross-engine hash. Scale: each cycle derives the batch signatures
    * once and every corpus-side join reads a bucketed disk table. */
  val qVecIngest = Q(
    "q_vec_ingest",
    s"""WITH s AS (SELECT vec_id,
       |    ${(0 until nTables).map(t => s"CAST(${bucketExprDuck(t)} AS INT) AS b$t").mkString(", ")}
       |  FROM embeddings),
       |sig AS (
       |  SELECT vec_id, t.tbl,
       |    CASE t.tbl ${(0 until nTables).map(t => s"WHEN $t THEN b$t").mkString(" ")} END AS bucket
       |  FROM s, (VALUES ${(0 until nTables).map(t => s"($t)").mkString(", ")}) AS t(tbl)),
       |nd AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM sig a JOIN sig b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |ndv AS (SELECT n.a_id, n.b_id FROM nd n
       |  JOIN embeddings ea ON ea.vec_id = n.a_id
       |  JOIN embeddings eb ON eb.vec_id = n.b_id
       |  WHERE round(list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
       |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) >= 0.3),
       |seed AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 <= 1),
       |c1 AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 2),
       |c2 AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 3),
       |c3 AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 4),
       |adm1 AS (SELECT vec_id FROM c1 d
       |  WHERE NOT EXISTS (SELECT 1 FROM ndv n JOIN seed s ON n.a_id = s.vec_id
       |                    WHERE n.b_id = d.vec_id)
       |    AND NOT EXISTS (SELECT 1 FROM ndv n JOIN c1 x ON n.a_id = x.vec_id
       |                    WHERE n.b_id = d.vec_id AND n.a_id < d.vec_id)),
       |adm2 AS (SELECT vec_id FROM c2 d
       |  WHERE NOT EXISTS (SELECT 1 FROM ndv n WHERE n.b_id = d.vec_id
       |      AND n.a_id IN (SELECT vec_id FROM seed
       |                     UNION ALL SELECT vec_id FROM adm1))
       |    AND NOT EXISTS (SELECT 1 FROM ndv n JOIN c2 x ON n.a_id = x.vec_id
       |                    WHERE n.b_id = d.vec_id AND n.a_id < d.vec_id)),
       |adm3 AS (SELECT vec_id FROM c3 d
       |  WHERE NOT EXISTS (SELECT 1 FROM ndv n WHERE n.b_id = d.vec_id
       |      AND n.a_id IN (SELECT vec_id FROM seed
       |                     UNION ALL SELECT vec_id FROM adm1
       |                     UNION ALL SELECT vec_id FROM adm2))
       |    AND NOT EXISTS (SELECT 1 FROM ndv n JOIN c3 x ON n.a_id = x.vec_id
       |                    WHERE n.b_id = d.vec_id AND n.a_id < d.vec_id)),
       |res AS (SELECT 0 AS batch, vec_id FROM adm1
       |  UNION ALL SELECT 1 AS batch, vec_id FROM adm2
       |  UNION ALL SELECT 2 AS batch, vec_id FROM adm3)
       |SELECT CAST(batch AS INT) AS batch,
       |  CAST(COUNT(*) AS BIGINT) AS n_admitted,
       |  CAST(SUM(vec_id) AS BIGINT) AS id_sum
       |FROM res GROUP BY batch ORDER BY batch""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // the 4-table width is PINNED here (not VecIndex.DefaultTables): the
    // ingest loop's candidate relation is a calibrated dedup setting the
    // oracle above encodes — serving recall amplification is the probe
    // path's concern (q_vec_recall_index), not the dup filter's
    VecIndex.write(e.filter(col("vec_id") % 5 <= 1),
      Scans.rtTable("vec_ing_idx"), tables = nTables)
    val out = Scans.rtDir("vec_ingest")
    Seq(2, 3, 4).zipWithIndex.foreach { case (m, i) =>
      VecIndex.ingestBatch(e.filter(col("vec_id") % 5 === m),
        Scans.rtTable("vec_ing_idx"), out, i.toLong, dupSim = 0.3,
        tables = nTables)
    }
    spark.read.parquet(out)
      .groupBy(col("batch").cast("int").as("batch"))
      .agg(count(lit(1)).as("n_admitted"),
        sum("vec_id").cast("bigint").as("id_sum"))
      .orderBy("batch")
  }

  val qVecIndexProbe = Q(
    "q_vec_index_probe",
    // the INDEX's default serving width (16 tables), not the in-memory
    // pipeline's 4 — see VecIndex.DefaultTables for the measured ladder
    s"""${multiTop3Duck(VecIndex.DefaultTables)}
       |SELECT a_id, b_id, sim, rk FROM multi3
       |ORDER BY a_id, rk""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    VecIndex.write(e, Scans.rtTable("vec_idx"))
    VecIndex.probe(spark, Scans.rtTable("vec_idx"), e.filter(col("vec_id") < 50))
      .orderBy("a_id", "rk")
  }

  /** LSH-index COMPACTION round-trip, graded end-to-end — the ANN twin of
    * `q_dedup_index_compact`: build the persisted index from the even
    * vec_ids, [[VecIndex.append]] the odd half (each bucket now holds two
    * file generations — the ingest-loop read-path decay), run
    * [[VecIndex.compactIndex]] (one file per bucket, same bucket spec,
    * staged + swap + heal), and probe with the query panel. The oracle is
    * IDENTICAL to `q_vec_index_probe` — the full-corpus top-3 statement,
    * blind to appends and compaction — so a signature or payload row lost
    * or duplicated in the rewrite breaks the cross-engine hash (a
    * duplicated payload row would give a neighbor two ranks and evict a
    * genuine one). VectorAndApproxSpec asserts the layout; this row
    * grades the data. */
  val qVecIndexCompact = Q(
    "q_vec_index_compact",
    s"""${multiTop3Duck(VecIndex.DefaultTables)}
       |SELECT a_id, b_id, sim, rk FROM multi3
       |ORDER BY a_id, rk""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    val nm = Scans.rtTable("vec_idxc")
    VecIndex.write(e.filter(col("vec_id") % 2 === 0), nm)
    VecIndex.append(e.filter(col("vec_id") % 2 === 1), nm)
    VecIndex.compactIndex(spark, nm)
    VecIndex.probe(spark, nm, e.filter(col("vec_id") < 50))
      .orderBy("a_id", "rk")
  }

  /** Recall@3 of the multi-table index vs brute-force ground truth — the
    * monitoring query for the OR-amplification lever (q_vec_recall_eval
    * is the same readout for the single-table index; comparing the two
    * columns is how an operator decides whether another hash table is
    * worth its storage). Same bounded query panel (vec_id < 50). */
  val qVecRecallMulti = Q(
    "q_vec_recall_multi",
    s"""${multiTop3Duck()},
       |truth AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |      CAST(row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($sqlDot, 6) DESC, b.vec_id) AS INT) AS rk
       |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 50)
       |  WHERE rk <= 3)
       |SELECT tr.a_id,
       |  CAST(COUNT(m.b_id) AS INT) AS n_hit,
       |  round(COUNT(m.b_id) / 3.0, 6) AS recall_at_3
       |FROM truth tr LEFT JOIN multi3 m
       |  ON tr.a_id = m.a_id AND tr.b_id = m.b_id
       |GROUP BY tr.a_id
       |ORDER BY tr.a_id""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val w = Window.partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    val truth = q.join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(spark)(col("a_vec"), col("b_vec")), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("a_id", "b_id")
    truth.join(multiTop3(spark, dir).select("a_id", "b_id")
        .withColumn("hit", lit(1)),
        Seq("a_id", "b_id"), "left")
      .groupBy("a_id")
      .agg(count(col("hit")).cast("int").as("n_hit"),
        round(count(col("hit")) / 3.0, 6).as("recall_at_3"))
      .orderBy("a_id")
  }

  /** Recall@3 of the PERSISTED index's DEFAULT probe path vs brute-force
    * ground truth (VERDICT r19 #6): build the [[VecIndex]] artifact at
    * its default serving width ([[VecIndex.DefaultTables]] = 16
    * OR-amplified tables — chosen by the measured ladder in its
    * scaladoc: 0.47 → 0.90 recall at sf0.01 for < 2× candidate volume),
    * probe with the query panel, and score per query id against the
    * exact top-3. The oracle re-derives the same 16-table candidate
    * relation declaratively, so this row grades BOTH that the default
    * path clears a serving bar (mean ≥ 0.8, asserted in
    * VectorAndApproxSpec) and that the persisted probe returns exactly
    * the in-memory 16-table semantics. Read against q_vec_recall_multi
    * (the 4-table in-memory form) to see what the amplification buys. */
  val qVecRecallIndex = Q(
    "q_vec_recall_index",
    s"""${multiTop3Duck(VecIndex.DefaultTables)},
       |truth AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |      CAST(row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($sqlDot, 6) DESC, b.vec_id) AS INT) AS rk
       |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 50)
       |  WHERE rk <= 3)
       |SELECT tr.a_id,
       |  CAST(COUNT(m.b_id) AS INT) AS n_hit,
       |  round(COUNT(m.b_id) / 3.0, 6) AS recall_at_3
       |FROM truth tr LEFT JOIN multi3 m
       |  ON tr.a_id = m.a_id AND tr.b_id = m.b_id
       |GROUP BY tr.a_id
       |ORDER BY tr.a_id""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val nm = Scans.rtTable("vec_idx_rec")
    VecIndex.write(e, nm) // default serving width
    val panel = e.filter(col("vec_id") < 50)
    val q = panel.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val w = Window.partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    val truth = q.join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(spark)(col("a_vec"), col("b_vec")), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("a_id", "b_id")
    truth.join(VecIndex.probe(spark, nm, panel).select("a_id", "b_id")
        .withColumn("hit", lit(1)),
        Seq("a_id", "b_id"), "left")
      .groupBy("a_id")
      .agg(count(col("hit")).cast("int").as("n_hit"),
        round(count(col("hit")) / 3.0, 6).as("recall_at_3"))
      .orderBy("a_id")
  }

  /** Int8 quantization of the embedding column — the storage/bandwidth
    * step an embedding pipeline runs before ANN serving (4x smaller than
    * float32). Per-vector absmax scaling; round-half-up via floor(x+0.5)
    * (floor is deterministic cross-engine where round-half-even on a
    * binary-double boundary is not). All arithmetic is written with
    * identical left-assoc op order on both engines, so the doubles — and
    * therefore the rounded error metric — are bit-identical. */
  val qVecQuantize = Q(
    "q_vec_quantize",
    s"""WITH t AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mxa
      |  FROM embeddings WHERE $sqlClean),
      |q AS (
      |  SELECT vec_id, mxa, embedding,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / greatest(mxa, 1e-30) + 0.5) AS INT)) AS qv
      |  FROM t)
      |SELECT vec_id, qv[1] AS q1, qv[2] AS q2, qv[3] AS q3, qv[4] AS q4,
      |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS INT) AS sabs,
      |  round(list_max(list_transform(range(1, 65), i ->
      |    abs(CAST(qv[CAST(i AS INT)] AS DOUBLE) * mxa / 127.0
      |        - CAST(embedding[CAST(i AS INT)] AS DOUBLE)))), 6) AS err
      |FROM q
      |ORDER BY vec_id""".stripMargin
  ) { (spark, dir) =>
    cleanEmbeddings(spark, dir)
      .withColumn("mxa",
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("qv",
        // greatest(mxa, 1e-30): a zero vector has no grid scale — its
        // components quantize to 0 instead of dividing by zero (ANSI).
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / greatest(mxa, 1e-30d) + 0.5d) AS INT))"))
      .select(col("vec_id"),
        element_at(col("qv"), 1).as("q1"),
        element_at(col("qv"), 2).as("q2"),
        element_at(col("qv"), 3).as("q3"),
        element_at(col("qv"), 4).as("q4"),
        expr("aggregate(qv, 0, (a, x) -> a + abs(x))").as("sabs"),
        round(expr(
          """array_max(zip_with(qv, embedding,
            |  (q, x) -> abs(CAST(q AS DOUBLE) * mxa / 127.0 - CAST(x AS DOUBLE))))""".stripMargin),
          6).as("err"))
      .orderBy("vec_id")
  }

  /** K-means ASSIGNMENT step (the inner loop of IVF-cell training): assign
    * every vector to its nearest of k=4 deterministic seed centroids
    * (vec_id < 4), report per-cluster size and exact mean similarity.
    * The plan is the one a 1000-executor Lloyd iteration wants: the k
    * centroids broadcast (genuinely tiny — k rows, not corpus-sized), the
    * corpus streams through a map-side cross join + per-vector argmax, and
    * the only shuffle is the k-row final rollup. Mean sim accumulates as
    * exact 1e-6-unit integers (Det discipline): partition-order
    * independent. Ties break (sim DESC, cid ASC) identically cross-engine
    * because the dot product is the same left-assoc double fold. */
  val qVecKmeans = Q(
    "q_vec_kmeans",
    s"""WITH emb AS (SELECT * FROM embeddings WHERE $sqlClean),
       |s AS (SELECT vec_id AS cid, embedding AS cvec
       |           FROM emb WHERE vec_id < 4),
       |asg AS (
       |  SELECT e.vec_id, s.cid,
       |    round(list_sum(list_transform(list_zip(e.embedding, s.cvec),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS sim,
       |    CAST(row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(list_sum(list_transform(list_zip(e.embedding, s.cvec),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) DESC,
       |        s.cid) AS INT) AS rk
       |  FROM emb e CROSS JOIN s)
       |SELECT cid, count(*) AS n,
       |  round(SUM(CAST(round(sim * 1000000) AS BIGINT)) / 1000000.0
       |        / count(*), 6) AS avg_sim
       |FROM asg WHERE rk = 1
       |GROUP BY cid ORDER BY cid""".stripMargin
  ) { (spark, dir) =>
    val e = cleanEmbeddings(spark, dir)
    val seeds = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val w = Window.partitionBy("vec_id").orderBy(desc("sim"), asc("cid"))
    e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cid"),
        round(dot(spark)(col("embedding"), col("cvec")), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("sim") * 1000000).cast("bigint")).cast("double")
          / lit(1000000.0) / count(lit(1)), 6).as("avg_sim"))
      .orderBy("cid")
  }

  /** Full Lloyd k-means loop, TWO iterations end-to-end (q_vec_kmeans is
    * the inner assignment step; this is the trainer that calls it):
    * assign → exact integer-unit centroid means → re-assign → new means,
    * reporting per-cluster sizes of both rounds and the squared centroid
    * SHIFT between them — the convergence readout a training driver
    * stops on. Each iteration is the scale-correct shape: the whole
    * k-centroid book broadcasts as ONE row and the argmax evaluates as a
    * per-row array expression (tie to the smaller cid via max over
    * struct(sim, -cid)) — a MAP-ONLY assignment, unlike q_vec_kmeans's
    * graded window form which shuffles a k-expanded corpus. The only
    * per-iteration exchange is the (cid, pos) mean rollup (k×64 rows
    * out), which is what lets Lloyd run dozens of rounds on 100 TB
    * without ever re-partitioning the corpus (PlanShapeSpec locks the
    * zero-vec_id-exchange property). All
    * assignment keys round to 6 dp and all means accumulate in 1e-9
    * integer units, so cluster membership and the shift metric are
    * identical cross-engine; empty clusters drop out of the book on both
    * engines alike. */
  val qVecKmeansIter = Q(
    "q_vec_kmeans_iter",
    s"""WITH emb AS (SELECT * FROM embeddings WHERE $sqlClean),
       |s0 AS (SELECT vec_id AS cid, embedding AS cv
       |       FROM emb WHERE vec_id < 4),
       |asg1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, s0.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_sum(list_transform(list_zip(e.embedding, s0.cv),
       |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) DESC,
       |          s0.cid) AS rk
       |    FROM emb e, s0)
       |  WHERE rk = 1),
       |c1c AS (
       |  SELECT a.cid, CAST(t.i AS INT) - 1 AS pos,
       |    SUM(CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1000000000)
       |        AS BIGINT)) / 1000000000.0 / COUNT(*) AS c
       |  FROM asg1 a JOIN emb e USING (vec_id), range(1, 65) t(i)
       |  GROUP BY a.cid, pos),
       |c1 AS (SELECT cid, list(c ORDER BY pos) AS cv FROM c1c GROUP BY cid),
       |asg2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c1.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_sum(list_transform(list_zip(e.embedding, c1.cv),
       |          x -> CAST(x[1] AS DOUBLE) * x[2])), 6) DESC,
       |          c1.cid) AS rk
       |    FROM emb e, c1)
       |  WHERE rk = 1),
       |c2c AS (
       |  SELECT a.cid, CAST(t.i AS INT) - 1 AS pos,
       |    SUM(CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1000000000)
       |        AS BIGINT)) / 1000000000.0 / COUNT(*) AS c
       |  FROM asg2 a JOIN emb e USING (vec_id), range(1, 65) t(i)
       |  GROUP BY a.cid, pos),
       |c2 AS (SELECT cid, list(c ORDER BY pos) AS cv FROM c2c GROUP BY cid)
       |SELECT c1.cid,
       |  CAST((SELECT COUNT(*) FROM asg1 WHERE asg1.cid = c1.cid) AS BIGINT) AS n1,
       |  CAST((SELECT COUNT(*) FROM asg2 WHERE asg2.cid = c1.cid) AS BIGINT) AS n2,
       |  round(list_sum(list_transform(list_zip(c1.cv, c2.cv),
       |    x -> (x[1] - x[2]) * (x[1] - x[2]))), 6) AS shift
       |FROM c1 JOIN c2 USING (cid)
       |ORDER BY cid""".stripMargin
  ) { (spark, dir) =>
    val e = cleanEmbeddings(spark, dir).select(col("vec_id"), col("embedding"))
    def assign(cents: DataFrame): DataFrame = kmeansAssign(e, cents)
    def means(asg: DataFrame): DataFrame = kmeansMeans(asg)
    val seeds = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val asg1 = assign(seeds).persistScratch() // n1 + the c1 means
    val c1 = means(asg1)
    val asg2 = assign(c1).persistScratch() // n2 + the c2 means
    val c2 = means(asg2).select(col("cid").as("cid2"), col("cv").as("cv2"))
    val n1 = asg1.groupBy("cid").agg(count(lit(1)).as("n1"))
    val n2 = asg2.groupBy("cid").agg(count(lit(1)).as("n2"))
    c1.join(c2, col("cid") === col("cid2"))
      .select(col("cid"),
        round(expr(
          """aggregate(zip_with(cv, cv2, (x, y) -> (x - y) * (x - y)),
            |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin), 6)
          .as("shift"))
      .join(n1, "cid").join(n2, "cid")
      .select(col("cid"), col("n1"), col("n2"), col("shift"))
      .orderBy("cid")
  }

  /** Map-only Lloyd ASSIGNMENT, hoisted for reuse (the kmeans-iter loop
    * and the trained-quantizer IVF-PQ share it): the whole centroid book
    * rides in ONE broadcast row, best cluster = array_max over
    * struct(sim, -cid) (struct ordering gives max sim, then min cid).
    * The HOF fold casts elementwise (float seeds AND double trained
    * centroids), unlike graft_dot which reads both sides as floats. The
    * embedding is carried through so a following mean pass needs no
    * corpus join-back. */
  private def kmeansAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val book = cents.agg(collect_list(struct(col("cid"), col("cv"))).as("book"))
    e.crossJoin(broadcast(book))
      .select(col("vec_id"), col("embedding"), expr(
        """array_max(transform(book, b -> struct(
          |  round(aggregate(zip_with(embedding, b.cv,
          |    (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          |    CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), 6) AS s,
          |  -b.cid AS nc)))""".stripMargin).as("best"))
      .select(col("vec_id"), (-col("best.nc")).cast("long").as("cid"),
        col("embedding"))
  }

  /** Exact 1e-9-unit centroid means of an assignment (cid, embedding). */
  private def kmeansMeans(asg: DataFrame): DataFrame =
    asg.select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg((sum(round(col("v").cast("double") * 1000000000L)
        .cast("decimal(38,0)")).cast("double") / lit(1000000000.0)
        / count(lit(1))).as("c"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("cv"))

  // ---- the IVF / PQ sweep ---------------------------------------------------
  // The 34 IVF, PQ, IVF-PQ, residual, trained-quantizer and clustered-corpus
  // rows form one parameterized family: each is a line of the [[Sweep]]
  // table below, and two generators build both engines' sides from it —
  // [[sweepSpark]] from the shared Spark cores (the same ones VecIndex's
  // persisted artifacts probe with, so a round trip is bit-identical to its
  // in-memory row by construction), [[sweepDuck]] from the shared CTE
  // builders. Every ranking key is rounded to 6 dp (or summed in exact
  // 1e-6 units) before it is compared, so cell choice, ADC totals and the
  // top-k cuts are identical cross-engine.

  /** Index family of a sweep row, with its query panel (vec_id < panel),
    * its k, and the VecIndex artifact name its `Index` rows persist. */
  private sealed abstract class Fam(val panel: Int, val k: Int,
      val index: String)

  /** Multi-probe IVF over the label cells: per query, rank the k×64 cell
    * centroids (exact integer-unit means, as q_vec_centroid — tiny,
    * broadcast), probe the p nearest cells (multi-probe is the standard
    * recall fix for single-cell IVF, q_vec_ann_bucketed) and exact-dot
    * rank their members to top-3. The only big shuffle is the candidate
    * equi-join on the probed cell id. */
  private case object Ivf extends Fam(50, 3, "ivf_idx")

  /** Product quantization (Jégou, Douze & Schmid, "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011 — the FAISS IVF-PQ building
    * block, dot-product/MIPS variant as in ScaNN): d=64 splits into m=16
    * subspaces of 4 dims, each encoded as its nearest (L2) of 32
    * codewords — 256 B of floats become 16 codes. Codebooks train with
    * one Lloyd round from the 32 smallest clean vec_ids' subvectors.
    * Query-time ADC never touches the raw corpus: each query builds a
    * 16×32 LUT of 1e-6-unit subspace dots (broadcast), and a candidate's
    * score is the order-free integer sum of 16 lookups. */
  private case object Pq extends Fam(20, 5, "pq_idx")

  /** Composed IVF-PQ (TPAMI 2011 §V, the FAISS IVFPQ / ScaNN production
    * shape): probe the p nearest label cells, ADC only over their codes.
    * The probe list and the LUT broadcast, so the corpus-sized codes frame
    * never shuffles before the integer-unit (a_id, b_id) rollup. */
  private case object IvfPq extends Fam(20, 5, "ivfpq_idx")

  /** Residual IVF-PQ (TPAMI 2011 §V-A, the full FAISS IVFPQ form): the
    * codebook models x − q1(x), so the same 16×32 budget only spans
    * within-cell variation. Under inner product q·x ≈ q·c + q·r̂: a
    * per-(query, cell) base term plus ADC over the residual codes, whose
    * LUT is cell-independent (one LUT per query serves every probed cell). */
  private case object Res extends Fam(20, 5, "ivfpqr_idx")

  /** IVF-PQ over a k-means-TRAINED coarse quantizer instead of the label
    * cells — the unlabeled-corpus path FAISS runs: 8 seeds (the smallest
    * clean ids), `rounds` Lloyd rounds with the q_vec_kmeans_iter
    * primitives, nearest-centroid cells, then the unchanged IVF-PQ tail. */
  private final case class Trained(rounds: Int)
      extends Fam(20, 5, "ivfpqt_idx")

  /** What a sweep row returns. `TopK`: the ranked top-k (a_id, b_id,
    * adc | sim, rk). `Recall`: per panel query, recall@k against the
    * brute-force top-k (a_id, n_hit, recall_at_k) — the ladder an
    * operator reads to price each knob. `Index`: TopK with the same
    * oracle, but through the family's persisted VecIndex artifact (write,
    * read back through the catalog, probe), so any loss in the parquet
    * round trip breaks the hash. */
  private sealed trait Out
  private case object TopK extends Out
  private case object Recall extends Out
  private case object Index extends Out

  /** The corpus a row searches: the clean fixture embeddings, or the
    * generated planted-center corpus of [[cluEmb]]. */
  private sealed trait Corpus
  private case object Fixture extends Corpus
  private case object Clustered extends Corpus

  /** One sweep row: `p` probed cells, and `w` > 0 for the two-tier
    * serving shape — ADC cut to top-`w` candidates, then exact-dot
    * re-rank of only their raw vectors to top-k. Index rows persist the
    * fixture at the family's default training and have no re-rank tier. */
  private final case class Sweep(name: String, fam: Fam, out: Out, p: Int,
      w: Int, corpus: Corpus) {
    /** The ranking carries ADC units, reported as `adc`, else `sim`. */
    def adc: Boolean = fam != Ivf && w == 0
  }

  // The sweep in graded order, split only where `all` interleaves other
  // rows. Read as ladders: p=4 against p=2 prices the probe count (the
  // p=2 error budget is all cell pruning); w=40 against w=20 prices the
  // re-rank cut, which binds once 4 cells double the candidate pool;
  // Res against IvfPq prices residual encoding at equal index size (a tie
  // on the near-uniform fixture, a clear win on the clustered corpus);
  // Trained(2) against Trained(1) prices another Lloyd round.
  private val sweepMain = Seq(
    //    graded name                          family      out     p   w  corpus
    Sweep("q_vec_ivf_probe2",                  Ivf,        TopK,   2,  0, Fixture),
    Sweep("q_vec_index_ivf",                   Ivf,        Index,  2,  0, Fixture),
    Sweep("q_vec_index_pq",                    Pq,         Index,  2,  0, Fixture),
    Sweep("q_vec_ivfpq",                       IvfPq,      TopK,   2,  0, Fixture),
    Sweep("q_vec_index_ivfpq",                 IvfPq,      Index,  2,  0, Fixture),
    Sweep("q_vec_recall_ivfpq",                IvfPq,      Recall, 2,  0, Fixture),
    Sweep("q_vec_ivfpq_rerank",                IvfPq,      TopK,   2, 20, Fixture),
    Sweep("q_vec_recall_ivfpq_rr",             IvfPq,      Recall, 2, 20, Fixture),
    Sweep("q_vec_ivfpq_p4",                    IvfPq,      TopK,   4,  0, Fixture),
    Sweep("q_vec_recall_ivfpq_p4",             IvfPq,      Recall, 4,  0, Fixture),
    Sweep("q_vec_ivfpq_rerank_p4",             IvfPq,      TopK,   4, 20, Fixture),
    Sweep("q_vec_recall_ivfpq_rr_p4",          IvfPq,      Recall, 4, 20, Fixture),
    Sweep("q_vec_ivfpq_rerank_p4_w40",         IvfPq,      TopK,   4, 40, Fixture),
    Sweep("q_vec_recall_ivfpq_rr_p4_w40",      IvfPq,      Recall, 4, 40, Fixture),
    Sweep("q_vec_ivfpq_res",                   Res,        TopK,   2,  0, Fixture),
    Sweep("q_vec_index_ivfpq_res",             Res,        Index,  2,  0, Fixture),
    Sweep("q_vec_recall_ivfpq_res",            Res,        Recall, 2,  0, Fixture),
    Sweep("q_vec_ivfpq_res_rerank",            Res,        TopK,   2, 20, Fixture),
    Sweep("q_vec_recall_ivfpq_res_rr",         Res,        Recall, 2, 20, Fixture),
    Sweep("q_vec_ivfpq_res_rerank_p4_w40",     Res,        TopK,   4, 40, Fixture),
    Sweep("q_vec_recall_ivfpq_res_rr_p4_w40",  Res,        Recall, 4, 40, Fixture),
    Sweep("q_vec_ivfpq_trained",               Trained(1), TopK,   2,  0, Fixture),
    Sweep("q_vec_index_ivfpq_trained",         Trained(1), Index,  2,  0, Fixture),
    Sweep("q_vec_recall_ivfpq_trained",        Trained(1), Recall, 2,  0, Fixture),
    Sweep("q_vec_recall_ivfpq_t2",             Trained(2), Recall, 2,  0, Fixture),
    Sweep("q_vec_recall_ivfpq_clu",            IvfPq,      Recall, 2,  0, Clustered),
    Sweep("q_vec_recall_ivfpq_res_clu",        Res,        Recall, 2,  0, Clustered),
    Sweep("q_vec_recall_ivfpq_tclu",           Trained(1), Recall, 2,  0, Clustered),
    Sweep("q_vec_recall_ivfpq_t2clu",          Trained(2), Recall, 2,  0, Clustered))
  private val sweepFlat = Seq(
    Sweep("q_vec_ivf_probe4",                  Ivf,        TopK,   4,  0, Fixture),
    Sweep("q_vec_pq",                          Pq,         TopK,   2,  0, Fixture),
    Sweep("q_vec_recall_pq",                   Pq,         Recall, 2,  0, Fixture))
  private val sweepIvfRecall = Seq(
    Sweep("q_vec_recall_ivf",                  Ivf,        Recall, 2,  0, Fixture),
    Sweep("q_vec_recall_ivf4",                 Ivf,        Recall, 4,  0, Fixture))

  private def sweepQ(rows: Seq[Sweep]): Seq[Q] =
    rows.map(r => Q(r.name, sweepDuck(r))(sweepSpark(r)))

  // ---- sweep, Spark side ----------------------------------------------------

  /** Spark side of a sweep row. */
  private def sweepSpark(r: Sweep)(spark: SparkSession, dir: String)
      : DataFrame = {
    val e = r.corpus match {
      case Fixture => cleanEmbeddings(spark, dir)
      case Clustered => cluEmb(spark, dir).persistScratch() // chain + truth
    }
    val batch = e.filter(col("vec_id") < r.fam.panel)
      .select(col("vec_id"), col("embedding"))
    val top = r.out match {
      case Index => sweepIndexProbe(spark, r, e, batch)
      case _ => sweepRank(spark, r, e, batch)
    }
    if (r.out == Recall) recallVsTruthE(spark, e, top, r.fam.panel, r.fam.k)
    else if (r.adc)
      top.select(col("a_id"), col("b_id"),
          round(col("adcu").cast("double") / 1000000.0, 6).as("adc"),
          col("rk"))
        .orderBy("a_id", "rk")
    else top.orderBy("a_id", "rk")
  }

  /** The row's in-memory ranking of the query `batch` over corpus `e`:
    * (a_id, b_id, adcu | sim, rk). Trained books, codes and residual
    * centroids are persisted, so a row's recall twin later in the module
    * reuses them. */
  private def sweepRank(spark: SparkSession, r: Sweep, e: DataFrame,
      batch: DataFrame): DataFrame = {
    val panel = r.fam.panel
    val cut = if (r.w > 0) r.w else r.fam.k
    val cells = e.select("vec_id", "label")
    val top = r.fam match {
      case Ivf => ivfRank(spark, batch, cellCentroids(e), e, r.p, cut)
      case Pq =>
        val sp = pqSubvectors(e)
        val (cb, enc) = pqCodes(spark, sp, None)
        pqRank(spark, sp.filter(col("vec_id") < panel), cb, enc, cut)
      case IvfPq =>
        val (cb, enc) = pqCodes(spark, pqSubvectors(e), Some(cells))
        ivfpqRank(spark, batch, cellCentroids(e), cb, enc, r.p, cut)
      case Res =>
        val cvec = cellCentroids(e)
          .persistScratch() // feeds residuals, probes, and the base term
        val resv = e.join(broadcast(cvec), "label")
          .select(col("vec_id"), col("label"),
            expr("zip_with(embedding, cv, (x, y) -> CAST(x AS DOUBLE) - y)")
              .as("embedding"))
        val (rcb, renc) = pqCodes(spark, pqSubvectors(resv), Some(cells))
        ivfpqResRank(spark, batch, cvec, rcb, renc, r.p, cut)
      case Trained(rounds) =>
        val ev = e.select(col("vec_id"), col("embedding"))
        val (tcv, tasg) = trainedCellsN(ev, rounds)
        val (cb, enc) = pqCodes(spark, pqSubvectors(ev), Some(tasg))
        ivfpqRank(spark, batch, tcv, cb, enc, r.p, cut)
    }
    if (r.w > 0) exactRerank(spark, e, top, panel, r.fam.k) else top
  }

  /** Trained codebook and encoded corpus of the subvectors `sp`, both
    * persisted; `cells` (vec_id, label) tags each code with its cell. */
  private def pqCodes(spark: SparkSession, sp: DataFrame,
      cells: Option[DataFrame]): (DataFrame, DataFrame) = {
    val cb = pqTrain(spark, sp).persistScratch()
    val enc = pqAssign(spark, sp, cb).select("vec_id", "s", "code")
    (cb, cells.fold(enc)(enc.join(_, "vec_id")).persistScratch())
  }

  /** The row's persisted-index round trip: write the family's VecIndex
    * artifact from the fixture, read it back through the catalog, probe
    * with the query panel — the same cores as [[sweepRank]]. */
  private def sweepIndexProbe(spark: SparkSession, r: Sweep, e: DataFrame,
      batch: DataFrame): DataFrame = {
    val nm = Scans.rtTable(r.fam.index)
    val k = r.fam.k
    r.fam match {
      case Ivf =>
        VecIndex.ivfWrite(e, nm)
        VecIndex.ivfProbe(spark, nm, batch, r.p, k)
      case Pq =>
        VecIndex.pqWrite(e, nm)
        VecIndex.pqProbe(spark, nm, batch, k)
      case IvfPq =>
        VecIndex.ivfpqWrite(e, nm)
        VecIndex.ivfpqProbe(spark, nm, batch, r.p, k)
      case Res =>
        VecIndex.ivfpqResWrite(e, nm)
        VecIndex.ivfpqResProbe(spark, nm, batch, r.p, k)
      case Trained(_) =>
        VecIndex.ivfpqTrainedWrite(e, nm)
        VecIndex.ivfpqProbe(spark, nm, batch, r.p, k)
    }
  }

  /** The exact TIER of two-tier serving: re-rank an ADC candidate cut
    * (a_id, b_id) by true dot product over the raw vectors of corpus `e`,
    * top-k per panel query. The cut is panel×w rows, so it broadcasts
    * and the corpus serves the raw-float fetch MAP-SIDE — the corpus
    * never shuffles for the re-rank. */
  private def exactRerank(spark: SparkSession, e: DataFrame,
      cand: DataFrame, panel: Int, k: Int): DataFrame = {
    val qv = e.filter(col("vec_id") < panel)
      .select(col("vec_id").as("a_id"), col("embedding").as("qa"))
    val bv = e.select(col("vec_id").as("b_id"), col("embedding").as("qb"))
    val topW = Window.partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    bv.join(broadcast(cand.select("a_id", "b_id")), "b_id")
      .join(broadcast(qv), "a_id")
      .select(col("a_id"), col("b_id"),
        round(dot(spark)(col("qa"), col("qb")), 6).as("sim"))
      .withColumn("rk", row_number().over(topW))
      .filter(col("rk") <= k)
      .select("a_id", "b_id", "sim", "rk")
  }

  /** Recall@k of `top` (a_id, b_id) against the brute-force top-k of
    * corpus `e` for the vec_id < `panel` query panel. */
  private def recallVsTruthE(spark: SparkSession, e: DataFrame,
      top: DataFrame, panel: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < panel)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val w = Window.partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    val truth = q.join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(spark)(col("a_vec"), col("b_vec")), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("a_id", "b_id")
    truth.join(top.select("a_id", "b_id").withColumn("hit", lit(1)),
        Seq("a_id", "b_id"), "left")
      .groupBy("a_id")
      .agg(count(col("hit")).cast("int").as("n_hit"),
        round(count(col("hit")) / k.toDouble, 6).as(s"recall_at_$k"))
      .orderBy("a_id")
  }

  /** Nearest-codeword assignment: rounded L2^2 between the float
    * subvector and the (double, post-Lloyd) codeword, ties to the
    * smaller code. MAP-ONLY (the q_vec_kmeans_iter discipline): the
    * codebook rides in ONE broadcast row as a per-subspace-indexed
    * array-of-arrays, `element_at(book, s + 1)` selects the 32
    * candidates, and the argmin evaluates per row as array_max over
    * struct(-l2, -c) — zero exchanges, zero sorts. (Measured
    * alternatives at sf0.1: a (vec_id, s) window row_number sorts and
    * shuffles the 32x-expanded frame; a groupBy-min collapses it
    * map-side but still pays the exchange; a FLAT one-row book pays
    * interpreted filter cost over all 512 structs per row — the
    * s-indexed book keeps the lambda at 32 candidates, and the inner L2
    * is the graft_l2 primitive, not a zip_with fold that would allocate
    * and interpret per element inside the candidate lambda.) */
  private[graft] def pqAssign(spark: SparkSession, sp: DataFrame,
      cb: DataFrame): DataFrame = {
    graft.functions.VecExprs.registerL2(spark)
    // The book is a MAP keyed by subspace id, not a positional array: a
    // codebook artifact read back with a subspace missing (or out of
    // order) must miss its key — a positional array would silently shift
    // every later subspace onto the wrong codewords (misaligned codes).
    val book = cb
      .groupBy("s").agg(collect_list(struct(col("c"), col("cv"))).as("cands"))
      .agg(map_from_entries(collect_list(struct(col("s"), col("cands"))))
        .as("book"))
    // try_element_at: an EMPTY codebook (no clean seed vectors) makes the
    // book an empty map — plain element_at would throw under ANSI on
    // the first corpus row, where the oracle's CTEs just go empty. The
    // null best degrades to a null code, dropped by every downstream join.
    sp.crossJoin(broadcast(book))
      .select(col("vec_id"), col("s"), col("sv"), expr(
        """array_max(transform(try_element_at(book, s), b -> struct(
          |  -round(graft_l2(sv, b.cv), 6) AS nl2,
          |  -b.c AS nc)))""".stripMargin).as("best"))
      .select(col("vec_id"), col("s"),
        (-col("best.nc")).cast("int").as("code"), col("sv"))
  }

  /** (vec_id, s, sv): the m=16 4-dim subvectors of every vector. */
  private[graft] def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(expr("sequence(0, 15)")).as("s"), col("embedding"))
      .select(col("vec_id"), col("s").cast("int").as("s"),
        expr("slice(embedding, s * 4 + 1, 4)").as("sv"))

  /** Trained (s, c, cv) codebook: seed on the 32 smallest vec_ids, one
    * Lloyd iteration with exact 1e-9-unit means (the cellCentroids
    * arithmetic) — a code that attracts no subvectors drops out of the
    * trained book on both engines. The 4 positions aggregate as 4
    * unit-sum columns in ONE (s, code) groupBy — no posexplode and no
    * second exchange (the oracle's per-pos form computes the identical
    * sums). */
  private[operators] def pqTrain(spark: SparkSession,
      sp: DataFrame): DataFrame = {
    val cb0 = sp.filter(col("vec_id") < 32)
      .select(col("vec_id").cast("int").as("c"), col("s"), col("sv").as("cv"))
    def meanAt(i: Int) =
      (sum(round(element_at(col("sv"), i).cast("double") * 1000000000L)
        .cast("decimal(38,0)")).cast("double") / lit(1000000000.0)
        / count(lit(1))).as(s"m$i")
    pqAssign(spark, sp, cb0)
      .groupBy("s", "code")
      .agg(meanAt(1), meanAt(2), meanAt(3), meanAt(4))
      .select(col("s"), col("code").as("c"),
        array(col("m1"), col("m2"), col("m3"), col("m4")).as("cv"))
  }

  /** The query batch's 1e-6-unit ADC lookup table against codebook `cb`:
    * one row per (query, subspace, codeword) — (a_id, ls, lc, lutu).
    * Renamed join keys: enc and lut may share lineage, so same-name
    * column refs would resolve to one attribute (trivially-true join).
    * The dot is a HOF fold, NOT graft_dot: cv is a DOUBLE array after
    * Lloyd and the codegen dot reads both inputs as float arrays. */
  private def pqLut(qsp: DataFrame, cb: DataFrame): DataFrame =
    qsp
      .join(broadcast(cb), "s")
      .select(col("vec_id").as("a_id"), col("s").as("ls"), col("c").as("lc"),
        (round(expr(
          """aggregate(zip_with(sv, cv, (x, y) -> CAST(x AS DOUBLE) * y),
            |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
          * 1000000)).cast("bigint").as("lutu"))

  /** The PQ ADC core, parameterized over WHERE the artifact lives: build
    * each query's 1e-6-unit LUT against `cb`, score `enc` by summed
    * lookups, top-k per query. `qsp` is the query subvector batch; cb/enc
    * are either the in-memory derivations ([[sweepRank]]) or the read-back
    * persisted tables ([[VecIndex.pqProbe]]) — one code path, so index
    * round-trips are bit-identical to the in-memory pipeline by
    * construction. */
  private[operators] def pqRank(spark: SparkSession, qsp: DataFrame,
      cb: DataFrame, enc: DataFrame, k: Int = 5): DataFrame = {
    val lut = pqLut(qsp, cb)
    val topW = Window.partitionBy("a_id").orderBy(desc("adcu"), asc("b_id"))
    enc.join(broadcast(lut),
        col("ls") === col("s") && col("lc") === col("code") &&
          col("a_id") =!= col("vec_id"))
      .groupBy(col("a_id"), col("vec_id").as("b_id"))
      .agg(sum("lutu").as("adcu"))
      .withColumn("rk", row_number().over(topW))
      .filter(col("rk") <= k)
      .select(col("a_id"), col("b_id"), col("adcu"), col("rk"))
  }

  /** The IVF-PQ probe core, parameterized over WHERE the artifact lives:
    * rank the centroid table (broadcast, k rows) to each query's p nearest
    * cells, then ADC-score ONLY the codes of vectors in those cells —
    * `enc` must carry (vec_id, label, s, code). cvec/cb/enc are either the
    * in-memory derivations ([[sweepRank]]) or the read-back persisted
    * tables ([[VecIndex.ivfpqProbe]]) — one code path, so index
    * round-trips are bit-identical to the in-memory pipeline.
    *
    * Scale shape: the corpus-sized codes frame never shuffles before the
    * final (a_id, b_id) rollup — the (query, cell) probe list and the LUT
    * are both broadcast (batch×p and batch×16×32 rows), so candidate
    * restriction and scoring are map-side over the cell-bucketed codes
    * table, and the only exchange is the integer-unit ADC sum. */
  private[operators] def ivfpqRank(spark: SparkSession, batch: DataFrame,
      cvec: DataFrame, cb: DataFrame, enc: DataFrame,
      p: Int = 2, k: Int = 5): DataFrame = {
    val crkW = Window.partitionBy("vec_id").orderBy(desc("csim"), asc("label"))
    val probes = batch.crossJoin(broadcast(cvec))
      .select(col("vec_id"), col("label"),
        round(expr(
          """aggregate(zip_with(embedding, cv, (x, y) -> CAST(x AS DOUBLE) * y),
            |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin), 6).as("csim"))
      .withColumn("crk", row_number().over(crkW))
      .filter(col("crk") <= p)
      .select(col("vec_id").as("a_id"), col("label"))
    val lut = pqLut(pqSubvectors(batch), cb).withColumnRenamed("a_id", "la")
    val topW = Window.partitionBy("a_id").orderBy(desc("adcu"), asc("b_id"))
    enc.join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("a_id"))
      .join(broadcast(lut),
        col("a_id") === col("la") && col("ls") === col("s") &&
          col("lc") === col("code"))
      .groupBy(col("a_id"), col("vec_id").as("b_id"))
      .agg(sum("lutu").as("adcu"))
      .withColumn("rk", row_number().over(topW))
      .filter(col("rk") <= k)
      .select(col("a_id"), col("b_id"), col("adcu"), col("rk"))
  }

  /** The residual IVF-PQ probe core: probe p nearest cells (carrying each
    * probe's 1e-6-unit BASE term q·c), LUT the query's RAW subvectors
    * against the residual codebook (cell-independent under inner
    * product), ADC-score only the probed cells' residual codes, add the
    * base. Same scale shape as [[ivfpqRank]]: probes and LUT broadcast,
    * the corpus-sized codes frame never shuffles before the integer-unit
    * (a_id, b_id) rollup. */
  private[operators] def ivfpqResRank(spark: SparkSession, batch: DataFrame,
      cvec: DataFrame, rcb: DataFrame, renc: DataFrame,
      p: Int = 2, k: Int = 5): DataFrame = {
    val crkW = Window.partitionBy("vec_id").orderBy(desc("csim"), asc("label"))
    val probes = batch.crossJoin(broadcast(cvec))
      .select(col("vec_id"), col("label"),
        round(expr(
          """aggregate(zip_with(embedding, cv, (x, y) -> CAST(x AS DOUBLE) * y),
            |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin), 6)
          .as("csim"),
        (round(expr(
          """aggregate(zip_with(embedding, cv, (x, y) -> CAST(x AS DOUBLE) * y),
            |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
          * 1000000)).cast("bigint").as("baseu"))
      .withColumn("crk", row_number().over(crkW))
      .filter(col("crk") <= p)
      .select(col("vec_id").as("a_id"), col("label"), col("baseu"))
    val lut = pqLut(pqSubvectors(batch), rcb).withColumnRenamed("a_id", "la")
    val topW = Window.partitionBy("a_id").orderBy(desc("adcu"), asc("b_id"))
    renc.join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("a_id"))
      .join(broadcast(lut),
        col("a_id") === col("la") && col("ls") === col("s") &&
          col("lc") === col("code"))
      .groupBy(col("a_id"), col("vec_id").as("b_id"))
      // baseu is constant within the group — (a_id, b_id) pins the cell
      .agg((sum("lutu") + max("baseu")).as("adcu"))
      .withColumn("rk", row_number().over(topW))
      .filter(col("rk") <= k)
      .select(col("a_id"), col("b_id"), col("adcu"), col("rk"))
  }

  /** k×64 cell-centroid table (label, cv) from exact integer-unit sums
    * (q_vec_centroid's arithmetic), reassembled into an ordered double
    * array per cell. Shared by the in-memory IVF pipeline and the
    * persisted index writer ([[VecIndex.ivfWrite]]) so the two can never
    * disagree on the centroid formula. */
  private[operators] def cellCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg((sum(round(col("v").cast("double") * 1000000000L).cast("decimal(38,0)"))
        .cast("double") / lit(1000000000.0) / count(lit(1))).as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("cv"))

  /** The IVF probe core, parameterized over WHERE the index lives: rank
    * the centroid table (broadcast — k rows), probe the p nearest cells,
    * exact-dot re-rank the probed cells' members to top-k. `q` is the
    * query batch (vec_id, embedding); `cvec`/`cells` are either the
    * in-memory derivations ([[sweepRank]]) or the read-back persisted
    * tables ([[VecIndex.ivfProbe]]) — one code path, so index round-trips
    * are bit-identical to the in-memory pipeline by construction. */
  private[operators] def ivfRank(spark: SparkSession, q: DataFrame,
      cvec: DataFrame, cells: DataFrame, p: Int, k: Int = 3): DataFrame = {
    val crkW = Window.partitionBy("vec_id")
      .orderBy(desc("csim"), asc("label"))
    val probes = q.crossJoin(broadcast(cvec))
      .select(col("vec_id"), col("label"),
        round(expr(
          """aggregate(zip_with(embedding, cv, (x, y) -> CAST(x AS DOUBLE) * y),
            |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin), 6).as("csim"))
      .withColumn("crk", row_number().over(crkW))
      .filter(col("crk") <= p)
      .select(col("vec_id"), col("label"))
    val b = cells.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("embedding").as("b_vec"))
    val topW = Window.partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    probes
      .join(q, "vec_id")
      .select(col("vec_id").as("a_id"), col("label"), col("embedding").as("a_vec"))
      .join(b, col("label") === col("b_label") && col("b_id") =!= col("a_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(spark)(col("a_vec"), col("b_vec")), 6).as("sim"))
      .withColumn("rk", row_number().over(topW))
      .filter(col("rk") <= k)
      .select("a_id", "b_id", "sim", "rk")
  }

  /** The trained coarse quantizer's two outputs — (tcv: label, cv)
    * trained centroids and (tasg: vec_id, label) nearest-centroid cell
    * membership — shared by the in-memory chain and the persisted index
    * writer ([[VecIndex.ivfpqTrainedWrite]]) so the two can never
    * disagree on the training recipe. Each of the `rounds` Lloyd rounds'
    * centroid table is persisted, so round r's tcv plan is canonically
    * IDENTICAL to the 1-round rows' — within a module pass CacheManager
    * serves the multi-round rung's first round from the single-round
    * rung's cache and only the extra rounds compute. */
  private[graft] def trainedCellsN(e: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    var tcv = kmeansMeans(kmeansAssign(e, seeds))
      .persistScratch() // trained centroids: re-assign + the probe ranker
    for (_ <- 2 to rounds)
      tcv = kmeansMeans(kmeansAssign(e, tcv)).persistScratch()
    val tasg = kmeansAssign(e, tcv)
      .select(col("vec_id"), col("cid").as("label"))
    (tcv.select(col("cid").as("label"), col("cv")), tasg)
  }

  // ---- the clustered corpus (the `Clustered` sweep rows) ---------------
  // The fixture embeddings are near-uniform across cells, so residual and
  // flat encodings tie there (BASELINE.md round 14's variance audit); the
  // residual win only appears when between-cell variance dominates — the
  // regime real embedding corpora live in (Jégou §V-A's motivation). The
  // clustered rows GENERATE such a corpus deterministically in BOTH
  // engines — portable-md5 jitter (±0.15) around 8 portable-md5 planted
  // centers (±0.8), float32-cast so the generated table is type-identical
  // to the parquet fixture — then run the UNCHANGED flat, residual and
  // trained IVF-PQ chains over it. Green hashes prove both engines built
  // the same corpus AND ranked it identically.

  /** Planted-center corpus knobs, interpolated into BOTH engines' SQL from
    * one definition (the shared-constant rule). */
  private val CluCells = 8
  private val CluCenterU = 1000000L  // ±0.8 in 1.25e6 units
  private val CluJitterU = 187500L   // ±0.15 in 1.25e6 units
  private val CluScale = 1250000.0

  /** DuckDB generated-corpus SELECT: one row per fixture vec_id, label =
    * vec_id % k, dim d = (center(label, d) + jitter(vec_id, d)) / scale,
    * float32-cast. */
  private def cluEmbDuck: String = {
    // the dim lambda variable is `d`, NOT `i` — PortableHash.duck's inner
    // list_transform binds `i`, which would shadow an outer `i` and hash
    // the hex position instead of the dimension
    val c = graft.functions.PortableHash.duck(
      s"'gc|' || CAST(vec_id % $CluCells AS VARCHAR) || '|' || CAST(d AS VARCHAR)")
    val j = graft.functions.PortableHash.duck(
      "'gj|' || CAST(vec_id AS VARCHAR) || '|' || CAST(d AS VARCHAR)")
    s"""SELECT vec_id, vec_id % $CluCells AS label,
       |  list_transform(range(0, 64), d -> CAST(
       |    (($c % ${2 * CluCenterU + 1} - $CluCenterU)
       |     + ($j % ${2 * CluJitterU + 1} - $CluJitterU)) / $CluScale
       |    AS FLOAT)) AS embedding
       |FROM embeddings""".stripMargin
  }

  /** Spark generated corpus — same arithmetic, same md5 strings, same
    * float32 cast, so the two engines' corpora are bit-identical. Pure
    * per-row expressions over the fixture's vec_id column: at 100 TB this
    * is a map-only stage (the generator exists only to make the operating
    * point gradeable; a real corpus arrives clustered already). */
  private def cluEmb(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.functions.PortableHash.spark(
      s"concat('gc|', CAST(vec_id % $CluCells AS STRING), '|', CAST(d AS STRING))")
    val j = graft.functions.PortableHash.spark(
      "concat('gj|', CAST(vec_id AS STRING), '|', CAST(d AS STRING))")
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      (col("vec_id") % CluCells).as("label"),
      expr(
        s"""transform(sequence(0, 63), d -> CAST(
           |  (($c % ${2 * CluCenterU + 1} - $CluCenterU)
           |   + ($j % ${2 * CluJitterU + 1} - $CluJitterU)) / $CluScale
           |  AS FLOAT))""".stripMargin).as("embedding"))
  }
  // ---- sweep, DuckDB side ---------------------------------------------------
  // Every builder returns comma-separated CTEs without the leading WITH.
  // A family's chain ends in `adc` (a_id, b_id, adcu) — or, for IVF, in
  // `cand` (a_id, b_id, sim) — and [[sweepDuck]] appends the top-k cut,
  // the optional exact tier, and the output or recall tail.

  /** DuckDB side of a sweep row. */
  private def sweepDuck(r: Sweep): String = {
    val embSql = r.corpus match {
      case Fixture => defaultEmbSql
      case Clustered => cluEmbDuck
    }
    val panel = r.fam.panel
    val k = r.fam.k
    val chain = r.fam match {
      case Ivf => ivfDuckFrom(embSql, r)
      case Pq =>
        s"""${pqCtesFrom(embSql)},
           |${duckLut("cb", panel)},
           |adc AS (
           |  SELECT l.a_id, e.vec_id AS b_id, SUM(l.lutu) AS adcu
           |  FROM enc e JOIN lut l ON l.s = e.s AND l.c = e.code
           |  WHERE e.vec_id <> l.a_id
           |  GROUP BY 1, 2)""".stripMargin
      case IvfPq =>
        s"""${pqCtesFrom(embSql)},
           |${duckLut("cb", panel)},
           |$cellCentroidsDuck,
           |${ivfpqAdcTail(r, "cvec", "emb")}""".stripMargin
      case Res => ivfpqResDuckFrom(embSql, r)
      case Trained(rounds) => ivfpqTrainedDuckFrom(embSql, r, rounds)
    }
    val ranked =
      if (r.fam == Ivf) duckTopK("topk", "cand", "sim", k)
      else if (r.w > 0) duckExactRerank(r.w, k)
      else duckTopK("topk", "adc", "adcu", k)
    val score = if (r.adc) "round(adcu / 1000000.0, 6) AS adc" else "sim"
    r.out match {
      case Recall => s"WITH $chain,\n$ranked,\n${duckRecallTail("topk", panel, k)}"
      case _ =>
        s"""WITH $chain,
           |$ranked
           |SELECT a_id, b_id, $score, rk FROM topk
           |ORDER BY a_id, rk""".stripMargin
    }
  }

  private val defaultEmbSql =
    s"SELECT * FROM embeddings WHERE $sqlClean"

  /** Exact-unit (label, cv) cell centroids over `emb` — the
    * q_vec_centroid arithmetic, the oracle twin of [[cellCentroids]]. */
  private val cellCentroidsDuck =
    """cent AS (
      |  SELECT label, i - 1 AS pos,
      |    SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000000) AS BIGINT))
      |      / 1000000000.0 / COUNT(*) AS c
      |  FROM emb, range(1, 65) t(i)
      |  GROUP BY label, pos),
      |cvec AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label)""".stripMargin

  /** `name`: the top-k rows per a_id of relation `src` by `score` DESC,
    * ties to the smaller b_id. */
  private def duckTopK(name: String, src: String, score: String, k: Int) =
    s"""$name AS (
       |  SELECT a_id, b_id, $score, rk FROM (
       |    SELECT a_id, b_id, $score,
       |      CAST(row_number() OVER (PARTITION BY a_id
       |        ORDER BY $score DESC, b_id) AS INT) AS rk
       |    FROM $src)
       |  WHERE rk <= $k)""".stripMargin

  /** The p nearest cells of `cellsRel` (label, cv) per panel query
    * (a_id, label); `base` adds the 1e-6-unit q·c term residual scoring
    * needs. */
  private def duckProbes(r: Sweep, cellsRel: String, base: Boolean) = {
    val csim = s"list_sum(list_transform(list_zip(q.embedding, $cellsRel.cv), x -> CAST(x[1] AS DOUBLE) * x[2]))"
    val baseu =
      if (base) s",\n      CAST(round($csim * 1000000) AS BIGINT) AS baseu"
      else ""
    s"""probes AS (
       |  SELECT vec_id AS a_id, label${if (base) ", baseu" else ""} FROM (
       |    SELECT q.vec_id, $cellsRel.label$baseu,
       |      CAST(row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round($csim, 6) DESC, $cellsRel.label) AS INT) AS crk
       |    FROM (SELECT vec_id, embedding FROM emb WHERE vec_id < ${r.fam.panel}) q, $cellsRel)
       |  WHERE crk <= ${r.p})""".stripMargin
  }

  /** IVF chain: probe the label cells, gather their members' exact sims. */
  private def ivfDuckFrom(embSql: String, r: Sweep) =
    s"""emb AS ($embSql),
       |$cellCentroidsDuck,
       |${duckProbes(r, "cvec", base = false)},
       |cand AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    round($sqlDot, 6) AS sim
       |  FROM probes p
       |  JOIN emb a ON a.vec_id = p.a_id
       |  JOIN emb b ON b.label = p.label AND b.vec_id <> p.a_id)""".stripMargin

  /** (vec_id, s, sv): the m=16 4-dim subvectors of `vecCol` in `src`. */
  private def duckSubvectors(name: String, src: String, vecCol: String) =
    s"""$name AS (
       |  SELECT vec_id, CAST(t.s AS INT) AS s,
       |    $vecCol[t.s * 4 + 1 : t.s * 4 + 4] AS sv
       |  FROM $src, range(0, 16) t(s))""".stripMargin

  /** PQ training over the subvector relation `src`, CTE names prefixed
    * with `pre`: seed codebook (the 32 smallest vec_ids) → L2 assign →
    * exact 1e-9-unit codeword means (`${pre}cb`: s, c, cv) → final encode
    * (`${pre}enc`: vec_id, s, code). The CASTs are exact no-ops on the
    * residual family's DOUBLE subvectors. */
  private def duckPqTrain(pre: String, src: String) = {
    def l2(cb: String) =
      s"""round(list_sum(list_transform(list_zip($src.sv, $cb.cv),
         |          x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
         |             * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6)""".stripMargin
    s"""${pre}cb0 AS (SELECT vec_id AS c, s, sv AS cv FROM $src WHERE vec_id < 32),
       |${pre}enc0 AS (
       |  SELECT vec_id, s, c AS code, sv FROM (
       |    SELECT $src.vec_id, $src.s, ${pre}cb0.c, $src.sv,
       |      row_number() OVER (PARTITION BY $src.vec_id, $src.s
       |        ORDER BY ${l2(s"${pre}cb0")} ASC,
       |          ${pre}cb0.c) AS rk
       |    FROM $src JOIN ${pre}cb0 USING (s))
       |  WHERE rk = 1),
       |${pre}cbc AS (
       |  SELECT s, code AS c, CAST(t.pos AS INT) - 1 AS pos,
       |    SUM(CAST(round(CAST(sv[t.pos] AS DOUBLE) * 1000000000) AS BIGINT))
       |      / 1000000000.0 / COUNT(*) AS cc
       |  FROM ${pre}enc0, range(1, 5) t(pos)
       |  GROUP BY s, code, pos),
       |${pre}cb AS (SELECT s, c, list(cc ORDER BY pos) AS cv FROM ${pre}cbc GROUP BY s, c),
       |${pre}enc AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT $src.vec_id, $src.s, ${pre}cb.c,
       |      row_number() OVER (PARTITION BY $src.vec_id, $src.s
       |        ORDER BY ${l2(s"${pre}cb")} ASC,
       |          ${pre}cb.c) AS rk
       |    FROM $src JOIN ${pre}cb USING (s))
       |  WHERE rk = 1)""".stripMargin
  }

  /** Corpus `emb` → subvectors `sp` → trained flat codebook `cb` and codes
    * `enc`: the shared prefix of the PQ, IVF-PQ and trained families and
    * of q_vec_index_stats, so they can never disagree on training. */
  private def pqCtesFrom(embSql: String) =
    s"""emb AS ($embSql),
       |${duckSubvectors("sp", "emb", "embedding")},
       |${duckPqTrain("", "sp")}""".stripMargin

  /** `lut` (a_id, s, c, lutu): each panel query's 1e-6-unit ADC lookup
    * table of raw subvectors against codebook `cb`. */
  private def duckLut(cb: String, panel: Int) =
    s"""lut AS (
       |  SELECT q.vec_id AS a_id, q.s, $cb.c,
       |    CAST(round(list_sum(list_transform(list_zip(q.sv, $cb.cv),
       |      x -> CAST(x[1] AS DOUBLE) * x[2])) * 1000000)
       |      AS BIGINT) AS lutu
       |  FROM sp q JOIN $cb USING (s)
       |  WHERE q.vec_id < $panel)""".stripMargin

  /** The probe → cell-restricted ADC tail shared by every composed IVF-PQ
    * oracle: `cellsRel` is the (label, cv) centroid relation the coarse
    * ranker probes, `memberRel` the (vec_id, label) relation placing each
    * code of `encRel` in its cell — the label-cell family passes (cvec,
    * emb, enc), the trained family its Lloyd outputs, the residual family
    * its residual codes plus the base term. */
  private def ivfpqAdcTail(r: Sweep, cellsRel: String, memberRel: String,
      encRel: String = "enc", base: Boolean = false) =
    s"""${duckProbes(r, cellsRel, base)},
       |adc AS (
       |  SELECT l.a_id, e.vec_id AS b_id,
       |    SUM(l.lutu)${if (base) " + MAX(p.baseu)" else ""} AS adcu
       |  FROM $encRel e
       |  JOIN $memberRel be ON be.vec_id = e.vec_id
       |  JOIN probes p ON p.label = be.label
       |  JOIN lut l ON l.a_id = p.a_id AND l.s = e.s AND l.c = e.code
       |  WHERE e.vec_id <> l.a_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Residual IVF-PQ chain: cell centroids → per-vector residuals →
    * residual PQ train/encode → probes with the base term → residual LUT
    * of the raw query subvectors → cell-restricted ADC + base. */
  private def ivfpqResDuckFrom(embSql: String, r: Sweep) =
    s"""emb AS ($embSql),
       |${duckSubvectors("sp", "emb", "embedding")},
       |$cellCentroidsDuck,
       |resv AS (
       |  SELECT e.vec_id, e.label,
       |    list_transform(list_zip(e.embedding, cvec.cv),
       |      x -> CAST(x[1] AS DOUBLE) - x[2]) AS rv
       |  FROM emb e JOIN cvec USING (label)),
       |${duckSubvectors("rsp", "resv", "rv")},
       |${duckPqTrain("r", "rsp")},
       |${duckLut("rcb", r.fam.panel)},
       |${ivfpqAdcTail(r, "cvec", "resv", "renc", base = true)}""".stripMargin

  /** One DuckDB nearest-centroid assignment CTE: every corpus vector to
    * its best cell in `cellsRel` ((`key`, cv) — ts0's float seeds or a
    * tcv round's double means; CAST(x[2] AS DOUBLE) is exact on both).
    * Output (vec_id, `outCol`): `cid` feeding a means round, `label`
    * feeding the ADC tail. */
  private def trainedAssignDuck(name: String, cellsRel: String, key: String,
      outCol: String) =
    s"""$name AS (
       |  SELECT vec_id, $outCol FROM (
       |    SELECT e.vec_id, $cellsRel.$key AS $outCol,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_sum(list_transform(list_zip(e.embedding, $cellsRel.cv),
       |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) DESC,
       |          $cellsRel.$key) AS rk
       |    FROM emb e, $cellsRel)
       |  WHERE rk = 1)""".stripMargin

  /** One DuckDB exact-integer-unit means CTE pair over an assignment
    * (vec_id, cid): the q_vec_kmeans_iter arithmetic. */
  private def trainedMeansDuck(asgRel: String, cRel: String, cellsRel: String) =
    s"""$cRel AS (
       |  SELECT a.cid, CAST(t.i AS INT) - 1 AS pos,
       |    SUM(CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1000000000)
       |        AS BIGINT)) / 1000000000.0 / COUNT(*) AS c
       |  FROM $asgRel a JOIN emb e USING (vec_id), range(1, 65) t(i)
       |  GROUP BY a.cid, pos),
       |$cellsRel AS (SELECT cid AS label, list(c ORDER BY pos) AS cv
       |        FROM $cRel GROUP BY cid)""".stripMargin

  /** Trained-cell chain: seeds → `rounds` × (assign → exact means) →
    * final re-assign (tasg: vec_id, label) → the shared ADC tail. */
  private def ivfpqTrainedDuckFrom(embSql: String, r: Sweep,
      rounds: Int): String = {
    val chain = new StringBuilder(
      "ts0 AS (SELECT vec_id AS cid, embedding AS cv FROM emb WHERE vec_id < 8)")
    var cells = "ts0"
    var key = "cid"
    for (n <- 1 to rounds) {
      val next = if (n == 1) "tcv" else s"tcv$n"
      chain.append(",\n")
        .append(trainedAssignDuck(s"tasg$n", cells, key, "cid"))
        .append(",\n")
        .append(trainedMeansDuck(s"tasg$n", s"tc${n}c", next))
      cells = next; key = "label"
    }
    chain.append(",\n").append(trainedAssignDuck("tasg", cells, key, "label"))
    s"""${pqCtesFrom(embSql)},
       |${duckLut("cb", r.fam.panel)},
       |${chain.result()},
       |${ivfpqAdcTail(r, cells, "tasg")}""".stripMargin
  }

  /** The exact tier: cut `adc` to top-`w`, exact-dot the cut pairs' raw
    * vectors, keep the top-k (`topk`). */
  private def duckExactRerank(w: Int, k: Int) =
    s"""${duckTopK("cut", "adc", "adcu", w)},
       |rsim AS (
       |  SELECT c.a_id, c.b_id, round($sqlDot, 6) AS sim
       |  FROM cut c
       |  JOIN emb a ON a.vec_id = c.a_id
       |  JOIN emb b ON b.vec_id = c.b_id),
       |${duckTopK("topk", "rsim", "sim", k)}""".stripMargin

  /** Recall@k tail: brute-force top-k truth over `emb` for the vec_id <
    * `panel` query panel, left-joined against the ranked `topRel`. */
  private def duckRecallTail(topRel: String, panel: Int, k: Int) =
    s"""truth AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |      CAST(row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($sqlDot, 6) DESC, b.vec_id) AS INT) AS rk
       |    FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < $panel)
       |  WHERE rk <= $k)
       |SELECT tr.a_id,
       |  CAST(COUNT(p.b_id) AS INT) AS n_hit,
       |  round(COUNT(p.b_id) / $k.0, 6) AS recall_at_$k
       |FROM truth tr LEFT JOIN $topRel p
       |  ON tr.a_id = p.a_id AND tr.b_id = p.b_id
       |GROUP BY tr.a_id
       |ORDER BY tr.a_id""".stripMargin
  // ---- index-health datasheet (the maintenance read before serving) -----
  // FAISS documents imbalance_factor = k·Σn_c²/N² as THE number to check
  // before serving an IVF index: probe latency is proportional to probed
  // cell size, so a skewed coarse quantizer makes tail queries pay the
  // whole skew. The PQ analogue is codebook utilization — a subspace
  // whose 32 codewords collapse onto a few live codes wastes its bits
  // (Jégou §IV's dead-codeword concern). Both are one aggregate over the
  // index's own tables (labels / codes) — at 100 TB a metadata-cost scan
  // of the 17-byte/vector artifact, never the raw floats.

  /** Per-CELL size datasheet of the IVF coarse quantizer: vectors per
    * cell, share, and the cell's contribution to FAISS's imbalance
    * factor (k·n²/N²; the factors sum to k·Σn²/N², =1 when perfectly
    * balanced). Both ratios are exact integer MICRO-units via integer
    * division — the double form round(k·n²/N², 6) landed EXACTLY on a
    * .xxxxxx5 rounding tie at sf0.1 (10·189²/2000² = 0.0893025) and the
    * engines split; truncating integer division of exact BIGINTs cannot
    * tie. One groupBy on the bounded label key. */
  val qVecCellStats = Q(
    "q_vec_cell_stats",
    s"""WITH emb AS (SELECT * FROM embeddings WHERE $sqlClean),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM emb),
       |c AS (
       |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
       |  FROM emb GROUP BY label),
       |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS cells FROM c)
       |SELECT label, n_vecs,
       |  CAST(CAST(1000000 AS HUGEINT) * n_vecs // total AS BIGINT)
       |    AS share_u,
       |  CAST(CAST(1000000 AS HUGEINT) * cells * n_vecs * n_vecs
       |    // (CAST(total AS HUGEINT) * total) AS BIGINT) AS imb_u
       |FROM c, n, k
       |ORDER BY label""".stripMargin
  ) { (spark, dir) =>
    val e = cleanEmbeddings(spark, dir)
    val c = e.groupBy("label").agg(count(lit(1)).cast("bigint").as("n_vecs"))
      .persistScratch() // feeds the rows AND both scalar denominators
    val n = c.agg(sum("n_vecs").cast("bigint").as("total"),
      count(lit(1)).cast("bigint").as("cells"))
    // DECIMAL(38,0) intermediates (DuckDB mirror: HUGEINT): at the 100 TB
    // scale this row is FOR, total² and 1e6·n² overflow Int64 (N ≥ ~3e9
    // vectors) — the centroid-sum wide-accumulator discipline applies;
    // the final micro-unit quotients are ≤ 1e6·k and fit BIGINT
    c.crossJoin(broadcast(n))
      .select(col("label"), col("n_vecs"),
        expr("""CAST(1000000 AS DECIMAL(38,0)) * n_vecs div total""")
          .cast("bigint").as("share_u"),
        expr("""CAST(1000000 AS DECIMAL(38,0)) * cells * n_vecs * n_vecs
               |div (CAST(total AS DECIMAL(38,0)) * total)""".stripMargin)
          .cast("bigint").as("imb_u"))
      .orderBy("label")
  }

  /** Per-SUBSPACE codebook-utilization datasheet of the trained PQ book:
    * live codes (of 32), code-distribution entropy (micro-nats, the
    * datacard discipline — terms fixed per code BEFORE the BIGINT sum),
    * and the hottest code's share. Read before serving: a subspace with
    * few live codes or near-zero entropy is wasting its bits. One
    * (s, code) aggregate over the codes table; the 16-row totals frame
    * broadcasts back. */
  val qVecIndexStats = Q(
    "q_vec_index_stats",
    s"""WITH ${pqCtesFrom(defaultEmbSql)},
       |cnt AS (
       |  SELECT s, code, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM enc GROUP BY s, code),
       |tot AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY s),
       |term AS (
       |  SELECT cnt.s, cnt.c,
       |    CAST(round((CAST(cnt.c AS DOUBLE) / tot.n)
       |      * ln(CAST(cnt.c AS DOUBLE) / tot.n) * 1000000) AS BIGINT)
       |      AS term_u
       |  FROM cnt JOIN tot USING (s))
       |SELECT term.s,
       |  CAST(COUNT(*) AS INT) AS n_codes_used,
       |  CAST(-SUM(term_u) AS BIGINT) AS code_entropy_u,
       |  round(CAST(MAX(term.c) AS DOUBLE) / ANY_VALUE(tot.n), 6)
       |    AS top_share
       |FROM term JOIN tot USING (s)
       |GROUP BY term.s
       |ORDER BY term.s""".stripMargin
  ) { (spark, dir) =>
    val sp = pqSubvectors(cleanEmbeddings(spark, dir))
    val cb = pqTrain(spark, sp).persistScratch() // book: encode below
    val cnt = pqAssign(spark, sp, cb)
      .groupBy("s", "code").agg(count(lit(1)).cast("bigint").as("c"))
      .persistScratch() // feeds the per-s totals AND the entropy terms
    val tot = cnt.groupBy("s").agg(sum("c").cast("bigint").as("n"))
    cnt.join(broadcast(tot), "s")
      .select(col("s"), col("c"), col("n"),
        round((col("c").cast("double") / col("n"))
          * log(col("c").cast("double") / col("n")) * 1000000)
          .cast("bigint").as("term_u"))
      .groupBy("s")
      .agg(count(lit(1)).cast("int").as("n_codes_used"),
        (-sum("term_u")).cast("bigint").as("code_entropy_u"),
        round(max(col("c")).cast("double") / first(col("n")), 6)
          .as("top_share"))
      .orderBy("s")
  }

  /** ANN quality evaluation: recall@3 of the hyperplane-LSH index against
    * brute-force ground truth, per query vector — the measurement every
    * ANN deployment runs before trusting an index. Ground truth is the
    * exact top-3 over the full corpus (window rank, same rounded-sim
    * ordering); the candidate set is the LSH bucket's top-3; recall is an
    * exact intersection count over (query, neighbor) pairs. At scale the
    * ground-truth side runs on a sampled query set (here: vec_id < 50 —
    * the same bounded query panel the ANN queries use), which is exactly
    * how production recall monitoring bounds the quadratic cost. */
  val qVecRecallEval = Q(
    "q_vec_recall_eval",
    s"""WITH t AS (SELECT vec_id, embedding, CAST(${bucketExprDuck()} AS INT) AS bucket
       |           FROM embeddings),
       |truth AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |      CAST(row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($sqlDot, 6) DESC, b.vec_id) AS INT) AS rk
       |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 50)
       |  WHERE rk <= 3),
       |approx AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |      CAST(row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) DESC, b.vec_id) AS INT) AS rk
       |    FROM t a JOIN t b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 50)
       |  WHERE rk <= 3)
       |SELECT tr.a_id,
       |  CAST(COUNT(ap.b_id) AS INT) AS n_hit,
       |  round(COUNT(ap.b_id) / 3.0, 6) AS recall_at_3
       |FROM truth tr LEFT JOIN approx ap
       |  ON tr.a_id = ap.a_id AND tr.b_id = ap.b_id
       |GROUP BY tr.a_id
       |ORDER BY tr.a_id""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", graft.functions.VecExprs.lshSigs(
        spark, col("embedding"), 1).getItem(0)) // codegen'd table-0 bucket
      .persistScratch() // query panel + both candidate sides
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("a_id"), col("bucket"), col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("bucket").as("b_bucket"),
      col("embedding").as("b_vec"))
    val w = Window.partitionBy("a_id").orderBy(desc("sim"), asc("b_id"))
    def top3(joined: org.apache.spark.sql.DataFrame) = joined
      .select(col("a_id"), col("b_id"),
        round(dot(spark)(col("a_vec"), col("b_vec")), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("a_id", "b_id")
    val truth = top3(q.join(b, col("a_id") =!= col("b_id")))
    val approx = top3(q.join(b,
      col("bucket") === col("b_bucket") && col("a_id") =!= col("b_id")))
    truth.join(approx.withColumn("hit", lit(1)),
        Seq("a_id", "b_id"), "left")
      .groupBy("a_id")
      .agg(count(col("hit")).cast("int").as("n_hit"),
        round(count(col("hit")) / 3.0, 6).as("recall_at_3"))
      .orderBy("a_id")
  }

  /** Embedding DRIFT monitor: per label, the L2 distance between the
    * centroids of the even- and odd-id halves of the corpus — the
    * self-consistency check an embedding pipeline runs per snapshot (a
    * stable encoder puts the two halves' centroids within sampling noise;
    * a silently swapped model or corrupted batch shows up as a spike).
    * Per-half centroids reuse [[q34]]'s exact-unit discipline (integer
    * 1e-9 units, DECIMAL(38,0) accumulator — partition-order independent
    * on both engines); the 64-term squared-difference sum is the only
    * double reduction, and round6 absorbs its association-order ulp (the
    * mix-temperature precedent). Two aggregates + a self-join on
    * (label, pos) — nothing grows beyond |labels|·dim rows after the
    * first aggregate. */
  val qVecDrift = Q(
    "q_vec_drift",
    s"""WITH h AS (
       |  SELECT label, vec_id % 2 AS half, CAST(i - 1 AS INT) AS pos,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000000) AS BIGINT) AS u
       |  FROM embeddings, range(1, 65) t(i)
       |  WHERE ${sqlClean}),
       |c AS (SELECT label, half, pos,
       |        SUM(u) / 1000000000.0 / COUNT(*) AS c, COUNT(*) AS n
       |      FROM h GROUP BY label, half, pos),
       |p AS (SELECT a.label AS label, a.c - b.c AS d, a.n AS ne, b.n AS no
       |      FROM c a JOIN c b ON a.label = b.label AND a.pos = b.pos
       |      WHERE a.half = 0 AND b.half = 1)
       |SELECT label, CAST(MAX(ne) AS BIGINT) AS n_even,
       |  CAST(MAX(no) AS BIGINT) AS n_odd,
       |  round(sqrt(SUM(d * d)), 6) AS drift
       |FROM p GROUP BY label ORDER BY label""".stripMargin
  ) { (spark, dir) =>
    val c = cleanEmbeddings(spark, dir)
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "half", "pos")
      .agg(
        (sum(round(col("v").cast("double") * 1000000000L).cast("decimal(38,0)"))
          .cast("double") / lit(1000000000.0) / count(lit(1))).as("c"),
        count(lit(1)).as("n"))
    val even = c.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("c").as("ce"), col("n").as("ne"))
    val odd = c.filter(col("half") === 1)
      .select(col("label").as("l2"), col("pos").as("p2"),
        col("c").as("co"), col("n").as("no"))
    even.join(odd, col("label") === col("l2") && col("pos") === col("p2"))
      .select(col("label"), (col("ce") - col("co")).as("d"),
        col("ne"), col("no"))
      .groupBy("label")
      .agg(max("ne").as("n_even"), max("no").as("n_odd"),
        round(sqrt(sum(col("d") * col("d"))), 6).as("drift"))
      .orderBy("label")
  }

  /** Semantic dedup (SemDeDup-style): embedding near-duplicate pairs
    * classified by whether their TEXTS also match — the split that tells a
    * curation pipeline how much of its near-dup mass exact hashing already
    * catches (same text) versus what only the embedding space sees
    * (paraphrases, translations, templated rewrites). Per label: candidate
    * pair count, exact-text pairs, and paraphrase pairs.
    *
    * The pair generator is the label-blocked cosine join ([[qVecNearDup]]'s
    * verification baseline; the 100 TB path swaps in the banded LSH
    * candidates of [[qVecLshNearDup]] — same downstream classification).
    * Texts are brought in by joining documents on the embedding's id —
    * only the two ids cross the pair shuffle; the text equality check
    * compares a per-side digest computed AT THE SCAN (sha2 on Spark,
    * md5 in DuckDB — engines never exchange the digests themselves, only
    * the boolean, so the hash functions need not match). Embeddings
    * without a matching document simply drop out (inner join — embedding
    * coverage is a pipeline reality, counted by the validator, never
    * silently invented). */
  /** HYBRID retrieval — keyword scoring fused with embedding re-ranking
    * by Reciprocal Rank Fusion, the standard two-tower serving shape
    * (Cormack, Clarke & Buettcher, "Reciprocal Rank Fusion outperforms
    * Condorcet and individual rank learning methods", SIGIR 2009). Text
    * stage: TF-IDF over the query terms in exact integer units (per-term
    * ln(N/df) rounded to 1e-6 units once, multiplied by tf, summed —
    * partial aggregation, no double accumulation ordering), global
    * top-50 candidates via TakeOrderedAndProject (rank materialized by a
    * 50-row window, never a corpus-wide single-partition sort). Vector
    * stage: candidates inner-join the validated embeddings on doc id,
    * cosine against the planted query vector (vec_id 0, broadcast),
    * rank over (rounded sim, doc_id). Fusion: rrf = 1/(60+rt) +
    * 1/(60+rv) — ranks are exact integers, so the fused ordering is
    * deterministic cross-engine. Scale: the corpus-sized work is the one
    * token scan and the score aggregate; everything after the top-50 cut
    * is candidate-bounded. */
  val qHybridSearch = Q(
    "q_hybrid_search",
    s"""WITH emb AS (SELECT * FROM embeddings WHERE $sqlClean),
       |nn AS (SELECT COUNT(*) AS n FROM documents),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |        FROM documents),
       |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok
       |       WHERE t IN ('data', 'query', 'vector') GROUP BY doc_id, t),
       |df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok
       |       WHERE t IN ('data', 'query', 'vector') GROUP BY t),
       |score AS (SELECT tf.doc_id,
       |    SUM(tf.tf * CAST(round(ln(CAST(nn.n AS DOUBLE) / df.df)
       |      * 1000000) AS BIGINT)) AS su
       |  FROM tf JOIN df USING (t) CROSS JOIN nn GROUP BY tf.doc_id),
       |rt AS (SELECT doc_id, rank_text FROM (
       |    SELECT doc_id,
       |      CAST(row_number() OVER (ORDER BY su DESC, doc_id) AS INT)
       |        AS rank_text
       |    FROM score) WHERE rank_text <= 50),
       |qv AS (SELECT embedding AS qvec FROM emb WHERE vec_id = 0),
       |vr AS (SELECT doc_id, rank_text,
       |    CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INT)
       |      AS rank_vec
       |  FROM (SELECT rt.doc_id, rt.rank_text,
       |      round(list_sum(list_transform(list_zip(e.embedding, qv.qvec),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS sim
       |    FROM rt JOIN emb e ON e.vec_id = rt.doc_id CROSS JOIN qv))
       |SELECT doc_id, rank_text, rank_vec,
       |  round(1.0 / (60 + rank_text) + 1.0 / (60 + rank_vec), 6) AS rrf
       |FROM vr
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
  ) { (spark, dir) =>
    val terms = Seq("data", "query", "vector")
    val docs = Tables.documents(spark, dir)
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t").isin(terms: _*))
      .persistScratch() // feeds tf AND df
    val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dft = tok.groupBy("t").agg(countDistinct("doc_id").as("df"))
    val nDf = docs.agg(count(lit(1)).as("n"))
    val score = tf.join(broadcast(dft), "t").crossJoin(broadcast(nDf))
      .select(col("doc_id"),
        (col("tf") * round(log(col("n").cast("double") / col("df")) * 1000000)
          .cast("bigint")).as("u"))
      .groupBy("doc_id").agg(sum("u").as("su"))
    // global top-50 via TakeOrderedAndProject; the rank window then runs
    // over 50 rows, never the corpus
    val wT = Window.orderBy(desc("su"), asc("doc_id"))
    val top = score.orderBy(desc("su"), asc("doc_id")).limit(50)
      .withColumn("rank_text", row_number().over(wT).cast("int"))
    val e = cleanEmbeddings(spark, dir)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val wV = Window.orderBy(desc("sim"), asc("doc_id"))
    top
      .join(e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .crossJoin(broadcast(qv))
      .withColumn("sim", round(dot(spark)(col("embedding"), col("qvec")), 6))
      .withColumn("rank_vec", row_number().over(wV).cast("int"))
      .select(col("doc_id"), col("rank_text"), col("rank_vec"),
        round(lit(1.0) / (lit(60) + col("rank_text"))
          + lit(1.0) / (lit(60) + col("rank_vec")), 6).as("rrf"))
      .orderBy(desc("rrf"), asc("doc_id")).limit(10)
  }

  /** SemDeDup-style cluster-scoped embedding dedup (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): k-means-assign every vector to its nearest of
    * k fixed centroids, then search for near-duplicate pairs ONLY within
    * each cluster — the clustering bounds the quadratic pair search at
    * Σ|cluster|² instead of n², which is the entire reason the method
    * scales to web corpora. Within a cluster the keep-first policy drops
    * the larger vec_id of any pair with rounded cosine ≥ 0.3 (the
    * q_vec_neardup threshold; rounding to 6 dp BEFORE the comparison
    * pins the boundary cross-engine). Output per cluster: member count,
    * dropped count, and the dropped-id checksum. Plan shape: centroid
    * assignment is a broadcast cross join + per-vector rank (map-side);
    * the only corpus shuffle is the equi-join on the cluster id — and a
    * skew-limited cluster would surface in q_dedup_bucket_skew fashion
    * as a hot cid partition, handled by AQE skew-join at scale. */
  val qDedupSemdedup = Q(
    "q_dedup_semdedup",
    s"""WITH emb AS (SELECT * FROM embeddings WHERE $sqlClean),
       |s AS (SELECT vec_id AS cid, embedding AS cvec FROM emb WHERE vec_id < 8),
       |asg AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, s.cid,
       |      CAST(row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_sum(list_transform(list_zip(e.embedding, s.cvec),
       |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) DESC,
       |          s.cid) AS INT) AS rk
       |    FROM emb e CROSS JOIN s)
       |  WHERE rk = 1),
       |pr AS (
       |  SELECT a.cid, b.vec_id AS b_id
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE round($sqlDot, 6) >= 0.3),
       |drp AS (SELECT DISTINCT cid, b_id FROM pr),
       |g AS (SELECT cid, COUNT(*) AS n FROM asg GROUP BY cid),
       |d AS (SELECT cid, COUNT(*) AS nd, SUM(b_id) AS idsum
       |      FROM drp GROUP BY cid)
       |SELECT g.cid, CAST(g.n AS BIGINT) AS n_members,
       |  CAST(coalesce(d.nd, 0) AS BIGINT) AS n_dropped,
       |  CAST(coalesce(d.idsum, 0) AS BIGINT) AS dropped_id_sum
       |FROM g LEFT JOIN d ON g.cid = d.cid
       |ORDER BY g.cid""".stripMargin
  ) { (spark, dir) =>
    val e = cleanEmbeddings(spark, dir)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val w = Window.partitionBy("vec_id").orderBy(desc("sim"), asc("cid"))
    val asg = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(seeds))
      .withColumn("sim", round(dot(spark)(col("embedding"), col("cvec")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("vec_id", "embedding", "cid")
      // feeds both sides of the in-cluster pair join AND the member count
      .persistScratch()
    val a = asg.select(col("cid"), col("vec_id").as("a_id"),
      col("embedding").as("a_vec"))
    val b = asg.select(col("cid").as("b_cid"), col("vec_id").as("b_id"),
      col("embedding").as("b_vec"))
    val dropped = a
      .join(b, col("cid") === col("b_cid") && col("a_id") < col("b_id"))
      .filter(round(dot(spark)(col("a_vec"), col("b_vec")), 6) >= 0.3)
      .select("cid", "b_id").distinct()
    val members = asg.groupBy("cid").agg(count(lit(1)).as("n_members"))
    members
      .join(dropped.groupBy("cid")
          .agg(count(lit(1)).as("nd"), sum("b_id").as("idsum")),
        Seq("cid"), "left")
      .select(col("cid"), col("n_members"),
        coalesce(col("nd"), lit(0L)).cast("bigint").as("n_dropped"),
        coalesce(col("idsum"), lit(0L)).cast("bigint").as("dropped_id_sum"))
      .orderBy("cid")
  }

  val qDedupSemantic = Q(
    "q_dedup_semantic",
    s"""WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
       |pr AS (
       |  SELECT a.label AS label,
       |    CASE WHEN da.h = db.h THEN 1 ELSE 0 END AS ex
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  JOIN d da ON da.doc_id = a.vec_id
       |  JOIN d db ON db.doc_id = b.vec_id
       |  WHERE $sqlDot >= 0.3)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(ex) AS BIGINT) AS n_exact_text,
       |  CAST(COUNT(*) - SUM(ex) AS BIGINT) AS n_paraphrase
       |FROM pr GROUP BY label ORDER BY label""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val a = e.select(col("vec_id").as("a_id"), col("label"),
      col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("embedding").as("b_vec"))
    val pairs = a
      .join(b, col("label") === col("b_label") && col("a_id") < col("b_id"))
      .filter(dot(spark)(col("a_vec"), col("b_vec")) >= 0.3)
      .select(col("a_id"), col("b_id"), col("label"))
    val ex = when(col("ha") === col("hb"), 1).otherwise(0)
    pairs
      .join(d.select(col("doc_id").as("a_id"), col("h").as("ha")), "a_id")
      .join(d.select(col("doc_id").as("b_id"), col("h").as("hb")), "b_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_pairs"),
        sum(ex).as("n_exact_text"),
        (count(lit(1)) - sum(ex)).as("n_paraphrase"))
      .orderBy("label")
  }

  /** Exact covariance Gramian over the embedding components — the input
    * to PCA whitening / decorrelation diagnostics a feature pipeline runs
    * per snapshot. Reported as the top-20 |raw-covariance| off-diagonal
    * pairs, where the raw covariance is the INTEGER moment identity
    * n·Σ(q_i·q_j) − Σq_i·Σq_j over components quantized to 1e-4 units
    * (|x| ≤ 1 by the embedding contract, so |q| ≤ 1e4 and every product
    * fits a BIGINT; the n·Σ cross terms run in DECIMAL(38,0)/HUGEINT and
    * only the final value narrows to BIGINT — out of range would be a
    * loud capacity error on both engines, never a divergence).
    *
    * Plan shape: the d²/2 pair expansion happens INSIDE the row via two
    * chained generators over the quantized array — no self-join, no
    * shuffle before the partial aggregate — so each partition contributes
    * at most d²/2 = 2016 combined rows to the one exchange. The marginal
    * sums and the count are dim-bounded one-pass aggregates joined back
    * as broadcast frames (bounded by dim², the TokenBits precedent, never
    * by the corpus). This is the standard outer-product Gramian shape:
    * compute-heavy per row, constant shuffle width — exactly what
    * distributes at 100 TB. */
  val qVecCovariance = Q(
    "q_vec_covariance",
    s"""WITH q AS (
       |  SELECT vec_id, CAST(i - 1 AS INT) AS i,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS qi
       |  FROM embeddings, range(1, 65) t(i)
       |  WHERE ${sqlClean}),
       |nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM q),
       |m AS (SELECT i, SUM(qi) AS si FROM q GROUP BY i),
       |p AS (SELECT a.i AS i, b.i AS j, SUM(a.qi * b.qi) AS sij
       |      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i < b.i
       |      GROUP BY a.i, b.i)
       |SELECT p.i AS i, p.j AS j,
       |  CAST(CAST(nn.n AS HUGEINT) * sij
       |       - CAST(ma.si AS HUGEINT) * mb.si AS BIGINT) AS cov_units
       |FROM p JOIN m ma ON p.i = ma.i JOIN m mb ON p.j = mb.i CROSS JOIN nn
       |ORDER BY abs(cov_units) DESC, p.i, p.j LIMIT 20""".stripMargin
  ) { (spark, dir) =>
    val q = cleanEmbeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 10000).cast("long")).as("qarr"))
      .persistScratch() // feeds pairs, marginals, and the count
    val pairs = q
      .select(col("qarr"), posexplode(col("qarr")).as(Seq("i", "qi")))
      .select(col("i"), col("qi"), posexplode(col("qarr")).as(Seq("j", "qj")))
      .filter(col("i") < col("j"))
      .groupBy("i", "j")
      .agg(sum(col("qi") * col("qj")).as("sij"))
    val marg = q
      .select(posexplode(col("qarr")).as(Seq("i", "qi")))
      .groupBy("i").agg(sum("qi").as("si"))
    val n = q.agg(count(lit(1)).as("n"))
    val ma = marg.select(col("i").as("mi"), col("si").as("si_a"))
    val mb = marg.select(col("i").as("mj"), col("si").as("si_b"))
    pairs
      .join(broadcast(ma), col("i") === col("mi"))
      .join(broadcast(mb), col("j") === col("mj"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (col("n").cast("decimal(38,0)") * col("sij")
          - col("si_a").cast("decimal(38,0)") * col("si_b"))
          .cast("long").as("cov_units"))
      .orderBy(abs(col("cov_units")).desc, col("i").asc, col("j").asc)
      .limit(20)
  }

  /** Top principal component by power iteration — the PCA direction a
    * feature pipeline uses for whitening checks and anisotropy monitors
    * (embedding collapse shows up as one dominant eigenvalue). The
    * distributed part is the [[qVecCovariance]] Gramian (one scan, d²
    * bounded shuffle rows); the iteration itself runs on the driver over
    * the collected d×d matrix — 2 080 upper-triangle entries, bounded by
    * dim² like the TokenBits vocab collect, NEVER by the corpus — because
    * a 64×64 eigenproblem distributed across executors would be pure
    * overhead.
    *
    * DRIVER-MEMORY BOUND: the collect is d(d+1)/2 rows ≈ 16·d² bytes as
    * Row objects — negligible at d = 64 (2 080 entries), ~50 MB at
    * d = 2 048, ~134 MB of raw doubles (≈ 500 MB with Row overhead) at
    * d = 4 096. The driver-side iteration is therefore sized for
    * d ≲ 2 000; beyond that, keep the matvec distributed: hold the tri
    * entries as a (i, j, c) DataFrame, broadcast the current d-vector,
    * and compute v' = normalize(Σ_j c·v_j grouped by i) per iteration —
    * 40 short shuffle rounds whose cost is d²-bounded and
    * corpus-independent (the Gramian scan, which IS corpus-sized, is
    * unchanged and runs once either way). See BASELINE.md §PCA.
    *
    * 40 fixed iterations from the deterministic uniform start
    * vector; the sign is normalized so the largest-|loading| component is
    * positive (eigenvectors are sign-ambiguous). Eigen-extraction is not
    * SQL-expressible, so like the sketch estimates this is contractually
    * un-oracled (driver rows-only check); VectorAndApproxSpec plants a
    * rank-1 direction and asserts ≥ 0.99 alignment, and checks the
    * returned eigenvalue against the Rayleigh quotient. */
  /** Upper-triangle (i ≤ j) centered-Gramian entries (i, j, c) shared by
    * the driver-side power iteration ([[qVecPcaPower]]) and the
    * distributed matvec ([[pcaPowerDistributed]]): one corpus scan, d²
    * bounded output, exact integer moment identity narrowed to double at
    * the very end. */
  private def gramianTri(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val q = cleanEmbeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 10000).cast("long")).as("qarr"))
      .persistScratch()
    val tri = q
      .select(col("qarr"), posexplode(col("qarr")).as(Seq("i", "qi")))
      .select(col("i"), col("qi"), posexplode(col("qarr")).as(Seq("j", "qj")))
      .filter(col("i") <= col("j"))
      .groupBy("i", "j")
      .agg(sum(col("qi") * col("qj")).as("sij"))
    val marg = q
      .select(posexplode(col("qarr")).as(Seq("i", "qi")))
      .groupBy("i").agg(sum("qi").as("si"))
    val ma = marg.select(col("i").as("mi"), col("si").as("si_a"))
    val mb = marg.select(col("i").as("mj"), col("si").as("si_b"))
    val n = q.agg(count(lit(1)).as("n"))
    tri
      .join(broadcast(ma), col("i") === col("mi"))
      .join(broadcast(mb), col("j") === col("mj"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (col("n").cast("decimal(38,0)") * col("sij")
          - col("si_a").cast("decimal(38,0)") * col("si_b"))
          .cast("double").as("c"))
  }

  val qVecPcaPower = Q.noOracle("q_vec_pca_power") { (spark, dir) =>
    val d = Dim
    // Collected matrix is dim²-bounded (2 080 rows) — documented driver
    // collect, same contract as TokenBits / MisraGries candidates. The
    // count rides the same single action as the matrix (one job, no
    // separate count() racing the scratch release).
    val entries = gramianTri(spark, dir).collect()
    import spark.implicits._
    if (entries.isEmpty) {
      // Empty / all-out-of-contract corpus: no eigenstructure exists —
      // emit the empty frame (RobustnessSpec's empty-corpus contract).
      Seq.empty[(Int, Double)].toDF("pos", "loading")
        .withColumn("eigval_units", lit(0.0))
    } else {
      val m = Array.ofDim[Double](d, d)
      entries.foreach { r =>
        val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
        m(i)(j) = c; m(j)(i) = c
      }
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var eig = 0.0
      for (_ <- 1 to 40) {
        val av = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
        val norm = math.sqrt(av.map(x => x * x).sum)
        if (norm > 0) { v = av.map(_ / norm); eig = norm }
      }
      val flip = if (v(v.zipWithIndex.maxBy { case (x, _) => math.abs(x) }._2) < 0) -1.0 else 1.0
      v.zipWithIndex
        .map { case (x, i) => (i, BigDecimal(flip * x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .toSeq.toDF("pos", "loading")
        .withColumn("eigval_units", round(lit(eig), 2))
        .orderBy("pos")
    }
  }

  /** DISTRIBUTED power iteration — the d ≳ 2 000 path the
    * [[qVecPcaPower]] scaladoc sizes: when the d×d Gramian no longer fits
    * a sane driver collect, the matrix stays a (i, j, c) DataFrame
    * (mirrored to full form once, persisted, d²-bounded) and each of the
    * `iters` rounds computes v' = normalize(A·v) as a broadcast-join +
    * groupBy over those entries; only the d-element vector itself
    * round-trips through the driver per round. Cost per round is
    * d²-bounded and corpus-independent — the corpus-sized Gramian scan
    * still runs exactly once, shared shape with [[qVecCovariance]]. At
    * the fixture's d = 64 this is pure stage-floor overhead vs the driver
    * loop (2 jobs × 40 rounds), so the graded row keeps the driver path;
    * VectorAndApproxSpec proves the two paths agree on the fixture corpus
    * and on a planted rank-1 direction. */
  def pcaPowerDistributed(spark: org.apache.spark.sql.SparkSession,
      dir: String, iters: Int = 40): DataFrame = {
    import spark.implicits._
    val d = Dim
    val tri = gramianTri(spark, dir)
    // mirror the upper triangle once; persisted — every round reads it
    val full = tri.unionByName(
        tri.filter(col("i") =!= col("j"))
          .select(col("j").as("i"), col("i").as("j"), col("c")))
      .persistScratch()
    if (full.isEmpty) {
      Seq.empty[(Int, Double)].toDF("pos", "loading")
        .withColumn("eigval_units", lit(0.0))
    } else {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var eig = 0.0
      for (_ <- 1 to iters) {
        val vdf = v.zipWithIndex.map { case (x, j) => (j, x) }.toSeq.toDF("j", "vj")
        val av = full.join(broadcast(vdf), "j")
          .groupBy("i").agg(sum(col("c") * col("vj")).as("x"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        val arr = Array.tabulate(d)(i => av.getOrElse(i, 0.0))
        val norm = math.sqrt(arr.map(x => x * x).sum)
        if (norm > 0) { v = arr.map(_ / norm); eig = norm }
      }
      val flip = if (v(v.zipWithIndex.maxBy { case (x, _) => math.abs(x) }._2) < 0) -1.0 else 1.0
      v.zipWithIndex
        .map { case (x, i) => (i, BigDecimal(flip * x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .toSeq.toDF("pos", "loading")
        .withColumn("eigval_units", round(lit(eig), 2))
        .orderBy("pos")
    }
  }

  /** Nearest-centroid classification eval: assign every clean vector to
    * its nearest per-label centroid and report the confusion matrix —
    * the standard embedding-quality readout (how separable are the
    * labels under their own class means?). The diagonal mass over total
    * is the classifier's resubstitution accuracy. Scale shape: the k×64
    * centroid table derives from ONE posexplode pass with partial
    * aggregation (q_vec_centroid's exact integer-unit arithmetic via
    * [[cellCentroids]], so this and the IVF family can never disagree on
    * the formula), then broadcasts; the per-vector argmax is a map-side
    * cross join carrying only (ids, label, rounded sim) into the
    * vec_id-partitioned rank window — vectors themselves never cross the
    * shuffle — and the confusion aggregate is k² rows. Ranking keys are
    * rounded to 6 dp before comparison (ties broken by smaller centroid
    * label), so the assignment is identical cross-engine. */
  val qVecNcc = Q(
    "q_vec_ncc",
    s"""WITH emb AS (SELECT * FROM embeddings WHERE $sqlClean),
       |cent AS (
       |  SELECT label, i - 1 AS pos,
       |    SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000000) AS BIGINT))
       |      / 1000000000.0 / COUNT(*) AS c
       |  FROM emb, range(1, 65) t(i)
       |  GROUP BY label, pos),
       |cvec AS (SELECT label AS clabel, list(c ORDER BY pos) AS cv
       |         FROM cent GROUP BY label),
       |asg AS (
       |  SELECT e.vec_id, e.label, cvec.clabel,
       |    round(list_sum(list_transform(list_zip(e.embedding, cvec.cv),
       |      x -> CAST(x[1] AS DOUBLE) * x[2])), 6) AS sim,
       |    CAST(row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(list_sum(list_transform(list_zip(e.embedding, cvec.cv),
       |        x -> CAST(x[1] AS DOUBLE) * x[2])), 6) DESC, cvec.clabel) AS INT) AS rk
       |  FROM emb e, cvec)
       |SELECT label, clabel AS pred, COUNT(*) AS n,
       |  round(SUM(CAST(round(sim * 1000000) AS BIGINT)) / 1000000.0
       |        / COUNT(*), 6) AS avg_sim
       |FROM asg WHERE rk = 1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (spark, dir) =>
    val e = cleanEmbeddings(spark, dir)
    val cvec = cellCentroids(e)
      .select(col("label").as("clabel"), col("cv"))
    val w = Window.partitionBy("vec_id").orderBy(desc("sim"), asc("clabel"))
    e.select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(cvec))
      // float×double dot: the HOF form (graft_dot is float×float only),
      // same ascending left-fold order as the oracle's list_sum
      .select(col("vec_id"), col("label"), col("clabel"),
        round(expr(
          """aggregate(zip_with(embedding, cv, (x, y) -> CAST(x AS DOUBLE) * y),
            |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("label"), col("clabel").as("pred"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("sim") * 1000000).cast("bigint")).cast("double")
          / lit(1000000.0) / count(lit(1)), 6).as("avg_sim"))
      .orderBy("label", "pred")
  }

  /** Margin-based alignment mining (Artetxe & Schwenk 2019, the LASER
    * bitext-mining criterion): between two disjoint corpus slices, keep
    * a's best cross-slice neighbor only when its similarity clearly
    * dominates the alternatives — margin = best / avg(next-4) ≥ 1.2. An
    * absolute cosine threshold can't separate "genuine translation pair"
    * from "hubness vector similar to everything"; the margin ratio is
    * the standard fix. All ranking arithmetic is exact micro-units
    * (round(sim·1e6) BIGINT): the rank, the next-4 sum, and both margin
    * operands are integers, so the only doubles are two final divisions
    * with identical operand order cross-engine. Like q_vec_knn this
    * all-pairs form is the CORRECTNESS baseline; at 100 TB the same
    * scorer runs over the banded LSH candidate lists (q_vec_lsh_multi /
    * the persisted q_vec_index_probe), which is exactly how production
    * LASER mining restricts the margin to ANN candidates. */
  val qBitextMine = Q(
    "q_bitext_mine",
    s"""WITH emb AS (SELECT * FROM embeddings WHERE $sqlClean),
       |qa AS (SELECT vec_id AS a_id, embedding FROM emb WHERE label < 5),
       |qb AS (SELECT vec_id AS b_id, embedding FROM emb WHERE label >= 5),
       |cand AS (
       |  SELECT a_id, b_id,
       |    CAST(round($sqlDot * 1000000) AS BIGINT) AS u
       |  FROM qa a, qb b),
       |ranked AS (SELECT a_id, b_id, u,
       |  CAST(row_number() OVER (PARTITION BY a_id ORDER BY u DESC, b_id) AS INT) AS rn
       |  FROM cand),
       |best AS (SELECT a_id, b_id, u FROM ranked WHERE rn = 1),
       |nxt AS (SELECT a_id, CAST(SUM(u) AS BIGINT) AS den_u FROM ranked
       |        WHERE rn BETWEEN 2 AND 5 GROUP BY a_id HAVING COUNT(*) = 4)
       |SELECT best.a_id, best.b_id, best.u / 1000000.0 AS sim,
       |  round(best.u * 4.0 / den_u, 6) AS margin
       |FROM best JOIN nxt USING (a_id)
       |WHERE best.u > 0 AND den_u > 0
       |  AND round(best.u * 4.0 / den_u, 6) >= 1.2
       |ORDER BY margin DESC, a_id""".stripMargin
  ) { (spark, dir) =>
    val e = cleanEmbeddings(spark, dir)
    val qa = e.filter(col("label") < 5)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val qb = e.filter(col("label") >= 5)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val rnW = Window.partitionBy("a_id").orderBy(desc("u"), asc("b_id"))
    val ranked = qa.crossJoin(qb)
      .select(col("a_id"), col("b_id"),
        round(dot(spark)(col("a_vec"), col("b_vec")) * 1000000).cast("bigint").as("u"))
      .withColumn("rn", row_number().over(rnW))
      .filter(col("rn") <= 5)
      .persistScratch() // feeds both the best-pick and the denominator
    val best = ranked.filter(col("rn") === 1).select("a_id", "b_id", "u")
    val nxt = ranked.filter(col("rn").between(2, 5))
      .groupBy("a_id").agg(sum("u").as("den_u"), count(lit(1)).as("n4"))
      .filter(col("n4") === 4).select("a_id", "den_u")
    best.join(nxt, "a_id")
      .filter(col("u") > 0 && col("den_u") > 0)
      .withColumn("margin", round(col("u") * lit(4.0) / col("den_u"), 6))
      .filter(col("margin") >= 1.2)
      .select(col("a_id"), col("b_id"),
        (col("u") / lit(1000000.0)).as("sim"), col("margin"))
      .orderBy(desc("margin"), asc("a_id"))
  }

  def all: Seq[Q] = Seq(qVecValidate, q33, q34, qVecNearDup, qVecAnnBucketed, qVecLshBucketed,
    qVecLshMulti, qVecIndexProbe, qVecIndexCompact, qVecIngest,
    qVecLshNearDup, qVecQuantize,
    qVecKmeans, qVecKmeansIter, qVecNcc) ++
    sweepQ(sweepMain) ++
    Seq(qVecCellStats, qVecIndexStats) ++
    sweepQ(sweepFlat) ++
    Seq(qVecRecallEval, qVecRecallMulti, qVecRecallIndex) ++
    sweepQ(sweepIvfRecall) ++
    Seq(qVecDrift, qVecCovariance, qVecPcaPower, qDedupSemdedup,
      qDedupSemantic, qHybridSearch, qBitextMine)
}
