package graft

/** Degenerate-corpus robustness: at 100 TB the documents table WILL
  * contain empty texts, one-token rows, all-stopword boilerplate, exact
  * duplicates, unicode, and megabyte outliers. Every documents-only
  * graded query must complete on such a corpus — a divide-by-zero null is
  * acceptable output, an exception is not (one poison row must not kill a
  * 1000-executor job). The oracle can't cover this (the fixtures are
  * well-formed), so it's pinned here.
  */
class RobustnessSpec extends SparkTestBase {

  // Graded queries whose only input is the documents table.
  private val docOnly = Seq(
    "q_text_tokens", "q_text_wordcount", "q_dedup_hash", "q_dedup_near",
    "q_dedup_ngram", "q_dedup_minhash", "q_dedup_minhash_keep",
    "q_dedup_incremental", "q_dedup_index_probe", "q_dedup_ingest",
    "q_dedup_recall", "q_dedup_bucket_skew",
    "q_dedup_cc", "q_doc_mix_temperature",
    "q_text_oov", "q_text_zipf", "q_doc_novelty", "q_doc_median_gate",
    "q_dedup_simhash", "q_dedup_simhash_r1", "q_dedup_simhash_wide",
    "q_dedup_containment", "q_text_quality", "q_lang_id", "q_text_entropy",
    "q_text_ngram_lm", "q_doc_lm_filter", "q_token_fertility",
    "q_text_tfidf", "q_text_cooccur", "q_text_phrase", "q_text_search",
    "q_text_bm25",
    "q_text_fingerprint", "q_text_repetition", "q_token_bpe",
    "q_token_pair_merge",
    "q_doc_chunk", "q_doc_chunk_dedup", "q_doc_topk_quality",
    "q_sample_weighted", "q_multimodal_meta", "q_multimodal_frames",
    "q_multimodal_resize", "q_text_boilerplate", "q_doc_dup_mass",
    "q_dsir", "q_doc_quality_funnel", "q_dedup_keep_best",
    "q_dedup_index_compact", "q_dedup_substring", "q_dedup_substring_mass",
    "q_dedup_substring_inc", "q_token_bpe_apply", "q_token_bpe_train",
    "q_pipeline_e2e")

  test("documents-only queries survive an EMPTY corpus (zero-doc ingest day)") {
    // An incremental pipeline's quiet day: zero input rows. Every doc
    // query must return an empty (or all-zero) result, not throw — the
    // TokenBits empty-set handling and the aggregates' null discipline
    // are what this pins.
    val spk = spark
    import spk.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val queries = SparkEntry.queries
    docOnly.foreach { name =>
      try queries(name)(spk, dir).collect()
      catch {
        case e: Throwable =>
          fail(s"$name threw on an empty corpus: ${e.getMessage}", e)
      } finally graft.sources.Scratch.releaseAll()
    }
  }

  // Graded queries whose only input is the events table.
  private val eventsOnly = Seq(
    "q_json_props", "q_events_funnel", "q_events_retention", "q_events_twap",
    "q_events_sessionize", "q_events_attribution", "q_events_wau",
    "q_events_anomaly", "q_events_markov", "q_events_ab_lift",
    "q_time_resample", "q_stream_tumbling", "q_stream_sliding",
    "q_stream_session", "q_stream_topk", "q_stream_dedup", "q_stream_join",
    "q_stream_join_left", "q_join_interval")

  test("events-only queries survive a degenerate event log") {
    // Zero-length spans (all of one user's events at the same instant),
    // a single-event user (no transitions, zero variance), malformed and
    // empty JSON props, value = 0, negative, 1e18, NaN, and ±Infinity
    // (the non-finite rows pin Det.unitsWide's NULL branch — before it, a
    // single NaN threw ANSI CAST_INVALID_INPUT), duplicate event_ids.
    // ts is written as epoch-NANOS longs, matching the fixture's physical
    // type (Tables.events floor-divides by 1000 before timestamp_micros).
    val spk = spark
    import spk.implicits._
    val base = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z in nanos
    val rows = Seq(
      (1L, base, 0L, "view", 1.0, """{"k": 5}"""),
      (2L, base, 0L, "click", 0.0, """{"k": 5}"""),     // same instant as 1
      (3L, base, 0L, "purchase", -2.5, """not json"""), // malformed props
      (3L, base, 0L, "purchase", -2.5, """not json"""), // duplicate event_id
      (4L, base + 3600L * 1000000000L, 1L, "view", 0.0, "{}"), // single-event user, no k
      (5L, base + 2 * 3600L * 1000000000L, 2L, "error", 1e18, """{"k": 0}"""),
      (6L, base + 3 * 3600L * 1000000000L, 2L, "error", Double.NaN, """{"k": 1}"""),
      (7L, base + 4 * 3600L * 1000000000L, 2L, "view", Double.PositiveInfinity, "{}"),
      (8L, base + 5 * 3600L * 1000000000L, 2L, "click", Double.NegativeInfinity, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_degen_ev").toString
    rows.write.parquet(s"$dir/events.parquet")
    val queries = SparkEntry.queries
    eventsOnly.foreach { name =>
      try {
        queries(name)(spk, dir).collect()
      } catch {
        case e: Throwable =>
          fail(s"$name threw on the degenerate event log: ${e.getMessage}", e)
      } finally graft.sources.Scratch.releaseAll()
    }
  }

  // Graded queries whose only input is the embeddings table.
  private val embeddingsOnly = Seq(
    "q_vec_validate", "q_vec_knn", "q_vec_centroid", "q_vec_kmeans",
    "q_vec_quantize", "q_vec_neardup", "q_vec_ann_bucketed",
    "q_vec_lsh_bucketed", "q_vec_lsh_multi", "q_vec_ivf_probe2",
    "q_vec_lsh_neardup", "q_vec_recall_eval", "q_vec_recall_multi",
    "q_vec_recall_ivf", "q_vec_ivf_probe4", "q_vec_recall_ivf4", "q_vec_drift",
    "q_vec_covariance", "q_vec_pca_power", "q_dedup_semdedup",
    "q_vec_ingest", "q_vec_index_compact", "q_vec_ncc", "q_bitext_mine",
    "q_vec_pq", "q_vec_recall_pq", "q_vec_kmeans_iter", "q_vec_index_pq")

  test("vector queries survive out-of-contract embeddings; the validator counts them") {
    // Zero vector, EMPTY array, ragged dim, Float.MaxValue junk, exact
    // duplicate: the numeric-accumulating operators validate the
    // documented contract (dim = 64, components in [-1,1] — which also
    // rejects NaN/Inf) instead of overflowing DECIMAL(38,0) on one junk
    // row, and q_vec_validate is the graded gate that makes the
    // exclusions observable.
    val spk = spark
    import spk.implicits._
    val dim = 64
    def v(seed: Int): Array[Float] =
      Array.tabulate(dim)(i => ((seed * 31 + i) % 7 - 3).toFloat / 10f)
    val rows = Seq(
      (0L, v(1), 0),
      (1L, v(2), 1),
      (2L, Array.fill(dim)(0f), 2),             // zero vector
      (3L, Array.empty[Float], 3),              // empty array
      (4L, Array.fill(8)(1f), 4),               // ragged: dim 8
      (5L, Array.fill(dim)(Float.MaxValue), 5), // junk magnitude
      (6L, v(2), 6)                             // exact duplicate of 1
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_degen_vec").toString
    rows.write.parquet(s"$dir/embeddings.parquet")
    val queries = SparkEntry.queries
    embeddingsOnly.foreach { name =>
      try queries(name)(spk, dir).collect()
      catch {
        case e: Throwable =>
          fail(s"$name threw on degenerate embeddings: ${e.getMessage}", e)
      } finally graft.sources.Scratch.releaseAll()
    }
    // the validator reports exactly the planted violations
    val bad = queries("q_vec_validate")(spk, dir)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(bad(3) === ((1L, 0L, 0L)), "empty array = bad dim")
    assert(bad(4) === ((1L, 0L, 0L)), "ragged array = bad dim")
    assert(bad(5) === ((0L, 1L, 0L)), "junk magnitude = bad component")
    assert(bad(2) === ((0L, 0L, 1L)), "zero vector flagged")
    assert(bad(0) === ((0L, 0L, 0L)) && bad(1) === ((0L, 0L, 0L)))
  }

  test("seed-dependent vector pipelines survive a corpus whose clean ids miss the seed range") {
    // PQ's codebook seeds on vec_id < 32 and kmeans on vec_id < 4: a
    // clean corpus whose ids all land ABOVE the seed cut leaves the
    // codebook EMPTY — the encode must degrade to an empty/trivial
    // result like its oracle's empty CTEs, never throw (under ANSI,
    // element_at on the empty book was an INVALID_ARRAY_INDEX job-killer
    // before try_element_at).
    val spk = spark
    import spk.implicits._
    val dim = 64
    def v(seed: Int): Array[Float] =
      Array.tabulate(dim)(i => ((seed * 31 + i) % 7 - 3).toFloat / 10f)
    val rows = (100L to 110L).map(id => (id, v(id.toInt), (id % 8).toInt))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_no_seed_vec").toString
    rows.write.parquet(s"$dir/embeddings.parquet")
    val queries = SparkEntry.queries
    Seq("q_vec_pq", "q_vec_recall_pq", "q_vec_index_pq", "q_vec_kmeans",
        "q_vec_kmeans_iter",
        // the trained-quantizer family seeds its coarse cells on
        // vec_id < 8 — same empty-book degradation contract
        "q_vec_ivfpq_trained", "q_vec_index_ivfpq_trained",
        "q_vec_recall_ivfpq_trained")
      .foreach { name =>
        try {
          val n = queries(name)(spk, dir).collect().length
          assert(n >= 0) // completion (empty is legal) is the assertion
        } catch {
          case e: Throwable =>
            fail(s"$name threw on a seedless-clean corpus: ${e.getMessage}", e)
        } finally graft.sources.Scratch.releaseAll()
      }
  }

  test("the FULL inventory survives a degenerate mini-warehouse") {
    // Every graded query against a hostile but well-typed warehouse:
    // zero/negative/huge balances and prices, 100% discounts, zero
    // quantities, duplicate part names, same-date orders, customers
    // without orders, orders without line items, orphan lineitem keys.
    // Undefined-ratio groups (zero variance, zero revenue years) are
    // EXCLUDED by the queries on both engines, never a divide-by-zero.

    val spk = spark
    import spk.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    def w(name: String, df: org.apache.spark.sql.DataFrame) =
      df.write.parquet(s"$dir/$name.parquet")
    w("region", Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"))
    w("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey"))
    w("customer", Seq(
      (0L, "Customer#000000000", 0, 0.0, "BUILDING"),       // zero balance
      (1L, "Customer#000000001", 2, -999.99, "MACHINERY"),  // negative balance
      (2L, "Customer#000000002", 7, 1.0e15, "AUTOMOBILE")   // huge balance
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    w("supplier", Seq((0L, "Supplier#000000000", 7, 0.0)).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    w("part", Seq(
      (0L, "cold widget", "Brand#12", "PROMO thing", 1, 0.0),
      (1L, "cold widget", "Brand#12", "ECONOMY thing", 50, -5.0) // dup name, negative price
    ).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    w("orders", Seq(
      // customer 1 has TWO orders same date; customer 2 has none; order 99 has no lineitems
      (10L, 0L, "F", 0.0, java.sql.Timestamp.valueOf("1995-01-01 00:00:00"), "1-URGENT"),
      (11L, 1L, "O", -1.0, java.sql.Timestamp.valueOf("2001-08-01 00:00:00"), "5-LOW"),
      (12L, 1L, "P", 1e9, java.sql.Timestamp.valueOf("2001-08-01 00:00:00"), "3-MEDIUM"),
      (99L, 0L, "F", 5.0, java.sql.Timestamp.valueOf("1999-06-15 00:00:00"), "2-HIGH")
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    w("lineitem", Seq(
      // order 10: zero qty, zero price; orphan order 77 (not in orders)
      (10L, 0L, 0L, 1, 0.0, 0.0, 0.0, 0.0, "A", "F", java.sql.Timestamp.valueOf("1995-01-02 00:00:00")),
      (10L, 1L, 0L, 2, 50.0, 1e7, 1.0, 0.08, "R", "O", java.sql.Timestamp.valueOf("1995-01-02 00:00:00")), // 100% discount
      (77L, 0L, 0L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", java.sql.Timestamp.valueOf("2001-11-04 00:00:00"))
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
    val base = 1704067200L * 1000000000L
    w("events", Seq(
      (1L, base, 0L, "view", 1.0, """{"k": 5}"""),
      (2L, base, 0L, "click", 0.0, """{"k": 5}""")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    w("documents", Seq(
      (0L, "the fast key order sort", "en", "src0", 23L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val dim = 64
    w("embeddings", Seq(
      (0L, Array.tabulate(dim)(i => (i % 7 - 3).toFloat / 10f), 0),
      (1L, Array.tabulate(dim)(i => (i % 5 - 2).toFloat / 10f), 1)
    ).toDF("vec_id", "embedding", "label"))
    val queries = SparkEntry.queries
    SparkEntry.allQ.map(_.name).foreach { name =>
      try queries(name)(spk, dir).collect()
      catch {
        case e: Throwable =>
          fail(s"$name threw on the degenerate warehouse: ${e.getMessage}", e)
      } finally graft.sources.Scratch.releaseAll()
    }
    }

  test("documents-only queries survive a degenerate corpus") {
    val spk = spark
    import spk.implicits._
    val long = (1 to 5000).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      // (doc_id, text, lang, source)
      (0L, "", "en", "src0"),                       // empty text
      (1L, "solo", "en", "src0"),                   // one token
      (2L, "the the the the the", "en", "src1"),    // all stopwords, repeated
      (3L, "the fast key order sort", "en", "src1"),
      (4L, "the fast key order sort", "en", "src2"), // exact dup of 3
      (5L, "schlüssel übung müller straße", "de", "src0"), // unicode
      (6L, long, "de", "src1"),                     // 5000-token outlier
      (7L, "唯一 的 中文 行", "zh", "src2"),          // CJK tokens
      (8L, " ", "fr", "src0"),                      // whitespace only
      (9L, "a b a b a b a b", "fr", "src1")         // tiny vocab repetition
    ).map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_degenerate").toString
    rows.write.parquet(s"$dir/documents.parquet")
    val queries = SparkEntry.queries
    docOnly.foreach { name =>
      try {
        queries(name)(spk, dir).collect() // completion is the assertion
      } catch {
        case e: Throwable =>
          fail(s"$name threw on the degenerate corpus: ${e.getMessage}", e)
      } finally graft.sources.Scratch.releaseAll()
    }
  }

  test("ExactSubstr survives a near-total-overlap corpus (dup mass ~ 1)") {
    // The hostile operating point for the gram-hash window path: a
    // corpus where MOST positions are duplicated. Real fixtures sit at
    // low dup mass, so island-merge and span arithmetic are only ever
    // exercised on short runs there; here whole documents are one giant
    // island, two islands sit a sub-L unique gap apart (they must NOT
    // merge), a doc pair is verbatim-identical (mass exactly 1), and a
    // sub-L doc is excluded by contract. Both the span row and the mass
    // monitor are checked against a driver-side recompute from RAW gram
    // strings — the collision-visible ground truth.
    val spk = spark
    import spk.implicits._
    val L = 40
    val template =
      ("the quick brown fox jumps over the lazy dog " * 10).take(400)
    def doc(id: Long, text: String, source: String) =
      (id, text, "en", source, text.length.toLong)
    val texts: Seq[(Long, String, String, String, Long)] =
      // 6 near-identical docs: unique 12-char head + shared 400-char body
      // + unique 12-char tail -> interior positions duplicated in all 6
      (0L until 6L).map(i =>
        doc(i, f"head$i%07d. " + template + f" tail$i%05d", "tpl")) ++ Seq(
        // verbatim-identical pair: EVERY position duplicated, mass = 1
        doc(6L, "x " + template.take(100) + " yyy", "dup"),
        doc(7L, "x " + template.take(100) + " yyy", "dup"),
        // two duplicated islands split by a 17-char unique gap (< L):
        // the gap kills every gram crossing it, so two spans, not one
        doc(8L, template.take(120) + " zq zq unique gap " +
          template.takeRight(120), "gap"),
        // shorter than L: contributes nothing, excluded by contract
        doc(9L, "tiny doc below the gram width", "short"))
    val dir =
      java.nio.file.Files.createTempDirectory("graft_substr_adv").toString
    texts.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // ground truth from RAW gram strings (no hashing): positions whose
    // width-L gram occurs in >= 2 distinct docs, merged into maximal runs
    val byGram = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Set[Long]]
    texts.foreach { case (id, t, _, _, _) =>
      if (t.length >= L) (0 to t.length - L).foreach { i0 =>
        byGram.getOrElseUpdate(t.substring(i0, i0 + L),
          scala.collection.mutable.Set.empty) += id
      }
    }
    val truth: Map[Long, Seq[(Long, Long)]] = texts.flatMap {
      case (id, t, _, _, _) if t.length >= L =>
        val dup = (0 to t.length - L)
          .filter(i0 => byGram(t.substring(i0, i0 + L)).size >= 2)
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        dup.foreach { i0 =>
          spans.lastOption match {
            case Some((s, len)) if s + len - L == i0 => // extends the run
              spans(spans.length - 1) = (s, len + 1)
            case _ => spans += ((i0 + 1L, L.toLong)) // 1-based start
          }
        }
        if (spans.isEmpty) None else Some(id -> spans.toSeq)
      case _ => None
    }.toMap
    assert(truth.get(6L) ===
      Some(Seq((1L, texts.find(_._1 == 6L).get._2.length.toLong))),
      "identical pair must report one whole-doc span")
    assert(truth(8L).size === 2,
      s"sub-L gap must split the islands, truth has ${truth(8L)}")
    assert(!truth.contains(9L), "sub-L doc must be excluded")
    val got = SparkEntry.queries("q_dedup_substring")(spk, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(got === truth.view.mapValues(_.sorted).toMap,
      "span row diverged from the raw-gram recompute at mass ~ 1")
    // mass monitor: interval-union chars per source vs the same truth
    val unionChars: Map[Long, Long] = truth.view.mapValues { spans =>
      var end = 0L; var tot = 0L
      spans.sortBy(_._1).foreach { case (s, len) =>
        val e = s + len - 1
        if (e > end) { tot += e - math.max(end, s - 1); end = e }
      }
      tot
    }.toMap
    val gotMass = SparkEntry.queries("q_dedup_substring_mass")(spk, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    texts.groupBy(_._4).foreach { case (src, ds) =>
      val nDocs = ds.size.toLong
      val hit = ds.count(d => unionChars.contains(d._1)).toLong
      val dupC = ds.map(d => unionChars.getOrElse(d._1, 0L)).sum
      val totC = ds.map(_._5).sum
      val frac = java.math.BigDecimal.valueOf(dupC.toDouble / totC.toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(gotMass(src) === ((nDocs, hit, dupC, totC, frac)),
        s"mass row for $src diverged: got ${gotMass(src)}, " +
          s"expected ($nDocs, $hit, $dupC, $totC, $frac)")
    }
    assert(gotMass("dup")._5 === 1.0, "identical pair must have dup_frac 1")
    val allDup = unionChars.values.sum.toDouble
    val allChars = texts.map(_._5).sum.toDouble
    assert(allDup / allChars > 0.5,
      s"fixture is not hostile enough: corpus dup mass ${allDup / allChars}")
  }

  test("graft_lsh_sigs gives a NULL embedding the all-zero signature (the oracle's bucket 0)") {
    // DuckDB's bucket CASE sends a NULL vector to ELSE 0 in every table;
    // a NULL signature would silently drop the row from every candidate
    // join instead. Checked on both paths: a scanned column (codegen) and
    // a NULL literal (constant-folded through the interpreted eval).
    val spk = spark
    import spk.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_null_emb").toString
    Seq((0L, null: Array[Float]), (1L, Array.fill(64)(0.5f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/e.parquet")
    Seq(1, 16).foreach { tables =>
      val sig = spk.read.parquet(s"$dir/e.parquet")
        .filter(col("vec_id") === 0)
        .select(graft.functions.VecExprs.lshSigs(spk, col("embedding"), tables))
        .as[Seq[Int]].collect().toSeq
      assert(sig === Seq(Seq.fill(tables)(0)), s"tables=$tables")
      val folded = spk.sql(
        s"SELECT graft_lsh_sigs(CAST(NULL AS ARRAY<FLOAT>), $tables)")
        .as[Seq[Int]].collect().toSeq
      assert(folded === Seq(Seq.fill(tables)(0)), s"folded, tables=$tables")
    }
  }

  /** Runs `sql` and asserts it fails with an IllegalArgumentException
    * whose message names `expected` (anywhere in the cause chain). */
  private def assertLshSigsRejects(sql: String, expected: String): Unit = {
    graft.functions.VecExprs.registerLshSigs(spark)
    val ex = intercept[Throwable](spark.sql(sql).collect())
    val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      String.valueOf(c.getMessage).contains(expected)),
      s"$sql: expected IllegalArgumentException naming '$expected', got " +
        chain.mkString(" <- "))
  }

  test("graft_lsh_sigs rejects a call without exactly 2 arguments") {
    assertLshSigsRejects("SELECT graft_lsh_sigs(array(0.5f))",
      "expects 2 arguments, got 1")
    assertLshSigsRejects("SELECT graft_lsh_sigs(array(0.5f), 1, 2)",
      "expects 2 arguments, got 3")
  }

  test("graft_lsh_sigs rejects tables < 1") {
    Seq(0, -1).foreach(t => assertLshSigsRejects(
      s"SELECT graft_lsh_sigs(array(0.5f), $t)", s"tables must be >= 1, got $t"))
  }
}
