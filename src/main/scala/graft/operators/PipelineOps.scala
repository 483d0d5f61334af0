package graft.operators

import graft.sources.Scratch.PersistSyntax
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.functions.{BloomExprs, Det}
import graft.sources.{Sinks, Tables}

/** Second wave of large-pipeline operators: an explicit Bloom-filter
  * semi-join prefilter, stratified hash sampling, per-document token
  * entropy, time-series resample with forward fill, gaps-and-islands
  * streak detection, and greedy sequence packing for training contexts.
  *
  * Scale shapes: the Bloom probe is a per-row bit test at the scan (the
  * shuffle never sees non-candidates); sampling and entropy are pure
  * map-side expressions plus partial→final aggregates; the resample grid
  * is generated per-key from that key's own bounds (no global calendar
  * table); streaks and packing are single-shuffle window plans keyed on
  * high-cardinality ids.
  */
object PipelineOps {

  /** Bloom-filter prefiltered semi-join: revenue of line items whose order
    * is 1-URGENT. The build side aggregates urgent orderkeys into a Bloom
    * sketch (one pass, associative merge); the probe side tests each
    * lineitem row against the sketch AT THE SCAN, then an exact IN
    * semi-join removes the false positives — so the result is exactly the
    * plain semi-join's, which is what the oracle runs. At 100 TB this is
    * the difference between shuffling the whole fact table and shuffling
    * only plausible matches (Spark's own runtime row-level filtering
    * applies the identical plan; here it is explicit and always on). */
  val qJoinBloom = Q(
    "q_join_bloom",
    s"""SELECT l_returnflag, COUNT(*) AS n_items,
       |  ${Det.sqlExactSum("l_extendedprice", 100)} AS revenue
       |FROM lineitem
       |WHERE l_orderkey IN
       |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  ) { (spark, dir) =>
    BloomExprs.register(spark)
    Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
      .createOrReplaceTempView("qjb_keys")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_returnflag", "l_extendedprice")
      .createOrReplaceTempView("qjb_probe")
    // ~30k urgent keys at sf0.1; sized for ~1% FPP with headroom. The
    // exact IN semi-join after the probe keeps correctness independent of
    // the sketch parameters.
    spark.sql(
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         |  CAST(SUM(CAST(${Det.sqlUnits("l_extendedprice", 100)} AS DECIMAL(38,0))) / 100.0
         |       AS DOUBLE) AS revenue
         |FROM (
         |  SELECT l_orderkey, l_returnflag, l_extendedprice FROM qjb_probe
         |  WHERE graft_might_contain(
         |    (SELECT graft_bloom_agg(xxhash64(o_orderkey), 300000L, 2400000L)
         |     FROM qjb_keys),
         |    xxhash64(l_orderkey)))
         |WHERE l_orderkey IN (SELECT o_orderkey FROM qjb_keys)
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin)
  }

  /** Stratified deterministic sampling: per-language rates (en 50%, zh 30%,
    * others 20%) — the training-mix rebalancing step. The keep decision is
    * a pure per-row hash expression evaluated at the scan: no shuffle, no
    * engine-private RNG, reproducible on any cluster layout. */
  val qSampleStratified = Q(
    "q_sample_stratified",
    s"""SELECT lang, COUNT(*) AS n_sampled,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |FROM documents
       |WHERE ${graft.functions.PortableHash.duck("concat('doc-', doc_id)")} % 100 <
       |  CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 30 ELSE 20 END
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .filter(expr(
        s"${graft.functions.PortableHash.spark("concat('doc-', cast(doc_id as string))")} % 100 < " +
          "CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 30 ELSE 20 END"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(size(split(col("text"), " ")).cast("bigint")).as("n_tokens"))
      .orderBy("lang")
  }

  /** Per-document token Shannon entropy — the repetition/diversity quality
    * signal (boilerplate and keyword-stuffed documents score low). Exact
    * integer term counts feed H = ln(n) − Σ c·ln(c) / n; one explode and
    * two partial→final aggregates, linear in corpus token count. */
  val qTextEntropy = Q(
    "q_text_entropy",
    """WITH c AS (
      |  SELECT doc_id, t, COUNT(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY doc_id, t),
      |d AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
      |    SUM(c * ln(c)) AS s
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, n AS n_tokens, round(ln(n) - s / n, 6) AS entropy
      |FROM d ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"), sum(col("c") * log(col("c"))).as("s"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        round(log(col("n")) - col("s") / col("n"), 6).as("entropy"))
      .orderBy("doc_id")
  }

  /** Time-series resample: per-user hourly grid over that user's own event
    * span, gap-filled with 0 counts and a forward-filled running value
    * (cents — exact integers end-to-end). The grid comes from sequence()
    * over per-key bounds, so grid size is Σ per-key spans, not
    * |keys| × |global calendar|; the forward fill is one window over the
    * same user_id partitioning the grid join already established. */
  val qTimeResample = Q(
    "q_time_resample",
    s"""WITH h AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hr, COUNT(*) AS n,
      |    SUM(${Det.sqlUnitsWide("value", 100)}) AS sv
      |  FROM events WHERE user_id % 50 = 0 GROUP BY user_id, date_trunc('hour', ts)),
      |b AS (SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM h GROUP BY user_id),
      |g AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM b),
      |j AS (SELECT g.user_id, g.hr, h.n, h.sv
      |      FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.hr = h.hr)
      |SELECT user_id, hr, CAST(coalesce(n, 0) AS BIGINT) AS n_events,
      |  CAST(last_value(sv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS filled_cents
      |FROM j ORDER BY user_id, hr""".stripMargin
  ) { (spark, dir) =>
    val hourly = Tables.events(spark, dir)
      .filter(col("user_id") % 50 === 0)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"),
        sum(Det.unitsWide(col("value"), 100)).as("sv"))
      // feeds the bounds aggregate AND the grid join — one row per
      // (user, active hour), far smaller than the event table
      .persistScratch()
    val grid = hourly.groupBy("user_id")
      .agg(min("hr").as("mn"), max("hr").as("mx"))
      .select(col("user_id"),
        explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 HOUR"))).as("hr"))
    val w = Window.partitionBy("user_id").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last("sv", ignoreNulls = true).over(w).cast("long").as("filled_cents"))
      .orderBy("user_id", "hr")
  }

  /** Gaps-and-islands: per-user runs of consecutive same-type events (the
    * classic row_number-difference trick), rolled up to per-type streak
    * stats. One shuffle on user_id serves both window functions; the
    * group key (user, type, rn − rnt) never materializes per-run lists. */
  val qWinStreaks = Q(
    "q_win_streaks",
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rnt
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_type, COUNT(*) AS len
      |  FROM o GROUP BY user_id, event_type, rn - rnt)
      |SELECT event_type, CAST(max(len) AS INT) AS max_streak,
      |  COUNT(*) AS n_streaks,
      |  CAST(COUNT(*) FILTER (WHERE len >= 3) AS BIGINT) AS n_streaks_ge3
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (spark, dir) =>
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val byUserType = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        row_number().over(byUser).as("rn"),
        row_number().over(byUserType).as("rnt"))
      .groupBy(col("user_id"), col("event_type"), (col("rn") - col("rnt")).as("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy("event_type")
      .agg(max("len").cast("int").as("max_streak"),
        count(lit(1)).as("n_streaks"),
        count(when(col("len") >= 3, 1)).as("n_streaks_ge3"))
      .orderBy("event_type")
  }

  /** Greedy sequence packing: concatenate each language's documents (in
    * doc_id order) into fixed 2048-token training contexts; report per-bin
    * document count and token fill. The bin index is an exclusive running
    * sum div the context length — exact integers, one window + one
    * aggregate, both on the lang partitioning. */
  val qDocPack = Q(
    "q_doc_pack",
    """WITH t AS (
      |  SELECT lang, doc_id,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT lang, doc_id, n_tok,
      |    CAST(coalesce(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
      |  FROM t)
      |SELECT lang, CAST(cum // 2048 AS INT) AS bin,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |FROM c GROUP BY lang, cum // 2048
      |ORDER BY lang, bin""".stripMargin
  ) { (spark, dir) =>
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).as("n_tok"))
      .withColumn("cum", coalesce(sum("n_tok").over(w), lit(0L)))
      .groupBy(col("lang"), expr("cum div 2048").cast("int").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok").cast("bigint")).as("n_tokens"))
      .orderBy("lang", "bin")
  }

  /** Overlapping-window document chunking — the pre-embedding step of a
    * RAG / retrieval pipeline: 64-token windows at stride 48 (16-token
    * overlap so no phrase is ever split across a boundary without also
    * appearing whole in a neighbor). Output is one row per chunk with its
    * content digest — what downstream embedding jobs consume and dedup on.
    *
    * Per-row generator (sequence → transform → posexplode), zero shuffles
    * until the final presentation sort: chunking 100 TB is embarrassingly
    * parallel and this plan keeps it that way. Trailing chunks shorter
    * than the overlap are retained (start grid = sequence(0, n-1, 48)) —
    * a deterministic rule both engines express identically, rather than a
    * "skip if fully covered" heuristic that differs per implementation. */
  // Shared CTE: the chunk table (doc_id, chunk_id, n_tok, chunk_md5),
  // used by q_doc_chunk and q_doc_chunk_dedup.
  private val chunkDuck =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |chunks AS (
      |  SELECT doc_id, CAST(s AS INT) AS chunk_id,
      |    CAST(len(list_slice(tk, s * 48 + 1, s * 48 + 64)) AS INT) AS n_tok,
      |    md5(array_to_string(list_slice(tk, s * 48 + 1, s * 48 + 64), ' '))
      |      AS chunk_md5
      |  FROM t, UNNEST(range(0, (n - 1) // 48 + 1)) AS u(s))""".stripMargin

  /** Spark side of the shared chunk pipeline (doc_id, chunk_id, n_tok,
    * chunk_md5), unordered. */
  private def chunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n", size(col("tk")))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, greatest(n - 1, 0), 48), s -> slice(tk, s + 1, 64))"))
          .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("int"),
        size(col("chunk")).as("n_tok"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_md5"))

  val qDocChunk = Q(
    "q_doc_chunk",
    s"""$chunkDuck
       |SELECT doc_id, chunk_id, n_tok, chunk_md5 FROM chunks
       |ORDER BY doc_id, chunk_id""".stripMargin
  ) { (spark, dir) =>
    chunks(spark, dir).orderBy("doc_id", "chunk_id")
  }

  /** Chunk-level dedup profile — the measurement a pipeline takes before
    * embedding: how many chunk digests repeat, and how many chunk rows
    * (and tokens) a digest-level dedup would drop. Boilerplate
    * (headers/footers shared across documents) shows up here even when
    * whole-document dedup finds nothing. One groupBy on the digest — the
    * same shuffle shape as exact doc dedup, corpus-linear at any scale. */
  val qDocChunkDedup = Q(
    "q_doc_chunk_dedup",
    s"""$chunkDuck,
       |g AS (
       |  SELECT chunk_md5, COUNT(*) AS n_copies,
       |    CAST(SUM(n_tok) AS BIGINT) AS tok_total,
       |    CAST(MAX(n_tok) AS BIGINT) AS tok_keep
       |  FROM chunks GROUP BY chunk_md5)
       |SELECT CAST(n_copies AS INT) AS n_copies,
       |  COUNT(*) AS n_digests,
       |  CAST(SUM(tok_total - tok_keep) AS BIGINT) AS tokens_dropped
       |FROM g GROUP BY n_copies
       |ORDER BY n_copies""".stripMargin
  ) { (spark, dir) =>
    chunks(spark, dir)
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_copies"),
        sum(col("n_tok").cast("bigint")).as("tok_total"),
        max(col("n_tok")).cast("bigint").as("tok_keep"))
      .groupBy(col("n_copies").cast("int").as("n_copies"))
      .agg(count(lit(1)).as("n_digests"),
        sum(col("tok_total") - col("tok_keep")).cast("bigint").as("tokens_dropped"))
      .orderBy("n_copies")
  }

  /** Bigram language-model scoring: per-document average negative
    * log-likelihood under corpus MLE bigram statistics −
    * the perplexity-style fluency filter a pre-training pipeline runs
    * (high NLL = improbable word sequences = likely junk). Every bigram's
    * −ln P(w2|w1) = ln(c(w1)/c(w1,w2)) is computed from exact corpus
    * counts, scaled to 1e-6 integer units and summed as integers — the
    * per-doc mean is partition-order independent. Two count aggregates
    * plus two equi-joins on the bigram/prefix (high-cardinality keys);
    * cost is linear in corpus token count. */
  val qTextNgramLm = Q(
    "q_text_ngram_lm",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |      FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM t)),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY w1, w2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY w1),
      |u AS (
      |  SELECT doc_id,
      |    CAST(round(ln(CAST(c1 AS DOUBLE) / c12) * 1000000) AS BIGINT) AS units
      |  FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1))
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  round(SUM(units) / 1000000.0 / COUNT(*), 6) AS nll
      |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    bigramNll(spark, dir)
      .select("doc_id", "n_bigrams", "nll")
      .orderBy("doc_id")
  }

  /** Per-document bigram NLL under the corpus MLE LM — the scored frame
    * (doc_id, lang, n_bigrams, nll) shared by [[qTextNgramLm]] (the raw
    * scores) and [[qDocLmFilter]] (the banding decision). */
  private def bigramNll(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("p", "w1")))
    val w = Window.partitionBy("doc_id").orderBy("p")
    val bigrams = toks
      .withColumn("w2", lead("w1", 1).over(w))
      .filter(col("w2").isNotNull)
      .select("doc_id", "lang", "w1", "w2")
      // feeds both count aggregates AND the scoring join
      .persistScratch()
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    bigrams.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"), col("lang"),
        round(log(col("c1").cast("double") / col("c12")) * 1000000)
          .cast("bigint").as("units"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("units").cast("decimal(38,0)")).cast("double")
          / lit(1000000.0) / count(lit(1)), 6).as("nll"))
  }

  /** CCNet-style perplexity FILTER banding (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * 2020): split each language's documents into head/middle/tail
    * TERTILES by LM score — CCNet keeps head+middle and drops the tail as
    * likely junk. This is the decision operator on top of
    * [[qTextNgramLm]]'s raw scores: ntile(3) per language over (rounded
    * nll, doc_id) — both keys exact cross-engine, so the band boundary
    * is deterministic — reported as per-(lang, band) doc counts, bigram
    * mass, and the nll range, i.e. exactly the cut table a curation run
    * records before materializing the keep set. Documents under 2 tokens
    * have no bigrams and are out of scope on both engines (they fall to
    * the length gate, not the fluency gate). Scale: the scored frame is
    * corpus-linear and the banding is one window over (lang) — no new
    * shuffle beyond the LM scoring itself. */
  val qDocLmFilter = Q(
    "q_doc_lm_filter",
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT doc_id, lang, ws[i] AS w1, ws[i + 1] AS w2
      |      FROM (SELECT doc_id, lang, ws, unnest(range(1, len(ws))) AS i FROM t)),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY w1, w2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY w1),
      |u AS (
      |  SELECT doc_id, lang,
      |    CAST(round(ln(CAST(c1 AS DOUBLE) / c12) * 1000000) AS BIGINT) AS units
      |  FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
      |nll AS (SELECT doc_id, lang, COUNT(*) AS nb,
      |    round(SUM(units) / 1000000.0 / COUNT(*), 6) AS nll
      |  FROM u GROUP BY doc_id, lang),
      |bd AS (SELECT lang, nb, nll,
      |    CAST(ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id) AS INT)
      |      AS band
      |  FROM nll)
      |SELECT lang, band, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(nb) AS BIGINT) AS n_bigrams,
      |  round(MIN(nll), 6) AS min_nll, round(MAX(nll), 6) AS max_nll
      |FROM bd GROUP BY lang, band
      |ORDER BY lang, band""".stripMargin
  ) { (spark, dir) =>
    val wb = Window.partitionBy("lang").orderBy("nll", "doc_id")
    bigramNll(spark, dir)
      .withColumn("band", ntile(3).over(wb))
      .groupBy("lang", "band")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).cast("bigint").as("n_bigrams"),
        round(min("nll"), 6).as("min_nll"),
        round(max("nll"), 6).as("max_nll"))
      .orderBy("lang", "band")
  }


  /** Packed-context CONTENT check: the md5 of each 2048-token bin's
    * concatenated text (newline-joined, doc_id order) — q_doc_pack proves
    * the bin arithmetic; this proves the bytes that would ship to
    * training are identical cross-engine. The ordered concatenation uses
    * array_sort(collect_list(struct)) — sorted by the leading doc_id
    * field, so the aggregate is order-insensitive to partitioning. */
  val qDocPackContent = Q(
    "q_doc_pack_content",
    """WITH c AS (
      |  SELECT lang, doc_id, text,
      |    CAST(coalesce(SUM(len(string_split(text, ' '))) OVER (PARTITION BY lang
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) // 2048 AS bin
      |  FROM documents)
      |SELECT lang, CAST(bin AS INT) AS bin,
      |  md5(string_agg(text, chr(10) ORDER BY doc_id)) AS content_md5,
      |  COUNT(*) AS n_docs
      |FROM c GROUP BY lang, bin
      |ORDER BY lang, bin""".stripMargin
  ) { (spark, dir) =>
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("text"),
        size(split(col("text"), " ")).as("n_tok"))
      .withColumn("bin",
        expr("coalesce(sum(n_tok) over (partition by lang order by doc_id " +
          "rows between unbounded preceding and 1 preceding), 0) div 2048"))
      .groupBy(col("lang"), col("bin").cast("int").as("bin"))
      .agg(
        md5(concat_ws("\n",
          expr("transform(array_sort(collect_list(struct(doc_id, text))), s -> s.text)"))
        ).as("content_md5"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang", "bin")
  }

  /** Numeric column profiler — the first query any pipeline runs against
    * a new table: per column, non-null count, exact distinct count, min,
    * max (plus the table's row count). ONE scan: all stats compute in a
    * single wide aggregate (the multi-distinct plans one Expand, same as
    * q_agg_multi_distinct), and the per-column rows come from stack() over
    * the one aggregate row — never four scans. Exact distincts here
    * because the oracle demands determinism; the sketch variant is
    * q_agg_approx. */
  val qProfileNumeric = Q(
    "q_profile_numeric",
    """WITH s AS (SELECT
      |    COUNT(*) AS n,
      |    COUNT(l_quantity) AS nn1, COUNT(DISTINCT l_quantity) AS nd1,
      |      MIN(l_quantity) AS mn1, MAX(l_quantity) AS mx1,
      |    COUNT(l_extendedprice) AS nn2, COUNT(DISTINCT l_extendedprice) AS nd2,
      |      MIN(l_extendedprice) AS mn2, MAX(l_extendedprice) AS mx2,
      |    COUNT(l_discount) AS nn3, COUNT(DISTINCT l_discount) AS nd3,
      |      MIN(l_discount) AS mn3, MAX(l_discount) AS mx3,
      |    COUNT(l_tax) AS nn4, COUNT(DISTINCT l_tax) AS nd4,
      |      MIN(l_tax) AS mn4, MAX(l_tax) AS mx4
      |  FROM lineitem)
      |SELECT col, n AS n_rows, n_nonnull, n_distinct, min_val, max_val FROM (
      |  SELECT 'l_quantity' AS col, n, nn1 AS n_nonnull, nd1 AS n_distinct,
      |    mn1 AS min_val, mx1 AS max_val FROM s
      |  UNION ALL SELECT 'l_extendedprice', n, nn2, nd2, mn2, mx2 FROM s
      |  UNION ALL SELECT 'l_discount', n, nn3, nd3, mn3, mx3 FROM s
      |  UNION ALL SELECT 'l_tax', n, nn4, nd4, mn4, mx4 FROM s)
      |ORDER BY col""".stripMargin
  ) { (spark, dir) =>
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) => Seq(
      count(col(c)).as(s"nn$i"), countDistinct(col(c)).as(s"nd$i"),
      min(col(c)).as(s"mn$i"), max(col(c)).as(s"mx$i"))
    }
    val stackArgs = cols.zipWithIndex.map { case (c, i) =>
      s"'$c', nn$i, nd$i, mn$i, mx$i"
    }.mkString(", ")
    Tables.lineitem(spark, dir)
      .agg(count(lit(1)).as("n"), aggs: _*)
      .select(col("n"),
        expr(s"stack(${cols.size}, $stackArgs) AS (col, n_nonnull, n_distinct, min_val, max_val)"))
      .select(col("col"), col("n").as("n_rows"), col("n_nonnull"),
        col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy("col")
  }

  /** 16-bit Morton interleave of two 8-bit dimensions — pure unrolled
    * shift-mask-or arithmetic (exact integers, codegen-friendly,
    * identical on both engines), shared by the key-profile row
    * ([[qLayoutZorder]]) and the write→skip round-trip
    * ([[qLayoutZorderSkip]]). */
  private[graft] def morton(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)

  /** The one wide-box lookup oracle the zorder-skip / append / optimize
    * rows share (identical predicate and aggregate on purpose: the rows
    * differ in HOW the engine reads, never in what the answer is — a
    * box/scale tweak edits exactly one definition). */
  private val boxLookupDuck =
    s"""WITH k AS (
       |  SELECT o_custkey % 256 AS x,
       |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS y,
       |    o_totalprice
       |  FROM orders)
       |SELECT CAST(x AS INT) AS x, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${Det.sqlExactSum("o_totalprice", 100)} AS sum_price
       |FROM k
       |WHERE x BETWEEN 32 AND 95 AND y BETWEEN 64 AND 127
       |GROUP BY 1 ORDER BY x""".stripMargin

  /** The matching Spark-side aggregate over a skip-scanned frame. */
  private def boxLookupAgg(df: DataFrame): DataFrame =
    df.groupBy(col("x").cast("int").as("x"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        Det.exactSum(col("o_totalprice"), 100).as("sum_price"))
      .orderBy("x")

  /** The z-order fixture frame: orders keyed to two 0..255 dims (customer
    * slot, day-of-epoch slot) plus the measure the skip-scan aggregates
    * and the order key (the merge key of the append rows). */
  private[graft] def ordersXY(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select((col("o_custkey") % 256).as("x"),
        (datediff(to_date(col("o_orderdate")), lit("1992-01-01")) % 256).as("y"),
        col("o_totalprice"), col("o_orderkey").as("key"))

  /** Z-order (Morton) clustering-key profile — the data-LAYOUT half of a
    * 100 TB lake: a writer that sorts by the interleaved key
    * (`repartitionByRange(zkey)` then write) gets parquet files whose
    * min/max stats are tight on BOTH dimensions at once, so later scans
    * skip files on either predicate. The interleave is pure unrolled bit
    * arithmetic (8 bits per dimension, 16 shift-mask-or terms) — exact
    * integers, codegen-friendly, identical on both engines. The graded
    * query profiles the layout it would produce: each z-bucket (top 8 of
    * the 16 z-bits) is a 16×16 tile, so per-bucket x/y spans stay ≤ 15 —
    * the narrow-span property IS what makes data skipping work. */
  val qLayoutZorder = Q(
    "q_layout_zorder", {
      val terms = (0 until 8).flatMap { i =>
        Seq(s"(((x >> $i) & 1) << ${2 * i})", s"(((y >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      s"""WITH k AS (
         |  SELECT o_custkey % 256 AS x,
         |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS y
         |  FROM orders),
         |z AS (SELECT x, y, ($terms) AS zkey FROM k)
         |SELECT CAST(zkey >> 8 AS INT) AS zbucket,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(MIN(x) AS INT) AS x_min, CAST(MAX(x) AS INT) AS x_max,
         |  CAST(MIN(y) AS INT) AS y_min, CAST(MAX(y) AS INT) AS y_max
         |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin
    }
  ) { (spark, dir) =>
    ordersXY(spark, dir)
      .select("x", "y")
      .withColumn("zkey", morton(col("x"), col("y")))
      .groupBy(shiftright(col("zkey"), 8).cast("int").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("x").cast("int").as("x_min"), max("x").cast("int").as("x_max"),
        min("y").cast("int").as("y_min"), max("y").cast("int").as("y_max"))
      .orderBy("zbucket")
  }

  /** Clustered seed of a layout row: a plain parquet write of `df`, then
    * ONE [[graft.sources.Sinks.optimizeClustered]] commit into 16 files
    * on the curve `key` — the table-format data-skipping contract
    * (Delta/Iceberg file stats) on the versioned table protocol: the
    * OPTIMIZE upgrades the dir to a pointer-published version whose
    * `_stats` manifest (footer-harvested, one row per file) carries
    * envelopes on the key and on every `dims` column, inside the version
    * and retired with it. */
  private[graft] def clusteredSeed(df: DataFrame, root: String, key: String,
      dims: Seq[String]): Unit = {
    df.write.mode("overwrite").parquet(root)
    Sinks.optimizeClustered(df.sparkSession, root, 16, key +: dims)
  }

  /** The skip-read of an integer box (column, lo, hi per dimension)
    * through the table's `_stats` manifest: only files whose envelopes
    * intersect every range are read, and the exact box stays as the
    * residual filter (the manifest prune yields a superset). */
  private[graft] def boxSkip(spark: SparkSession, root: String,
      box: (String, Int, Int)*): DataFrame =
    Sinks.readTableSkip(spark, root,
      box.map { case (c, lo, hi) => (c, lit(lo), lit(hi)) })

  /** [[ordersXY]] keyed on its Morton curve, with a `seq` version column
    * so merge-on-read appends ([[graft.sources.Sinks.upsertBatchDv]] on
    * `key`) can land on it. */
  private[graft] def zOrdersXY(spark: SparkSession, dir: String): DataFrame =
    ordersXY(spark, dir).withColumn("zkey", morton(col("x"), col("y")))
      .withColumn("seq", lit(1L))

  /** 3-D Morton interleave (8 bits per dimension, 24-bit key): bit 3i
    * from x, 3i+1 from y, 3i+2 from z. Three-or-more-column z-ordering
    * is where the interleaving trade actually bites at 100 TB — each
    * added dimension halves the per-file span tightness of the others
    * (top key bits cycle z7,y7,x7,z6,...), so a 3-D curve prunes on ANY
    * of the three predicates at the cost of coarser envelopes per
    * dimension than a 2-D curve gives its two. Same unrolled shift-mask
    * arithmetic as [[morton]] — exact ints, codegen-friendly, identical
    * on both engines. */
  private[graft] def morton3(x: Column, y: Column, z: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1), 3 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1), 3 * i + 1) +
        shiftleft(shiftright(z, i).bitwiseAND(1), 3 * i + 2)
    }.reduce(_ + _)

  /** Append → manifest harvest → skip-scan, graded: the z-ordered base
    * keeps its tight per-file envelopes, an UNSORTED batch of new keys
    * lands as a merge-on-read append ([[graft.sources.Sinks.upsertBatchDv]],
    * whose commit harvests ONLY the landed files' footer envelopes into
    * `_stats` — the O(batch) refresh that never rescans the base), and
    * the same two-dimensional box lookup stays correct — the oracle
    * aggregates base+batch from the source, so a green hash proves the
    * refreshed manifest loses nothing. ScaleSpec asserts the harvest
    * added exactly the landed files' rows and the scan still prunes the
    * sorted base. */
  val qLayoutSkipAppend = Q(
    "q_layout_skip_append",
    boxLookupDuck
  ) { (spark, dir) =>
    val root = Scans.rtDir("zskip_app")
    val xy = zOrdersXY(spark, dir)
    clusteredSeed(xy.filter(col("x") % 4 =!= 0), root, "zkey", Seq("x", "y"))
    Sinks.upsertBatchDv(xy.filter(col("x") % 4 === 0), root, "key", "seq")
    boxLookupAgg(boxSkip(spark, root, ("x", 32, 95), ("y", 64, 127)))
  }

  /** Z-order write → FILE-SKIPPING read, graded end-to-end: write orders
    * z-sorted into 16 files + stats manifest, skip-scan a two-dimensional
    * predicate box, and aggregate the survivors; the oracle aggregates the
    * SOURCE directly under the same predicate, so a green hash proves the
    * pruned read lost and invented nothing — the correctness half of the
    * single biggest scan-cost lever at 100 TB. ScaleSpec asserts the other
    * half: the scan reads a strict subset of the files. */
  val qLayoutZorderSkip = Q(
    "q_layout_zorder_skip",
    boxLookupDuck
  ) { (spark, dir) =>
    val root = Scans.rtDir("zskip")
    clusteredSeed(zOrdersXY(spark, dir), root, "zkey", Seq("x", "y"))
    boxLookupAgg(boxSkip(spark, root, ("x", 32, 95), ("y", 64, 127)))
  }

  /** Bloom seed of a layout row: ONE [[graft.sources.Sinks.upsertBatch]]
    * commit of line items clustered by ship date (the natural time
    * layout, which scatters any given order across the key domain of
    * every file) into 16 files, carrying a `_stats` manifest on the ship
    * date and a per-file `_bloom` manifest over l_orderkey (built by the
    * SAME graft_bloom_agg the semi-join prefilter uses) — the second half
    * of a table format's file-stats contract (Delta/Iceberg bloom indexes
    * beside min/max stats). The merge key is the row's scan position
    * (monotonically_increasing_id, unique by construction): no column
    * subset of the fixture's line items is a key at every scale — even
    * (l_orderkey, l_linenumber) repeats — and a repeated merge key would
    * drop rows. `li` must carry l_orderkey and l_shipdate. */
  private[graft] def bloomSeed(li: DataFrame, root: String): Unit =
    Sinks.upsertBatch(
      li.withColumn("key", monotonically_increasing_id()).withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("l_shipdate"), bloomCol = "l_orderkey")

  /** Stats + Bloom manifests composed, graded end-to-end: "these 5
    * orders' line items shipped in 1996" on the ship-date-clustered
    * table — one skip-read whose box is the date range (pruned by the
    * per-file min/max stats on the sort column) and whose keys are the
    * orders (pruned by the per-file Bloom index), so it scans the
    * INTERSECTION with both exact residual filters kept. Each manifest
    * alone over-selects (a date window keeps whole stripes; a key set
    * keeps scattered files); the intersection is what makes
    * multi-predicate lookups cheap at 100 TB. The oracle runs the same
    * predicate on the source directly, so a green hash proves the
    * composed prune is lossless; ScaleSpec asserts the intersection reads
    * strictly fewer files than either manifest allows alone. */
  val qLayoutSkipCombo = Q(
    "q_layout_skip_combo",
    s"""WITH k AS (
       |  SELECT DISTINCT l_orderkey FROM lineitem
       |  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
       |                       AND TIMESTAMP '1996-12-31 23:59:59'
       |  ORDER BY l_orderkey LIMIT 5)
       |SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
       |  ${Det.sqlExactSum("l_quantity", 100)} AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey IN (SELECT l_orderkey FROM k)
       |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
       |                     AND TIMESTAMP '1996-12-31 23:59:59'
       |GROUP BY 1 ORDER BY l_orderkey""".stripMargin
  ) { (spark, dir) =>
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-12-31 23:59:59").cast("timestamp")
    val root = Scans.rtDir("comboskip")
    bloomSeed(Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_shipdate", "l_quantity"), root)
    // probe keys: the 5 smallest orders with an in-window shipment, so
    // the lookup provably has answers (5 rows — bounded probe state; the
    // oracle derives the identical set in its CTE)
    val keys = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate").between(lo, hi))
      .select("l_orderkey").distinct().orderBy("l_orderkey").limit(5)
      .collect().map(_.getLong(0)).toSeq
    Sinks.readTableSkip(spark, root, Seq(("l_shipdate", lo, hi)),
        Some(("l_orderkey", keys)))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).cast("bigint").as("n_items"),
        Det.exactSum(col("l_quantity"), 100).as("sum_qty"))
      .orderBy("l_orderkey")
  }

  /** Bloom index write → file-skipping point lookup, graded end-to-end:
    * the ship-date-clustered [[bloomSeed]] table and a 5-order lookup
    * answered by reading only the may-contain files (the sketch test runs
    * distributed over the `_bloom` manifest, and the exact IN filter
    * keeps false positives harmless). At 100 TB this is the difference
    * between scanning the table and scanning the handful of files a
    * key-set actually touches when the cluster key can't help. The oracle
    * runs the same lookup on the source directly, so a green hash proves
    * the Bloom-pruned read is lossless; ScaleSpec asserts the
    * strict-subset pruning. The probe keys are the 5 smallest 1-URGENT
    * orderkeys — derived identically on both engines (the 5-row driver
    * list is bounded probe state, like the oracle's CTE). */
  val qLayoutBloomSkip = Q(
    "q_layout_bloom_skip",
    s"""WITH k AS (
       |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
       |  ORDER BY o_orderkey LIMIT 5)
       |SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
       |  ${Det.sqlExactSum("l_quantity", 100)} AS sum_qty,
       |  ${Det.sqlExactSum("l_extendedprice", 100)} AS revenue
       |FROM lineitem
       |WHERE l_orderkey IN (SELECT o_orderkey FROM k)
       |GROUP BY 1 ORDER BY l_orderkey""".stripMargin
  ) { (spark, dir) =>
    val root = Scans.rtDir("bloomskip")
    bloomSeed(Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"), root)
    val keys = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey").orderBy("o_orderkey").limit(5)
      .collect().map(_.getLong(0)).toSeq // 5 rows — bounded probe keys
    Sinks.readTableSkip(spark, root, Nil, Some(("l_orderkey", keys)))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).cast("bigint").as("n_items"),
        Det.exactSum(col("l_quantity"), 100).as("sum_qty"),
        Det.exactSum(col("l_extendedprice"), 100).as("revenue"))
      .orderBy("l_orderkey")
  }

  /** OPTIMIZE after a streaming arrival, graded end-to-end: z-write →
    * unsorted micro-batch through [[graft.sources.Sinks.writeBatch]] (a
    * `batch=` dir no manifest covers, so every skip-read keeps it) →
    * OPTIMIZE ([[graft.sources.Sinks.optimizeClustered]]: recluster into
    * a new version with a tight manifest) → the same box lookup. The
    * cost model is the Delta OPTIMIZE ZORDER trade: pay one clustered
    * rewrite of the table to restore file-skipping for every subsequent
    * scan — worth it exactly when appended unpruned files start
    * dominating scan cost. The oracle aggregates the source, so a green
    * hash proves the rewrite lost and invented nothing; ScaleSpec asserts
    * the optimize actually restores pruning. */
  val qLayoutOptimize = Q(
    "q_layout_optimize",
    boxLookupDuck
  ) { (spark, dir) =>
    val root = Scans.rtDir("zskip_opt")
    val xy = zOrdersXY(spark, dir)
    clusteredSeed(xy.filter(col("x") % 4 =!= 0), root, "zkey", Seq("x", "y"))
    Sinks.writeBatch(xy.filter(col("x") % 4 === 0).repartition(2), root, 1L)
    Sinks.optimizeClustered(spark, root, 16, Seq("zkey", "x", "y"))
    boxLookupAgg(boxSkip(spark, root, ("x", 32, 95), ("y", 64, 127)))
  }

  /** OPTIMIZE after a merge-on-read append, graded end-to-end: the same
    * lifecycle as [[qLayoutSkipAppend]] (z-write → unsorted new-key batch
    * through [[graft.sources.Sinks.upsertBatchDv]], its landed files'
    * wide envelopes harvested into `_stats`) followed by an OPTIMIZE
    * commit that reclusters the version and re-tightens every envelope.
    * The oracle is the shared box lookup, so a green hash proves append
    * + harvest + recluster lose and invent nothing; ScaleSpec asserts
    * the pruning the recluster restores. */
  val qLayoutOptimizeInc = Q(
    "q_layout_optimize_inc",
    boxLookupDuck
  ) { (spark, dir) =>
    val root = Scans.rtDir("zskip_inc")
    val xy = zOrdersXY(spark, dir)
    clusteredSeed(xy.filter(col("x") % 4 =!= 0), root, "zkey", Seq("x", "y"))
    Sinks.upsertBatchDv(xy.filter(col("x") % 4 === 0), root, "key", "seq")
    Sinks.optimizeClustered(spark, root, 16, Seq("zkey", "x", "y"))
    boxLookupAgg(boxSkip(spark, root, ("x", 32, 95), ("y", 64, 127)))
  }

  /** Hilbert index on the 256×256 grid — the clustering curve with
    * strictly better box-query locality than Morton (every consecutive
    * pair of curve positions is grid-adjacent, so a contiguous curve
    * range is one connected blob, never Morton's quadrant jumps; see
    * Hilbert 1891 / the Faloutsos-Roseman locality analyses). Computed
    * as the classic xy2d bit walk (8 unrolled quadrant-rotation steps,
    * Wikipedia's rot(n) variant — coordinates stay in [0, 256) at every
    * step), each step its own projection so the expression tree stays
    * LINEAR in the bit count. ScaleSpec proves the two curve properties
    * that matter (bijectivity and unit-step adjacency) over the whole
    * grid, so this is a real Hilbert curve, not a curve-shaped hash.
    * Returns `df` with an `hkey` column appended (`hkey` is the DECLARED
    * output name and overwrites an existing column, plain withColumn
    * contract). Intermediates use a `__hilbert_` prefix so an input frame
    * carrying ordinary names like `rx`/`hx` is never clobbered. */
  private[graft] def withHilbert(df: DataFrame): DataFrame = {
    val (hx, hy, rx, ry, hx2, hy2) = ("__hilbert_x", "__hilbert_y",
      "__hilbert_rx", "__hilbert_ry", "__hilbert_x2", "__hilbert_y2")
    var cur = df.withColumn(hx, col("x")).withColumn(hy, col("y"))
      .withColumn("hkey", lit(0L))
    for (s <- Seq(128, 64, 32, 16, 8, 4, 2, 1)) {
      val quadrant = // (3*rx) XOR ry over rx/ry ∈ {0,1}, spelled as a CASE
        when(col(rx) === 0 && col(ry) === 0, 0)
          .when(col(rx) === 0, 1)
          .when(col(ry) === 1, 2)
          .otherwise(3)
      cur = cur
        .withColumn(rx, when(col(hx).bitwiseAND(lit(s)) > 0, 1).otherwise(0))
        .withColumn(ry, when(col(hy).bitwiseAND(lit(s)) > 0, 1).otherwise(0))
        .withColumn("hkey", col("hkey") + lit(s.toLong * s) * quadrant)
        .withColumn(hx2,
          when(col(ry) === 0,
            when(col(rx) === 1, lit(255) - col(hy)).otherwise(col(hy)))
            .otherwise(col(hx)))
        .withColumn(hy2,
          when(col(ry) === 0,
            when(col(rx) === 1, lit(255) - col(hx)).otherwise(col(hx)))
            .otherwise(col(hy)))
        .withColumn(hx, col(hx2)).withColumn(hy, col(hy2))
        .drop(hx2, hy2, rx, ry)
    }
    cur.drop(hx, hy)
  }

  /** Hilbert-clustered write → file-skipping read, graded end-to-end:
    * the same orders fixture, box predicate, and stats-manifest
    * machinery as [[qLayoutZorderSkip]], with the Hilbert curve as the
    * clustering key — the layout a lake picks when box queries dominate
    * (a contiguous Hilbert range is one connected tile; Morton ranges
    * jump quadrants, widening per-file envelopes). The oracle aggregates
    * the source under the same box, so a green hash proves the
    * Hilbert-pruned read is lossless; ScaleSpec proves the curve is a
    * real Hilbert (bijective, unit-step) and reports its tile selection
    * head-to-head against Morton on the identical box. */
  val qLayoutHilbertSkip = Q(
    "q_layout_hilbert_skip",
    boxLookupDuck
  ) { (spark, dir) =>
    val root = Scans.rtDir("hskip")
    clusteredSeed(withHilbert(ordersXY(spark, dir)), root, "hkey", Seq("x", "y"))
    boxLookupAgg(boxSkip(spark, root, ("x", 32, 95), ("y", 64, 127)))
  }

  /** 3-D Hilbert index via Skilling's transpose algorithm (Skilling 2004,
    * "Programming the Hilbert curve" — the standard n-dimensional
    * formulation): AxesToTranspose rotates the coordinate frame one bit
    * level at a time (the same quadrant-rotation idea as the 2-D xy2d
    * walk, generalized to n axes with XOR swaps), then a Gray decode and
    * the per-level reflection accumulator, and finally the transpose bits
    * interleave into the key exactly like [[morton3]] (X(0) carries each
    * level's most significant bit). Everything is bitwiseAND/XOR +
    * when/otherwise — exact integer arithmetic, codegen-friendly, each
    * step its own projection so the expression tree stays LINEAR in the
    * bit count. `bits` parameterizes the grid (8 for the 256³ fixture;
    * the curve-property spec proves bijectivity + unit-step EXHAUSTIVELY
    * at a smaller `bits` over the identical code path). Expects x, y, z
    * columns; appends `hkey3`. Intermediates use a `__h3_` prefix
    * (collision-free, like [[withHilbert]]). */
  private[graft] def withHilbert3(df: DataFrame, bits: Int = 8): DataFrame = {
    val n = 3
    def c(i: Int) = col(s"__h3_$i")
    var cur = df
      .withColumn("__h3_0", col("x").cast("long"))
      .withColumn("__h3_1", col("y").cast("long"))
      .withColumn("__h3_2", col("z").cast("long"))
    // AxesToTranspose: per bit level (high to low), per axis
    for (qbit <- (bits - 1) to 1 by -1) {
      val q = 1L << qbit
      val p = q - 1
      for (i <- 0 until n) {
        val cond = c(i).bitwiseAND(lit(q)) =!= 0
        if (i == 0) {
          // X(0)^X(0) is 0, so the else-branch is a no-op on axis 0
          cur = cur.withColumn("__h3_0",
            when(cond, c(0).bitwiseXOR(lit(p))).otherwise(c(0)))
        } else {
          // t from the CURRENT values, then both axes updated from it
          cur = cur
            .withColumn("__h3_t",
              when(cond, lit(0L))
                .otherwise(c(0).bitwiseXOR(c(i)).bitwiseAND(lit(p))))
            .withColumn("__h3_0",
              when(cond, c(0).bitwiseXOR(lit(p)))
                .otherwise(c(0).bitwiseXOR(col("__h3_t"))))
            .withColumn(s"__h3_$i", c(i).bitwiseXOR(col("__h3_t")))
            .drop("__h3_t")
        }
      }
    }
    // Gray decode across axes
    for (i <- 1 until n)
      cur = cur.withColumn(s"__h3_$i", c(i).bitwiseXOR(c(i - 1)))
    // per-level reflection accumulator from the last axis's bits
    var t: Column = lit(0L)
    for (qbit <- (bits - 1) to 1 by -1) {
      val q = 1L << qbit
      t = when(c(n - 1).bitwiseAND(lit(q)) =!= 0,
        t.bitwiseXOR(lit(q - 1))).otherwise(t)
    }
    cur = cur.withColumn("__h3_t", t)
    for (i <- 0 until n)
      cur = cur.withColumn(s"__h3_$i", c(i).bitwiseXOR(col("__h3_t")))
    // interleave the transpose: key bit (j*n + n-1-i) = bit j of X(i)
    val key = (0 until bits).flatMap { j =>
      (0 until n).map { i =>
        shiftleft(shiftright(c(i), j).bitwiseAND(1), j * n + (n - 1 - i))
      }
    }.reduce(_ + _)
    cur.withColumn("hkey3", key).drop((0 until n).map(i => s"__h3_$i") :+ "__h3_t": _*)
  }

  /** 3-D Hilbert write → file-skipping read, graded end-to-end: the
    * [[qLayoutZorder3Skip]] fixture and 3-D box answered through a table
    * clustered on the 3-D HILBERT key — the curve ladder's last rung
    * (2-D Morton, 3-D Morton, 2-D Hilbert, hashed-string Morton, and now
    * 3-D Hilbert), closing the "Hilbert is 2-D-only" asymmetry. The
    * oracle aggregates the source under the same box, so a green hash
    * proves the 3-D Hilbert layout loses nothing; ScaleSpec proves the
    * curve itself (bijective + unit-step, exhaustively at bits=5 over
    * the same parameterized code path) and reports the box selection
    * head-to-head against 3-D Morton. */
  val qLayoutHilbert3Skip = Q(
    "q_layout_hilbert3_skip",
    s"""WITH k AS (
       |  SELECT o_custkey % 256 AS x,
       |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS y,
       |    o_orderkey % 256 AS z,
       |    o_totalprice
       |  FROM orders)
       |SELECT CAST(x AS INT) AS x, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${Det.sqlExactSum("o_totalprice", 100)} AS sum_price
       |FROM k
       |WHERE x BETWEEN 32 AND 95 AND y BETWEEN 64 AND 127
       |  AND z BETWEEN 0 AND 127
       |GROUP BY 1 ORDER BY x""".stripMargin
  ) { (spark, dir) =>
    val root = Scans.rtDir("h3skip")
    clusteredSeed(withHilbert3(ordersXYZ(spark, dir)), root, "hkey3",
      Seq("x", "y", "z"))
    boxLookupAgg(boxSkip(spark, root, ("x", 32, 95), ("y", 64, 127), ("z", 0, 127)))
  }

  /** The 3-column fixture frame: orders keyed to three 0..255 dims
    * (customer slot, day-of-epoch slot, orderkey slot) + the measure. */
  private[graft] def ordersXYZ(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select((col("o_custkey") % 256).as("x"),
        (datediff(to_date(col("o_orderdate")), lit("1992-01-01")) % 256).as("y"),
        (col("o_orderkey") % 256).as("z"),
        col("o_totalprice"))

  /** 3-D z-order write → file-skipping read, graded end-to-end: orders
    * clustered on the 24-bit (x, y, z) Morton key into 16 files + a
    * three-envelope stats manifest, then a 3-D predicate box answered by
    * reading only intersecting files. The oracle aggregates the source
    * under the same box, so a green hash proves the 3-D pruned read is
    * lossless; ScaleSpec asserts the strict subset AND that the THIRD
    * dimension pays for itself (the z predicate prunes files the 2-D
    * envelopes alone would keep — the property that justifies coarser
    * per-dimension envelopes). The curve's top key bits cycle
    * z7,y7,x7,z6,..., so all three half-domain predicates prune at the
    * file level. */
  val qLayoutZorder3Skip = Q(
    "q_layout_zorder3_skip",
    s"""WITH k AS (
       |  SELECT o_custkey % 256 AS x,
       |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS y,
       |    o_orderkey % 256 AS z,
       |    o_totalprice
       |  FROM orders)
       |SELECT CAST(x AS INT) AS x, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${Det.sqlExactSum("o_totalprice", 100)} AS sum_price
       |FROM k
       |WHERE x BETWEEN 32 AND 95 AND y BETWEEN 64 AND 127
       |  AND z BETWEEN 0 AND 127
       |GROUP BY 1 ORDER BY x""".stripMargin
  ) { (spark, dir) =>
    val root = Scans.rtDir("z3skip")
    clusteredSeed(ordersXYZ(spark, dir)
      .withColumn("zkey3", morton3(col("x"), col("y"), col("z"))),
      root, "zkey3", Seq("x", "y", "z"))
    boxLookupAgg(boxSkip(spark, root, ("x", 32, 95), ("y", 64, 127), ("z", 0, 127)))
  }

  /** OPTIMIZE as a pointer-protocol COMMIT, graded end-to-end: the
    * recluster lands as a NEW VERSION of the table root under the writer
    * lease ([[graft.sources.Sinks.optimizeClustered]]) — one atomic
    * pointer swap, predecessor retained, so concurrent readers mid-scan
    * keep their complete snapshot while the rewrite publishes (the
    * interleaving itself is spec-locked in SinkSourceSpec). The fixture
    * starts as a LEGACY plain-parquet dir (clustered base + unsorted
    * appended delta) and the first OPTIMIZE upgrades it in place to the
    * versioned layout. The oracle aggregates the source, so a green hash
    * proves the staged rewrite + swap + legacy retirement lost and
    * invented nothing — the #1 maintenance commit a lake runs
    * continuously at 100 TB. */
  val qLayoutOptimizePublish = Q(
    "q_layout_optimize_publish",
    boxLookupDuck
  ) { (spark, dir) =>
    val root = Scans.rtDir("zpub")
    val xy = ordersXY(spark, dir)
    xy.filter(col("x") % 4 =!= 0)
      .withColumn("zkey", morton(col("x"), col("y")))
      .repartitionByRange(16, col("zkey")).sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(root)
    xy.filter(col("x") % 4 === 0)
      .withColumn("zkey", morton(col("x"), col("y")))
      .repartition(2) // the arriving micro-batch: 2 unsorted files
      .write.mode("append").parquet(root)
    graft.sources.Sinks.optimizeClustered(spark, root, 16, Seq("zkey"))
    boxLookupAgg(graft.sources.Sinks.readTable(spark, root)
      .filter(col("x").between(32, 95) && col("y").between(64, 127)))
  }

  /** MERGE commit with layout maintenance, graded end-to-end: the upsert
    * publishes its version CLUSTERED by ship date with a per-file
    * min/max manifest INSIDE the version dir (upsertBatch statsCols), so
    * a MERGE-maintained table keeps file-skipping with no out-of-band
    * reindex — the manifest is part of the commit, retired with its
    * version, exactly a format's file-stats contract. The query is a
    * date-window revenue rollup answered through the skip-scan
    * ([[graft.sources.Sinks.readTableSkip]]); the oracle computes the
    * merged state (seed ∪ update batch, latest-wins) from the source
    * directly, so a green hash proves merge + clustered publish +
    * manifest + pruned read compose losslessly. ScaleSpec asserts the
    * pruning is strict and the manifest covers exactly the live files. */
  val qLayoutMergeSkip = Q(
    "q_layout_merge_skip",
    s"""WITH m AS (
       |  SELECT o_orderdate,
       |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100
       |         ELSE o_totalprice END AS price
       |  FROM orders)
       |SELECT CAST(month(o_orderdate) AS INT) AS mo,
       |  CAST(COUNT(*) AS BIGINT) AS n_orders,
       |  ${Det.sqlExactSum("price", 100)} AS revenue
       |FROM m
       |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
       |                      AND TIMESTAMP '1996-06-30 23:59:59'
       |GROUP BY 1 ORDER BY mo""".stripMargin
  ) { (spark, dir) =>
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-06-30 23:59:59").cast("timestamp")
    val root = Scans.rtDir("mergeskip")
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    // seed commit: the full table, clustered + manifested
    graft.sources.Sinks.upsertBatch(
      ord.withColumn("seq", lit(1L)), root, "key", "seq",
      statsCols = Seq("o_orderdate"))
    // MERGE batch: a price restatement for every 10th order —
    // latest-wins on seq; the commit re-clusters and re-manifests
    graft.sources.Sinks.upsertBatch(
      ord.filter(col("key") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100)
        .withColumn("seq", lit(2L)), root, "key", "seq",
      statsCols = Seq("o_orderdate"))
    graft.sources.Sinks.readTableSkip(spark, root, Seq(("o_orderdate", lo, hi)))
      .groupBy(month(col("o_orderdate")).cast("int").as("mo"))
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        Det.exactSum(col("o_totalprice"), 100).as("revenue"))
      .orderBy("mo")
  }

  /** The point-lookup half of the MERGE layout contract, graded
    * end-to-end: the upsert commit carries BOTH manifests — min/max
    * stats on the cluster column AND a per-file Bloom sketch over the
    * MERGE KEY (which the date clustering scatters across every file's
    * full domain, so min/max can't prune it; the sketch can). A 5-key
    * lookup on the merged table is answered through
    * [[graft.sources.Sinks.readTableSkip]] — the may-contain test
    * runs distributed over the version's `_bloom` manifest, only
    * surviving file names reach the driver, and the exact IN filter
    * keeps false positives harmless. The oracle computes the merged
    * state and the same lookup from the source, so a green hash proves
    * merge + clustered publish + Bloom manifest + pruned read compose
    * losslessly. ScaleSpec locks strict-subset pruning and that BOTH
    * manifests survive the whole mutator lifecycle. */
  val qLayoutMergeBloom = Q(
    "q_layout_merge_bloom",
    s"""WITH m AS (
       |  SELECT o_orderkey AS key,
       |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100
       |         ELSE o_totalprice END AS price
       |  FROM orders),
       |k AS (
       |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
       |  ORDER BY o_orderkey LIMIT 5)
       |SELECT m.key, ${Det.sqlUnits("m.price", 100)} AS price_units
       |FROM m JOIN k ON m.key = k.o_orderkey
       |ORDER BY m.key""".stripMargin
  ) { (spark, dir) =>
    val root = Scans.rtDir("mergebloom")
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(
      ord.withColumn("seq", lit(1L)), root, "key", "seq",
      statsCols = Seq("o_orderdate"), bloomCol = "key")
    graft.sources.Sinks.upsertBatch(
      ord.filter(col("key") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100)
        .withColumn("seq", lit(2L)), root, "key", "seq")
    // probe keys: the 5 smallest 1-URGENT orders (bounded driver state,
    // derived identically in the oracle's CTE)
    val keys = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey").orderBy("o_orderkey").limit(5)
      .collect().map(_.getLong(0)).toSeq
    graft.sources.Sinks.readTableSkip(spark, root, Nil, Some(("key", keys)))
      .select(col("key"), Det.units(col("o_totalprice"), 100).as("price_units"))
      .orderBy("key")
  }

  /** MERGE-ON-READ DELETE, graded end-to-end: the upsert seeds a
    * clustered+manifested table, [[graft.sources.Sinks.deleteWhere]]
    * records every 7th key as a POSITIONAL DELETION VECTOR (zero data
    * files rewritten — the Delta-DV/Iceberg-positional-delete shape,
    * the metadata-write answer to rewrite amplification), and the query
    * is the date-window rollup read through the SKIP-SCAN — so the row
    * proves the vectors compose with manifest pruning, not just with
    * whole-table reads. The oracle computes the source minus the deleted
    * keys, so a green hash proves record + anti-join + pruning are
    * lossless; SinkSourceSpec locks the zero-rewrite property (the
    * version's file set is byte-identical before and after the delete)
    * and that the next rewriting commit FOLDS the vectors in. */
  val qLayoutDeleteVector = Q(
    "q_layout_delete_vector",
    s"""WITH m AS (
       |  SELECT o_orderkey AS key, o_orderdate, o_totalprice
       |  FROM orders WHERE o_orderkey % 7 <> 0)
       |SELECT CAST(month(o_orderdate) AS INT) AS mo,
       |  CAST(COUNT(*) AS BIGINT) AS n_orders,
       |  ${Det.sqlExactSum("o_totalprice", 100)} AS revenue
       |FROM m
       |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
       |                      AND TIMESTAMP '1996-06-30 23:59:59'
       |GROUP BY 1 ORDER BY mo""".stripMargin
  ) { (spark, dir) =>
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-06-30 23:59:59").cast("timestamp")
    val root = Scans.rtDir("dvskip")
    graft.sources.Sinks.upsertBatch(
      Tables.orders(spark, dir)
        .select(col("o_orderkey").as("key"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    graft.sources.Sinks.deleteWhere(spark, root, col("key") % 7 === 0)
    graft.sources.Sinks.readTableSkip(spark, root, Seq(("o_orderdate", lo, hi)))
      .groupBy(month(col("o_orderdate")).cast("int").as("mo"))
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        Det.exactSum(col("o_totalprice"), 100).as("revenue"))
      .orderBy("mo")
  }

  /** MERGE-ON-READ MERGE, graded end-to-end: the matched-UPDATE half of
    * MERGE expressed as deletion vectors + appended files
    * ([[graft.sources.Sinks.upsertBatchDv]]) — zero base data files
    * rewritten, the Delta-DV MERGE shape for updates that touch a small
    * scattered fraction of a huge table. The seed upsert publishes a
    * clustered+manifested version; one MOR batch then updates every 10th
    * key (price restatement) and inserts a disjoint new-key slice; the
    * query is the date-window rollup through the SKIP-SCAN, so a green
    * hash proves superseded-row vectors, appended commit-logged files,
    * and manifest pruning compose losslessly. SinkSourceSpec locks the
    * zero-rewrite property (base file set byte-identical across the
    * merge) and that a rewriting commit folds the vectors in. */
  /** ONE shared oracle for q_merge_dv and q_merge_dv_history: the visible
    * state after the FIRST MOR merge (updates on every 10th key, inserts
    * from every 13th), rolled up over the date window. q_merge_dv reads
    * it live; q_merge_dv_history applies a SECOND merge on top and must
    * step back over it — sharing the statement makes the "per-merge
    * travel returns exactly the post-merge-1 table" claim hold by
    * construction, not by two copies staying in sync. */
  private def mergeDvOracle: String =
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_orderdate, o_totalprice FROM orders
       |  WHERE o_orderkey % 10 <> 0),
       |up AS (
       |  SELECT o_orderkey AS key, o_orderdate,
       |         o_totalprice + 100 AS o_totalprice
       |  FROM orders WHERE o_orderkey % 10 = 0),
       |ins AS (
       |  SELECT o_orderkey + 500000000 AS key, o_orderdate, o_totalprice
       |  FROM orders WHERE o_orderkey % 13 = 0),
       |m AS (SELECT * FROM base UNION ALL SELECT * FROM up
       |      UNION ALL SELECT * FROM ins)
       |SELECT CAST(month(o_orderdate) AS INT) AS mo,
       |  CAST(COUNT(*) AS BIGINT) AS n_orders,
       |  ${Det.sqlExactSum("o_totalprice", 100)} AS revenue
       |FROM m
       |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
       |                      AND TIMESTAMP '1996-06-30 23:59:59'
       |GROUP BY 1 ORDER BY mo""".stripMargin

  val qMergeDv = Q(
    "q_merge_dv",
    mergeDvOracle
  ) { (spark, dir) =>
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-06-30 23:59:59").cast("timestamp")
    val root = Scans.rtDir("mergedv")
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(
      ord.withColumn("seq", lit(1L)), root, "key", "seq",
      statsCols = Seq("o_orderdate"))
    val updates = ord.filter(col("key") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100)
      .withColumn("seq", lit(2L))
    val inserts = ord.filter(col("key") % 13 === 0)
      .withColumn("key", col("key") + 500000000L)
      .withColumn("seq", lit(2L))
    graft.sources.Sinks.upsertBatchDv(
      updates.unionByName(inserts), root, "key", "seq")
    graft.sources.Sinks.readTableSkip(spark, root, Seq(("o_orderdate", lo, hi)))
      .groupBy(month(col("o_orderdate")).cast("int").as("mo"))
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        Det.exactSum(col("o_totalprice"), 100).as("revenue"))
      .orderBy("mo")
  }

  /** PER-MERGE TIME TRAVEL on a merge-on-read table, graded end-to-end
    * (VERDICT r19 #2): MOR merges mutate the live version with no pointer
    * publish, so publish-granularity time travel steps over them — each
    * [[graft.sources.Sinks.upsertBatchDv]] now records a metadata-only
    * snapshot (commit-logged entry list + pinned DV parts) and
    * [[graft.sources.Sinks.readTableMergeVersion]] reconstructs any
    * between-merge state in the version's epoch. The query seeds, runs
    * merge 1 (the q_merge_dv update+insert batch), then merge 2 (a later
    * restatement + more inserts that must be STEPPED OVER), and reads
    * back=1. The oracle is q_merge_dv's own post-merge-1 statement —
    * shared, so a travel read that leaks any merge-2 row, vector, or
    * price breaks the cross-engine hash. SinkSourceSpec walks the whole
    * snapshot ladder (base, each merge, None past the epoch). */
  val qMergeDvHistory = Q(
    "q_merge_dv_history",
    mergeDvOracle
  ) { (spark, dir) =>
    val root = Scans.rtDir("mergedvhist")
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(
      ord.withColumn("seq", lit(1L)), root, "key", "seq",
      statsCols = Seq("o_orderdate"))
    val updates1 = ord.filter(col("key") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100)
      .withColumn("seq", lit(2L))
    val inserts1 = ord.filter(col("key") % 13 === 0)
      .withColumn("key", col("key") + 500000000L)
      .withColumn("seq", lit(2L))
    graft.sources.Sinks.upsertBatchDv(
      updates1.unionByName(inserts1), root, "key", "seq")
    // merge 2: overlaps merge 1's keys (every 90th key is in both) and
    // inserts a disjoint slice — all of it must be invisible at back=1
    val updates2 = ord.filter(col("key") % 9 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 777)
      .withColumn("seq", lit(3L))
    val inserts2 = ord.filter(col("key") % 17 === 0)
      .withColumn("key", col("key") + 700000000L)
      .withColumn("seq", lit(3L))
    graft.sources.Sinks.upsertBatchDv(
      updates2.unionByName(inserts2), root, "key", "seq")
    graft.sources.Sinks.readTableMergeVersion(spark, root, 1).get
      .filter(col("o_orderdate").between(
        lit("1996-01-01 00:00:00").cast("timestamp"),
        lit("1996-06-30 23:59:59").cast("timestamp")))
      .groupBy(month(col("o_orderdate")).cast("int").as("mo"))
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        Det.exactSum(col("o_totalprice"), 100).as("revenue"))
      .orderBy("mo")
  }

  /** MERGE-ON-READ matched-DELETE, graded end-to-end: one MOR batch mixes
    * the UPDATE clause (price restatement for every 10th key) with the
    * DELETE clause (tombstone flag for every 7th key) — updates retire
    * their base row as a vector and append the new row, deletes retire
    * the base row and append NOTHING ([[graft.sources.Sinks.upsertBatchDv]]
    * with `deleteCol`), so a delete costs metadata bytes, never a file
    * write. Read through the skip-scan; the oracle computes the post-merge
    * state declaratively, so a green hash proves both clauses compose with
    * the vectors and manifest pruning. Contrast q_merge_delete — the
    * copy-on-write soft-tombstone + purge cycle — the MOR/COW delete
    * trade, both graded. */
  val qMergeDvDelete = Q(
    "q_merge_dv_delete",
    s"""WITH m AS (
       |  SELECT o_orderkey AS key, o_orderdate,
       |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100
       |         ELSE o_totalprice END AS o_totalprice
       |  FROM orders WHERE o_orderkey % 7 <> 0)
       |SELECT CAST(month(o_orderdate) AS INT) AS mo,
       |  CAST(COUNT(*) AS BIGINT) AS n_orders,
       |  ${Det.sqlExactSum("o_totalprice", 100)} AS revenue
       |FROM m
       |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
       |                      AND TIMESTAMP '1996-06-30 23:59:59'
       |GROUP BY 1 ORDER BY mo""".stripMargin
  ) { (spark, dir) =>
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-06-30 23:59:59").cast("timestamp")
    val root = Scans.rtDir("mergedvdel")
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("deleted", lit(false))
    graft.sources.Sinks.upsertBatch(
      ord.withColumn("seq", lit(1L)), root, "key", "seq",
      statsCols = Seq("o_orderdate"))
    val deletes = ord.filter(col("key") % 7 === 0)
      .withColumn("deleted", lit(true)).withColumn("seq", lit(2L))
    val updates = ord.filter(col("key") % 10 === 0 && col("key") % 7 =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100)
      .withColumn("seq", lit(2L))
    graft.sources.Sinks.upsertBatchDv(
      deletes.unionByName(updates), root, "key", "seq", deleteCol = "deleted")
    graft.sources.Sinks.readTableSkip(spark, root, Seq(("o_orderdate", lo, hi)))
      .groupBy(month(col("o_orderdate")).cast("int").as("mo"))
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        Det.exactSum(col("o_totalprice"), 100).as("revenue"))
      .orderBy("mo")
  }

  /** Streaming MERGE in MERGE-ON-READ form, graded end-to-end — the
    * [[graft.sources.Sinks.mergeDvStream]] foreachBatch body driven
    * through q_merge_stream's exact protocol (seed, latest-order batch
    * with inserts, credit-reset batch, then a STALE REPLAY of batch 1
    * that per-key seq resolution must reduce to a visible no-op) — but
    * every batch lands as deletion vectors + appended files instead of a
    * staged whole-table rewrite: O(batch + matched) writes per
    * micro-batch where the COW twin pays O(table). The oracle is the
    * same batch-free latest-wins statement as q_merge_stream's, so a
    * green hash proves the MOR sink converges to the identical visible
    * table under updates, inserts, AND the replay. */
  val qMergeDvStream = Q(
    "q_merge_dv_stream",
    // ONE shared oracle with the COW twin (Scans.mergeStreamOracle): the
    // rows' same-visible-table claim holds by construction, not by two
    // copies staying in sync
    Scans.mergeStreamOracle
  ) { (spark, dir) =>
    val path = Scans.rtDir("merge_dv_stream") + "/state"
    val (seed, b1, b2) = Scans.mergeStreamBatches(spark, dir)
    // MOR mutates a committed version: seed through the pointer protocol
    graft.sources.Sinks.upsertBatch(seed, path, "key", "seq")
    graft.sources.Sinks.upsertBatchDv(b1, path, "key", "seq")
    graft.sources.Sinks.upsertBatchDv(b2, path, "key", "seq")
    graft.sources.Sinks.upsertBatchDv(b1, path, "key", "seq") // stale replay
    graft.sources.Sinks.readTable(spark, path)
      .select("key", "seq", "bal").orderBy("key")
  }

  /** DV COMPACTION POLICY, graded end-to-end: the read-amplification
    * guard — a third of the table is deleted as vectors, which pushes
    * [[graft.sources.Sinks.deletedFraction]] past the 25% policy
    * threshold, so [[graft.sources.Sinks.compactDeletes]] FOLDS the
    * vectors into one staged rewrite and publishes a clean version (no
    * `_deletes`; reads flip from anti-join back to plain pruned base
    * files). The query is the same skip-scan rollup, so a green hash
    * proves the fold is lossless end-to-end; SinkSourceSpec locks the
    * threshold semantics in both directions (below → metadata-only
    * no-op, vectors retained; above → rewrite, vectors gone). */
  val qDvCompact = Q(
    "q_dv_compact",
    s"""WITH m AS (
       |  SELECT o_orderkey AS key, o_orderdate, o_totalprice
       |  FROM orders WHERE o_orderkey % 3 <> 0)
       |SELECT CAST(month(o_orderdate) AS INT) AS mo,
       |  CAST(COUNT(*) AS BIGINT) AS n_orders,
       |  ${Det.sqlExactSum("o_totalprice", 100)} AS revenue
       |FROM m
       |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
       |                      AND TIMESTAMP '1996-06-30 23:59:59'
       |GROUP BY 1 ORDER BY mo""".stripMargin
  ) { (spark, dir) =>
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-06-30 23:59:59").cast("timestamp")
    val root = Scans.rtDir("dvcompact")
    graft.sources.Sinks.upsertBatch(
      Tables.orders(spark, dir)
        .select(col("o_orderkey").as("key"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    graft.sources.Sinks.deleteWhere(spark, root, col("key") % 3 === 0)
    graft.sources.Sinks.compactDeletes(spark, root,
      maxDeletedFraction = 0.25, files = 4)
    graft.sources.Sinks.readTableSkip(spark, root, Seq(("o_orderdate", lo, hi)))
      .groupBy(month(col("o_orderdate")).cast("int").as("mo"))
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        Det.exactSum(col("o_totalprice"), 100).as("revenue"))
      .orderBy("mo")
  }

  /** STRING-KEYED clustering rung: z-order over HASHED string keys — the
    * layout a lake picks when the cluster columns aren't integers (the
    * usual case: (lang, source) on a document corpus). Each key is
    * projected to an 8-bit slot by the portable md5 hash both engines
    * compute identically, the table is clustered on the Morton interleave
    * of the two slots with per-file min/max envelopes ON THE SLOTS, and a
    * point lookup (lang='de', source='src7') prunes by the slot envelopes
    * then keeps the EXACT string equality as the residual — hash
    * collisions cost I/O, never correctness (the same
    * prune-superset-then-residual contract as every skip-scan here). The
    * oracle filters the source by the strings directly, so a green hash
    * proves the hashed-envelope prune is lossless; ScaleSpec asserts the
    * strict-subset file selection. This is the proof the curve machinery
    * is not bound to the integer fixtures. */
  val qLayoutZorderStr = Q(
    "q_layout_zorder_str",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
      |  CAST(MAX(doc_id) AS BIGINT) AS max_doc
      |FROM documents WHERE lang = 'de' AND source = 'src7'""".stripMargin
  ) { (spark, dir) =>
    val root = Scans.rtDir("strskip")
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .withColumn("x",
        expr(s"${graft.functions.PortableHash.spark("lang")} % 256").cast("int"))
      .withColumn("y",
        expr(s"${graft.functions.PortableHash.spark("source")} % 256").cast("int"))
    clusteredSeed(keyed.withColumn("zkey", morton(col("x"), col("y"))),
      root, "zkey", Seq("x", "y"))
    // the probe's slot coordinates: 2 one-row lookups — bounded driver
    // state, the same md5 construction the writer used
    def slot(lit0: String): Int = spark.sql(
      s"SELECT CAST(${graft.functions.PortableHash.spark(s"'$lit0'")} % 256 AS INT)")
      .head().getInt(0)
    val (hx, hy) = (slot("de"), slot("src7"))
    boxSkip(spark, root, ("x", hx, hx), ("y", hy, hy))
      .filter(col("lang") === "de" && col("source") === "src7") // exact residual
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_chars").cast("bigint").as("sum_chars"),
        min("doc_id").cast("bigint").as("min_doc"),
        max("doc_id").cast("bigint").as("max_doc"))
  }

  /** Training-shard assignment + balance report: every document goes to
    * shard = portable_hash(doc_id) % 8, and the query reports each shard's
    * doc count and exact token total plus its deviation from the ideal
    * per-shard load in parts-per-thousand. Hash-mod placement is the 100 TB
    * shape: stateless, embarrassingly parallel, stable under re-runs and
    * task retries (no RNG, no global coordination), and statistically
    * balanced — and THIS query is the monitor that proves the balance
    * holds, the check a production export job runs before shipping shards
    * to 1000 trainer workers. The imbalance metric is exact-integer math
    * (token sums as BIGINT, one scaled division at the end). */
  val qDocShard = Q(
    "q_doc_shard",
    s"""WITH s AS (
       |  SELECT ${graft.functions.PortableHash.duck("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |sh AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(n_tok) AS BIGINT) AS tot_tokens
       |       FROM s GROUP BY shard)
       |SELECT CAST(shard AS INT) AS shard, n_docs, tot_tokens,
       |  CAST(round((tot_tokens * 8 - (SELECT SUM(tot_tokens) FROM sh))
       |    * 1000.0 / (SELECT SUM(tot_tokens) FROM sh)) AS BIGINT) AS skew_ppt
       |FROM sh ORDER BY shard""".stripMargin
  ) { (spark, dir) =>
    val sh = Tables.documents(spark, dir)
      .select(
        expr(s"${graft.functions.PortableHash.spark("CAST(doc_id AS STRING)")} % 8")
          .cast("int").as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tot_tokens"))
    // grand total via a 8-row global agg joined back (no corpus re-scan)
    val tot = sh.agg(sum("tot_tokens").as("grand")).select("grand")
    sh.crossJoin(tot)
      .select(col("shard"), col("n_docs"), col("tot_tokens"),
        round((col("tot_tokens") * 8 - col("grand")) * lit(1000.0) / col("grand"))
          .cast("long").as("skew_ppt"))
      .orderBy("shard")
  }

  def all: Seq[Q] = Seq(qJoinBloom, qSampleStratified, qTextEntropy,
    qTimeResample, qWinStreaks, qDocPack, qDocChunk, qDocChunkDedup,
    qTextNgramLm, qDocLmFilter, qDocPackContent, qProfileNumeric, qLayoutZorder,
    qLayoutZorderSkip, qLayoutZorder3Skip, qLayoutHilbertSkip,
    qLayoutBloomSkip, qLayoutSkipCombo, qLayoutSkipAppend, qLayoutOptimize,
    qLayoutOptimizeInc, qLayoutOptimizePublish, qLayoutMergeSkip,
    qLayoutMergeBloom, qLayoutZorderStr, qLayoutHilbert3Skip,
    qLayoutDeleteVector, qMergeDv, qMergeDvHistory, qMergeDvDelete,
    qMergeDvStream, qDvCompact, qDocShard)
}
