package graft.operators

import graft.Q
import graft.sources.Scratch.PersistSyntax
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level distributional statistics — the health metrics a
  * training-data pipeline tracks per ingest snapshot, beyond per-document
  * quality ([[TextExtras]]) and dedup ([[SketchDedup]]):
  *
  *   - vocabulary coverage / OOV rate against a frequency-derived vocab
  *     (tokenizer fit: a rising OOV rate means the tokenizer no longer
  *     matches the corpus),
  *   - Zipf rank–frequency slope (a corpus whose slope drifts far from
  *     −1 is boilerplate-heavy or template-spammed),
  *   - per-document n-gram novelty vs earlier documents (memorization /
  *     staleness monitor: near-zero novelty means the crawl is re-reading
  *     itself).
  *
  * All three are one-pass explode → aggregate shapes whose shuffle keys
  * are the token or the shingle (high cardinality — distributes evenly on
  * 1000 executors); the only driver-sized structure is the bounded top-K
  * vocabulary.
  */
object CorpusStats {

  /** Vocabulary coverage: build the top-500 vocab by exact corpus
    * frequency (ties broken by token text, so the rank-500 cut is
    * deterministic on both engines), then measure each language's token
    * mass outside it. The vocab is a BOUNDED top-K — broadcasting it is
    * the rare justified hint (it cannot grow with the corpus, unlike the
    * dims the dedup family refuses to hint). Counts are exact BIGINTs;
    * the rate is one int/int division, round6. */
  val qTextOov = Q(
    "q_text_oov",
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents),
      |cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
      |vocab AS (SELECT t FROM cnt ORDER BY c DESC, t LIMIT 500)
      |SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_toks,
      |  CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  round(CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) AS oov_rate
      |FROM tok LEFT JOIN vocab v ON tok.t = v.t
      |GROUP BY lang ORDER BY lang""".stripMargin
  ) { (spark, dir) =>
    val tok = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("t"))
      .persistScratch() // feeds the vocab aggregate AND the coverage join
    val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("t")).limit(500)
      .select(col("t"), lit(1).as("iv"))
    val oov = when(col("iv").isNull, 1).otherwise(0)
    tok.join(broadcast(vocab), Seq("t"), "left_outer")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_toks"),
        sum(oov).as("n_oov"),
        round(sum(oov).cast("double") / count(lit(1)), 6).as("oov_rate"))
      .orderBy("lang")
  }

  /** Zipf rank–frequency slope per language: least-squares fit of
    * ln(freq) on ln(rank) over the top-50 terms (rank ties broken by
    * token text). Each (x, y) point is rounded to 6 places FIRST, so both
    * engines sum identical decimals and only summation order differs —
    * a ≤few-ulp wiggle over 50 terms that the final round6 absorbs (the
    * mix-temperature / cooccur precedent). The closed form
    * (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) avoids engine-specific regr_slope
    * moment algorithms. Per-lang top-50 is window top-k — no global
    * structure, nothing driver-sized. */
  val qTextZipf = Q(
    "q_text_zipf",
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents),
      |cnt AS (SELECT lang, t, COUNT(*) AS c FROM tok GROUP BY lang, t),
      |rk AS (SELECT lang, t, c,
      |         row_number() OVER (PARTITION BY lang ORDER BY c DESC, t) AS r
      |       FROM cnt),
      |xy AS (SELECT lang,
      |         round(ln(CAST(r AS DOUBLE)), 6) AS x,
      |         round(ln(CAST(c AS DOUBLE)), 6) AS y
      |       FROM rk WHERE r <= 50)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  round((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
      |        / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS zipf_slope
      |FROM xy GROUP BY lang ORDER BY lang""".stripMargin
  ) { (spark, dir) =>
    val w = Window.partitionBy("lang").orderBy(desc("c"), asc("t"))
    val xy = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("t"))
      .groupBy("lang", "t").agg(count(lit(1)).as("c"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= 50)
      .select(col("lang"),
        round(log(col("r").cast("double")), 6).as("x"),
        round(log(col("c").cast("double")), 6).as("y"))
    val n = count(lit(1))
    xy.groupBy("lang")
      .agg(n.as("n_terms"),
        round((n * sum(col("x") * col("y")) - sum("x") * sum("y"))
          / (n * sum(col("x") * col("x")) - sum("x") * sum("x")), 6)
          .as("zipf_slope"))
      .orderBy("lang")
  }

  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * 3-token shingles whose first corpus occurrence (min doc_id — ingest
    * order) is this document. A near-zero tail means the crawl is
    * re-reading content it already has — the complement to pairwise dedup
    * (novelty decays even when no single pair crosses a dup threshold).
    * Inverted-index shape: shingle → min(doc_id) (shuffle key = the
    * high-cardinality shingle), one join back, one per-doc aggregate —
    * linear in the incidence count. Shingles reuse q_dedup_ngram's
    * one-tokenize lead-window construction. Documents with fewer than 3
    * tokens have no shingles and are excluded on both engines. */
  val qDocNovelty = Q(
    "q_doc_novelty",
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(string_split(text, ' ')) - 1),
      |      i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS s
      |  FROM documents),
      |fo AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
      |SELECT sh.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  round(CAST(SUM(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS novelty
      |FROM sh JOIN fo ON sh.s = fo.s
      |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    // array-local shingling (the Shingles discipline): the per-doc
    // distinct 3-gram set explodes once — the only exchange before the
    // output rollup is the shingle-keyed first-occurrence aggregate
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        explode_outer(graft.functions.Shingles.distinctSet(col("tk"), 3)).as("s"))
      .filter(col("s").isNotNull) // outer explode: the Shingles discipline
      .persistScratch() // feeds the first-occurrence aggregate AND the join back
    val fo = sh.groupBy("s").agg(min("doc_id").as("first_doc"))
    val novel = when(col("first_doc") === col("doc_id"), 1).otherwise(0)
    sh.join(fo, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(novel).as("n_novel"),
        round(sum(novel).cast("double") / count(lit(1)), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Heavy hitters without a full-width groupBy — the sketch-then-verify
    * idiom (same contract style as the LSH families): pass 1 folds the
    * token stream into a Misra-Gries summary (functions.MisraGries, 256
    * counters/executor, associative merge — only O(256) state ever crosses
    * the shuffle, vs a full groupBy shuffling the entire unbounded distinct
    * domain); MG guarantees the summary's keys SUPERSET every token with
    * freq > n/256. Pass 2 exact-counts only those <= 256 candidates (the
    * filter prunes at the scan) and keeps freq*30 > n. The output is
    * therefore EXACTLY the true heavy-hitter set with exact counts — fully
    * oracle-able even though the first pass is a sketch. The candidate
    * collect is bounded at 256 entries (documented, like TokenBits). */
  val qTextHeavy = Q(
    "q_text_heavy",
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok)
      |SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM tok GROUP BY tok
      |HAVING COUNT(*) * 30 > (SELECT n FROM tot)
      |ORDER BY cnt DESC, tok""".stripMargin
  ) { (spark, dir) =>
    import spark.implicits._
    val tokens = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val summary: Map[String, Long] = tokens.as[String]
      .select(new graft.functions.MisraGries(256).toColumn)
      .first()
    val candidates = summary.keys.toSeq
    val n = Tables.documents(spark, dir)
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n"))
    tokens.filter(col("tok").isin(candidates: _*))
      .groupBy("tok")
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(n)
      .filter(col("cnt") * 30 > col("n"))
      .select(col("tok"), col("cnt"))
      .orderBy(desc("cnt"), col("tok"))
  }

  /** Per-source boilerplate profile — the C4/CCNet-style template
    * detector: a shingle is boilerplate WITHIN a source when it recurs
    * across an outsized share of that source's documents (5·df > n_docs,
    * and df ≥ 3 so two-doc sources can't declare everything boilerplate).
    * Output per source: document count, distinct shingle count, how many
    * of them are boilerplate, and the boilerplate rate — the signal that
    * decides whether a crawl source needs template stripping before it
    * can contribute clean training mass. The shingle width is an
    * operating point: the fixture corpus is short-range random text, so
    * the graded point uses 2-token shingles (a real crawl would use
    * longer k or whole lines — same plan, different window).
    *
    * Shape: the same shingle inverted index as [[qDocNovelty]], but keyed
    * (source, shingle) — df is ONE partial-aggregated count (per-doc
    * distinct shingles first, so a shingle repeated inside one doc counts
    * once), and the per-source doc counts are a dim-bounded frame joined
    * on source. Sources whose docs are all shorter than the shingle width
    * simply emit nothing (inner join — no 0/0 rate exists to divide). */
  val qTextBoilerplate = Q(
    "q_text_boilerplate",
    """WITH sh AS (
      |  SELECT source, doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(string_split(text, ' '))),
      |      i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')))) AS s
      |  FROM documents),
      |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |df AS (SELECT source, s, COUNT(*) AS df FROM sh GROUP BY source, s)
      |SELECT df.source,
      |  CAST(MAX(nd.n_docs) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN df.df * 5 > nd.n_docs AND df.df >= 3
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |  round(CAST(SUM(CASE WHEN df.df * 5 > nd.n_docs AND df.df >= 3
      |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS boiler_rate
      |FROM df JOIN nd ON df.source = nd.source
      |GROUP BY df.source ORDER BY df.source""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    // array-local shingling: the per-doc distinct 2-gram set explodes
    // once, straight into the (source, s) df aggregate — the one
    // exchange this query actually needs
    val sh = docs
      .select(col("source"), col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("source"), col("doc_id"),
        explode_outer(graft.functions.Shingles.distinctSet(col("tk"), 2)).as("s"))
      .filter(col("s").isNotNull) // outer explode: the Shingles discipline
    val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val isBoiler =
      when(col("df") * 5 > col("n_docs") && col("df") >= 3, 1).otherwise(0)
    sh.groupBy("source", "s").agg(count(lit(1)).as("df"))
      .join(nd, "source")
      .groupBy("source")
      .agg(max("n_docs").as("n_docs"),
        count(lit(1)).as("n_shingles"),
        sum(isBoiler).as("n_boiler"),
        round(sum(isBoiler).cast("double") / count(lit(1)), 6).as("boiler_rate"))
      .orderBy("source")
  }

  /** Per-document duplicated-span mass — the k-gram approximation of
    * suffix-array exact-substring dedup (the ExactSubstr metric of the
    * dedup literature): the fraction of a document's token positions
    * covered by 5-gram shingles that also occur in at least one OTHER
    * document. Unlike [[qDocNovelty]] (first-seen accounting — the first
    * copy stays "novel"), BOTH copies of a shared span count here, which
    * is what a trim-or-drop curation decision needs: a doc that is 80%
    * shared text is a drop candidate no matter which crawl saw it first.
    *
    * Shape: positional shingles (doc_id, p, s) feed (1) a distinct-doc
    * count per shingle — shingles with ≥ 2 docs form the duplicated set —
    * and (2) a join back on the shingle to recover the covered intervals
    * [p, p+4], which are merged per document with the classic
    * island-by-running-max window (sorted by p; a new island starts when
    * p exceeds the running max end, so overlapping intervals never double
    * count). Everything shuffles on the shingle or the doc id — both
    * high-cardinality — and the per-doc window is bounded by document
    * length. Docs shorter than 5 tokens have no 5-gram and are excluded
    * on both engines. */
  val qDocDupMass = Q(
    "q_doc_dup_mass",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      |sh AS (
      |  SELECT doc_id, u.p AS p, u.s AS s FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(a) - 3),
      |      i -> struct_pack(p := CAST(i - 1 AS BIGINT),
      |                       s := array_to_string(a[i:i+4], ' ')))) AS u
      |    FROM tok)),
      |dup AS (SELECT s FROM sh GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
      |pos AS (SELECT sh.doc_id, sh.p FROM sh JOIN dup USING (s)),
      |isl AS (SELECT doc_id, p,
      |  CASE WHEN p > COALESCE(MAX(p + 4) OVER (PARTITION BY doc_id ORDER BY p
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |  THEN 1 ELSE 0 END AS st FROM pos),
      |grp AS (SELECT doc_id, p,
      |  SUM(st) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM isl),
      |spans AS (SELECT doc_id, g, MAX(p + 4) - MIN(p) + 1 AS span
      |  FROM grp GROUP BY doc_id, g),
      |cov AS (SELECT doc_id, SUM(span) AS covered FROM spans GROUP BY doc_id),
      |n AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      |  FROM documents WHERE len(string_split(text, ' ')) >= 5)
      |SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered,
      |  round(CAST(COALESCE(cov.covered, 0) AS DOUBLE) / n.n_tokens, 6)
      |    AS dup_mass
      |FROM n LEFT JOIN cov ON n.doc_id = cov.doc_id
      |ORDER BY n.doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    // array-local POSITIONED shingling: posexplode over the shingle
    // array — element index IS the 0-based start position the span
    // arithmetic needs, so the token stream never shuffles; the island
    // windows below run over the (much smaller) cross-doc dup positions
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        posexplode_outer(graft.functions.Shingles.all(col("tk"), 5))
          .as(Seq("p", "s")))
      .filter(col("s").isNotNull) // outer explode: the Shingles discipline
      .select(col("doc_id"), col("p").cast("long").as("p"), col("s"))
      .persistScratch() // feeds the dup-set aggregate AND the join back
    val dup = sh.groupBy("s")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select("s")
    val wPrev = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("p")
    val pos = sh.join(dup, "s").select("doc_id", "p")
      .withColumn("prev_max", max(col("p") + 4).over(wPrev))
      .withColumn("st",
        when(col("p") > coalesce(col("prev_max"), lit(-1L)), 1).otherwise(0))
      .withColumn("g", sum("st").over(wRun))
    val cov = pos.groupBy("doc_id", "g")
      .agg((max(col("p") + 4) - min(col("p")) + 1).as("span"))
      .groupBy("doc_id")
      .agg(sum("span").as("covered"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 5)
      .join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        round(coalesce(col("covered"), lit(0L)).cast("double") / col("n_tokens"), 6)
          .as("dup_mass"))
      .orderBy("doc_id")
  }

  /** Per-source DATA CARD — the datasheet a curation pipeline publishes
    * next to every shipped dataset slice (Gebru et al., "Datasheets for
    * Datasets", 2018): document and token volume, exact-duplicate rate,
    * mean document length, and the language-mix entropy, one row per
    * source. Entropy terms are fixed to exact micro-nats PER LANGUAGE
    * before the per-source sum ((c/T)·ln(c/T) rounded to 1e-6, then
    * BIGINT-summed), so the sum is order-independent and hashes
    * cross-engine — the bigramNll discipline applied to a distribution
    * statistic.
    *
    * Scale: two corpus scans (one per-source aggregate with map-side
    * partials, one (source, lang) count whose output is bounded by
    * sources × languages), joined on the bounded source key. The
    * distinct-text count is the one heavyweight — it shuffles text
    * hashes, the same cost class as exact dedup itself. */
  /** DuckDB datacard CTE chain over relation `rel`, names suffixed `_$t`
    * so two versions can coexist in one statement (the drift row). Ends
    * with `card_$t`: one row per source with the full datasheet. ONE
    * definition serves q_doc_datacard and q_doc_datacard_drift, so the
    * drift can never diverge from the card it diffs. */
  private def datacardDuck(rel: String, t: String) =
    s"""b_$t AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(DISTINCT text) AS BIGINT) AS n_uniq,
       |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |  FROM $rel GROUP BY source),
       |lc_$t AS (
       |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM $rel GROUP BY 1, 2),
       |e_$t AS (
       |  SELECT lc.source,
       |    CAST(SUM(CAST(round((CAST(c AS DOUBLE) / b.n_docs)
       |      * ln(CAST(c AS DOUBLE) / b.n_docs) * 1000000) AS BIGINT))
       |      AS BIGINT) AS neg_u
       |  FROM lc_$t lc JOIN b_$t b USING (source) GROUP BY lc.source),
       |card_$t AS (
       |  SELECT b.source, n_docs, n_tokens,
       |    CAST(n_docs - n_uniq AS BIGINT) AS n_dup_docs,
       |    round(CAST(n_docs - n_uniq AS DOUBLE) / n_docs, 6) AS dup_rate,
       |    round(CAST(sum_chars AS DOUBLE) / n_docs, 6) AS mean_chars,
       |    CAST(-neg_u AS BIGINT) AS lang_entropy_u
       |  FROM b_$t b JOIN e_$t e USING (source))""".stripMargin

  /** Spark datacard over an arbitrary documents frame (needs text,
    * source, lang, n_chars): one row per source — the shared core of the
    * graded card and the version-drift audit. */
  private def datacard(d: DataFrame): DataFrame = {
    val b = d.groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(size(split(col("text"), " "))).cast("bigint").as("n_tokens"),
        countDistinct(col("text")).cast("bigint").as("n_uniq"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"))
      .persistScratch() // feeds the card row AND the entropy denominator
    val lc = d.groupBy("source", "lang")
      .agg(count(lit(1)).cast("bigint").as("c"))
    val e = lc.join(broadcast(b.select("source", "n_docs")), "source")
      .select(col("source"),
        round((col("c").cast("double") / col("n_docs"))
          * log(col("c").cast("double") / col("n_docs")) * 1000000)
          .cast("bigint").as("term_u"))
      .groupBy("source").agg(sum("term_u").cast("bigint").as("neg_u"))
    b.join(e, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_docs") - col("n_uniq")).cast("bigint").as("n_dup_docs"),
        round((col("n_docs") - col("n_uniq")).cast("double")
          / col("n_docs"), 6).as("dup_rate"),
        round(col("sum_chars").cast("double") / col("n_docs"), 6)
          .as("mean_chars"),
        (-col("neg_u")).cast("bigint").as("lang_entropy_u"))
  }

  val qDocDatacard = Q(
    "q_doc_datacard",
    s"""WITH ${datacardDuck("documents", "d")}
       |SELECT source, n_docs, n_tokens, n_dup_docs, dup_rate, mean_chars,
       |  lang_entropy_u
       |FROM card_d
       |ORDER BY source""".stripMargin
  ) { (spark, dir) =>
    datacard(Tables.documents(spark, dir)).orderBy("source")
  }

  /** Per-VERSION datacard DRIFT over a pointer-published documents table —
    * the audit a curation pipeline emits with every publish ("how did this
    * snapshot move the datasheet?"): seed a third of the corpus, publish
    * two real MERGE batches (v1 = two thirds, v2 = all), then diff the
    * datacard of CURRENT against the time-travel predecessor per source —
    * volume, token, dup-rate, and language-entropy drift. The Spark side
    * computes both cards from the two PUBLISHED artifacts (two pointer
    * reads, the q_sink_version_diff discipline); the oracle recomputes
    * both versions declaratively from the doc_id thirds — so the publish
    * lineage AND the datasheet arithmetic are cross-engine-verified in one
    * row. Scale: two datacard passes (each two corpus scans with map-side
    * partials) joined on the bounded source key. */
  val qDocDatacardDrift = Q(
    "q_doc_datacard_drift",
    s"""WITH v1 AS (SELECT * FROM documents WHERE doc_id % 3 < 2),
       |${datacardDuck("v1", "o")},
       |${datacardDuck("documents", "n")}
       |SELECT source,
       |  o.n_docs AS n_docs_old, n.n_docs AS n_docs_new,
       |  CAST(n.n_docs - o.n_docs AS BIGINT) AS d_docs,
       |  CAST(n.n_tokens - o.n_tokens AS BIGINT) AS d_tokens,
       |  o.dup_rate AS dup_rate_old, n.dup_rate AS dup_rate_new,
       |  CAST(n.lang_entropy_u - o.lang_entropy_u AS BIGINT) AS d_entropy_u
       |FROM card_n n JOIN card_o o USING (source)
       |ORDER BY source""".stripMargin
  ) { (spark, dir) =>
    val path = Scans.rtDir("datacard_drift") + "/docs"
    val d = Tables.documents(spark, dir)
    def third(r: Int, seq: Int) = d.filter(col("doc_id") % 3 === r)
      .select(col("doc_id"), lit(seq).as("seq"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    graft.sources.Sinks.write(third(0, 0), path) // seed (legacy layout)
    graft.sources.Sinks.upsertBatch(third(1, 1), path, "doc_id", "seq") // v1
    graft.sources.Sinks.upsertBatch(third(2, 2), path, "doc_id", "seq") // v2
    val cardOld = datacard(graft.sources.Sinks
        .readTableVersion(spark, path, 1)
        .getOrElse(sys.error(s"no predecessor version at $path")))
      .select(col("source"), col("n_docs").as("n_docs_old"),
        col("n_tokens").as("n_tokens_old"),
        col("dup_rate").as("dup_rate_old"),
        col("lang_entropy_u").as("entropy_old"))
    val cardNew = datacard(graft.sources.Sinks.readTable(spark, path))
    cardNew.join(cardOld, "source")
      .select(col("source"), col("n_docs_old"),
        col("n_docs").as("n_docs_new"),
        (col("n_docs") - col("n_docs_old")).cast("bigint").as("d_docs"),
        (col("n_tokens") - col("n_tokens_old")).cast("bigint")
          .as("d_tokens"),
        col("dup_rate_old"), col("dup_rate").as("dup_rate_new"),
        (col("lang_entropy_u") - col("entropy_old")).cast("bigint")
          .as("d_entropy_u"))
      .orderBy("source")
  }

  def all: Seq[Q] = Seq(qTextOov, qTextZipf, qDocNovelty, qTextHeavy,
    qTextBoilerplate, qDocDupMass, qDocDatacard, qDocDatacardDrift)
}
