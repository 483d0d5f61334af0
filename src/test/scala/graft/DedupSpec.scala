package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.StaticSQLConf

/** Dedup operators on synthetic data: the fixtures contain no exact
  * duplicates (verified in FIXTURES.md), so Q31's collapse behavior and
  * idempotence are asserted here with planted dups. */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick fox", "en"), (2L, "the quick fox", "en"), // exact dup
    (3L, "the quick fox", "de"), // same text, other lang — still same hash
    (4L, "lazy dog sleeps", "en"),
    (5L, "lazy dog sleeps here", "en")
  ).toDF("doc_id", "text", "lang")

  private def survivors = docs
    .groupBy(sha2(col("text"), 256).as("h"))
    .agg(min("doc_id").as("doc_id"))

  test("hash dedup keeps min(doc_id) per content hash") {
    val kept = survivors.select("doc_id").as[Long].collect().sorted
    // "the quick fox" appears 3x (ids 1,2,3) -> keep 1; others unique
    assert(kept.toSeq === Seq(1L, 4L, 5L))
  }

  test("hash dedup is idempotent") {
    val once = docs.join(survivors, "doc_id")
    val twice = once
      .groupBy(sha2(col("text"), 256).as("h")).agg(min("doc_id").as("doc_id"))
    assert(twice.count() === once.count())
  }

  test("jaccard is symmetric and within [0,1]") {
    val t = docs.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tk"))
    val a = t.toDF("a_id", "a_tk")
    val b = t.toDF("b_id", "b_tk")
    val j = a.crossJoin(b)
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("a_tk"), col("b_tk"))).cast("double")
          / size(array_union(col("a_tk"), col("b_tk")))).as("j"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    j.foreach { case ((x, y), v) =>
      assert(v >= 0.0 && v <= 1.0)
      assert(v === j((y, x))) // symmetry
      if (x == y) assert(v === 1.0) // self-similarity
    }
  }

  test("containment flags a quoted-subset pair that Jaccard misses") {
    val spk = spark
    import spk.implicits._
    // doc 1 is verbatim-contained in doc 2 (20 of 80 tokens): C(1->2)=1.0
    // but Jaccard = 18/78 ~ 0.23 — below q_dedup_ngram's 0.5 bar
    val small = (1 to 20).map(i => s"w$i").mkString(" ")
    val big = small + " " + (1 to 60).map(i => s"x$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("contain").toString
    Seq((1L, small, "en"), (2L, big, "en"), (3L, "alpha beta gamma delta", "en"))
      .toDF("doc_id", "text", "lang")
      // full fixture schema: the loader's drift tripwire checks all columns
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val contained = graft.operators.TextExtras.qDedupContainment.fn(spk, dir)
      .select("contained_id", "container_id", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(contained === Seq((1L, 2L, 1.0)),
      "exactly the quoted-subset direction must pass the containment bar")
    val jaccard = graft.operators.TextExtras.qDedupNgram.fn(spk, dir)
    assert(jaccard.count() === 0,
      "the same pair must stay under the symmetric Jaccard threshold")
  }

  test("TokenBits dense-id remap (vocab > 64k) matches exact intersections; empty sets survive") {
    val spk = spark
    // 3500 docs x 40 terms: 20 from a small shared pool (real overlap) +
    // 20 globally unique => vocab = 997 + 70000 > SmallVocab, forcing the
    // partition-offset dense-id path instead of the single-window dictionary
    val base = spk.range(3500)
      .select(col("id").as("doc_id"), expr(
        """array_distinct(transform(sequence(0, 39), k ->
          |  IF(k < 20, concat('s', pmod(id + k * 151, 997)),
          |             concat('u', id * 20 + k - 20))))""".stripMargin).as("tk"))
    val withEmpty = base.union(
      spk.range(1).select(lit(999999L).as("doc_id"),
        expr("cast(array() as array<string>)").as("tk")))
    val vocab = withEmpty.select(explode(col("tk"))).distinct().count()
    assert(vocab > graft.functions.TokenBits.SmallVocab,
      s"test must exercise the large-vocab path (vocab=$vocab)")
    val enc = graft.functions.TokenBits.withBitmap(withEmpty, "doc_id", "tk", "bits")
    // popcount(a AND b) must equal |A ∩ B| for every consecutive-doc pair
    val pairs = enc.select(col("doc_id").as("a_id"), col("tk").as("a_tk"),
        col("bits").as("a_bits"))
      .join(enc.select((col("doc_id") + 1).as("a_id"), col("tk").as("b_tk"),
        col("bits").as("b_bits")), "a_id")
    val mismatches = pairs
      .withColumn("pc",
        graft.functions.SketchExprs.bitmapAndCount(spk, col("a_bits"), col("b_bits")))
      .withColumn("ex", size(array_intersect(col("a_tk"), col("b_tk"))))
      .filter(col("pc") =!= col("ex")).count()
    assert(mismatches === 0)
    // the empty-set row survives the encode (left join) with an all-zero bitmap
    val emptyRow = enc.filter(col("doc_id") === 999999L)
      .select(expr("aggregate(bits, CAST(0 AS BIGINT), (a, x) -> a + abs(x))"))
      .collect()
    assert(emptyRow.length === 1 && emptyRow.head.getLong(0) === 0L)
  }

  test("minhash-LSH candidates achieve full recall on planted near-dups at J>=0.9") {
    // ids 4 and 5 share 3 of 4 tokens (J=0.75) — NOT a candidate at 0.9;
    // ids 1,2,3 are identical (J=1.0) — MUST be candidates.
    val spk = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_mh").toString
    docs.withColumn("source", lit("s")).withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.SketchDedup.qDedupMinhash.fn(spk, dir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L))) // identical, same lang block
    assert(!out.exists { case (x, y) => Set(x, y) == Set(4L, 5L) }) // J=0.75 < 0.9
  }

  test("connected components close a chain transitively (diameter > 1)") {
    // 10-20-30-40-50 is a path: CC must label all five with 10 even though
    // 10 and 50 never pair directly — this is what the greedy keep-list
    // cannot do, and it needs ceil(log/diameter) propagation rounds, so a
    // one-iteration bug would fail here while passing on fixture cliques.
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (40L, 50L),
      (70L, 60L), // reversed pair: min-label must still win
      (100L, 101L)
    ).toDF("a_id", "b_id")
    val cc = graft.operators.SketchDedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(10L, 20L, 30L, 40L, 50L).forall(cc(_) == 10L))
    assert(cc(60L) == 60L && cc(70L) == 60L)
    assert(cc(100L) == 100L && cc(101L) == 100L)
    assert(cc.size === 9)
  }

  test("connected components match a union-find reference on random graphs") {
    import spark.implicits._
    // deterministic PRNG: three fixed seeds, 40 nodes, 45 random edges —
    // enough to produce multi-component graphs with chains AND cliques
    for (seed <- Seq(7L, 42L, 1234L)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // driver-side union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> {
          // min node id in v's component, restricted to nodes with edges
          val root = find(v.toInt)
          edges.flatMap(e => Seq(e._1, e._2)).distinct
            .filter(u => find(u.toInt) == root).min
        }).toMap
      val got = graft.operators.SketchDedup.connectedComponents(
        edges.toDF("a_id", "b_id")).as[(Long, Long)].collect().toMap
      assert(got === expected, s"seed $seed: labels diverge from union-find")
    }
  }

  test("connected components merge across partitions (local union-find is partial)") {
    // One long chain spread over 8 partitions: each partition's local
    // union-find sees at most a couple of edges, so the global answer can
    // only come from the large-star/small-star phase. 0-1-2-...-19 is one
    // component rooted at 0.
    val edges = (0L until 19L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      .repartition(8)
    val cc = graft.operators.SketchDedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc.size === 20)
    assert((0L to 19L).forall(cc(_) == 0L))
  }

  test("reliable-checkpoint knob yields identical labels to localCheckpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val edges = Seq((10L, 20L), (20L, 30L), (30L, 40L), (100L, 101L))
      .toDF("a_id", "b_id").repartition(6)
    val local = graft.operators.SketchDedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val reliable = graft.operators.SketchDedup.connectedComponents(edges)
        .as[(Long, Long)].collect().toMap
      assert(reliable === local)
      assert(Seq(10L, 20L, 30L, 40L).forall(reliable(_) == 10L))
      // the knob actually engaged: checkpoint files landed in the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint wrote no files — knob not engaged")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }

  test("incremental dedup finds a planted cross-split near-dup and only that") {
    // doc_id % 5 == 4 plays the new batch. Plant one batch doc (id 9)
    // that is a near-dup of a corpus doc (id 3) and one batch doc (id 14)
    // with unrelated content: the decision record must flag exactly id 9
    // against corpus id 3. Exercises the corpus-bands x batch-bands join
    // direction (NOT the a<b self-join) on a synthetic fixture.
    val common = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (3L, s"$common alpha", "en"),      // corpus
      (7L, "totally different words here completely unrelated content", "en"), // corpus
      (9L, s"$common beta", "en"),       // batch: near-dup of 3 (J = 40/42)
      (14L, "nothing in common with anything else at all whatsoever", "en") // batch: clean
    ).toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft_inc").toString
    // full fixture schema: the loader's drift tripwire checks all columns
    docs.withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.SketchDedup.qDedupIncremental.fn(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((9L, 1L, 3L)),
      s"expected exactly (new=9, n_dups=1, first_dup=3), got ${out.toSeq}")
  }

  test("persisted bucketed index probe matches the in-memory incremental path") {
    // The write-once/probe-many artifact (DedupIndex) must make the SAME
    // dedup decisions as q_dedup_incremental's in-memory derivation — on
    // the real sf0.001 corpus, not a toy: index the doc_id % 5 != 4
    // corpus split, write it as bucketed tables, read back, probe with
    // the % 5 == 4 batch, and compare survivors row-for-row.
    val dir = sf()
    val docs = graft.sources.Tables.documents(spark, dir)
    graft.operators.DedupIndex.write(
      docs.filter(col("doc_id") % 5 =!= 4), "graft_dedupspec_idx")
    graft.sources.Scratch.releaseAll()
    val probed = graft.operators.DedupIndex.probe(
        spark, "graft_dedupspec_idx", docs.filter(col("doc_id") % 5 === 4))
      .as[(Long, Long, Long)].collect().toSeq
    graft.sources.Scratch.releaseAll()
    val inMem = graft.operators.SketchDedup.qDedupIncremental.fn(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(probed.nonEmpty, "probe found no duplicates — fixture should plant some")
    assert(probed === inMem,
      s"index probe diverged from in-memory path: ${probed.diff(inMem)} vs ${inMem.diff(probed)}")
    // the scale property the artifact exists for: the corpus bands scan
    // arrives pre-clustered on the band-join key — no Exchange between
    // the bucketed scan and the candidate join
    val plan = graft.operators.DedupIndex.probe(
      spark, "graft_dedupspec_idx", docs.filter(col("doc_id") % 5 === 4))
      .queryExecution.executedPlan.toString
    val bandsScanSide = plan.linesIterator
      .filter(l => l.contains("graft_dedupspec_idx_bands")).mkString("\n")
    assert(bandsScanSide.contains("SelectedBucketsCount") ||
      plan.contains("Bucketed: true"),
      s"corpus bands scan is not bucket-aware:\n$plan")
    spark.sql("DROP TABLE IF EXISTS graft_dedupspec_idx_bands")
    spark.sql("DROP TABLE IF EXISTS graft_dedupspec_idx_tokens")
  }

  test("DedupIndex append maintenance: an admitted batch is visible to the next probe") {
    // The ingest-cycle loop the artifact exists for: index the corpus,
    // probe batch 1, ADMIT it (SaveMode.Append of its token+band rows),
    // then probe batch 2 — a near-dup of a batch-1 doc must now be caught
    // against the appended rows, and corpus matches must keep working.
    val common = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"uniq$i").mkString(" ")
    val corpus = Seq((3L, s"$common alpha", "en")).toDF("doc_id", "text", "lang")
    val batch1 = Seq((10L, s"$other beta", "en")).toDF("doc_id", "text", "lang")
    // batch2 doc 20 near-dups batch-1 doc 10 (J = 40/42); doc 21 near-dups
    // CORPUS doc 3 — both directions must hit after the append
    val batch2 = Seq(
      (20L, s"$other gamma", "en"),
      (21L, s"$common delta", "en")
    ).toDF("doc_id", "text", "lang")
    val name = "graft_dedupspec_append_idx"
    graft.operators.DedupIndex.write(corpus, name)
    graft.sources.Scratch.releaseAll()
    // batch 1 probes clean (shares nothing with the corpus)
    assert(graft.operators.DedupIndex.probe(spark, name, batch1).count() === 0)
    graft.sources.Scratch.releaseAll()
    // admit batch 1: append its token and band rows to the same tables
    graft.operators.DedupIndex.append(batch1, name)
    graft.sources.Scratch.releaseAll()
    val hits = graft.operators.DedupIndex.probe(spark, name, batch2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(hits === Seq((20L, 1L, 10L), (21L, 1L, 3L)),
      s"append-then-probe found $hits, expected batch-1 and corpus matches")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_bands")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_tokens")
  }

  test("DedupIndex append replay heals a crash between the token and band writes") {
    // Crash model: a previous append wrote the batch's token rows and
    // died before the band rows. With a single guard on the first-written
    // table the replay would see the docs as admitted and never write
    // their bands — permanently invisible to every future probe. The
    // per-table guards must instead complete the bands (reading the
    // tokens back from the bucketed table, not re-tokenizing) without
    // duplicating token rows, and a further replay must append nothing.
    val common = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"uniq$i").mkString(" ")
    val corpus = Seq((3L, s"$common alpha", "en")).toDF("doc_id", "text", "lang")
    val batch1 = Seq((10L, s"$other beta", "en")).toDF("doc_id", "text", "lang")
    val batch2 = Seq((20L, s"$other gamma", "en")).toDF("doc_id", "text", "lang")
    val name = "graft_dedupspec_crash_idx"
    graft.operators.DedupIndex.write(corpus, name)
    graft.sources.Scratch.releaseAll()
    // simulate the half-committed admit: token rows land, band rows do not
    graft.sources.Sinks.writeBucketed(
      graft.operators.SketchDedup.tokenFrameOf(batch1), 8, Seq("doc_id"),
      s"${name}_tokens", org.apache.spark.sql.SaveMode.Append)
    // foreachBatch replays the admit
    graft.operators.DedupIndex.append(batch1, name)
    graft.sources.Scratch.releaseAll()
    assert(spark.table(s"${name}_tokens").count() === 2,
      "replayed append duplicated token rows")
    val nBands = spark.table(s"${name}_bands").count()
    assert(spark.table(s"${name}_bands").select("doc_id").distinct().count() === 2,
      "replay did not heal the missing band rows")
    // the healed doc is now visible to a probe
    val hits = graft.operators.DedupIndex.probe(spark, name, batch2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(hits === Seq((20L, 1L, 10L)),
      s"probe after healed append found $hits, expected the batch-1 match")
    graft.sources.Scratch.releaseAll()
    // a fully-completed admit replayed once more appends nothing
    graft.operators.DedupIndex.append(batch1, name)
    assert(spark.table(s"${name}_tokens").count() === 2 &&
      spark.table(s"${name}_bands").count() === nBands,
      "replay of a completed append was not a no-op")
    // PARTIAL-COMMIT crash: a new doc's tokens land and only SOME of its
    // band rows (a crash inside the band write's job commit persists a
    // subset of task files). The replay's row-granular guard must write
    // exactly the missing band rows — no duplicates, no permanent hole.
    val batchP = Seq((30L, (1 to 40).map(i => s"part$i").mkString(" ") +
      " theta", "en")).toDF("doc_id", "text", "lang")
    val tok2 = graft.operators.SketchDedup.tokenFrameOf(batchP)
    graft.sources.Sinks.writeBucketed(tok2, 8, Seq("doc_id"),
      s"${name}_tokens", org.apache.spark.sql.SaveMode.Append)
    graft.sources.Sinks.writeBucketed(
      graft.operators.SketchDedup.bandsOfTokens(spark, tok2)
        .filter(col("band") < 2), // half the doc's bands committed
      8, Seq("lang", "band", "sig"), s"${name}_bands",
      org.apache.spark.sql.SaveMode.Append)
    graft.operators.DedupIndex.append(batchP, name)
    graft.sources.Scratch.releaseAll()
    val bands30 = spark.table(s"${name}_bands")
      .filter(col("doc_id") === 30L)
    assert(bands30.count() === 4 &&
      bands30.select("band").distinct().count() === 4,
      "partial band commit was not healed to exactly one row per band")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_bands")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_tokens")
  }

  test("DedupIndex.register re-declares an index artifact in a bare catalog") {
    // Catalog-recovery path: a fresh session's in-memory catalog knows
    // nothing about the index tables even though their parquet
    // directories survive. register() must re-declare them (schema read
    // from the files, bucketing DDL re-stated) such that a probe against
    // the re-registration is row-identical and still bucket-aware — here
    // proven by registering a SECOND name over the FIRST name's
    // directories (exactly what a fresh session would do with the known
    // warehouse paths).
    val dir = sf()
    val docs = graft.sources.Tables.documents(spark, dir)
    val name = "graft_dedupspec_reg_idx"
    graft.operators.DedupIndex.write(
      docs.filter(col("doc_id") % 5 =!= 4), name)
    graft.sources.Scratch.releaseAll()
    val batch = docs.filter(col("doc_id") % 5 === 4)
    val original = graft.operators.DedupIndex.probe(spark, name, batch)
      .as[(Long, Long, Long)].collect().toSeq
    graft.sources.Scratch.releaseAll()
    def loc(t: String): String = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .location.toString
    val (tokLoc, bandLoc) = (loc(s"${name}_tokens"), loc(s"${name}_bands"))
    val reg = "graft_dedupspec_reg2_idx"
    graft.operators.DedupIndex.register(spark, reg, tokLoc, bandLoc)
    val recovered = graft.operators.DedupIndex.probe(spark, reg, batch)
      .as[(Long, Long, Long)].collect().toSeq
    assert(recovered.nonEmpty && recovered === original,
      s"re-registered index diverged: ${recovered.diff(original)} vs " +
        s"${original.diff(recovered)}")
    graft.sources.Scratch.releaseAll()
    // the re-declared table still serves the bucket-aware probe scan
    val plan = graft.operators.DedupIndex.probe(spark, reg, batch)
      .queryExecution.executedPlan.toString
    val bandsScanSide = plan.linesIterator
      .filter(l => l.contains(s"${reg}_bands")).mkString("\n")
    assert(bandsScanSide.contains("SelectedBucketsCount") ||
      plan.contains("Bucketed: true"),
      s"re-registered bands scan is not bucket-aware:\n$plan")
    // dropping the EXTERNAL re-registration must leave the data intact
    spark.sql(s"DROP TABLE IF EXISTS ${reg}_bands")
    spark.sql(s"DROP TABLE IF EXISTS ${reg}_tokens")
    assert(spark.read.parquet(tokLoc).count() > 0,
      "dropping the re-registration deleted the index data")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_bands")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_tokens")
  }

  test("compactIndex rewrites append litter to one file per bucket, probe-equal") {
    // The maintenance operator's contract: after write + append each
    // bucket holds two file generations; compaction must collapse to ONE
    // file per bucket, keep the bucketing metadata (zero-corpus-shuffle
    // probe survives), and change no probe decision.
    val dir = sf()
    val docs = graft.sources.Tables.documents(spark, dir)
    val name = "graft_dedupspec_cpt_idx"
    graft.operators.DedupIndex.write(docs.filter(col("doc_id") % 5 <= 2), name)
    graft.sources.Scratch.releaseAll()
    graft.operators.DedupIndex.append(docs.filter(col("doc_id") % 5 === 3), name)
    graft.sources.Scratch.releaseAll()
    val batch = docs.filter(col("doc_id") % 5 === 4)
    val before = graft.operators.DedupIndex.probe(spark, name, batch)
      .as[(Long, Long, Long)].collect().toSeq
    graft.sources.Scratch.releaseAll()
    val filesBefore = spark.table(s"${name}_tokens").inputFiles.length
    assert(filesBefore > 8,
      s"write+append should leave >1 file generation per bucket, saw $filesBefore")
    graft.operators.DedupIndex.compactIndex(spark, name)
    assert(spark.table(s"${name}_tokens").inputFiles.length <= 8,
      "tokens table not compacted to one file per bucket")
    assert(spark.table(s"${name}_bands").inputFiles.length <= 8,
      "bands table not compacted to one file per bucket")
    val after = graft.operators.DedupIndex.probe(spark, name, batch)
      .as[(Long, Long, Long)].collect().toSeq
    assert(after === before,
      s"compaction changed probe results: ${after.diff(before)} vs ${before.diff(after)}")
    graft.sources.Scratch.releaseAll()
    // bucketing metadata survived: the probe's corpus scan is bucket-aware
    val plan = graft.operators.DedupIndex.probe(spark, name, batch)
      .queryExecution.executedPlan.toString
    val bandsScanSide = plan.linesIterator
      .filter(l => l.contains(s"${name}_bands")).mkString("\n")
    assert(bandsScanSide.contains("SelectedBucketsCount") ||
      plan.contains("Bucketed: true"),
      s"compacted bands scan is not bucket-aware:\n$plan")
    graft.sources.Scratch.releaseAll()
    spark.sql(s"DROP TABLE IF EXISTS ${name}_bands")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_tokens")
  }

  test("compactIndex heals a crash between its DROP and RENAME") {
    // Crash model: a previous compaction fully staged the compacted table
    // and died after DROPping the live name but before the RENAME — the
    // live name is missing, the staged table holds the complete data. The
    // next compactIndex call must finish the rename instead of failing.
    val common = (1 to 40).map(i => s"tok$i").mkString(" ")
    val corpus = Seq((3L, s"$common alpha", "en"), (7L, s"zz yy xx ww", "en"))
      .toDF("doc_id", "text", "lang")
    val name = "graft_dedupspec_heal_idx"
    graft.operators.DedupIndex.write(corpus, name)
    graft.sources.Scratch.releaseAll()
    val t = s"${name}_tokens"
    // simulate the crash window by hand: stage, then drop the live table
    graft.sources.Sinks.writeBucketed(
      spark.table(t).repartition(8, col("doc_id")), 8, Seq("doc_id"),
      s"${t}__compact")
    spark.sql(s"DROP TABLE `$t`")
    assert(!spark.catalog.tableExists(t))
    graft.operators.DedupIndex.compactIndex(spark, name)
    assert(spark.catalog.tableExists(t), "heal did not restore the live table")
    assert(!spark.catalog.tableExists(s"${t}__compact"),
      "heal left the staged table behind")
    val probe = graft.operators.DedupIndex.probe(spark, name,
      Seq((20L, s"$common beta", "en")).toDF("doc_id", "text", "lang"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(probe === Seq((20L, 1L, 3L)),
      s"healed index lost probe data: $probe")
    graft.sources.Scratch.releaseAll()
    spark.sql(s"DROP TABLE IF EXISTS ${name}_bands")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_tokens")
  }

  test("winnowing honors its match guarantee and compresses the index") {
    val spk = spark
    import spk.implicits._
    // Winnowing guarantee (Schleimer et al. 2003): with k=3-token shingles
    // and window w=4, any shared run of >= w+k-1 = 6 tokens shares at
    // least one fingerprint. Doc 1 is an 8-token run; doc 2 embeds that
    // run verbatim before 30 unrelated tokens, so every one of doc 1's
    // windows also occurs in doc 2 -> overlap 1.0. Doc 3 is token-disjoint
    // from both, so it can share no shingle, hence no fingerprint.
    val run = (1 to 8).map(i => s"s$i").mkString(" ")
    val tail30 = (1 to 30).map(i => s"u$i").mkString(" ")
    val filler = (1 to 100).map(i => s"f${i % 37}x$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow").toString
    Seq((1L, run, "en"), (2L, s"$run $tail30", "en"), (3L, filler, "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val pairs = graft.operators.TextExtras.qDedupWinnow.fn(spk, dir)
      .select("a_id", "b_id", "overlap").as[(Long, Long, Double)]
      .collect().toSeq
    assert(pairs === Seq((1L, 2L, 1.0)),
      s"the embedded >=6-token run must be the one flagged pair, got $pairs")
    // Compression: the 100-token filler doc has 98 shingles but winnowing
    // must keep well under the theoretical-density ~2/(w+1) = 0.4 envelope
    // of them (exact count is deterministic: md5 hashes of fixed tokens).
    val m = 98
    val keptFps = {
      import org.apache.spark.sql.expressions.Window
      val toks = graft.sources.Tables.documents(spk, dir)
        .filter(col("doc_id") === 3L)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p", "t")))
      val byPos = Window.partitionBy("doc_id").orderBy("p")
      val frame = byPos.rowsBetween(0, 3)
      toks
        .withColumn("t1", lead("t", 1).over(byPos))
        .withColumn("t2", lead("t", 2).over(byPos))
        .filter(col("t2").isNotNull)
        .select(col("doc_id"), col("p"),
          expr(graft.functions.PortableHash.spark(
            "concat_ws(' ', t, t1, t2)")).as("h"))
        .withColumn("fp", min("h").over(frame))
        .withColumn("wn", count(lit(1)).over(frame))
        .filter(col("wn") === 4)
        .select("fp").distinct().count()
    }
    assert(keptFps > 0 && keptFps <= (m * 0.6).toInt,
      s"winnowing kept $keptFps of $m shingle hashes — no compression")
  }

  test("fuzzy name matching flags typo variants inside a block and nothing across blocks") {
    val spk = spark
    import spk.implicits._
    // Entity resolution over the name dictionary: "stele anvil" is an
    // le/el transposition typo of "steel anvil" (levenshtein 2, same
    // head-noun block), so the pair must surface with n_affected = 3 + 2
    // rows (a merge would touch all five parts). "steel bolt"
    // is 4 edits from nothing in its own block, and cross-block pairs
    // ("steel anvil" vs "steel bolt", dist 4) must NEVER be compared —
    // blocking on the head noun is what keeps the quadratic term on the
    // dictionary block, not the dictionary.
    val parts = Seq(
      (1L, "steel anvil"), (2L, "steel anvil"), (3L, "steel anvil"),
      (4L, "stele anvil"), (5L, "stele anvil"),
      (6L, "steel bolt"), (7L, "chrome gear")
    ).toDF("p_partkey", "p_name")
      .withColumn("p_brand", lit("B")).withColumn("p_type", lit("T"))
      .withColumn("p_size", lit(1)).withColumn("p_retailprice", lit(1.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzzy").toString
    parts.write.parquet(s"$dir/part.parquet")
    val out = graft.operators.Joins.qJoinFuzzy.fn(spk, dir)
      .as[(String, String, Int, Long)].collect().toSeq
    assert(out === Seq(("steel anvil", "stele anvil", 2, 5L)),
      s"expected exactly the in-block typo pair, got $out")
  }

  test("Scratch.releaseAll frees the CC loop's checkpoint blocks") {
    // localCheckpoint blocks bypass the CacheManager, so neither
    // Dataset.unpersist nor clearCache can release them — the Scratch
    // ckpt registry must, or a long-lived session (the bench) leaks one
    // frame per CC round and later queries run under memory pressure.
    graft.sources.Scratch.releaseAll() // clean slate from earlier tests
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val edges = Seq((10L, 20L), (20L, 30L), (30L, 40L), (100L, 101L))
      .toDF("a_id", "b_id").repartition(6)
    graft.operators.SketchDedup.connectedComponents(edges).count()
    val during = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(during.nonEmpty, "CC run must leave checkpoint blocks to release")
    graft.sources.Scratch.releaseAll()
    val after = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(after.isEmpty,
      s"releaseAll left ${after.size} persistent RDDs (ids $after) pinned")
  }

  test("q_dedup_incremental stays compiled: its third run compiles under 10 classes") {
    // Spark's compiled-class cache is static (build.sbt's javaOptions size
    // it); at the default 100 entries each repeat recompiled ~64 classes.
    // By this suite the tier-1 JVM has filled all 1000 entries, and one
    // full run saw a third run compile 2 classes, so a few are allowed.
    val compiles = (1 to 3).map { _ =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      graft.operators.SketchDedup.qDedupIncremental.fn(spark, sf()).collect()
      graft.sources.Scratch.releaseAll()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val perRun = s"compiles per run: ${compiles.mkString(", ")}"
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) === "1000",
      s"the codegen cache size did not reach the session ($perRun)")
    assert(compiles.last < 10L, perRun)
  }
}
