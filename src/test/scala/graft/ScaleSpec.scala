package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-mechanism artifacts: bucketed co-located joins (no shuffle) and
  * salted skew joins (identical results, finer partitioning). These are
  * the cluster-shape levers the 100 TB design leans on — asserted here on
  * real plans, not just described in docs. */
class ScaleSpec extends SparkTestBase {

  test("bucketed tables join with ZERO shuffle exchanges") {
    val spk = spark
    spk.sql("DROP TABLE IF EXISTS b_orders")
    spk.sql("DROP TABLE IF EXISTS b_lineitem")
    graft.sources.Tables.orders(spk, sf())
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    graft.sources.Tables.lineitem(spk, sf())
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    val prevThreshold = spk.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spk.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spk.table("b_lineitem")
        .join(spk.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // bucket-pruned scans feed the sort-merge join directly: the ONLY
      // exchange allowed is the final single-partition agg shuffle — no
      // exchange between scans and join
      val joinSection = plan.substring(0, plan.length)
      assert(joinSection.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      val exchangesBeforeJoin = plan.split("SortMergeJoin").last
        .split('\n').count(_.contains("Exchange hashpartitioning"))
      assert(exchangesBeforeJoin === 0,
        s"bucketed join must not shuffle its inputs:\n$plan")
    } finally {
      spk.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spk.sql("DROP TABLE IF EXISTS b_orders")
      spk.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("salted join returns exactly the plain join's rows") {
    val spk = spark
    val orders = graft.sources.Tables.orders(spk, sf())
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = graft.sources.Tables.lineitem(spk, sf())
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val plain = lineitem.join(orders, "o_orderkey")
    val salted = graft.functions.Salting.saltedJoin(lineitem, orders, "o_orderkey", 8)
    assert(salted.count() === plain.count())
    // value-level equality, not just counts
    val pSum = plain.agg(sum(expr("o_custkey * l_quantity"))).head().getDouble(0)
    val sSum = salted.agg(sum(expr("o_custkey * l_quantity"))).head().getDouble(0)
    assert(pSum === sSum)
  }

  test("salted join spreads a hot key across salt buckets") {
    val spk = spark
    import spk.implicits._
    // one pathologically hot key: 10k rows of key=1 vs 10 of key=2
    val big = (Seq.fill(10000)(1L) ++ Seq.fill(10)(2L)).zipWithIndex
      .toDF("k", "payload")
    val small = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val salted = big.withColumn("__salt",
      pmod(hash(col("k"), col("payload")), lit(8)))
    val spread = salted.filter(col("k") === 1)
      .groupBy("__salt").count().collect().map(_.getLong(1))
    assert(spread.length === 8, "hot key must occupy all 8 salt buckets")
    assert(spread.max < 10000, "no single bucket may hold the whole hot key")
    // and the join itself stays correct
    val joined = graft.functions.Salting.saltedJoin(big, small, "k", 8)
    assert(joined.count() === 10010)
  }

  test("q_dedup_near's salted pair-join returns exactly the unsalted rows") {
    // The graded q32 salts the 5-value lang block key (hash(a_id) mod R on
    // one side, R-way replication on the other). Salt must only refine the
    // partitioning — the output rows are the plain blocked self-join's.
    val spk = spark
    val dir = sf()
    val salted = graft.operators.TextOps.q32.fn(spk, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val t = graft.sources.Tables.documents(spk, dir)
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("tk"))
    val a = t.select(col("doc_id").as("a_id"), col("lang").as("a_lang"),
      col("tk").as("a_tk"))
    val b = t.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
      col("tk").as("b_tk"))
    val plain = a.join(b,
        col("a_lang") === col("b_lang") && col("a_id") < col("b_id"))
      .withColumn("i", size(array_intersect(col("a_tk"), col("b_tk"))))
      .withColumn("u", size(array_union(col("a_tk"), col("b_tk"))))
      .filter(col("i") * 10 >= col("u") * 9) // J >= 0.9, exact ints
      .select(col("a_id"), col("b_id"),
        round(col("i").cast("double") / col("u"), 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted === plain)
  }

  test("heavy dedup queries survive a constrained spill-pressure session") {
    // The 100 TB claim implicitly assumes the sort/hash-agg FALLBACK paths
    // produce the same rows as the in-memory fast path — prove it instead.
    // spark.memory.fraction is static per-context, so the in-JVM proxy is:
    // 2 shuffle partitions (each task owns half the corpus), no broadcast
    // joins, and HashAggregate's test hook forcing the sort-based fallback
    // + spill after 100 rows per operator instance.
    val dir = sf()
    val constrained = spark.newSession()
    constrained.conf.set("spark.sql.shuffle.partitions", "2")
    constrained.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    constrained.conf.set("spark.sql.TungstenAggregate.testFallbackStartsAt", "100, 200")
    try {
      for (q <- Seq(graft.operators.TextExtras.qDedupNgram,
          graft.operators.SketchDedup.qDedupMinhash,
          graft.operators.CorpusStats.qDocDupMass)) {
        // constrained runs FIRST on a cold cache: the CacheManager is
        // shared across sessions, so running the fast path first would let
        // the constrained plan silently reuse its persisted sub-DAGs and
        // dodge the fallback it is supposed to prove.
        spark.catalog.clearCache()
        val got = q.fn(constrained, dir).collect().map(_.toString).toSeq
        spark.catalog.clearCache()
        val expected = q.fn(spark, dir).collect().map(_.toString).toSeq
        assert(got === expected, s"${q.name} diverged under spill pressure")
      }
    } finally {
      spark.catalog.clearCache() // drop frames persisted by either session
    }
  }

  test("shingle df cap: planted all-docs boilerplate never reaches the inverted-index join") {
    // One template shingle shared by every document would contribute
    // n·(n−1)/2 candidate pairs to the shingle self-join — the quadratic
    // mega-bucket q_dedup_bucket_skew warns about. The df ceiling must
    // drop it from the incidence BEFORE the join while genuinely similar
    // documents still pair on their discriminative shingles.
    val spk = spark
    import spk.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_boiler").toString
    val boiler = "standard footer text"
    val docs =
      // 70 docs (> cap 64), each: the boilerplate + a unique 5-token tail
      (0 until 70).map { i =>
        (i.toLong, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e", "en", "src")
      } ++ Seq(
        // a genuine near-dup pair: identical text beyond the boilerplate
        (100L, s"$boiler alpha beta gamma delta", "en", "src"),
        (101L, s"$boiler alpha beta gamma delta", "en", "src"))
    docs.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    try {
      val inc = graft.operators.TextExtras.shingleInc(spk, dir)
      assert(inc.filter(col("s") === boiler).count() === 0,
        "df > cap boilerplate shingle reached the join input")
      assert(inc.filter(col("doc_id") === 0L).count() > 0,
        "cap must drop only the hot shingle, not the document")
      val pairs = graft.operators.TextExtras.qDedupNgram.fn(spk, dir)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(pairs === Set((100L, 101L)),
        s"expected exactly the planted near-dup pair, got $pairs")
    } finally graft.sources.Scratch.releaseAll()
  }

  test("dsir selection never plans a window (no per-stratum sort)") {
    // The top-25%-per-language cut must come from the histogram
    // threshold refinement, not a rank window: row_number() OVER
    // (PARTITION BY lang) sorts each whole stratum in one task — the
    // single-reducer shape that dies first at 100 TB. Capture every plan
    // the query executes (it is a driver-orchestrated loop of aggregate
    // passes, so there is no single plan to inspect) and assert none
    // carries a Window node or a row_number.
    val spk = spark
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spk.listenerManager.register(listener)
    try {
      val out = SparkEntry.queries("q_dsir")(spk, sf()).collect()
      assert(out.length > 0, "dsir returned no strata")
      // listener events dispatch asynchronously — drain until quiescent
      val deadline = System.currentTimeMillis() + 15000
      var last = -1
      while (System.currentTimeMillis() < deadline && plans.size != last) {
        last = plans.size; Thread.sleep(400)
      }
      assert(!plans.isEmpty, "listener captured no executed plans")
      plans.forEach { p =>
        assert(!p.contains("Window") && !p.contains("row_number"),
          s"dsir executed a window/rank plan:\n$p")
      }
    } finally {
      spk.listenerManager.unregister(listener)
      graft.sources.Scratch.releaseAll()
    }
  }

  test("quality-clf training passes reuse ONE doc_id partitioning") {
    // The trainer's scale contract: the (doc, bucket, count) frame is
    // repartitioned by doc_id ONCE and persisted — every pass's margin
    // aggregate and misclassified-set join must reuse that partitioning
    // instead of re-exchanging the corpus per pass. Cached plans re-embed
    // their build (exchanges included, with BOTH their Initial- and
    // Final-plan prints) in every later plan's InMemoryRelation toString,
    // so naive line counting multiplies the one sanctioned build — the
    // assertions below target the two real failure shapes instead.
    val spk = spark
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spk.listenerManager.register(listener)
    try {
      val out = SparkEntry.queries("q_quality_clf_train")(spk, sf()).collect()
      assert(out.length > 0, "clf trainer returned no strata")
      val deadline = System.currentTimeMillis() + 15000
      var last = -1
      while (System.currentTimeMillis() < deadline && plans.size != last) {
        last = plans.size; Thread.sleep(400)
      }
      assert(!plans.isEmpty, "listener captured no executed plans")
      // (a) the per-pass margin aggregate groups on (doc_id, lang, y);
      // if the cached doc_id partitioning were not reused, every pass
      // would plan exactly a 3-key (doc_id, lang, y) exchange — ban it.
      val marginExchange =
        """Exchange hashpartitioning\(doc_id#\d+L?, lang#\d+, y#\d+L?, \d+\)""".r
      // (b) the explicit repartition materializes ONCE inside the cached
      // build; its Initial/Final prints keep their plan_ids through every
      // InMemoryRelation embedding, so >2 distinct REPARTITION ids means
      // a pass re-repartitioned the corpus.
      val repartitionIds = scala.collection.mutable.Set[String]()
      val repRe = """REPARTITION_BY_NUM, \[plan_id=(\d+)""".r
      plans.forEach { p =>
        assert(!p.contains("CartesianProduct"),
          s"clf trainer degraded to a cartesian:\n$p")
        assert(marginExchange.findFirstIn(p).isEmpty,
          s"a training pass re-exchanged the corpus for its margin " +
            s"aggregate instead of reusing the cached doc_id partitioning:\n$p")
        repRe.findAllMatchIn(p).foreach(m => repartitionIds += m.group(1))
      }
      assert(repartitionIds.size <= 2,
        s"clf training repartitioned the corpus more than once: " +
          s"${repartitionIds.size} distinct REPARTITION plan ids")
    } finally {
      spk.listenerManager.unregister(listener)
      graft.sources.Scratch.releaseAll()
    }
  }

  /** A fresh table root for a layout spec. */
  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  /** PipelineOps' layout fixtures over `name`'s orders. */
  private def zOrdersXY(name: String = "sf0.01"): DataFrame =
    graft.operators.PipelineOps.zOrdersXY(spark, sf(name))
  private def ordersXYZ(): DataFrame =
    graft.operators.PipelineOps.ordersXYZ(spark, sf("sf0.01"))

  /** The live version's `_stats` manifest of table `root`. */
  private def liveStats(root: String): DataFrame = spark.read.parquet(
    s"${graft.sources.Sinks.resolveTable(spark, root)}/_stats")

  /** `root`'s `_stats` rows whose envelopes intersect every range of `box`. */
  private def boxSel(root: String, box: (String, Int, Int)*): DataFrame =
    liveStats(root).filter(box.map { case (c, lo, hi) =>
      col(s"${c}_max") >= lo && col(s"${c}_min") <= hi
    }.reduce(_ && _))

  /** Normalized URI paths of a frame's `file` column (footer-harvested
    * manifests render `file:/p`, input_file_name renders `file:///p`). */
  private def fileSet(df: DataFrame): Set[String] =
    df.select("file").collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath).toSet

  /** Order-free (count, exact price sum) signature of a frame. */
  private def priceSig(df: DataFrame): org.apache.spark.sql.Row =
    df.agg(count(lit(1)), sum((col("o_totalprice") * 100).cast("long"))).head()

  /** The Bloom seed's line items, and the seeded table at `root` — the
    * seed must keep every line item under its own merge key. */
  private def bloomSeeded(root: String): DataFrame = {
    val li = graft.sources.Tables.lineitem(spark, sf("sf0.01"))
      .select("l_orderkey", "l_shipdate", "l_quantity")
    graft.operators.PipelineOps.bloomSeed(li, root)
    val t = graft.sources.Sinks.readTable(spark, root)
    assert(t.count() === li.count() && t.select("key").distinct().count() === li.count(),
      "the Bloom seed lost line items or repeated a merge key")
    li
  }

  test("z-order skip-scan reads a STRICT subset of files, losing no rows") {
    // The pruning half of q_layout_zorder_skip (the oracle hash proves
    // correctness; THIS proves the scan-cost win): after the z-ordered
    // clustered seed, a two-dimensional predicate box selects strictly
    // fewer manifest files than the table holds, and the pruned read's
    // result is exactly the full table's filtered result. A one-tile box
    // is used so strictness holds even at sf0.001's 16 near-empty files.
    val spk = spark
    val root = tmpRoot("zskip_spec")
    graft.operators.PipelineOps.clusteredSeed(zOrdersXY(), root, "zkey", Seq("x", "y"))
    val total = liveStats(root).count()
    val selected = boxSel(root, ("x", 32, 47), ("y", 96, 111)).count()
    info(s"manifest: $selected of $total files intersect the tile box")
    assert(selected < total,
      s"skip-scan pruned nothing: $selected of $total files selected")
    assert(selected > 0, "tile box selected zero files — fixture drift?")
    val pruned = priceSig(graft.operators.PipelineOps
      .boxSkip(spk, root, ("x", 32, 47), ("y", 96, 111)))
    val full = priceSig(graft.sources.Sinks.readTable(spk, root)
      .filter(col("x").between(32, 47) && col("y").between(96, 111)))
    assert(pruned === full,
      s"pruned scan diverged from full filter: $pruned vs $full")
    assert(pruned.getLong(0) > 0, "tile box matched zero rows — widen it")
  }

  test("bloom skip-scan reads a STRICT subset of files, losing no rows") {
    // The pruning half of q_layout_bloom_skip: on a ship-date-clustered
    // table, a 3-orderkey point lookup must select strictly fewer
    // manifest files than the table holds (min/max can't help here —
    // orderkeys span the full domain in every file; the Bloom sketch
    // can), and the pruned read must equal the full table's IN filter.
    val spk = spark
    import spk.implicits._
    val root = tmpRoot("bloomskip_spec")
    val li = bloomSeeded(root)
    val keys = li.select("l_orderkey").orderBy("l_orderkey").limit(3)
      .collect().map(_.getLong(0)).toSeq
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val bloom = spk.read.parquet(s"$live/_bloom")
    val total = bloom.count()
    val pruned = graft.sources.Sinks
      .readTableSkip(spk, root, Nil, Some(("l_orderkey", keys)))
    val prunedFiles = pruned.select(input_file_name()).distinct().count()
    info(s"bloom manifest: lookup touched <= $prunedFiles of $total files")
    val agg = pruned.groupBy()
      .agg(count(lit(1)), sum((col("l_quantity") * 100).cast("long"))).head()
    val full = graft.sources.Sinks.readTable(spk, root).filter(col("l_orderkey").isin(keys: _*))
      .groupBy()
      .agg(count(lit(1)), sum((col("l_quantity") * 100).cast("long"))).head()
    assert(agg === full,
      s"bloom-pruned scan diverged from full filter: $agg vs $full")
    assert(agg.getLong(0) > 0, "probe keys matched zero rows")
    // strictness on the SELECTED file list, not just the touched one:
    // re-derive the selection on the driver from the sketch bytes, and
    // check the distributed probe the read used agrees with it
    val hashes = keys.toDF("k").select(xxhash64(col("k"))).collect().map(_.getLong(0))
    val selected = bloom.collect().count { r =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
      hashes.exists(bf.mightContainLong)
    }
    val Seq((_, probe)) = graft.sources.Sinks
      .skipManifests(spk, live, Nil, Some(("l_orderkey", keys)))
    info(s"bloom manifest: $selected of $total files selected")
    assert(probe.count() === selected.toLong,
      "distributed bloom probe disagrees with the driver-side sketch test")
    assert(selected < total,
      s"bloom skip pruned nothing: $selected of $total files selected")
  }

  test("combined stats+bloom skip reads strictly fewer files than either manifest alone") {
    // q_layout_skip_combo's pruning claim: the range manifest keeps a
    // contiguous stripe of date-sorted files, the Bloom manifest keeps
    // the keys' scattered may-contain files, and the scan reads only the
    // intersection — strictly smaller than the stats selection (the
    // stripe) and no larger than the bloom selection, still lossless.
    val spk = spark
    val root = tmpRoot("comboskip_spec")
    val li = bloomSeeded(root)
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-12-31 23:59:59").cast("timestamp")
    // keys with a guaranteed in-window shipment, so the lookup has
    // answers; their OTHER shipments scatter across the whole span, so
    // the bloom set is wider than the stats stripe and the intersection
    // does real work
    val keys = li.filter(col("l_shipdate").between(lo, hi))
      .select("l_orderkey").distinct().orderBy("l_orderkey").limit(3)
      .collect().map(_.getLong(0)).toSeq
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val total = spk.read.parquet(s"$live/_bloom").count()
    // the selections the combined read intersects — re-derived here from
    // each manifest, NOT the post-residual touched-file count (which is a
    // subset of any selection by construction and can't catch a manifest
    // being ignored)
    val Seq((_, statsHit), (_, bloomHit)) = graft.sources.Sinks
      .skipManifests(spk, live, Seq(("l_shipdate", lo, hi)), Some(("l_orderkey", keys)))
    val (statFiles, bloomFiles) = (fileSet(statsHit), fileSet(bloomHit))
    val (statsSel, bloomSel) = (statFiles.size, bloomFiles.size)
    val comboSel = bloomFiles.count(statFiles)
    info(s"files: total=$total stats=$statsSel bloom=$bloomSel intersection=$comboSel")
    assert(statsSel < total && bloomSel < total,
      s"one manifest pruned nothing: stats=$statsSel bloom=$bloomSel of $total")
    assert(comboSel < statsSel && comboSel < bloomSel,
      s"intersection ($comboSel) not strictly below both manifests " +
        s"(stats=$statsSel bloom=$bloomSel) — is one manifest being ignored?")
    val combo = graft.sources.Sinks.readTableSkip(spk, root,
      Seq(("l_shipdate", lo, hi)), Some(("l_orderkey", keys)))
    val comboFiles = combo.select(input_file_name()).distinct().collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath).toSet
    assert(comboFiles.subsetOf(statFiles intersect bloomFiles),
      "combined read touched a file outside the manifests' intersection")
    val agg = combo.groupBy()
      .agg(count(lit(1)), sum((col("l_quantity") * 100).cast("long"))).head()
    val full = graft.sources.Sinks.readTable(spk, root)
      .filter(col("l_orderkey").isin(keys: _*) &&
        col("l_shipdate").between(lo, hi))
      .groupBy()
      .agg(count(lit(1)), sum((col("l_quantity") * 100).cast("long"))).head()
    assert(agg === full,
      s"combined prune diverged from full filter: $agg vs $full")
    assert(agg.getLong(0) > 0, "in-window probe keys matched zero rows")
  }

  test("stats manifest refresh after append is O(batch): only new files indexed") {
    // q_layout_skip_append's maintenance claim: a merge-on-read append of
    // new keys harvests ONLY its landed files' footer envelopes into the
    // live `_stats` (never rescanning the base), and the skip-scan still
    // prunes the sorted base while always keeping the wide-envelope
    // appended files. Then q_layout_optimize_inc's: OPTIMIZE restores
    // pruning, losslessly.
    val spk = spark
    val root = tmpRoot("zskip_app_spec")
    val xy = zOrdersXY()
    graft.operators.PipelineOps.clusteredSeed(
      xy.filter(col("x") % 4 =!= 0), root, "zkey", Seq("x", "y"))
    val baseRows = fileSet(liveStats(root))
    // the version's committed files: its `_files` commit log
    def liveFiles: Set[String] = fileSet(spk.read
      .parquet(s"${graft.sources.Sinks.resolveTable(spk, root)}/_files")
      .filter(!col("dir")).select(col("entry").as("file")))
    assert(baseRows === liveFiles, "seed manifest does not cover the seed files")
    // idempotency: an append that lands nothing adds nothing
    graft.sources.Sinks.upsertBatchDv(xy.limit(0), root, "key", "seq")
    assert(liveStats(root).count() === baseRows.size.toLong,
      "an empty append mutated the manifest")
    // two arriving batches of new keys, each landing wide-envelope files
    Seq(0, 1).foreach { half =>
      graft.sources.Sinks.upsertBatchDv(
        xy.filter(col("x") % 4 === 0 && col("y") % 2 === half), root, "key", "seq")
    }
    val after = liveStats(root).select("file").collect().map(_.getString(0))
    assert(after.length === after.distinct.length,
      "harvest duplicated manifest rows (path-format drift?)")
    val added = fileSet(liveStats(root)) -- baseRows
    val landed = liveFiles -- baseRows
    info(s"manifest harvest: ${baseRows.size} base rows + ${added.size} appended")
    assert(landed.nonEmpty && added === landed,
      s"expected exactly the ${landed.size} landed files indexed, got ${added.size}")
    // the appended wide files are always selected; the base still prunes
    val sel = fileSet(boxSel(root, ("x", 32, 47), ("y", 96, 111)))
    assert(added.subsetOf(sel), "wide appended files must stay selected")
    assert(sel.size < after.length,
      s"scan after append pruned nothing: ${sel.size} of ${after.length}")
    val full = priceSig(graft.sources.Sinks.readTable(spk, root)
      .filter(col("x").between(32, 47) && col("y").between(96, 111)))
    val pruned = priceSig(graft.operators.PipelineOps
      .boxSkip(spk, root, ("x", 32, 47), ("y", 96, 111)))
    assert(pruned === full,
      s"post-append skip-scan diverged from full filter: $pruned vs $full")
    // OPTIMIZE restores pruning: the tile box over the reclustered
    // version selects strictly fewer files than the post-append manifest,
    // where the two batches' wide files sit on top of the base's tile files
    val before = sel.size.toLong
    graft.sources.Sinks.optimizeClustered(spk, root, 16, Seq("zkey", "x", "y"))
    val afterOpt = boxSel(root, ("x", 32, 47), ("y", 96, 111)).count()
    info(s"tile-box file selection: post-append=$before optimized=$afterOpt")
    assert(afterOpt < before,
      s"optimize did not restore pruning: $before -> $afterOpt files")
    val optAgg = priceSig(graft.operators.PipelineOps
      .boxSkip(spk, root, ("x", 32, 47), ("y", 96, 111)))
    assert(optAgg === full,
      s"optimized skip-scan diverged from full filter: $optAgg vs $full")
  }

  test("OPTIMIZE folds a streaming arrival and the tile box prunes again") {
    // q_layout_optimize's claims: a writeBatch arrival is a `batch=` dir
    // no manifest covers, so every skip-read reads it (wide, unpruned);
    // the OPTIMIZE commit reclusters base + arrival into a new version
    // whose manifest covers everything with tight envelopes, conserving
    // content, and the tile box then reads strictly fewer files.
    val spk = spark
    val root = tmpRoot("zskip_opt_spec")
    val xy = zOrdersXY()
    graft.operators.PipelineOps.clusteredSeed(
      xy.filter(col("x") % 4 =!= 0), root, "zkey", Seq("x", "y"))
    graft.sources.Sinks.writeBatch(
      xy.filter(col("x") % 4 === 0).repartition(2), root, 1L)
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val arrival = new java.io.File(s"$live/batch=1").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = boxSel(root, ("x", 32, 47), ("y", 96, 111)).count() + arrival
    // content conserved (count + order-free checksum over all columns)
    def sig = graft.sources.Sinks.readTable(spk, root)
      .agg(count(lit(1)),
        sum(pmod(xxhash64(col("x"), col("y"), col("o_totalprice"),
          col("zkey")), lit(1000000007L))))
      .head()
    val preSig = sig
    assert(preSig.getLong(0) === xy.count(), "the arrival is not visible")
    graft.sources.Sinks.optimizeClustered(spk, root, 16, Seq("zkey", "x", "y"))
    assert(sig === preSig, "optimize lost or invented rows")
    val optLive = graft.sources.Sinks.resolveTable(spk, root)
    assert(!new java.io.File(s"$optLive/batch=1").exists,
      "the optimized version still carries the arrival dir")
    val after = boxSel(root, ("x", 32, 47), ("y", 96, 111)).count()
    info(s"tile-box files read: post-arrival=$before optimized=$after " +
      s"($arrival arrival files always read)")
    assert(after < before, s"optimize did not restore pruning: $before -> $after")
    val a = priceSig(graft.operators.PipelineOps
      .boxSkip(spk, root, ("x", 32, 47), ("y", 96, 111)))
    val f = priceSig(xy.filter(col("x").between(32, 47) && col("y").between(96, 111)))
    assert(a === f, s"optimized skip-scan diverged: $a vs $f")
  }

  test("3-D z-order: strict-subset pruning, and the third dimension prunes files on its own") {
    // q_layout_zorder3_skip's scale claims: (a) the 3-D box reads a
    // strict subset of files losing no rows, (b) the THIRD envelope pays
    // for itself — adding the z predicate to the (x, y) box prunes files
    // the 2-D envelopes alone would keep. (b) is what justifies the
    // coarser per-dimension envelopes a 3-column interleave gives.
    val spk = spark
    val root = tmpRoot("z3skip_spec")
    val xyz = ordersXYZ()
    graft.operators.PipelineOps.clusteredSeed(
      xyz.withColumn("zkey3",
        graft.operators.PipelineOps.morton3(col("x"), col("y"), col("z"))),
      root, "zkey3", Seq("x", "y", "z"))
    val total = liveStats(root).count()
    def selected(zLo: Int, zHi: Int): Long =
      boxSel(root, ("x", 32, 95), ("y", 64, 127), ("z", zLo, zHi)).count()
    val with3 = selected(0, 127)
    val without3 = selected(0, 255)
    info(s"3-D manifest: $total files, (x,y) box keeps $without3, +z keeps $with3")
    assert(with3 < total, "3-D skip-scan pruned nothing")
    assert(with3 < without3,
      s"the z envelope pruned nothing beyond (x, y): $with3 vs $without3")
    val a = priceSig(graft.operators.PipelineOps
      .boxSkip(spk, root, ("x", 32, 95), ("y", 64, 127), ("z", 0, 127)))
    val b = priceSig(graft.sources.Sinks.readTable(spk, root)
      .filter(col("x").between(32, 95) && col("y").between(64, 127) &&
        col("z").between(0, 127)))
    assert(a === b, s"3-D pruned scan diverged from full filter: $a vs $b")
    assert(a.getLong(0) > 0, "3-D box matched zero rows")
  }

  test("a hive-partitioned version's _stats covers its nested files") {
    // The latent-miss guard: a hive-partitioned version's data files live
    // in p=<v>/ subdirectories — a flat listing would silently never
    // index them and every skip-scan would prune against a stale
    // manifest. The commit-time recursive listing must find exactly the
    // nested files (and keep skipping _/.-hidden entries).
    val spk = spark
    val root = tmpRoot("part_stats_spec")
    graft.sources.Sinks.upsertBatch(
      zOrdersXY().withColumn("p", (col("key") % 2).cast("int")),
      root, "key", "seq", statsCols = Seq("x", "y"))
    graft.sources.Sinks.compact(spk, root, 2, partitionCols = Seq("p"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val nested = new java.io.File(live).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("p="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
      .map(_.getPath).toSet
    val manifest = fileSet(liveStats(root))
    info(s"partitioned version: ${nested.size} nested files, ${manifest.size} manifest rows")
    assert(nested.nonEmpty && manifest === nested,
      s"manifest does not cover exactly the nested p=<v>/ files: $manifest vs $nested")
  }

  test("merge-maintained table keeps file skipping: manifest covers the live version, scan prunes strictly") {
    // q_layout_merge_skip's layout claim: each upsertBatch(statsCols)
    // commit re-clusters its version and carries a per-file manifest
    // INSIDE the version dir, so the skip-scan (a) covers exactly the
    // live version's files, (b) reads a strict subset for a narrow date
    // window, and (c) equals the full filter.
    val spk = spark
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_mergeskip").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.01"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(
      ord.withColumn("seq", lit(1L)), root, "key", "seq",
      statsCols = Seq("o_orderdate"))
    graft.sources.Sinks.upsertBatch(
      ord.filter(col("key") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100)
        .withColumn("seq", lit(2L)), root, "key", "seq",
      statsCols = Seq("o_orderdate"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    assert(spk.read.parquet(live).count() === ord.count(),
      "MERGE changed the keyed row count")
    // normalized URI-path compare: footer-harvested manifests render files
    // as the listing does (file:/p) while input_file_name renders file:///p
    def normP(s: String): String = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val liveFiles = spk.read.parquet(live).select(input_file_name())
      .distinct().collect().map(r => normP(r.getString(0))).toSet
    val manifest = spk.read.parquet(s"$live/_stats")
    val manifestFiles = manifest.select("file").collect()
      .map(r => normP(r.getString(0))).toSet
    assert(manifestFiles === liveFiles,
      s"manifest does not cover the live version: ${manifestFiles.size} vs ${liveFiles.size}")
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-02-29 23:59:59").cast("timestamp")
    val pruned = graft.sources.Sinks.readTableSkip(spk, root, Seq(("o_orderdate", lo, hi)))
    val prunedFiles = pruned.select(input_file_name()).distinct().count()
    info(s"merge-skip: $prunedFiles of ${liveFiles.size} files for a 2-month window")
    assert(prunedFiles < liveFiles.size,
      "merge-maintained skip-scan pruned nothing")
    val a = pruned.agg(count(lit(1)),
      sum((col("o_totalprice") * 100).cast("long"))).head()
    val b = spk.read.parquet(live).filter(col("o_orderdate").between(lo, hi))
      .agg(count(lit(1)), sum((col("o_totalprice") * 100).cast("long"))).head()
    assert(a === b, s"merge-skip scan diverged from full filter: $a vs $b")
  }

  test("layout contract survives every rewriting mutator (plain upsert, purge, compact, optimize)") {
    // Once a table is layout-maintained (a statsCols commit), every
    // version published by ANY mutator must carry a fresh `_stats`
    // manifest covering exactly its files — otherwise the first
    // unrelated maintenance run (a compaction, a tombstone purge, an
    // upsert that didn't name statsCols) silently turns every skip-scan
    // into a full scan until someone notices. The propagation reads the
    // manifest's own column names from the LIVE version at commit time.
    val spk = spark
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_statprop").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.01"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"), (col("o_orderkey") % 100 === 0).as("del"))
    def check(stage: String): Unit = {
      val live = graft.sources.Sinks.resolveTable(spk, root)
      val sp = s"$live/_stats"
      assert(new java.io.File(sp).exists,
        s"$stage: version lost its _stats manifest")
      assert(new java.io.File(s"$live/_bloom").exists,
        s"$stage: version lost its _bloom manifest")
      // normalized URI-path compare (footer manifests render file:/p,
      // input_file_name renders file:///p)
      def normP(s: String): String = new org.apache.hadoop.fs.Path(s).toUri.getPath
      val manifestFiles = spk.read.parquet(sp)
        .select("file").collect().map(r => normP(r.getString(0))).toSet
      val liveFiles = spk.read.parquet(live).select(input_file_name())
        .distinct().collect().map(r => normP(r.getString(0))).toSet
      assert(manifestFiles === liveFiles,
        s"$stage: manifest/file drift (${manifestFiles.size} vs ${liveFiles.size})")
      val bloomFiles = spk.read.parquet(s"$live/_bloom")
        .select("file").collect().map(r => normP(r.getString(0))).toSet
      assert(bloomFiles === liveFiles,
        s"$stage: bloom manifest/file drift (${bloomFiles.size} vs ${liveFiles.size})")
      val lo = lit("1996-01-01 00:00:00").cast("timestamp")
      val hi = lit("1996-02-29 23:59:59").cast("timestamp")
      val a = graft.sources.Sinks.readTableSkip(spk, root, Seq(("o_orderdate", lo, hi)))
        .agg(count(lit(1)), sum((col("o_totalprice") * 100).cast("long"))).head()
      val b = spk.read.parquet(live).filter(col("o_orderdate").between(lo, hi))
        .agg(count(lit(1)), sum((col("o_totalprice") * 100).cast("long"))).head()
      assert(a === b, s"$stage: skip-scan diverged from full filter")
      // point lookup through the Bloom manifest: lossless + strict subset
      val keys = Seq(1L, 2L, 3L)
      val bl = graft.sources.Sinks.readTableSkip(spk, root, Nil, Some(("key", keys)))
      val blFiles = bl.select(input_file_name()).distinct().count()
      assert(blFiles < liveFiles.size,
        s"$stage: bloom lookup pruned nothing ($blFiles of ${liveFiles.size})")
      val c = bl.agg(count(lit(1)),
        sum((col("o_totalprice") * 100).cast("long"))).head()
      val d = spk.read.parquet(live).filter(col("key").isin(keys: _*))
        .agg(count(lit(1)), sum((col("o_totalprice") * 100).cast("long"))).head()
      assert(c === d, s"$stage: bloom lookup diverged from full IN filter")
    }
    // seed establishes the contract (both manifest kinds)
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"), bloomCol = "key")
    check("seed")
    // a plain upsert (no statsCols) inherits it
    graft.sources.Sinks.upsertBatch(
      ord.filter(col("key") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
        .withColumn("seq", lit(2L)), root, "key", "seq")
    check("plain-upsert")
    // tombstone purge keeps it
    graft.sources.Sinks.purgeTombstones(spk, root, "del")
    check("purge")
    assert(graft.sources.Sinks.readTable(spk, root)
      .filter(col("del")).count() === 0, "purge left tombstones")
    // compaction keeps it (envelopes re-measured over coalesced files)
    graft.sources.Sinks.compact(spk, root, 4)
    check("compact")
    // OPTIMIZE keeps it and re-tightens: clustered envelopes prune again
    graft.sources.Sinks.optimizeClustered(spk, root, 16, Seq("o_orderdate"))
    check("optimize")
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val total = spk.read.parquet(s"$live/_stats").count()
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-02-29 23:59:59").cast("timestamp")
    val sel = spk.read.parquet(s"$live/_stats")
      .filter(col("o_orderdate_max") >= lo && col("o_orderdate_min") <= hi)
      .count()
    info(s"post-optimize: $sel of $total files for a 2-month window")
    assert(sel < total, "post-OPTIMIZE manifest prunes nothing")
  }

  test("hilbert key is a true Hilbert curve; its box selection stays tile-tight") {
    // (a) Curve properties over the WHOLE 256x256 grid: bijective onto
    // [0, 65536) and UNIT-STEP (consecutive curve positions are grid-
    // adjacent) — the property that makes a contiguous hkey range one
    // connected tile. A curve-shaped hash would pass neither.
    val spk = spark
    import spk.implicits._
    val grid = spk.range(65536).select(
      (col("id") / 256).cast("int").as("x"),
      (col("id") % 256).cast("int").as("y"))
    val keyed = graft.operators.PipelineOps.withHilbert(grid)
      .select("hkey", "x", "y").as[(Long, Int, Int)].collect()
    assert(keyed.map(_._1).distinct.length === 65536,
      "hkey is not a bijection on the grid")
    assert(keyed.map(_._1).forall(d => d >= 0 && d < 65536),
      "hkey out of the curve's range")
    val byD = keyed.map(t => t._1 -> ((t._2, t._3))).toMap
    val nonAdjacent = (0L until 65535L).count { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(nonAdjacent === 0,
      s"$nonAdjacent consecutive curve steps are not grid-adjacent")
    // (b) locality on the graded box. The morton comparison is REPORTED,
    // not asserted: repartitionByRange's reservoir sampling shifts file
    // cut points run-to-run, so either curve's tile count jitters by ±1
    // (observed 3-vs-4 flip both ways) — the deterministic lock is the
    // curve property above plus a loose tile-tightness bound: a 64x64
    // box is 1/16 of the area, 4 connected 16-file tiles cover it, so
    // selection must stay well under half the files.
    val root = tmpRoot("hskip_spec")
    val zRoot = tmpRoot("hskip_spec_z")
    graft.operators.PipelineOps.clusteredSeed(
      graft.operators.PipelineOps.withHilbert(zOrdersXY().drop("zkey")), root,
      "hkey", Seq("x", "y"))
    graft.operators.PipelineOps.clusteredSeed(zOrdersXY(), zRoot, "zkey", Seq("x", "y"))
    def selected(r: String): Long = boxSel(r, ("x", 32, 95), ("y", 64, 127)).count()
    val h = selected(root)
    val z = selected(zRoot)
    info(s"box (64x64 of 256x256): hilbert selects $h of 16, morton $z of 16")
    assert(h <= 6,
      s"hilbert box selection lost tile-tightness: $h of 16 files")
    val a = priceSig(graft.operators.PipelineOps
      .boxSkip(spk, root, ("x", 32, 95), ("y", 64, 127)))
    val b = priceSig(graft.sources.Sinks.readTable(spk, root)
      .filter(col("x").between(32, 95) && col("y").between(64, 127)))
    assert(a === b, s"hilbert-pruned scan diverged from full filter: $a vs $b")
  }

  test("manifest pruning is sound under post-commit streaming arrivals (writeBatch)") {
    // The streaming sink lands batch=N/ dirs INSIDE the live version
    // AFTER its commit-time manifests were written. The skip-scans'
    // contract is "the manifest prunes only what it covers": files the
    // manifest doesn't know are ALWAYS read, so a lookup for a row that
    // exists only in a post-commit micro-batch still finds it — trusting
    // the manifest's file list alone would silently drop those rows.
    val spk = spark
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_streamskip").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.01"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"), bloomCol = "key")
    // a micro-batch arrives after the commit: brand-new keys, in-window
    // dates — present in NO manifest
    val batch = spk.range(2).select(
      (col("id") + 9000000L).as("key"),
      lit("1996-02-10 00:00:00").cast("timestamp").as("o_orderdate"),
      lit(42.0).as("o_totalprice"),
      lit(1L).as("seq"))
    graft.sources.Sinks.writeBatch(batch, root, 7L)
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-02-29 23:59:59").cast("timestamp")
    // the truth side goes through readTable — the layout-aware read. A
    // plain spark.read.parquet of this MIXED version (root files + the
    // batch=7 dir) silently drops the whole merged base via partition
    // discovery, which made the r17 version of this compare vacuous (both
    // sides degenerated identically). Lock the absolute counts so neither
    // side can silently shrink again.
    val fullTable = graft.sources.Sinks.readTable(spk, root)
    assert(fullTable.count() === ord.count() + 2,
      "readTable lost rows on the mixed root-files+batch-dir version")
    val a = graft.sources.Sinks.readTableSkip(spk, root, Seq(("o_orderdate", lo, hi)))
      .agg(count(lit(1)), sum((col("o_totalprice") * 100).cast("long"))).head()
    val b = fullTable.filter(col("o_orderdate").between(lo, hi))
      .agg(count(lit(1)), sum((col("o_totalprice") * 100).cast("long"))).head()
    val baseInWindow = ord.filter(col("o_orderdate").between(lo, hi)).count()
    assert(b.getLong(0) === baseInWindow + 2,
      s"full read lost base or batch rows: ${b.getLong(0)} vs $baseInWindow + 2")
    assert(a === b,
      s"range skip-scan lost the post-commit micro-batch: $a vs $b")
    // point lookup for a batch-only key: no sketch covers it, the
    // unknown-files valve must surface it anyway
    val hit = graft.sources.Sinks
      .readTableSkip(spk, root, Nil, Some(("key", Seq(9000001L))))
      .select("key", "o_totalprice").collect()
    assert(hit.map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      Set((9000001L, 42.0)),
      s"bloom lookup lost the post-commit micro-batch row: ${hit.mkString}")
  }

  test("string-keyed clustering prunes: hashed-slot envelopes select a strict file subset, residual keeps exactness") {
    // q_layout_zorder_str's layout claim: clustering on the Morton
    // interleave of md5-slot projections of (lang, source) gives per-file
    // envelopes that prune a string point-lookup to a strict subset of
    // files, and the exact string residual keeps hash collisions harmless.
    val spk = spark
    val root = tmpRoot("strskip_spec")
    val keyed = graft.sources.Tables.documents(spk, sf("sf0.01"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .withColumn("x",
        expr(s"${graft.functions.PortableHash.spark("lang")} % 256").cast("int"))
      .withColumn("y",
        expr(s"${graft.functions.PortableHash.spark("source")} % 256").cast("int"))
    graft.operators.PipelineOps.clusteredSeed(
      keyed.withColumn("zkey", graft.operators.PipelineOps.morton(col("x"), col("y"))),
      root, "zkey", Seq("x", "y"))
    def slot(v: String): Int = spk.sql(
      s"SELECT CAST(${graft.functions.PortableHash.spark(s"'$v'")} % 256 AS INT)")
      .head().getInt(0)
    val (hx, hy) = (slot("de"), slot("src7"))
    val sel = boxSel(root, ("x", hx, hx), ("y", hy, hy)).count()
    val total = liveStats(root).count()
    info(s"string point-lookup: $sel of $total files")
    assert(sel < total, "hashed-slot envelopes pruned nothing")
    val a = graft.operators.PipelineOps.boxSkip(spk, root, ("x", hx, hx), ("y", hy, hy))
      .filter(col("lang") === "de" && col("source") === "src7")
      .agg(count(lit(1)), sum("n_chars")).head()
    val b = graft.sources.Sinks.readTable(spk, root)
      .filter(col("lang") === "de" && col("source") === "src7")
      .agg(count(lit(1)), sum("n_chars")).head()
    assert(a === b, s"string skip-scan diverged from full filter: $a vs $b")
    assert(a.getLong(0) > 0, "probe pair missing from the fixture")
  }

  test("pruned skip-scan of a hive-partitioned table keeps partition values that live only in dir names") {
    // The r17 ADVICE finding, on the versioned table protocol: a pruned
    // read of an explicit file list without a basePath reads a column
    // whose values exist ONLY in directory names (p=.../part-*.parquet)
    // as NULL — the declared read schema forces the column to exist, so
    // nothing fails loudly — while the full scan keeps it: wrong data
    // exactly when pruning works. The skip reader anchors its committed
    // file entries to the live version as basePath.
    val spk = spark
    val root = tmpRoot("partskip_spec")
    graft.sources.Sinks.upsertBatch(
      zOrdersXY("sf0.001").withColumn("p", (col("key") % 4).cast("int")),
      root, "key", "seq", statsCols = Seq("x", "y"))
    graft.sources.Sinks.compact(spk, root, 2, partitionCols = Seq("p"))
    val pruned = graft.operators.PipelineOps
      .boxSkip(spk, root, ("x", 32, 95), ("y", 64, 127))
    assert(pruned.filter(col("p").isNull).count() === 0,
      "pruned read nulled the dir-only partition column")
    val a = pruned.groupBy("p")
      .agg(count(lit(1)), sum((col("o_totalprice") * 100).cast("long")))
      .collect().map(_.toString).sorted.toSeq
    val b = graft.sources.Sinks.readTable(spk, root)
      .filter(col("x").between(32, 95) && col("y").between(64, 127))
      .groupBy("p")
      .agg(count(lit(1)), sum((col("o_totalprice") * 100).cast("long")))
      .collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a === b,
      s"partitioned skip-scan diverged from full filter: $a vs $b")
  }

  test("3-D hilbert key is a true Hilbert curve; its 3-D box selection is reported vs morton") {
    // (a) Curve properties EXHAUSTIVELY over the whole 32x32x32 grid
    // (bits = 5 through the same parameterized code path the graded
    // 8-bit row uses): bijective onto [0, 32768) and UNIT-STEP
    // (consecutive curve positions are grid-adjacent in exactly one
    // axis). A curve-shaped hash passes neither. Validated against an
    // independent reference implementation of Skilling's algorithm
    // before landing.
    val spk = spark
    import spk.implicits._
    val bits = 5
    val side = 1 << bits
    val total = 1L << (3 * bits)
    val grid = spk.range(total).select(
      (col("id") / (side * side)).cast("int").as("x"),
      ((col("id") / side) % side).cast("int").as("y"),
      (col("id") % side).cast("int").as("z"))
    val keyed = graft.operators.PipelineOps.withHilbert3(grid, bits)
      .select("hkey3", "x", "y", "z").as[(Long, Int, Int, Int)].collect()
    assert(keyed.map(_._1).distinct.length === total.toInt,
      "hkey3 is not a bijection on the grid")
    assert(keyed.map(_._1).forall(d => d >= 0 && d < total),
      "hkey3 out of the curve's range")
    val byD = keyed.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val nonAdjacent = (0L until total - 1).count { d =>
      val (x1, y1, z1) = byD(d); val (x2, y2, z2) = byD(d + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) != 1
    }
    assert(nonAdjacent === 0,
      s"$nonAdjacent consecutive curve steps are not grid-adjacent")
    // (b) 3-D box locality vs 3-D Morton on the graded fixture —
    // REPORTED, not asserted (repartitionByRange cut-point jitter; the
    // flake rule), with the same loose tightness bound as the 2-D rung.
    val root = tmpRoot("h3skip_spec")
    val zRoot = tmpRoot("h3skip_spec_z")
    val xyz = ordersXYZ()
    graft.operators.PipelineOps.clusteredSeed(
      graft.operators.PipelineOps.withHilbert3(xyz), root, "hkey3", Seq("x", "y", "z"))
    graft.operators.PipelineOps.clusteredSeed(
      xyz.withColumn("zkey3",
        graft.operators.PipelineOps.morton3(col("x"), col("y"), col("z"))),
      zRoot, "zkey3", Seq("x", "y", "z"))
    def selected(r: String): Long =
      boxSel(r, ("x", 32, 95), ("y", 64, 127), ("z", 0, 127)).count()
    val h = selected(root)
    val z = selected(zRoot)
    info(s"3-D box (64x64x128 of 256^3): hilbert3 selects $h of 16, morton3 $z of 16")
    assert(h <= 10,
      s"hilbert3 box selection lost tightness: $h of 16 files")
    val a = priceSig(graft.operators.PipelineOps
      .boxSkip(spk, root, ("x", 32, 95), ("y", 64, 127), ("z", 0, 127)))
    val b = priceSig(graft.sources.Sinks.readTable(spk, root)
      .filter(col("x").between(32, 95) && col("y").between(64, 127) &&
        col("z").between(0, 127)))
    assert(a === b, s"hilbert3-pruned scan diverged from full filter: $a vs $b")
  }
}
