package graft.operators

import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Scan / projection / source-shaped operators (SURVEY.md §2.1).
  *
  * Scale notes: both queries are narrow projections — Catalyst prunes the
  * parquet scan to exactly the referenced columns (check `ReadSchema` in
  * explain), so at 100 TB the scan reads 3-4 columns of the fact table, not
  * all 11. The JSON extraction is a per-row codegen'd expression; no UDF.
  */
object Scans {

  /** Q01 — parquet scan + projection + alias + computed column. Per-row
    * IEEE double arithmetic (`price * (1 - disc)`) is evaluation-order
    * deterministic, so no rounding is needed on the pass-through values. */
  val q01 = Q(
    "q_scan_project",
    """SELECT l_orderkey, l_linenumber,
      |  l_quantity AS qty, l_extendedprice AS price,
      |  l_extendedprice * (1 - l_discount) AS net
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin
  ) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Q02 — JSON-in-string extraction: parse `events.props` ({"k": <int>}),
    * bucket by k % 10. `get_json_object` is a codegen'd path expression —
    * no parse-to-struct materialization, no UDF. */
  val q02 = Q(
    "q_json_props",
    """SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS bucket,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (spark, dir) =>
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy((col("k") % 10).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
      .orderBy("bucket")
  }

  /** Schema-evolution union: two ingest "generations" of the orders feed —
    * an old snapshot without the priority column (1996 and earlier) and a
    * new snapshot that added it — combined with unionByName(
    * allowMissingColumns = true), the lakehouse append-with-evolved-schema
    * path. Missing columns null-fill; the rollup then proves the null
    * semantics (old rows land in the '(none)' bucket). Both branches are
    * narrow projections of the same scan; the union is a zero-shuffle
    * concatenation. */
  val qSchemaEvolve = Q(
    "q_schema_evolve",
    """WITH legacy AS (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE year(o_orderdate) <= 1996),
      |modern AS (
      |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |  WHERE year(o_orderdate) > 1996),
      |unioned AS (
      |  SELECT * FROM legacy UNION ALL BY NAME SELECT * FROM modern)
      |SELECT coalesce(o_orderpriority, '(none)') AS priority,
      |  COUNT(*) AS n_orders,
      |  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
      |FROM unioned
      |GROUP BY priority
      |ORDER BY priority""".stripMargin
  ) { (spark, dir) =>
    val o = Tables.orders(spark, dir)
    val legacy = o.filter(year(col("o_orderdate")) <= 1996)
      .select("o_orderkey", "o_totalprice")
    val modern = o.filter(year(col("o_orderdate")) > 1996)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    legacy.unionByName(modern, allowMissingColumns = true)
      .groupBy(coalesce(col("o_orderpriority"), lit("(none)")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Det.exactSum(col("o_totalprice"), 100).as("revenue"))
      .orderBy("priority")
  }

  /** Per-JVM scratch location for a round-trip query's disk artifact,
    * CLEARED on entry: repeated executions (bench, the heaviest-5 rerun,
    * plan audits) reuse one location instead of leaking a table copy per
    * run into a fresh createTempDirectory. The path carries a per-process
    * unique component so two concurrent executions on one host (parallel
    * test suites, two bench processes) never delete each other's in-use
    * data — reuse stays within one JVM, isolation holds across JVMs. */
  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  private lazy val rtSession: String = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    // the per-JVM scratch root would otherwise leak one full round-trip
    // table copy per process run into tmpdir — remove it on clean exit
    // (a kill -9 leaks one tree; the next host cleanup or tmp reaper
    // takes it, and no other process ever reuses the unique name)
    val root = java.nio.file.Paths
      .get(sys.props("java.io.tmpdir"), s"graft_rt_$id").toFile
    // saveAsTable artifacts land in the SHARED warehouse dir (default
    // location: <cwd>/spark-warehouse), which no tmp reaper owns — the
    // ~10 per-run bucketed index tables would accumulate forever. Two
    // sweeps: on exit, this process's own `graft_rt_<id>_*` tables; on
    // startup, any `graft_rt_*` dir whose OWNER's heartbeat file is stale
    // or missing AND whose own mtime is >1 day old. The heartbeat (one
    // `.graft_rt_<id>.alive` per JVM, touched on every rtTable call) is
    // what keeps a live-but-quiet owner safe: a table dir's top-level
    // mtime does not move when files are written DEEP inside it or when
    // it is only read, so mtime alone would let a fresh process sweep a
    // >24h-old JVM's in-use tables out from under it.
    val warehouse = java.nio.file.Paths
      .get(sys.props("user.dir"), "spark-warehouse").toFile
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    def heartbeatOf(tableDir: String): java.io.File = {
      // graft_rt_<8-hex-id>_<name> → .graft_rt_<8-hex-id>.alive
      val oid = tableDir.stripPrefix("graft_rt_").take(8)
      new java.io.File(warehouse, s".graft_rt_$oid.alive")
    }
    Option(warehouse.listFiles()).foreach(_.foreach { f =>
      val n = f.getName
      val stale = f.lastModified() < cutoff
      if (n.startsWith("graft_rt_") && stale &&
          heartbeatOf(n).lastModified() < cutoff) rmTree(f)
      // a dead owner's heartbeat is itself litter once its tables are gone
      if (n.startsWith(".graft_rt_") && n.endsWith(".alive") && stale)
        f.delete()
    })
    warehouse.mkdirs()
    new java.io.File(warehouse, s".graft_rt_$id.alive").createNewFile()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      rmTree(root)
      Option(warehouse.listFiles()).foreach(_.foreach { f =>
        if (f.getName.startsWith(s"graft_rt_${id}_")) rmTree(f)
      })
      new java.io.File(warehouse, s".graft_rt_$id.alive").delete()
    }))
    id
  }

  /** Touch this JVM's warehouse heartbeat — called from [[rtTable]] so any
    * process actively using rt tables advertises liveness to other
    * processes' startup sweeps (File.lastModified granularity is seconds;
    * the touch is one utimes syscall, free at query cadence). */
  private def touchHeartbeat(): Unit = {
    val hb = java.nio.file.Paths.get(sys.props("user.dir"),
      "spark-warehouse", s".graft_rt_$rtSession.alive").toFile
    if (!hb.setLastModified(System.currentTimeMillis())) {
      hb.getParentFile.mkdirs(); hb.createNewFile(); ()
    }
  }

  /** Per-JVM CATALOG name for a round-trip query's table artifact — the
    * warehouse directory is shared between processes running in the same
    * working dir, so a fixed table name would let two concurrent JVMs
    * DROP/overwrite each other's live index files (the same hazard
    * [[rtDir]] solves for path artifacts). */
  private[graft] def rtTable(name: String): String = {
    touchHeartbeat()
    s"graft_rt_${rtSession}_$name"
  }

  private[operators] def rtDir(name: String): String = {
    val p = java.nio.file.Paths
      .get(sys.props("java.io.tmpdir"), s"graft_rt_$rtSession", name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    if (p.toFile.exists()) rm(p.toFile)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** Partitioned-sink ROUND-TRIP, graded end-to-end: write orders
    * partitioned by priority ([[graft.sources.Sinks.writePartitioned]] —
    * repartition-first so files = partitions, not tasks × partitions),
    * read the directory tree BACK, and aggregate per partition value. The
    * oracle aggregates the source table directly, so any row lost,
    * duplicated, or corrupted by the write→read cycle (including the
    * partition-column directory encoding) breaks the cross-engine hash.
    * This is the §2 sink surface as a CORRECTNESS row, not just a
    * ScalaTest: SinkSourceSpec separately asserts partition pruning on
    * the read-back plan. Scale: one exchange on the partition column,
    * then a file-per-partition write — the same plan at any SF. */
  val qSinkRoundtrip = Q(
    "q_sink_roundtrip",
    """SELECT o_orderpriority AS prio, COUNT(*) AS n_rows,
      |  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
      |FROM orders
      |GROUP BY prio
      |ORDER BY prio""".stripMargin
  ) { (spark, dir) =>
    val out = rtDir("sink_roundtrip")
    graft.sources.Sinks.writePartitioned(
      Tables.orders(spark, dir).select("o_orderpriority", "o_totalprice"),
      Seq("o_orderpriority"), out)
    spark.read.parquet(out)
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.Det.exactSum(col("o_totalprice"), 100).as("total_price"))
      .orderBy("prio")
  }

  /** DYNAMIC PARTITION PRUNING, graded end-to-end: the join-driven prune
    * that makes a dim-filtered fact⋈dim query cheap on a partitioned
    * 100 TB fact table. Orders is written partitioned by priority (the
    * q_sink_roundtrip machinery), the priority DIM carries a derived
    * attribute (its urgency class) that exists only on the dim side, and
    * the query filters the DIM — so no static partition filter is
    * possible on the fact scan. Catalyst plans a
    * DynamicPruningExpression subquery on the fact's partition column
    * (reusing the broadcast of the filtered dim), and the scan reads ONLY
    * the 2 of 5 partitions whose keys survive the dim filter — at 100 TB
    * the difference between scanning the table and scanning the
    * predicate's partitions. The oracle restates the join over the
    * source, so a green hash proves the pruned plan is lossless;
    * PlanShapeSpec locks the `dynamicpruning` PartitionFilter in the plan
    * AND the runtime partitions-read metric. */
  val qJoinDpp = Q(
    "q_join_dpp",
    s"""WITH dim AS (
       |  SELECT DISTINCT o_orderpriority AS prio,
       |    CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_class
       |  FROM orders)
       |SELECT d.prio, CAST(COUNT(*) AS BIGINT) AS n_orders,
       |  ${graft.functions.Det.sqlExactSum("o.o_totalprice", 100)} AS revenue
       |FROM orders o JOIN dim d ON o.o_orderpriority = d.prio
       |WHERE d.prio_class <= 2
       |GROUP BY d.prio ORDER BY d.prio""".stripMargin
  ) { (spark, dir) =>
    val out = rtDir("dpp_fact")
    graft.sources.Sinks.writePartitioned(
      Tables.orders(spark, dir).select("o_orderpriority", "o_totalprice"),
      Seq("o_orderpriority"), out)
    val fact = spark.read.parquet(out)
    val dim = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("prio")).distinct()
      .withColumn("prio_class", substring(col("prio"), 1, 1).cast("int"))
    fact.join(broadcast(dim.filter(col("prio_class") <= 2)),
        fact("o_orderpriority") === col("prio"))
      .groupBy("prio")
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        graft.functions.Det.exactSum(col("o_totalprice"), 100).as("revenue"))
      .orderBy("prio")
  }

  /** Streaming MERGE sink ROUND-TRIP, graded end-to-end: seed a keyed
    * parquet table from customer (seq 0), then drive THREE micro-batches
    * through [[graft.sources.Sinks.upsertBatch]] — (1) latest order value
    * per customer (seq 1, odd custkeys negated so they INSERT new keys,
    * the q_merge_upsert namespace discipline), (2) a credit reset for
    * negative-balance customers (seq 2), (3) a STALE REPLAY of batch 1,
    * which per-key seq resolution must reduce to a no-op. The oracle knows
    * nothing about batches or replays — it states the final table as
    * argmax-seq over the union — so any replay regression, lost insert, or
    * botched staged-swap breaks the cross-engine hash. Scale: each batch
    * is ONE full-outer equi-join against the keyed table (the plan
    * Delta/Iceberg run under streaming MERGE), never a per-row lookup. */
  /** The streaming-MERGE protocol's ORACLE and batch builders, shared
    * verbatim by the copy-on-write row (q_merge_stream) and its
    * merge-on-read twin (q_merge_dv_stream in PipelineOps): the two rows'
    * "same visible table" claim is only as strong as their oracles and
    * inputs staying byte-equivalent, so both reference ONE definition —
    * an edit here moves both twins together, never silently one. */
  private[operators] val mergeStreamOracle: String =
    """WITH base AS (
      |  SELECT c_custkey AS key, 0 AS seq, c_acctbal AS bal FROM customer),
      |b1 AS (
      |  SELECT CASE WHEN o_custkey % 2 = 1 THEN -o_custkey
      |              ELSE o_custkey END AS key,
      |    1 AS seq, o_totalprice AS bal
      |  FROM (
      |    SELECT o_custkey, o_totalprice,
      |      row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders)
      |  WHERE rn = 1),
      |b2 AS (
      |  SELECT c_custkey AS key, 2 AS seq, 0.0 AS bal FROM customer
      |  WHERE c_acctbal < 0),
      |u AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM b1
      |  UNION ALL SELECT * FROM b2)
      |SELECT key, seq, bal FROM (
      |  SELECT key, seq, bal,
      |    row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      |  FROM u)
      |WHERE rn = 1
      |ORDER BY key""".stripMargin

  /** The protocol's seed frame and two micro-batches: (seed, b1, b2). */
  private[operators] def mergeStreamBatches(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val seed = Tables.customer(spark, dir).select(
      col("c_custkey").as("key"), lit(0).as("seq"),
      col("c_acctbal").as("bal"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    val b1 = Tables.orders(spark, dir)
      .select("o_custkey", "o_totalprice", "o_orderdate", "o_orderkey")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        when(col("o_custkey") % 2 === 1, -col("o_custkey"))
          .otherwise(col("o_custkey")).as("key"),
        lit(1).as("seq"), col("o_totalprice").as("bal"))
    val b2 = Tables.customer(spark, dir).filter(col("c_acctbal") < 0)
      .select(col("c_custkey").as("key"), lit(2).as("seq"),
        lit(0.0).as("bal"))
    (seed, b1, b2)
  }

  val qMergeStream = Q(
    "q_merge_stream",
    mergeStreamOracle
  ) { (spark, dir) =>
    val path = rtDir("merge_stream") + "/state"
    val (seed, b1, b2) = mergeStreamBatches(spark, dir)
    graft.sources.Sinks.write(seed, path)
    graft.sources.Sinks.upsertBatch(b1, path, "key", "seq")
    graft.sources.Sinks.upsertBatch(b2, path, "key", "seq")
    graft.sources.Sinks.upsertBatch(b1, path, "key", "seq") // stale replay
    // the seed was a legacy plain dir, so this round-trip also grades the
    // one-time migration into the pointer layout; readers resolve CURRENT
    graft.sources.Sinks.readTable(spark, path)
      .select("key", "seq", "bal").orderBy("key")
  }

  /** TIME-TRAVEL read, graded end-to-end: seed a keyed table, apply TWO
    * MERGE batches through the pointer-publish protocol, then read the
    * table AS OF one publish back ([[graft.sources.Sinks
    * .readTableVersion]]) — the state after batch 1, before batch 2.
    * The oracle states that intermediate state declaratively (latest-wins
    * over base ∪ batch 1) and knows nothing about versions, so the graded
    * hash proves the retained predecessor dir really is the pre-batch-2
    * table, byte-exact — the "what did this table say before last night's
    * MERGE" question of every incident review. The predecessor name rides
    * in the SAME atomically-renamed pointer file as the current version
    * (line 2), so current/previous can never disagree; retention depth is
    * exactly one version by design (deeper history is a table format's
    * snapshot log, a non-goal). Scale: time travel is a metadata read —
    * cost is identical to reading the live table. */
  val qSinkTimeTravel = Q(
    "q_sink_time_travel",
    """WITH base AS (
      |  SELECT c_custkey AS key, 0 AS seq, c_acctbal AS bal FROM customer),
      |b1 AS (
      |  SELECT CASE WHEN o_custkey % 2 = 1 THEN -o_custkey
      |              ELSE o_custkey END AS key,
      |    1 AS seq, o_totalprice AS bal
      |  FROM (
      |    SELECT o_custkey, o_totalprice,
      |      row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders)
      |  WHERE rn = 1),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM b1)
      |SELECT key, seq, bal FROM (
      |  SELECT key, seq, bal,
      |    row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      |  FROM u)
      |WHERE rn = 1
      |ORDER BY key""".stripMargin
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val path = rtDir("time_travel") + "/state"
    graft.sources.Sinks.write(
      Tables.customer(spark, dir).select(
        col("c_custkey").as("key"), lit(0).as("seq"),
        col("c_acctbal").as("bal")),
      path)
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    val b1 = Tables.orders(spark, dir)
      .select("o_custkey", "o_totalprice", "o_orderdate", "o_orderkey")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        when(col("o_custkey") % 2 === 1, -col("o_custkey"))
          .otherwise(col("o_custkey")).as("key"),
        lit(1).as("seq"), col("o_totalprice").as("bal"))
    val b2 = Tables.customer(spark, dir).filter(col("c_acctbal") < 0)
      .select(col("c_custkey").as("key"), lit(2).as("seq"),
        lit(0.0).as("bal"))
    graft.sources.Sinks.upsertBatch(b1, path, "key", "seq") // publishes v1
    graft.sources.Sinks.upsertBatch(b2, path, "key", "seq") // publishes v2
    graft.sources.Sinks.readTableVersion(spark, path, 1)
      .getOrElse(sys.error(s"no predecessor version at $path"))
      .select("key", "seq", "bal").orderBy("key")
  }

  /** Dataset VERSION DIFF over the pointer-published table — the audit a
    * pipeline runs before promoting a snapshot ("what did this publish
    * change?"): build v1 and v2 with real upsertBatch publishes, then
    * diff CURRENT against the time-travel predecessor, classifying every
    * key as added or changed (upsert never deletes). The Spark side
    * computes the diff from the two PUBLISHED artifacts (two pointer
    * reads), while the oracle recomputes both versions declaratively —
    * so the version lineage itself is cross-engine-verified end to end.
    * Scale: one keyed outer join between two table reads; at 100 TB both
    * sides are the same bucketed layout, so the diff co-partitions. */
  val qSinkVersionDiff = Q(
    "q_sink_version_diff",
    """WITH base AS (
      |  SELECT c_custkey AS key, 0 AS seq, c_acctbal AS bal FROM customer),
      |b1 AS (
      |  SELECT CASE WHEN o_custkey % 2 = 1 THEN -o_custkey
      |              ELSE o_custkey END AS key,
      |    1 AS seq, o_totalprice AS bal
      |  FROM (
      |    SELECT o_custkey, o_totalprice,
      |      row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders)
      |  WHERE rn = 1),
      |b2 AS (
      |  SELECT c_custkey AS key, 2 AS seq, 0.0 AS bal
      |  FROM customer WHERE c_acctbal < 0
      |  UNION ALL
      |  SELECT c_custkey + 10000000 AS key, 2 AS seq, c_acctbal AS bal
      |  FROM customer WHERE c_acctbal < 0),
      |v1 AS (
      |  SELECT key, seq, bal FROM (
      |    SELECT key, seq, bal,
      |      row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      |    FROM (SELECT * FROM base UNION ALL SELECT * FROM b1))
      |  WHERE rn = 1),
      |v2 AS (
      |  SELECT key, seq, bal FROM (
      |    SELECT key, seq, bal,
      |      row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      |    FROM (SELECT * FROM base UNION ALL SELECT * FROM b1
      |          UNION ALL SELECT * FROM b2))
      |  WHERE rn = 1)
      |SELECT v2.key,
      |  CASE WHEN v1.key IS NULL THEN 'added' ELSE 'changed' END AS change,
      |  v1.bal AS old_bal, v2.bal AS new_bal
      |FROM v2 LEFT JOIN v1 USING (key)
      |WHERE v1.key IS NULL OR v1.bal <> v2.bal OR v1.seq <> v2.seq
      |ORDER BY v2.key""".stripMargin
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val path = rtDir("version_diff") + "/state"
    graft.sources.Sinks.write(
      Tables.customer(spark, dir).select(
        col("c_custkey").as("key"), lit(0).as("seq"),
        col("c_acctbal").as("bal")),
      path)
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    val b1 = Tables.orders(spark, dir)
      .select("o_custkey", "o_totalprice", "o_orderdate", "o_orderkey")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        when(col("o_custkey") % 2 === 1, -col("o_custkey"))
          .otherwise(col("o_custkey")).as("key"),
        lit(1).as("seq"), col("o_totalprice").as("bal"))
    val neg = Tables.customer(spark, dir).filter(col("c_acctbal") < 0)
    val b2 = neg.select(col("c_custkey").as("key"), lit(2).as("seq"),
        lit(0.0).as("bal"))
      .unionAll(neg.select((col("c_custkey") + 10000000L).as("key"),
        lit(2).as("seq"), col("c_acctbal").as("bal")))
    graft.sources.Sinks.upsertBatch(b1, path, "key", "seq") // publishes v1
    graft.sources.Sinks.upsertBatch(b2, path, "key", "seq") // publishes v2
    val cur = graft.sources.Sinks.readTable(spark, path)
      .select("key", "seq", "bal")
    val prev = graft.sources.Sinks.readTableVersion(spark, path, 1)
      .getOrElse(sys.error(s"no predecessor version at $path"))
      .select(col("key"), col("seq").as("old_seq"), col("bal").as("old_bal"))
    cur.join(prev, Seq("key"), "left")
      .filter(col("old_seq").isNull || col("old_bal") =!= col("bal") ||
        col("old_seq") =!= col("seq"))
      .select(col("key"),
        when(col("old_seq").isNull, "added").otherwise("changed")
          .as("change"),
        col("old_bal"), col("bal").as("new_bal"))
      .orderBy("key")
  }

  /** Schema-EVOLVING streaming MERGE, graded end-to-end: seed a keyed
    * table (key, seq, bal), then publish a batch that ADDS a column
    * (`tier`) and a later batch that must carry it — the additive
    * mergeSchema contract ([[graft.sources.Sinks.upsertBatch]]): base-won
    * rows read NULL in the new column, batch-won rows carry their value,
    * and a batch missing a current column fails loudly instead of
    * silently dropping data. The oracle states the evolved table
    * declaratively (base rows with NULL tier, latest-wins per key), so
    * a silently-dropped column, a mistyped null, or a wrong winner all
    * break the cross-engine hash. Scale: same single full-outer join per
    * batch as q_merge_stream — evolution costs nothing extra. */
  val qMergeEvolve = Q(
    "q_merge_evolve",
    """WITH base AS (
      |  SELECT c_custkey AS key, 0 AS seq, c_acctbal AS bal,
      |    CAST(NULL AS VARCHAR) AS tier
      |  FROM customer),
      |b1 AS (
      |  SELECT CASE WHEN o_custkey % 2 = 1 THEN -o_custkey
      |              ELSE o_custkey END AS key,
      |    1 AS seq, o_totalprice AS bal,
      |    CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END AS tier
      |  FROM (
      |    SELECT o_custkey, o_totalprice,
      |      row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders)
      |  WHERE rn = 1),
      |b2 AS (
      |  SELECT c_custkey AS key, 2 AS seq, 0.0 AS bal, 'reset' AS tier
      |  FROM customer WHERE c_acctbal < 0),
      |u AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM b1
      |  UNION ALL SELECT * FROM b2)
      |SELECT key, seq, bal, tier FROM (
      |  SELECT key, seq, bal, tier,
      |    row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      |  FROM u)
      |WHERE rn = 1
      |ORDER BY key""".stripMargin
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val path = rtDir("merge_evolve") + "/state"
    graft.sources.Sinks.write(
      Tables.customer(spark, dir).select(
        col("c_custkey").as("key"), lit(0).as("seq"),
        col("c_acctbal").as("bal")),
      path)
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    val b1 = Tables.orders(spark, dir)
      .select("o_custkey", "o_totalprice", "o_orderdate", "o_orderkey")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        when(col("o_custkey") % 2 === 1, -col("o_custkey"))
          .otherwise(col("o_custkey")).as("key"),
        lit(1).as("seq"), col("o_totalprice").as("bal"),
        when(col("o_totalprice") > 150000, "big").otherwise("small")
          .as("tier"))
    val b2 = Tables.customer(spark, dir).filter(col("c_acctbal") < 0)
      .select(col("c_custkey").as("key"), lit(2).as("seq"),
        lit(0.0).as("bal"), lit("reset").as("tier"))
    graft.sources.Sinks.upsertBatch(b1, path, "key", "seq") // evolves schema
    graft.sources.Sinks.upsertBatch(b2, path, "key", "seq") // carries tier
    graft.sources.Sinks.readTable(spark, path)
      .select("key", "seq", "bal", "tier").orderBy("key")
  }

  /** MERGE-with-DELETE via tombstones, graded end-to-end: deletes are
    * soft (a batch upserts the key with `deleted = true`; latest-wins
    * seq resolution makes the delete replay-safe exactly like any other
    * upsert, and a later batch can RESURRECT the key), then
    * [[graft.sources.Sinks.purgeTombstones]] physically drops flagged
    * rows once the replay horizon has drained — a purge-then-replay
    * would re-insert, the same retention contract as Delta's VACUUM.
    * Exercised: delete batch, selective un-delete, a STALE replay of the
    * delete (must lose to the stored higher seq), purge, read. The
    * oracle knows nothing about tombstones or purges — it states the
    * final table as latest-wins filtered on the flag — so a purge that
    * drops a live row, resurrects a deleted key, or loses the un-delete
    * breaks the hash. Scale: purge is one filter-rewrite publish cycle;
    * every read until then filters a boolean column. */
  val qMergeDelete = Q(
    "q_merge_delete",
    """WITH base AS (
      |  SELECT c_custkey AS key, 0 AS seq, c_acctbal AS bal,
      |    FALSE AS deleted
      |  FROM customer),
      |b1 AS (
      |  SELECT c_custkey AS key, 1 AS seq, 0.0 AS bal, TRUE AS deleted
      |  FROM customer WHERE c_acctbal < 0),
      |b2 AS (
      |  SELECT c_custkey AS key, 2 AS seq, 1.0 AS bal, FALSE AS deleted
      |  FROM customer WHERE c_acctbal < -500),
      |u AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM b1
      |  UNION ALL SELECT * FROM b2)
      |SELECT key, seq, bal, deleted FROM (
      |  SELECT key, seq, bal, deleted,
      |    row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      |  FROM u)
      |WHERE rn = 1 AND NOT deleted
      |ORDER BY key""".stripMargin
  ) { (spark, dir) =>
    val path = rtDir("merge_delete") + "/state"
    graft.sources.Sinks.write(
      Tables.customer(spark, dir).select(
        col("c_custkey").as("key"), lit(0).as("seq"),
        col("c_acctbal").as("bal"), lit(false).as("deleted")),
      path)
    val neg = Tables.customer(spark, dir).filter(col("c_acctbal") < 0)
    val b1 = neg.select(col("c_custkey").as("key"), lit(1).as("seq"),
      lit(0.0).as("bal"), lit(true).as("deleted"))
    val b2 = Tables.customer(spark, dir).filter(col("c_acctbal") < -500)
      .select(col("c_custkey").as("key"), lit(2).as("seq"),
        lit(1.0).as("bal"), lit(false).as("deleted"))
    graft.sources.Sinks.upsertBatch(b1, path, "key", "seq") // soft delete
    graft.sources.Sinks.upsertBatch(b2, path, "key", "seq") // resurrect some
    graft.sources.Sinks.upsertBatch(b1, path, "key", "seq") // stale replay
    graft.sources.Sinks.purgeTombstones(spark, path, "deleted")
    graft.sources.Sinks.readTable(spark, path)
      .select("key", "seq", "bal", "deleted").orderBy("key")
  }

  /** DEEP time travel through the keep-N pointer history, graded
    * end-to-end: seed a keyed table, drive THREE MERGE publishes through
    * the pointer protocol, then read the table as of TWO publishes back
    * ([[graft.sources.Sinks.readTableVersion]] back=2) — the state after
    * batch 1, surviving two later pointer swaps. The oracle states that
    * state declaratively (latest-wins over base ∪ batch 1) and knows
    * nothing about versions, so the graded hash proves the N-line history
    * window ([[graft.sources.Sinks.HistoryKeep]] = 3) really retains
    * byte-exact older versions, not just the immediate predecessor — the
    * "diff against last week's publish" read a long-running ingest asks
    * for. All version names ride in the ONE atomically-renamed pointer
    * file, so no history depth can disagree with the live version.
    * Scale: a metadata read — cost identical to reading the live table. */
  val qSinkHistory = Q(
    "q_sink_history",
    """WITH base AS (
      |  SELECT c_custkey AS key, 0 AS seq, c_acctbal AS bal FROM customer),
      |b1 AS (
      |  SELECT CASE WHEN o_custkey % 2 = 1 THEN -o_custkey
      |              ELSE o_custkey END AS key,
      |    1 AS seq, o_totalprice AS bal
      |  FROM (
      |    SELECT o_custkey, o_totalprice,
      |      row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders)
      |  WHERE rn = 1),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM b1)
      |SELECT key, seq, bal FROM (
      |  SELECT key, seq, bal,
      |    row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      |  FROM u)
      |WHERE rn = 1
      |ORDER BY key""".stripMargin
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val path = rtDir("sink_history") + "/state"
    graft.sources.Sinks.write(
      Tables.customer(spark, dir).select(
        col("c_custkey").as("key"), lit(0).as("seq"),
        col("c_acctbal").as("bal")),
      path)
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    val b1 = Tables.orders(spark, dir)
      .select("o_custkey", "o_totalprice", "o_orderdate", "o_orderkey")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        when(col("o_custkey") % 2 === 1, -col("o_custkey"))
          .otherwise(col("o_custkey")).as("key"),
        lit(1).as("seq"), col("o_totalprice").as("bal"))
    val b2 = Tables.customer(spark, dir).filter(col("c_acctbal") < 0)
      .select(col("c_custkey").as("key"), lit(2).as("seq"),
        lit(0.0).as("bal"))
    val b3 = Tables.customer(spark, dir)
      .select((col("c_custkey") + 20000000L).as("key"), lit(3).as("seq"),
        col("c_acctbal").as("bal"))
    graft.sources.Sinks.upsertBatch(b1, path, "key", "seq") // publishes v1
    graft.sources.Sinks.upsertBatch(b2, path, "key", "seq") // publishes v2
    graft.sources.Sinks.upsertBatch(b3, path, "key", "seq") // publishes v3
    graft.sources.Sinks.readTableVersion(spark, path, 2)
      .getOrElse(sys.error(s"no depth-2 version at $path"))
      .select("key", "seq", "bal").orderBy("key")
  }

  /** Bucketed-sink co-located join ROUND-TRIP, graded end-to-end: write
    * orders and lineitem as bucketed tables hash-clustered on the join key
    * ([[graft.sources.Sinks.writeBucketed]], 8 buckets, bucket-sorted),
    * read both BACK through the catalog, join on the bucket key, and
    * aggregate. The oracle joins the source parquet directly, so the
    * bucketed write→catalog-read cycle is hash-verified; ScaleSpec
    * separately proves the bucketed⋈bucketed join plans with ZERO shuffle
    * exchanges. Scale: bucketing is THE mechanism that amortizes the big
    * fact⋈fact shuffle at 100 TB — pay the cluster-by once at write time,
    * then every keyed join/agg on the table reads co-partitioned data. */
  val qSinkBucketedJoin = Q(
    "q_sink_bucketed_join",
    """SELECT o_orderkey % 16 AS bucket, COUNT(*) AS n_items,
      |  SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
      |    / 10000.0 AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin
  ) { (spark, dir) =>
    graft.sources.Sinks.writeBucketed(
      Tables.orders(spark, dir).select("o_orderkey", "o_totalprice"),
      8, Seq("o_orderkey"), rtTable("orders_b"))
    graft.sources.Sinks.writeBucketed(
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount"),
      8, Seq("l_orderkey"), rtTable("lineitem_b"))
    spark.table(rtTable("orders_b"))
      .join(spark.table(rtTable("lineitem_b")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_orderkey") % 16).as("bucket"))
      .agg(count(lit(1)).as("n_items"),
        graft.functions.Det.exactSum(
          col("l_extendedprice") * (lit(1) - col("l_discount")),
          10000).as("revenue"))
      .orderBy("bucket")
  }

  /** JSON file source ROUND-TRIP, graded end-to-end: export an orders
    * projection as JSON lines, read it BACK through the declared-schema
    * source ([[graft.sources.Sinks.readJson]] — inference is never a prod
    * path), and aggregate. The oracle aggregates the source table
    * directly, so any value corrupted by the JSON serialize→parse cycle
    * (long, string, or double formatting) breaks the cross-engine hash.
    * JSON is the reference family's ingest format, so this is the ingest
    * identity as a CORRECTNESS row; the exactSum discipline makes the
    * money column bit-stable regardless of double text formatting. */
  val qSourceJson = Q(
    "q_source_json",
    """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
      |  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders
      |GROUP BY status
      |ORDER BY status""".stripMargin
  ) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val out = rtDir("source_json")
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.json(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    graft.sources.Sinks.readJson(spark, schema, out)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Det.exactSum(col("o_totalprice"), 100).as("revenue"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy("status")
  }

  /** CSV file source ROUND-TRIP, graded end-to-end — the [[qSourceJson]]
    * companion for the other ubiquitous ingest format. Exports an orders
    * projection as headered CSV, reads it BACK through the declared-schema
    * source ([[graft.sources.Sinks.readCsv]]), and aggregates per
    * (priority, order year). The TIMESTAMP column is the deliberate stress:
    * CSV is untyped text, so a timestamp that fails to round-trip through
    * the default format under the pinned UTC session shifts year buckets
    * and breaks the hash against the oracle (which reads the source
    * parquet directly). */
  val qSourceCsv = Q(
    "q_source_csv",
    """SELECT o_orderpriority AS priority, CAST(year(o_orderdate) AS INT) AS yr,
      |  COUNT(*) AS n_orders,
      |  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders
      |GROUP BY priority, yr
      |ORDER BY priority, yr""".stripMargin
  ) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val out = rtDir("source_csv")
    graft.sources.Sinks.writeCsv(
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderpriority", "o_orderdate",
          "o_totalprice"),
      out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("o_orderdate", TimestampType),
      StructField("o_totalprice", DoubleType)))
    graft.sources.Sinks.readCsv(spark, schema, out)
      .groupBy(col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Det.exactSum(col("o_totalprice"), 100).as("revenue"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy("priority", "yr")
  }

  /** ORC file source ROUND-TRIP, graded end-to-end — completes the
    * declared-schema source matrix (parquet everywhere, JSON, CSV, ORC).
    * ORC carries its own schema, so unlike CSV the stress here is the
    * cross-format value fidelity of the OTHER columnar format: doubles,
    * longs and strings written through the ORC writer and read back must
    * aggregate to the same cents-exact totals as the parquet source the
    * oracle reads. */
  val qSourceOrc = Q(
    "q_source_orc",
    """SELECT l_returnflag AS flag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS revenue
      |FROM lineitem
      |GROUP BY flag
      |ORDER BY flag""".stripMargin
  ) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val out = rtDir("source_orc")
    graft.sources.Sinks.writeOrc(
      Tables.lineitem(spark, dir)
        .select("l_returnflag", "l_quantity", "l_extendedprice"),
      out)
    val schema = StructType(Seq(
      StructField("l_returnflag", StringType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType)))
    graft.sources.Sinks.readOrc(spark, schema, out)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity")).cast("bigint")).as("sum_qty"),
        graft.functions.Det.exactSum(col("l_extendedprice"), 100)
          .as("revenue"))
      .orderBy("flag")
  }

  /** Small-file compaction ROUND-TRIP, graded end-to-end: land an orders
    * projection as four micro-batch file sets (the streaming sink's
    * litter), compact the directory preserving the hive `batch=` layout,
    * read the compacted tree back, and aggregate per order year. The
    * oracle aggregates the source table directly, so a compaction that
    * drops, duplicates, or corrupts rows — the failure modes of a
    * rewrite-and-swap maintenance op — breaks the cross-engine hash. */
  val qSinkCompact = Q(
    "q_sink_compact",
    """SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS n_orders,
      |  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders
      |GROUP BY yr
      |ORDER BY yr""".stripMargin
  ) { (spark, dir) =>
    val path = rtDir("sink_compact") + "/orders_t"
    val src = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    (0 until 4).foreach { id =>
      graft.sources.Sinks.writeBatch(
        src.filter(col("o_orderkey") % 4 === id), path, id)
    }
    graft.sources.Sinks.compact(spark, path, 1, Seq("batch"))
    graft.sources.Sinks.readTable(spark, path)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Det.exactSum(col("o_totalprice"), 100).as("revenue"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy("yr")
  }

  def all: Seq[Q] =
    Seq(q01, q02, qSchemaEvolve, qSinkRoundtrip, qJoinDpp, qMergeStream,
      qMergeEvolve, qMergeDelete,
      qSinkTimeTravel, qSinkVersionDiff, qSinkHistory,
      qSinkBucketedJoin, qSourceJson, qSourceCsv, qSourceOrc, qSinkCompact)
}
