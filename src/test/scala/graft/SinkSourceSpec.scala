package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.1 non-oracle-able surfaces: partitioned parquet sink
  * round-trip, JSON file source with a declared schema, surrogate ids,
  * and the registered-scala-UDF surface. */
class SinkSourceSpec extends SparkTestBase {

  test("partitioned parquet sink round-trips with partition pruning") {
    val out = Files.createTempDirectory("graft_sink").toString
    val orders = graft.sources.Tables.orders(spark, sf())
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("o_month", month(col("o_orderdate")))
    orders.write.partitionBy("o_year", "o_month").mode("overwrite").parquet(out)

    val back = spark.read.parquet(out)
    assert(back.count() === orders.count())
    // partition pruning: a single (year, month) reads only that directory
    val pruned = back.filter(col("o_year") === 1996 && col("o_month") === 3)
    val expected = orders.filter(col("o_year") === 1996 && col("o_month") === 3).count()
    assert(pruned.count() === expected)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // partition columns round-trip as columns
    assert(back.columns.toSet === orders.columns.toSet)
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    // The data-lake incremental-reload contract: re-writing one partition
    // must not truncate the others (static overwrite mode would). This is
    // the setting every partitioned 100 TB sink runs with.
    val spk = spark
    import spk.implicits._
    val out = Files.createTempDirectory("graft_dpo").toString
    val prev = spk.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spk.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((1, "a", 10), (1, "b", 20), (2, "a", 30))
        .toDF("pk", "k", "v")
        .write.partitionBy("pk").mode("overwrite").parquet(out)
      // overwrite ONLY pk=1 with corrected rows
      Seq((1, "a", 11)).toDF("pk", "k", "v")
        .write.partitionBy("pk").mode("overwrite").parquet(out)
      val back = spk.read.parquet(out).as[(String, Int, Int)].collect().toSet
      assert(back === Set(("a", 11, 1), ("a", 30, 2)),
        "pk=1 replaced, pk=2 untouched")
    } finally {
      prev match {
        case Some(v) => spk.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spk.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("JSON file source with declared schema (no inference in prod path)") {
    val dir = Files.createTempDirectory("graft_json").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/part1.json"),
      """{"song_id":"S1","title":"alpha","duration":123.5,"year":1999}
        |{"song_id":"S2","title":"beta","duration":0.5,"year":2001}
        |{"song_id":"S3","title":"gamma","duration":7.25}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("song_id", StringType), StructField("title", StringType),
      StructField("duration", DoubleType), StructField("year", LongType)))
    val df = spark.read.schema(schema).json(dir)
    assert(df.schema === schema)
    assert(df.count() === 3)
    assert(df.filter(col("year").isNull).count() === 1) // missing field -> null
    val sums = df.agg(sum("duration")).head().getDouble(0)
    assert(math.abs(sums - 131.25) < 1e-9)
  }

  test("CSV source with declared schema round-trips through the CSV sink") {
    // Same discipline as the JSON case: schema declared, never inferred.
    // Write via Sinks.writeCsv, read back via Sinks.readCsv, and check
    // values survive (including a null field and a quoted comma — the
    // CSV edge the format exists to get wrong).
    val dir = Files.createTempDirectory("graft_csv").toString
    val spk = spark
    import spk.implicits._
    val out = Seq(
      ("S1", "alpha, with comma", 123.5, Some(1999L)),
      ("S2", "beta", 0.5, Some(2001L)),
      ("S3", "gamma", 7.25, None)
    ).toDF("song_id", "title", "duration", "year")
    graft.sources.Sinks.writeCsv(out, s"$dir/songs")
    val schema = StructType(Seq(
      StructField("song_id", StringType), StructField("title", StringType),
      StructField("duration", DoubleType), StructField("year", LongType)))
    val back = graft.sources.Sinks.readCsv(spark, schema, s"$dir/songs")
    assert(back.schema === schema)
    assert(back.count() === 3)
    assert(back.filter(col("year").isNull).count() === 1)
    assert(back.filter(col("song_id") === "S1").head().getString(1)
      === "alpha, with comma")
    val sums = back.agg(sum("duration")).head().getDouble(0)
    assert(math.abs(sums - 131.25) < 1e-9)
  }

  test("ORC source round-trips with declared schema and column pruning") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val spk = spark
    import spk.implicits._
    val out = Seq(
      ("S1", 123.5, Some(1999L)), ("S2", 0.5, Some(2001L)), ("S3", 7.25, None)
    ).toDF("song_id", "duration", "year")
    graft.sources.Sinks.writeOrc(out, s"$dir/songs")
    val schema = StructType(Seq(
      StructField("song_id", StringType), StructField("duration", DoubleType),
      StructField("year", LongType)))
    val back = graft.sources.Sinks.readOrc(spark, schema, s"$dir/songs")
    assert(back.schema === schema)
    assert(back.count() === 3)
    assert(back.filter(col("year").isNull).count() === 1)
    val sums = back.agg(sum("duration")).head().getDouble(0)
    assert(math.abs(sums - 131.25) < 1e-9)
    // the columnar property the format exists for: a 1-column projection
    // reads a 1-column schema at the scan
    val plan = back.select("song_id").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<song_id:string>"),
      s"ORC scan did not prune columns:\n$plan")
  }

  test("monotonically_increasing_id yields unique surrogate keys") {
    val df = graft.sources.Tables.customer(spark, sf())
      .withColumn("sk", monotonically_increasing_id())
    assert(df.select("sk").distinct().count() === df.count())
  }

  test("registered scala UDF surface works from SQL and DataFrame") {
    spark.udf.register("graft_band", (p: Double) =>
      if (p < 50000) "low" else if (p < 150000) "mid" else "high")
    graft.sources.Tables.orders(spark, sf()).createOrReplaceTempView("orders_udf_t")
    val viaSql = spark.sql(
      "SELECT graft_band(o_totalprice) AS b, COUNT(*) AS c FROM orders_udf_t GROUP BY 1")
    assert(viaSql.count() > 0)
    val total = viaSql.agg(sum("c")).head().getLong(0)
    assert(total === spark.table("orders_udf_t").count())
  }

  test("warm table cache serves cached frames and evicts on scale switch") {
    // try/finally: this test mutates process-global state (the warm table
    // cache on the shared test session); a mid-test assertion failure must
    // not leave later suites running against warmed tables.
    val spk = spark
    try {
      graft.sources.Tables.warmCache(spk, sf())
      val warmed = graft.sources.Tables.orders(spk, sf())
      assert(graft.sources.Tables.isWarm(spk, sf(), "orders"),
        "warmed table must have live checkpoint blocks")
      // repeated loads return the same cached frame (plan identity)
      assert(graft.sources.Tables.orders(spk, sf()) eq warmed)
      // query-scoped scratch caches release independently of the warm
      // tables (the bench relies on this): Scratch.releaseAll must drop
      // a scratch frame's blocks AND its CacheManager entry — so a
      // re-persist of the same plan works — without evicting the tables
      import graft.sources.Scratch.PersistSyntax
      import org.apache.spark.storage.StorageLevel
      val scratch = warmed.groupBy("o_orderstatus").count().persistScratch()
      assert(scratch.count() > 0)
      assert(scratch.storageLevel != StorageLevel.NONE)
      graft.sources.Scratch.releaseAll()
      assert(scratch.storageLevel == StorageLevel.NONE,
        "released scratch frame must be uncached")
      assert(graft.sources.Tables.isWarm(spk, sf(), "orders"),
        "scratch release must not evict warm tables")
      // the CacheManager entry is gone too: an identical plan re-persists
      // for real (the stale-entry bug made this a silent no-op)
      val again = warmed.groupBy("o_orderstatus").count().persistScratch()
      again.count()
      assert(again.storageLevel != StorageLevel.NONE,
        "re-persist after release must create a live cache entry")
      graft.sources.Scratch.releaseAll()
      // warming another fixture dir evicts the old dir's blocks
      graft.sources.Tables.warmCache(spk, sf("sf0.01"))
      assert(!graft.sources.Tables.isWarm(spk, sf(), "orders"),
        "old scale factor's tables must be released after a switch")
      val rewarmed = graft.sources.Tables.orders(spk, sf("sf0.01"))
      assert(graft.sources.Tables.isWarm(spk, sf("sf0.01"), "orders"))
      // dropping the cache releases blocks and forgets the frames
      graft.sources.Tables.clearWarmCache()
      assert(!graft.sources.Tables.isWarm(spk, sf("sf0.01"), "orders"))
      assert(!(graft.sources.Tables.orders(spk, sf("sf0.01")) eq rewarmed))
    } finally {
      graft.sources.Scratch.releaseAll()
      graft.sources.Tables.clearWarmCache()
    }
  }

  test("z-order-sorted write produces files with far narrower per-file spans") {
    // The write-side claim behind q_layout_zorder: range-partitioning on
    // the Morton key before writing yields parquet files whose per-file
    // min/max envelopes are tight on BOTH dimensions, so a scan with a
    // predicate on either column can skip most files. Proven empirically
    // against the SAME data written unsorted: summed per-file spans must
    // shrink on both dims (unsorted files each cover ~the full 0..255
    // domain; z-sorted files cover a contiguous z interval, i.e. a few
    // 16x16 tiles).
    def spans(dir: String): (Long, Long) = {
      val perFile = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"))
      val r = perFile.agg(sum("dx"), sum("dy")).head()
      (r.getLong(0), r.getLong(1))
    }
    def morton(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      (0 until 8).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
          shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
      }.reduce(_ + _)
    val keyed = graft.sources.Tables.orders(spark, sf())
      .select((col("o_custkey") % 256).as("x"),
        (datediff(to_date(col("o_orderdate")), lit("1992-01-01")) % 256).as("y"))
      .withColumn("zkey", morton(col("x"), col("y")))
    val base = Files.createTempDirectory("graft_zorder").toString
    keyed.repartition(8).write.mode("overwrite").parquet(s"$base/plain")
    keyed.repartitionByRange(8, col("zkey")).sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(s"$base/zsorted")
    val (px, py) = spans(s"$base/plain")
    val (zx, zy) = spans(s"$base/zsorted")
    assert(zx < (px * 8) / 10 && zy < (py * 8) / 10,
      s"z-sorted files are not narrower: plain=($px,$py) zsorted=($zx,$zy)")
  }

  test("compaction collapses micro-batch small files without changing content") {
    val spk = spark
    import spk.implicits._
    def parquetFiles(p: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(p))
    }
    val path = Files.createTempDirectory("graft_compact").toString + "/t"
    // six micro-batches of 4 rows each — the streaming sink's file litter
    (0 until 6).foreach { id =>
      graft.sources.Sinks.writeBatch(
        (0 until 4).map(i => (id.toLong * 10 + i, s"v$i")).toDF("k", "v"),
        path, id)
    }
    val before = spark.read.parquet(path)
      .select("k", "v", "batch").as[(Long, String, Long)].collect().toSet
    val nBefore = parquetFiles(path).size
    assert(nBefore >= 6, s"expected at least one file per batch, saw $nBefore")
    // preserve the hive layout: batch is a partition column on disk
    graft.sources.Sinks.compact(spark, path, 1, Seq("batch"))
    val resolved = graft.sources.Sinks.resolveTable(spark, path)
    val nAfter = parquetFiles(resolved).size
    val after = graft.sources.Sinks.readTable(spark, path)
      .select("k", "v", "batch").as[(Long, String, Long)].collect().toSet
    assert(after === before, "compaction changed table content")
    assert(nAfter < nBefore,
      s"compaction did not reduce file count: $nBefore -> $nAfter")
    // partition directories survived the rewrite inside the live version
    assert(new java.io.File(s"$resolved/batch=0").isDirectory,
      "hive partition layout lost in compaction")
  }

  test("manifest-pointer publish: readers see a complete table at every crash point") {
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_publish").toString + "/t"
    def state(): Set[(Long, String, Long)] =
      graft.sources.Sinks.readTable(spk, table)
        .as[(Long, String, Long)].collect().toSet
    graft.sources.Sinks.upsertBatch(
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("key", "v", "seq"),
      table, "key", "seq")
    val v1 = state()
    assert(v1.map(_._1) === Set(1L, 2L))
    // Crash point 1: a later publish fully staged its data dir and died
    // before the pointer swap — readers must still resolve the committed
    // version, never the orphan.
    Seq((1L, "CRASH", 9L)).toDF("key", "v", "seq")
      .write.parquet(s"$table/data-crashed00000")
    assert(state() === v1, "reader saw an uncommitted staged version")
    // Crash point 2: the pointer-tmp file was written but the atomic
    // rename never ran.
    Files.writeString(java.nio.file.Paths.get(s"$table/.CURRENT.tmp"),
      "data-crashed00000")
    assert(state() === v1, "reader resolved through an uncommitted pointer tmp")
    // The replayed cycle commits normally and retires the crash debris.
    graft.sources.Sinks.upsertBatch(
      Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("key", "v", "seq"),
      table, "key", "seq")
    assert(state() === Set((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 1L)))
    val entries = new java.io.File(table).listFiles().map(_.getName).toSet
    assert(!entries.contains("data-crashed00000") &&
      !entries.contains(".CURRENT.tmp"),
      s"completed publish must retire crash debris, root holds $entries")
    // the predecessor version survives one cycle for in-flight readers
    assert(entries.count(_.startsWith("data-")) === 2,
      s"expected live + predecessor versions, root holds $entries")
  }

  test("time travel reads exactly one publish back through the pointer") {
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_tt").toString + "/t"
    def prev(): Option[Set[(Long, String, Long)]] =
      graft.sources.Sinks.readTableVersion(spk, table, 1)
        .map(_.as[(Long, String, Long)].collect().toSet)
    // no pointer at all → no history
    assert(prev().isEmpty, "unpublished table cannot have a predecessor")
    graft.sources.Sinks.upsertBatch(
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("key", "v", "seq"),
      table, "key", "seq")
    // first publish: a live version exists but nothing precedes it
    assert(prev().isEmpty, "first publish must not invent a predecessor")
    graft.sources.Sinks.upsertBatch(
      Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("key", "v", "seq"),
      table, "key", "seq")
    val v1 = Set((1L, "a", 1L), (2L, "b", 1L))
    assert(prev() === Some(v1), "predecessor read is not the pre-merge state")
    // the window ROLLS: after a third publish, previous is the second state
    graft.sources.Sinks.upsertBatch(
      Seq((4L, "d", 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    val v2 = Set((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 1L))
    assert(prev() === Some(v2), "retention window did not roll forward")
    // current and previous never disagree: both names come from the one
    // atomically-renamed pointer file, and both dirs exist on disk
    val current = graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long)].collect().toSet
    assert(current === v2 + ((4L, "d", 1L)))
    // a legacy single-line pointer (pre-history layout) still reads as
    // current-with-no-history instead of failing
    val ptr = java.nio.file.Paths.get(s"$table/CURRENT")
    val lines = Files.readString(ptr).split("\n")
    Files.writeString(ptr, lines.head)
    // the raw rewrite bypassed Hadoop's checksummed local FS — drop the
    // stale .crc sidecar or the next pointer read fails its checksum
    Files.deleteIfExists(java.nio.file.Paths.get(s"$table/.CURRENT.crc"))
    assert(graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long)].collect().toSet === current)
    assert(prev().isEmpty, "single-line pointer must read as no history")
  }

  test("legacy-root orphan staged dirs never leak into the first publish") {
    val spk = spark
    import spk.implicits._
    // legacy layout: plain parquet part-files at the table ROOT, no
    // pointer — the pre-publish state a migrating pipeline starts from
    val table = Files.createTempDirectory("graft_legacy").toString + "/t"
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("key", "v", "seq")
      .write.parquet(table)
    // a previous first-publish attempt fully staged its data dir and
    // died before the pointer write — uncommitted orphan in the root
    Seq((9L, "ORPHAN", 9L)).toDF("key", "v", "seq")
      .write.parquet(s"$table/data-orphan000000")
    // the replayed cycle must read ONLY the legacy base (the orphan was
    // never committed), merge the batch, and publish
    graft.sources.Sinks.upsertBatch(
      Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("key", "v", "seq"),
      table, "key", "seq")
    val state = graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long)].collect().toSet
    assert(state === Set((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 1L)),
      s"orphan staged rows leaked into the first publish: $state")
    val entries = new java.io.File(table).listFiles().map(_.getName).toSet
    assert(!entries.contains("data-orphan000000"),
      s"orphan staged dir survived the converging replay: $entries")
  }

  test("vacuum collects stage litter and shrinks retention on demand") {
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_vacuum").toString + "/t"
    def state(): Set[(Long, String, Long)] =
      graft.sources.Sinks.readTable(spk, table)
        .as[(Long, String, Long)].collect().toSet
    graft.sources.Sinks.upsertBatch(
      Seq((1L, "a", 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    graft.sources.Sinks.upsertBatch(
      Seq((2L, "b", 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    val v2 = state()
    // crash litter: a fully-staged-but-uncommitted dir + a pointer tmp
    Seq((9L, "CRASH", 9L)).toDF("key", "v", "seq")
      .write.parquet(s"$table/data-crashed00000")
    Files.writeString(java.nio.file.Paths.get(s"$table/.CURRENT.tmp"),
      "data-crashed00000")
    // default vacuum: litter collected, live AND predecessor retained —
    // the in-flight-reader grace contract holds
    graft.sources.Sinks.vacuum(spk, table)
    val afterDefault = new java.io.File(table).listFiles().map(_.getName).toSet
    assert(!afterDefault.contains("data-crashed00000") &&
      !afterDefault.contains(".CURRENT.tmp"),
      s"vacuum left crash litter: $afterDefault")
    assert(afterDefault.count(_.startsWith("data-")) === 2,
      s"default vacuum must keep live + predecessor: $afterDefault")
    assert(state() === v2, "vacuum changed the live version")
    assert(graft.sources.Sinks.readTableVersion(spk, table, 1).isDefined,
      "default vacuum broke time travel")
    // shrink retention to the live version only: predecessor dir AND its
    // pointer line go; time travel reports None instead of dangling
    graft.sources.Sinks.vacuum(spk, table, retainPredecessor = false)
    val afterShrink = new java.io.File(table).listFiles().map(_.getName).toSet
    assert(afterShrink.count(_.startsWith("data-")) === 1,
      s"shrinking vacuum must keep only the live version: $afterShrink")
    assert(state() === v2, "shrinking vacuum changed the live version")
    assert(graft.sources.Sinks.readTableVersion(spk, table, 1).isEmpty,
      "shrinking vacuum left a dangling predecessor pointer line")
    // pointerless root: vacuum is exactly the uncommitted-stage sweep
    val bare = Files.createTempDirectory("graft_vacuum_bare").toString + "/t"
    Seq((1L, "a", 1L)).toDF("key", "v", "seq").write.parquet(bare)
    Seq((9L, "x", 9L)).toDF("key", "v", "seq")
      .write.parquet(s"$bare/data-orphan000000")
    graft.sources.Sinks.vacuum(spk, bare)
    val bareEntries = new java.io.File(bare).listFiles().map(_.getName).toSet
    assert(!bareEntries.exists(_.startsWith("data-")),
      s"pointerless vacuum left staged orphans: $bareEntries")
    assert(graft.sources.Sinks.readTable(spk, bare)
      .as[(Long, String, Long)].collect().toSet === Set((1L, "a", 1L)),
      "pointerless vacuum touched committed root files")
  }

  test("a second concurrent writer fails fast; a crashed lease is reclaimed") {
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_lock").toString + "/t"
    graft.sources.Sinks.upsertBatch(
      Seq((1L, "a", 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    // simulate writer 1 mid-mutation: a FRESH lease file is present
    val lock = java.nio.file.Paths.get(s"$table/.LOCK")
    Files.writeString(lock,
      s"someone-else\n${System.currentTimeMillis()}\n")
    val e = intercept[graft.sources.Sinks.ConcurrentWriterException] {
      graft.sources.Sinks.upsertBatch(
        Seq((2L, "b", 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    }
    assert(e.getMessage.contains("concurrent writer"))
    // the rejected writer must not have touched the table or the lease
    assert(Files.exists(lock), "rejected writer deleted a live lease")
    assert(graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long)].collect().toSet === Set((1L, "a", 1L)),
      "rejected writer mutated the table")
    // vacuum and compact honor the same lease
    intercept[graft.sources.Sinks.ConcurrentWriterException] {
      graft.sources.Sinks.vacuum(spk, table)
    }
    intercept[graft.sources.Sinks.ConcurrentWriterException] {
      graft.sources.Sinks.compact(spk, table, 1)
    }
    // a CRASHED holder's lease (acquire-stamp older than LockStaleMs) is
    // reclaimed: the next writer proceeds and leaves no lease behind
    Files.writeString(lock,
      s"crashed\n${System.currentTimeMillis() - graft.sources.Sinks.LockStaleMs - 1000}\n")
    // the raw rewrite bypassed Hadoop's checksummed local FS — drop the
    // stale .crc sidecar or the lease read fails its checksum
    Files.deleteIfExists(java.nio.file.Paths.get(s"$table/..LOCK.crc"))
    graft.sources.Sinks.upsertBatch(
      Seq((2L, "b", 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    assert(graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long)].collect().toSet ===
      Set((1L, "a", 1L), (2L, "b", 1L)),
      "reclaiming writer lost the merge")
    assert(!Files.exists(lock), "completed writer left its lease behind")
    // an UNREADABLE lease (torn write from a crash mid-create) is stale too
    Files.writeString(lock, "")
    Files.deleteIfExists(java.nio.file.Paths.get(s"$table/..LOCK.crc"))
    graft.sources.Sinks.vacuum(spk, table)
    assert(!Files.exists(lock), "vacuum left a reclaimed torn lease behind")
  }

  /** Retry a mutator until it wins the lease — what a real second writer
    * does when the single-writer contract bounces it. */
  private def retryingLease(body: => Unit): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      try { body; done = true }
      catch {
        case _: graft.sources.Sinks.ConcurrentWriterException =>
          attempts += 1
          assert(attempts < 2000, "mutator starved behind the lease")
          Thread.sleep(10)
      }
    }
  }

  test("two REAL concurrent mutators (upsertBatchDv vs compactDeletes) serialize on the lease to the seq-ordered state") {
    // VERDICT r19 #3: the lease tests above simulate contention with a
    // hand-written lease file; this one runs two genuine mutator threads
    // against one table. Any interleaving must produce the same final
    // state: each merge's (seq, row-hash) total order makes the merges
    // commute with the folds, so if the lease truly serializes them no
    // committed row or restatement can be lost.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_race1").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    val n = ord.count()
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val rounds = 5
    @volatile var errA: Throwable = null
    @volatile var errB: Throwable = null
    @volatile var merging = true
    val merger = new Thread(() => {
      try {
        (1 to rounds).foreach { i =>
          val b = ord.filter(col("key") % 5 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + i.toDouble)
            .withColumn("seq", lit(i + 1L))
          retryingLease {
            graft.sources.Sinks.upsertBatchDv(b, root, "key", "seq")
          }
        }
      } catch { case t: Throwable => errA = t }
      finally merging = false
    })
    val folder = new Thread(() => {
      try {
        while (merging) {
          try {
            graft.sources.Sinks.compactDeletes(spk, root, 0.001, 2)
            ()
          } catch {
            case _: graft.sources.Sinks.ConcurrentWriterException => () // busy: skip
          }
          Thread.sleep(25)
        }
      } catch { case t: Throwable => errB = t }
    })
    merger.start(); folder.start()
    merger.join(300000); folder.join(300000)
    assert(errA == null, s"merger thread failed: $errA")
    assert(errB == null, s"folder thread failed: $errB")
    // serialized outcome: every key present exactly once, the %5 slice at
    // its FINAL restatement (orig + rounds), everything else untouched
    val fin = graft.sources.Sinks.readTable(spk, root)
    assert(fin.count() === n, "concurrent merge/fold lost or duplicated rows")
    val drift = fin.join(ord.select(col("key"),
        col("o_totalprice").as("orig")), "key")
      .withColumn("want", when(col("key") % 5 === 0,
        col("orig") + rounds.toDouble).otherwise(col("orig")))
      .filter(col("o_totalprice") =!= col("want")).count()
    assert(drift === 0L,
      "concurrent merge/fold produced a non-serialized price state")
  }

  test("two REAL concurrent mutators (writeBatch vs deleteWhere) interleave without dropping a committed row") {
    // The streaming appender is LOCKLESS (only its log compaction takes
    // the lease, and SKIPS when busy — Sinks' busy-skip path); deleteWhere
    // holds the lease. Under interleaving every arrival must stay
    // committed AND commit-logged (zero-listing skip reads see them), and
    // the deletes must land exactly on the seed's predicate slice.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_race2").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val nBatches = 20 // past the 16-part log fold threshold mid-race
    // arrival keys chosen NEVER ≡ 0 (mod 7): the delete predicate then
    // touches only seed rows and the expected final state is
    // interleaving-independent
    def arrival(b: Int) = spk.range(2).select(
      (col("id") * 7L + 900000001L + b * 70L).as("key"),
      lit("1996-02-10 00:00:00").cast("timestamp_ntz").as("o_orderdate"),
      lit(1.0).as("o_totalprice"), lit(1L).as("seq"))
    @volatile var errA: Throwable = null
    @volatile var errB: Throwable = null
    @volatile var appending = true
    val appender = new Thread(() => {
      try (1 to nBatches).foreach { b =>
        graft.sources.Sinks.writeBatch(arrival(b).toDF(), root, b.toLong)
      } catch { case t: Throwable => errA = t }
      finally appending = false
    })
    val deleter = new Thread(() => {
      try {
        while (appending) {
          retryingLease {
            graft.sources.Sinks.deleteWhere(spk, root, col("key") % 7 === 0)
          }
          Thread.sleep(15)
        }
      } catch { case t: Throwable => errB = t }
    })
    appender.start(); deleter.start()
    appender.join(300000); deleter.join(300000)
    assert(errA == null, s"appender thread failed: $errA")
    assert(errB == null, s"deleter thread failed: $errB")
    // one final delete so the predicate has seen every committed row
    graft.sources.Sinks.deleteWhere(spk, root, col("key") % 7 === 0)
    val expect = ord.filter(col("key") % 7 =!= 0).count() + 2L * nBatches
    assert(graft.sources.Sinks.readTable(spk, root).count() === expect,
      "interleaved append/delete lost a committed row")
    // the commit log survived the mid-race folds: zero-listing skip read
    // sees the same state
    graft.sources.Sinks.valveListings.set(0L)
    val lo = lit("1990-01-01 00:00:00").cast("timestamp")
    val hi = lit("2000-12-31 23:59:59").cast("timestamp")
    val skipN = graft.sources.Sinks
      .readTableSkip(spk, root, Seq(("o_orderdate", lo, hi))).count()
    val expectSkip = ord.filter(col("o_orderdate").between(lo, hi) &&
      col("key") % 7 =!= 0).count() + 2L * nBatches
    assert(skipN === expectSkip,
      s"skip read disagrees after the race: $skipN vs $expectSkip")
    assert(graft.sources.Sinks.valveListings.get() === 0L,
      "the race cost the commit log (listing valve fired)")
  }

  test("merge schema evolution is additive and loud") {
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_evolve").toString + "/t"
    graft.sources.Sinks.upsertBatch(
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("key", "v", "seq"),
      table, "key", "seq")
    // additive: a batch with a NEW column evolves the schema; the
    // base-won row reads a typed NULL, the batch-won rows their values
    graft.sources.Sinks.upsertBatch(
      Seq((2L, "b2", 2L, 7L), (3L, "c", 1L, 9L))
        .toDF("key", "v", "seq", "extra"),
      table, "key", "seq")
    val rows = graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long, Option[Long])].collect().toSet
    assert(rows === Set((1L, "a", 1L, None), (2L, "b2", 2L, Some(7L)),
      (3L, "c", 1L, Some(9L))),
      s"evolved merge produced $rows")
    // a post-evolution batch MISSING a current column must fail loudly
    // (silently nulling surviving data is the bug class this forbids)
    intercept[org.apache.spark.sql.AnalysisException] {
      graft.sources.Sinks.upsertBatch(
        Seq((4L, "d", 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    }
    // the failed mutation staged nothing permanent and released its lease
    assert(!Files.exists(java.nio.file.Paths.get(s"$table/.LOCK")),
      "failed evolve left the writer lease behind")
    assert(graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long, Option[Long])].collect().toSet === rows,
      "failed evolve mutated the table")
  }

  test("schema evolution rejects a same-name type change loudly") {
    // The silent-coercion class: a batch carrying an existing column under
    // the same NAME but a different TYPE (bal as BIGINT over an INT base)
    // would be coerced by the when/otherwise merge, permanently widening
    // the table schema on publish and changing the xxhash64 tie-break
    // inputs for replayed pre-widening batches (int and long hash
    // differently). Evolution is additive-only: type changes fail loudly.
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_typeclash").toString + "/t"
    graft.sources.Sinks.upsertBatch(
      Seq((1L, 10, 1L), (2L, 20, 1L)).toDF("key", "bal", "seq"),
      table, "key", "seq")
    val e = intercept[IllegalArgumentException] {
      graft.sources.Sinks.upsertBatch(
        Seq((2L, 99L, 2L)).toDF("key", "bal", "seq"), // bal BIGINT vs INT
        table, "key", "seq")
    }
    assert(e.getMessage.contains("bal") &&
      e.getMessage.toLowerCase.contains("additive"),
      s"type-clash error must name the column and the contract: ${e.getMessage}")
    // the rejected batch mutated nothing and released its lease
    assert(graft.sources.Sinks.readTable(spk, table)
      .as[(Long, Int, Long)].collect().toSet ===
      Set((1L, 10, 1L), (2L, 20, 1L)),
      "rejected type-changing batch mutated the table")
    assert(!Files.exists(java.nio.file.Paths.get(s"$table/.LOCK")),
      "rejected type-changing batch left the writer lease behind")
    // an explicitly-cast batch (the documented fix) proceeds normally
    graft.sources.Sinks.upsertBatch(
      Seq((2L, 99L, 2L)).toDF("key", "bal", "seq")
        .withColumn("bal", col("bal").cast("int")),
      table, "key", "seq")
    assert(graft.sources.Sinks.readTable(spk, table)
      .as[(Long, Int, Long)].collect().toSet ===
      Set((1L, 10, 1L), (2L, 99, 2L)),
      "explicitly-cast batch did not merge")
  }

  test("stale-lease reclaim is single-winner under concurrent mutators") {
    // Two cron-synchronized writers hitting one crashed lease is the
    // likely deployment shape: exactly the observe/rename TOCTOU window
    // the reclaim's re-verify closes (a racer that renames a lease must
    // re-judge staleness on the MOVED content and restore a fresh foreign
    // lease instead of deleting it). Run 4 concurrent upserts over one
    // stale lease: every thread either commits or fails fast with
    // ConcurrentWriterException, the final table holds the base row plus
    // exactly the winners' keys, and no lease litter survives the last
    // publish.
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_reclaim_race").toString + "/t"
    graft.sources.Sinks.upsertBatch(
      Seq((0L, "base", 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    val lock = java.nio.file.Paths.get(s"$table/.LOCK")
    Files.writeString(lock,
      s"crashed\n${System.currentTimeMillis() - graft.sources.Sinks.LockStaleMs - 1000}\n")
    Files.deleteIfExists(java.nio.file.Paths.get(s"$table/..LOCK.crc"))
    import java.util.concurrent.ConcurrentLinkedQueue
    val won = new ConcurrentLinkedQueue[Long]()
    val failed = new ConcurrentLinkedQueue[Long]()
    val threads = (1L to 4L).map { k =>
      new Thread(() =>
        try {
          graft.sources.Sinks.upsertBatch(
            Seq((k, s"w$k", 2L)).toDF("key", "v", "seq"), table, "key", "seq")
          won.add(k)
        } catch {
          case _: graft.sources.Sinks.ConcurrentWriterException => failed.add(k)
        })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    val winners = won.asScala.toSet
    assert(winners.size + failed.size() === 4,
      s"a racer died with an unexpected exception: won=$winners failed=${failed.asScala}")
    assert(winners.nonEmpty, "no racer reclaimed the stale lease")
    val rows = graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long)].collect().toSet
    assert(rows === Set((0L, "base", 1L)) ++ winners.map(k => (k, s"w$k", 2L)),
      s"concurrent reclaim lost or duplicated a committed write: $rows")
    val litter = new java.io.File(table).listFiles().map(_.getName)
      .filter(_.startsWith(".LOCK")).toSeq
    assert(litter.isEmpty, s"lease litter survived the final publish: $litter")
  }

  test("crashed reclaim mutex: sweep is single-winner under concurrent mutators") {
    // The review-caught second-order TOCTOU: a crashed reclaimer's stale
    // .LOCK.reclaim used to be swept by delete-then-create, so two
    // sweepers could both hold the mutex and cascade into two writer
    // leases. The sweep is now rename-aside + re-judge. Fabricate BOTH a
    // stale lease and a stale mutex, then race 4 mutators: every thread
    // commits or fails fast, no lost writes, no .LOCK* litter.
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_mutex_race").toString + "/t"
    graft.sources.Sinks.upsertBatch(
      Seq((0L, "base", 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    val old = System.currentTimeMillis() - graft.sources.Sinks.LockStaleMs - 1000
    Files.writeString(java.nio.file.Paths.get(s"$table/.LOCK"),
      s"crashed\n$old\n")
    Files.writeString(java.nio.file.Paths.get(s"$table/.LOCK.reclaim"),
      s"crashed-reclaimer\n$old\n")
    import java.util.concurrent.ConcurrentLinkedQueue
    val won = new ConcurrentLinkedQueue[Long]()
    val failed = new ConcurrentLinkedQueue[Long]()
    val threads = (1L to 4L).map { k =>
      new Thread(() =>
        try {
          graft.sources.Sinks.upsertBatch(
            Seq((k, s"w$k", 2L)).toDF("key", "v", "seq"), table, "key", "seq")
          won.add(k)
        } catch {
          case _: graft.sources.Sinks.ConcurrentWriterException => failed.add(k)
        })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    val winners = won.asScala.toSet
    assert(winners.size + failed.size() === 4,
      s"a racer died with an unexpected exception: won=$winners failed=${failed.asScala}")
    assert(winners.nonEmpty, "no racer got past the crashed mutex + stale lease")
    val rows = graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long)].collect().toSet
    assert(rows === Set((0L, "base", 1L)) ++ winners.map(k => (k, s"w$k", 2L)),
      s"concurrent sweep lost or duplicated a committed write: $rows")
    val litter = new java.io.File(table).listFiles().map(_.getName)
      .filter(_.startsWith(".LOCK")).toSeq
    assert(litter.isEmpty, s"lock litter survived the final publish: $litter")
  }

  test("publish retirement never collects a live reclaim mutex") {
    // Retirement can't tell a crashed reclaimer's mutex from a LIVE one
    // (an overstaying holder may publish while a reclaimer legitimately
    // works) — it must leave .LOCK.reclaim alone; the mutex self-expires
    // instead. Sweeper litter (.LOCK.reclaim.sweep.*) IS collectable.
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_mutex_keep").toString + "/t"
    graft.sources.Sinks.upsertBatch(
      Seq((0L, "base", 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    Files.writeString(java.nio.file.Paths.get(s"$table/.LOCK.reclaim"),
      s"live-reclaimer\n${System.currentTimeMillis()}\n")
    Files.writeString(java.nio.file.Paths.get(s"$table/.LOCK.reclaim.sweep.x"),
      "sweeper-crash-litter\n0\n")
    graft.sources.Sinks.upsertBatch(
      Seq((1L, "w1", 2L)).toDF("key", "v", "seq"), table, "key", "seq")
    val names = new java.io.File(table).listFiles().map(_.getName).toSet
    assert(names.contains(".LOCK.reclaim"),
      "publish retirement deleted a live reclaimer's mutex")
    assert(!names.exists(_.startsWith(".LOCK.reclaim.sweep")),
      "publish retirement left sweeper crash litter behind")
    Files.deleteIfExists(java.nio.file.Paths.get(s"$table/.LOCK.reclaim"))
  }

  test("a reader resolved before a publish scans one complete version") {
    // Snapshot isolation for readers under a concurrent publish: the
    // pointer protocol retains predecessors (HistoryKeep versions total)
    // precisely so an in-flight scan that resolved CURRENT before the
    // swap still reads its complete version — the resolve→swap→scan
    // interleaving, driven here explicitly. Within the history window the
    // old frame stays readable and byte-identical; past it, the reader
    // gets a loud failure, never a torn mix of versions.
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_snapiso").toString + "/t"
    def up(rows: (Long, String, Long)*): Unit =
      graft.sources.Sinks.upsertBatch(
        rows.toDF("key", "v", "seq"), table, "key", "seq")
    up((1L, "a", 1L)) // v1
    // reader resolves CURRENT now (the pointer read happens HERE; the
    // data files are opened lazily at each action)
    val resolvedDir = graft.sources.Sinks.resolveTable(spk, table)
    val reader = spk.read.parquet(resolvedDir)
    val v1 = Set((1L, "a", 1L))
    // publish lands AFTER the resolve, BEFORE the scan — the snapshot
    // contract: the reader sees exactly the version it resolved
    up((2L, "b", 2L)) // v2; v1 retained as predecessor
    assert(reader.as[(Long, String, Long)].collect().toSet === v1,
      "reader scanned a different version than it resolved")
    // still true one more publish later (v1 is within the keep-3 window)
    up((3L, "c", 3L)) // v3; window = [v3, v2, v1]
    assert(reader.as[(Long, String, Long)].collect().toSet === v1,
      "retained predecessor changed under a second publish")
    // a FRESH resolve sees the new live version, complete
    assert(graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long)].collect().toSet ===
      Set((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)),
      "fresh reader does not see the live version")
    // past the window the old version is GONE loudly (dir retired), not
    // silently remapped: the reader fails its next action
    up((4L, "d", 4L)) // v4 retires v1
    intercept[Exception] { reader.collect() }
  }

  test("a reader resolved before an OPTIMIZE publish keeps its snapshot") {
    // The q_layout_optimize_publish interleaving: OPTIMIZE is a pointer
    // commit like any merge — a reader that resolved CURRENT before the
    // recluster's swap must keep scanning its complete version, and a
    // fresh resolve must see the SAME ROWS reclustered (OPTIMIZE is
    // row-preserving by definition). Extends the resolve→swap→scan spec
    // above to the maintenance commit a lake runs continuously.
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_optiso").toString + "/t"
    graft.sources.Sinks.upsertBatch(
      Seq((3L, "c", 1L), (1L, "a", 1L), (2L, "b", 1L))
        .toDF("key", "v", "seq"), table, "key", "seq") // v1
    val rows = Set((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
    val resolvedDir = graft.sources.Sinks.resolveTable(spk, table)
    val reader = spk.read.parquet(resolvedDir)
    // OPTIMIZE publishes v2 (reclustered by key) AFTER the resolve
    graft.sources.Sinks.optimizeClustered(spk, table, 2, Seq("key"))
    assert(reader.as[(Long, String, Long)].collect().toSet === rows,
      "reader lost its snapshot under an OPTIMIZE publish")
    val fresh = graft.sources.Sinks.resolveTable(spk, table)
    assert(fresh !== resolvedDir, "OPTIMIZE did not publish a new version")
    assert(graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long)].collect().toSet === rows,
      "OPTIMIZE changed the table's rows")
    // the recluster actually sorted: each output file's key range is
    // tight (file 1 < file 2), i.e. the rewrite was clustered, not a copy
    val byFile = graft.sources.Sinks.readTable(spk, table)
      .select(input_file_name().as("f"), col("key"))
      .collect().groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    assert(byFile.size == 2 && byFile.values.forall(s =>
        s == Set(1L) || s == Set(2L, 3L) || s == Set(1L, 2L) || s == Set(3L)),
      s"recluster did not range-partition by key: $byFile")
    // a later MERGE still works on the optimized table (protocol composes)
    graft.sources.Sinks.upsertBatch(
      Seq((4L, "d", 2L)).toDF("key", "v", "seq"), table, "key", "seq")
    assert(graft.sources.Sinks.readTable(spk, table).count() === 4)
  }

  test("version history keeps HistoryKeep versions and time travels to depth 2") {
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_hist").toString + "/t"
    def version(back: Int): Option[Set[(Long, String, Long)]] =
      graft.sources.Sinks.readTableVersion(spk, table, back)
        .map(_.as[(Long, String, Long)].collect().toSet)
    def up(rows: (Long, String, Long)*): Unit =
      graft.sources.Sinks.upsertBatch(
        rows.toDF("key", "v", "seq"), table, "key", "seq")
    up((1L, "a", 1L))                       // v1
    up((2L, "b", 2L))                       // v2
    up((1L, "a3", 3L))                      // v3
    val v1 = Set((1L, "a", 1L))
    val v2 = v1 + ((2L, "b", 2L))
    val v3 = Set((1L, "a3", 3L), (2L, "b", 2L))
    assert(version(0) === Some(v3) && version(1) === Some(v2) &&
      version(2) === Some(v1), "history window does not hold 3 versions")
    assert(version(3).isEmpty, "history deeper than the window must be None")
    // the window ROLLS: a 4th publish retires v1's dir and pointer line
    up((3L, "c", 4L))
    assert(version(1) === Some(v3) && version(2) === Some(v2),
      "history did not roll forward with the 4th publish")
    assert(version(3).isEmpty, "rolled-out version still readable")
    val dirs = new java.io.File(table).listFiles().map(_.getName)
      .count(_.startsWith("data-"))
    assert(dirs === graft.sources.Sinks.HistoryKeep,
      s"retirement must keep exactly HistoryKeep dirs, found $dirs")
    // shrinking vacuum drops the WHOLE history, not just one predecessor
    graft.sources.Sinks.vacuum(spk, table, retainPredecessor = false)
    assert(version(1).isEmpty && new java.io.File(table).listFiles()
      .count(_.getName.startsWith("data-")) === 1,
      "shrinking vacuum left history behind")
  }

  test("skip-readers resolve files from the _files commit log: zero listings, sound under streaming arrivals") {
    // The r17 scale finding: every skip-read paid a
    // recursive fs.listFiles over the live version (a full object-store
    // LIST + O(files) driver loop per read at 100 TB). Now every commit
    // writes a `_files` manifest (the authoritative file set + schema)
    // and writeBatch commit-logs its batch DIR into it, so the covered
    // lifecycle — commit, skip-read, streaming arrival, skip-read again —
    // must take ZERO legacy-valve listings while staying sound (the
    // batch-only row is still found). A version stripped of its `_files`
    // log (a legacy table) must instead fire the valve and stay sound.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_zerolist").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"), bloomCol = "key")
    val batch = spk.range(2).select(
      (col("id") + 9000000L).as("key"),
      lit("1996-02-10 00:00:00").cast("timestamp").as("o_orderdate"),
      lit(42.0).as("o_totalprice"), lit(1L).as("seq"))
    graft.sources.Sinks.writeBatch(batch, root, 7L)
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-02-29 23:59:59").cast("timestamp")
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val baseKey = ord.agg(min("key")).head().getLong(0) // a key sure to exist
    def readBoth(): (Long, Set[Long]) = {
      val n = graft.sources.Sinks.readTableSkip(spk, root, Seq(("o_orderdate", lo, hi)))
        .count()
      val ks = graft.sources.Sinks
        .readTableSkip(spk, root, Nil, Some(("key", Seq(baseKey, 9000001L))))
        .select("key").as[Long].collect().toSet
      (n, ks)
    }
    graft.sources.Sinks.valveListings.set(0L)
    val (n1, k1) = readBoth()
    assert(graft.sources.Sinks.valveListings.get() === 0L,
      "skip-read of a _files-carrying version took a recursive listing")
    assert(k1.contains(9000001L),
      "commit-logged batch arrival lost by the zero-listing read path")
    assert(k1.contains(baseKey),
      "zero-listing bloom lookup lost a BASE-version key (the mixed-layout " +
        "partition-discovery data-loss edge)")
    // truth side through readTable — the layout-aware whole-version read.
    // Lock the mixed-layout semantics explicitly: base rows AND batch rows
    // both survive (plain spark.read.parquet of a mixed version silently
    // drops the whole compacted/merged base — found and fixed this round).
    val fullTable = graft.sources.Sinks.readTable(spk, root)
    assert(fullTable.count() === ord.count() + 2,
      "readTable lost rows on a mixed root-files+batch-dirs version")
    val expected = fullTable
      .filter(col("o_orderdate").between(lo, hi)).count()
    val baseInWindow = ord.filter(col("o_orderdate").between(lo, hi)).count()
    assert(expected === baseInWindow + 2,
      s"full read lost base or batch rows: $expected vs $baseInWindow + 2")
    assert(n1 === expected, s"zero-listing skip-scan diverged: $n1 vs $expected")
    // the skip-read still PRUNES (manifest alive, not read-everything)
    val prunedFiles = graft.sources.Sinks
      .readTableSkip(spk, root, Seq(("o_orderdate", lo, hi)))
      .select(input_file_name()).distinct().count()
    val allFiles = fullTable
      .select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles,
      s"commit-log read path stopped pruning ($prunedFiles of $allFiles)")
    // legacy table (no _files): the soundness valve must fire and still
    // surface the batch-only row
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spk.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(live, "_files"), true)
    graft.sources.Sinks.valveListings.set(0L)
    val (n2, k2) = readBoth()
    assert(graft.sources.Sinks.valveListings.get() > 0L,
      "legacy version without _files must take the listing valve")
    assert(n2 === expected && k2 === Set(baseKey, 9000001L),
      "legacy valve path lost rows")
  }

  test("conflict retry: two interleaved writers both land (bounded OCC retry)") {
    // withWriterRetry semantics: a mutator that loses the lease race
    // re-runs its whole stage+publish cycle against the NEW current
    // version — so with retry enabled, two concurrent upserts of
    // DISJOINT keys must BOTH commit (the r17 fail-fast behavior made
    // the second abort to its caller). Also re-run under a third
    // concurrent optimize-with-retry to cover the mutator mix.
    val spk = spark
    import spk.implicits._
    (1 to 3).foreach { round =>
      val table = Files.createTempDirectory(s"graft_occ$round").toString + "/t"
      graft.sources.Sinks.upsertBatch(
        Seq((0L, "base", 1L)).toDF("key", "v", "seq"), table, "key", "seq",
        statsCols = Seq("key"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1L to 2L).map { k =>
        new Thread(() =>
          try graft.sources.Sinks.withWriterRetry(20) {
            graft.sources.Sinks.upsertBatch(
              Seq((k, s"w$k", 2L)).toDF("key", "v", "seq"), table, "key", "seq")
          }
          catch { case t: Throwable => errs.add(t) })
      } :+ new Thread(() =>
        try graft.sources.Sinks.withWriterRetry(20) {
          graft.sources.Sinks.optimizeClustered(spk, table, 2, Seq("key"))
        }
        catch { case t: Throwable => errs.add(t) })
      threads.foreach(_.start())
      threads.foreach(_.join(180000))
      import scala.jdk.CollectionConverters._
      assert(errs.isEmpty,
        s"round $round: a retrying writer still failed: ${errs.asScala.map(_.getMessage)}")
      val rows = graft.sources.Sinks.readTable(spk, table)
        .as[(Long, String, Long)].collect().toSet
      assert(rows === Set((0L, "base", 1L), (1L, "w1", 2L), (2L, "w2", 2L)),
        s"round $round: conflict retry lost a committed write: $rows")
    }
  }

  test("footer-harvested stats handle all-null and skewed-null stats columns") {
    // The footer path's null-envelope semantics must match what the old
    // min()/max() scan produced: a file whose stats column is entirely
    // NULL gets a (null, null) envelope — which every BETWEEN skip
    // predicate correctly never selects — while rows with values keep
    // exact envelopes, and the skip-read must still return every
    // surviving row (null-keyed rows are invisible to a range predicate
    // on either engine).
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_nullstats").toString + "/t"
    // keys 0..99; ts null for a whole key stripe (clustered writes put
    // the nulls together -> at least one all-null file)
    val rows = spk.range(100).select(
      col("id").as("key"),
      when(col("id") < 30, lit(null).cast("timestamp"))
        .otherwise(to_timestamp(
          concat(lit("1996-01-"),
            lpad((col("id") % 28 + 1).cast("string"), 2, "0"))))
        .as("ts"),
      lit(1.0).as("v"))
    graft.sources.Sinks.upsertBatch(rows.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("ts"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val stats = spk.read.parquet(s"$live/_stats")
    // the manifest rendering proves the footer path ran (listing file:/,
    // not input_file_name file:///) — this spec must test the new path
    assert(stats.select("file").collect()
      .forall(!_.getString(0).startsWith("file:///")),
      "stats manifest came from the scan fallback, not the footer harvest")
    assert(stats.filter(col("ts_min").isNull && col("ts_max").isNull).count() > 0,
      "no all-null envelope produced — fixture did not isolate a null file")
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-01-31 23:59:59").cast("timestamp")
    val n = graft.sources.Sinks.readTableSkip(spk, root, Seq(("ts", lo, hi))).count()
    val expected = graft.sources.Sinks.readTable(spk, root)
      .filter(col("ts").between(lo, hi)).count()
    assert(n === expected && n === 70L,
      s"skip-read over null-enveloped files diverged: $n vs $expected (want 70)")
  }

  test("deletion vectors: zero file rewrites, all readers agree, the next commit folds them in") {
    // q_layout_delete_vector's protocol claims: (a) deleteWhere touches
    // NO data file (byte-identical file set — the whole point vs the
    // copy-on-write purge), (b) readTable, the skip-readers, and time
    // travel all apply the vectors identically, (c) a second deleteWhere
    // accumulates, (d) the next rewriting commit (an upsert) FOLDS the
    // vectors into its new version — no _deletes survives, no deleted
    // row resurrects.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_dv").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    val total = ord.count()
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"), bloomCol = "key")
    val live = graft.sources.Sinks.resolveTable(spk, root)
    def fileSig(): Map[String, Long] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spk.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(live))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.getName -> st.getLen).toMap
    }
    val before = fileSig()
    graft.sources.Sinks.deleteWhere(spk, root, col("key") % 7 === 0)
    assert(fileSig() === before,
      "deleteWhere rewrote data files — the MOR contract is zero rewrites")
    val expected = ord.filter(col("key") % 7 =!= 0).count()
    assert(graft.sources.Sinks.readTable(spk, root).count() === expected,
      "readTable did not apply the deletion vectors")
    // skip-readers agree (range scan + bloom point lookup)
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-06-30 23:59:59").cast("timestamp")
    val skipN = graft.sources.Sinks
      .readTableSkip(spk, root, Seq(("o_orderdate", lo, hi))).count()
    val fullN = graft.sources.Sinks.readTable(spk, root)
      .filter(col("o_orderdate").between(lo, hi)).count()
    assert(skipN === fullN, s"skip-read disagrees with MOR readTable: $skipN vs $fullN")
    val deadKey = ord.filter(col("key") % 7 === 0)
      .agg(min("key")).head().getLong(0)
    assert(graft.sources.Sinks
      .readTableSkip(spk, root, Nil, Some(("key", Seq(deadKey)))).count() === 0,
      "bloom point lookup resurrected a deleted key")
    // accumulation: a second vector composes
    graft.sources.Sinks.deleteWhere(spk, root, col("key") % 11 === 0)
    val expected2 = ord.filter(col("key") % 7 =!= 0 && col("key") % 11 =!= 0).count()
    assert(graft.sources.Sinks.readTable(spk, root).count() === expected2,
      "second deletion vector did not accumulate")
    // fold: the next rewriting commit bakes the deletes into its version
    graft.sources.Sinks.upsertBatch(
      Seq((-1L, "1996-02-01 00:00:00", 1.0, 2L))
        .toDF("key", "o_orderdate", "o_totalprice", "seq")
        .withColumn("o_orderdate",
          col("o_orderdate").cast("timestamp_ntz")), // the table's flavor
      root, "key", "seq")
    val live2 = graft.sources.Sinks.resolveTable(spk, root)
    assert(live2 !== live, "upsert did not publish a new version")
    assert(!new java.io.File(s"$live2/_deletes").exists,
      "folded version must start with no deletion vectors")
    assert(graft.sources.Sinks.readTable(spk, root).count() === expected2 + 1,
      "fold lost rows or resurrected deleted ones")
    assert(total > expected && expected > expected2, "fixture degenerate")
  }

  private def dataFileSig(spk: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spk.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.getName -> st.getLen).toMap
  }

  test("merge-on-read MERGE: zero rewritten base files, update+insert via vectors, replay converges, the next commit folds") {
    // q_merge_dv's protocol claims: (a) upsertBatchDv never touches a base
    // data file (every pre-merge file survives byte-identical; new files
    // are ADDED), (b) matched updates supersede via _deletes + appended
    // rows, inserts just append, (c) replaying the same batch converges on
    // the same visible rows (the COW path's total-order contract), (d) a
    // rewriting commit folds the vectors into its clean new version.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_mordv").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    val total = ord.count()
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val before = dataFileSig(spk, live)
    val updates = ord.filter(col("key") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100)
      .withColumn("seq", lit(2L))
    val inserts = ord.filter(col("key") % 13 === 0)
      .withColumn("key", col("key") + 500000000L)
      .withColumn("seq", lit(2L))
    val nIns = inserts.count()
    graft.sources.Sinks.upsertBatchDv(updates.unionByName(inserts),
      root, "key", "seq")
    val after = dataFileSig(spk, live)
    assert(before.forall { case (n, len) => after.get(n).contains(len) },
      "merge-on-read rewrote or removed a base data file")
    assert(after.size > before.size, "merge appended no new files")
    assert(new java.io.File(s"$live/_deletes").exists,
      "matched updates recorded no deletion vectors")
    val merged = graft.sources.Sinks.readTable(spk, root)
    assert(merged.count() === total + nIns,
      "visible row count after MOR merge is wrong")
    // one concrete updated key: exactly one visible row, at the new price
    val probe = ord.filter(col("key") % 10 === 0)
      .orderBy("key").limit(1).head()
    val k = probe.getLong(0)
    val oldPrice = probe.getDouble(2)
    val got = merged.filter(col("key") === k)
      .select("o_totalprice").collect().map(_.getDouble(0))
    assert(got.toSeq === Seq(oldPrice + 100),
      s"updated key $k visible as ${got.mkString(",")}, want ${oldPrice + 100}")
    // skip-reader agrees with the whole-table read
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-06-30 23:59:59").cast("timestamp")
    val skipN = graft.sources.Sinks
      .readTableSkip(spk, root, Seq(("o_orderdate", lo, hi))).count()
    val fullN = merged.filter(col("o_orderdate").between(lo, hi)).count()
    assert(skipN === fullN, s"skip-read disagrees after MOR merge: $skipN vs $fullN")
    // replay: same batch again → same visible rows (convergence)
    graft.sources.Sinks.upsertBatchDv(updates.unionByName(inserts),
      root, "key", "seq")
    assert(graft.sources.Sinks.readTable(spk, root).count() === total + nIns,
      "replaying the MOR batch changed the visible row count")
    // fold: a rewriting commit publishes a clean version
    graft.sources.Sinks.upsertBatch(
      Seq((-1L, "1996-02-01 00:00:00", 1.0, 9L))
        .toDF("key", "o_orderdate", "o_totalprice", "seq")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz")),
      root, "key", "seq")
    val live2 = graft.sources.Sinks.resolveTable(spk, root)
    assert(live2 !== live, "rewriting commit did not publish")
    assert(!new java.io.File(s"$live2/_deletes").exists,
      "folded version must start with no deletion vectors")
    assert(graft.sources.Sinks.readTable(spk, root).count() === total + nIns + 1,
      "fold after MOR merge lost rows or resurrected superseded ones")
  }

  test("merge-on-read matched-DELETE: tombstoned keys retire as vectors, zero base rewrites, replay converges") {
    val spk = spark
    val root = Files.createTempDirectory("graft_mordel").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("deleted", lit(false))
    val total = ord.count()
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val before = dataFileSig(spk, live)
    val deletes = ord.filter(col("key") % 7 === 0)
      .withColumn("deleted", lit(true)).withColumn("seq", lit(2L))
    val nDel = deletes.count()
    graft.sources.Sinks.upsertBatchDv(deletes, root, "key", "seq",
      deleteCol = "deleted")
    val after = dataFileSig(spk, live)
    assert(before.forall { case (n, len) => after.get(n).contains(len) },
      "MOR delete rewrote or removed a base data file")
    // a pure-delete batch appends no data ROWS (Spark may still emit one
    // empty schema-carrying part file for the empty staged frame)
    val appended = after.keySet -- before.keySet
    if (appended.nonEmpty) {
      val rows = spk.read
        .parquet(appended.map(n => s"$live/$n").toSeq: _*).count()
      assert(rows === 0, "a pure-delete MOR batch appended data rows")
    }
    val merged = graft.sources.Sinks.readTable(spk, root)
    assert(merged.count() === total - nDel, "delete clause missed rows")
    assert(merged.filter(col("key") % 7 === 0).count() === 0,
      "a tombstoned key survived the MOR delete")
    // replay converges: the tombstone finds no base row, wins as an
    // insert, and is filtered by its own flag
    graft.sources.Sinks.upsertBatchDv(deletes, root, "key", "seq",
      deleteCol = "deleted")
    assert(graft.sources.Sinks.readTable(spk, root).count() === total - nDel,
      "replaying the delete batch changed the visible row count")
  }

  test("writeBatch replay after deleteWhere re-applies the vectors: no resurrection, no duplicates") {
    // The r18 ADVICE conflict: deleteWhere records (file, pos) inside a
    // batch dir; an at-least-once replay OVERWRITES that dir with fresh
    // task-file names. The reconciliation must keep the deleted rows dead
    // (vectors re-applied by value) without duplicating the survivors.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_dvreplay").toString + "/t"
    val b0 = spk.range(100).select(col("id").as("key"),
      (col("id") % 10).as("bucket"))
    graft.sources.Sinks.writeBatch(b0.toDF(), root, 0L)
    graft.sources.Sinks.deleteWhere(spk, root, col("key") % 4 === 0)
    val expected = 100L - 25L
    assert(graft.sources.Sinks.readTable(spk, root).count() === expected)
    // replay the same batch id with the same data
    graft.sources.Sinks.writeBatch(b0.toDF(), root, 0L)
    val replayed = graft.sources.Sinks.readTable(spk, root)
    assert(replayed.count() === expected,
      "replay resurrected deleted rows or dropped survivors")
    assert(replayed.select("key").distinct().count() === expected,
      "replay duplicated surviving rows")
    assert(replayed.filter(col("key") % 4 === 0).count() === 0,
      "a deleted row came back after the replay")
    // a SECOND replay: the first one renamed every file, so the positional
    // vectors now dangle — the deletion must survive through the durable
    // value store, not the vectors (the round-19 review finding)
    graft.sources.Sinks.writeBatch(b0.toDF(), root, 0L)
    val replayed2 = graft.sources.Sinks.readTable(spk, root)
    assert(replayed2.count() === expected &&
      replayed2.filter(col("key") % 4 === 0).count() === 0,
      "the SECOND replay resurrected deleted rows (stale-vector blindness)")
    // deletions ACCUMULATE across replay generations: a fresh deleteWhere
    // records vectors against the post-replay files; another replay must
    // keep both generations dead
    graft.sources.Sinks.deleteWhere(spk, root, col("key") % 4 === 1)
    val expected2 = expected - 25L
    assert(graft.sources.Sinks.readTable(spk, root).count() === expected2)
    graft.sources.Sinks.writeBatch(b0.toDF(), root, 0L)
    val replayed3 = graft.sources.Sinks.readTable(spk, root)
    assert(replayed3.count() === expected2 &&
      replayed3.filter(col("key") % 4 === 0 || col("key") % 4 === 1).count() === 0,
      "a replay after a second deleteWhere generation lost a deletion")
  }

  test("merge-on-read re-run converges a torn duplicate-key state instead of multiplying it") {
    // The documented crash window (new files landed, vectors not yet)
    // leaves old+new rows visible per matched key. The converging re-run
    // must end at ONE visible row per key — a winners side built without
    // dedup would append the batch row once per matching base copy.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_mortorn").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    val total = ord.count()
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val updates = ord.filter(col("key") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100)
      .withColumn("seq", lit(2L))
    val nUpd = updates.count()
    graft.sources.Sinks.upsertBatchDv(updates, root, "key", "seq")
    // simulate the crash window retroactively: drop the vectors the merge
    // just recorded (files stay) — old and new rows are now BOTH visible
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spk.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$live/_deletes"), true))
    assert(graft.sources.Sinks.readTable(spk, root).count() === total + nUpd,
      "torn-state setup: expected old+new duplicates to be visible")
    // the converging re-run of the same merge
    graft.sources.Sinks.upsertBatchDv(updates, root, "key", "seq")
    val conv = graft.sources.Sinks.readTable(spk, root)
    assert(conv.count() === total,
      "re-run did not converge the duplicate-key state")
    assert(conv.groupBy("key").count().filter(col("count") > 1).count() === 0,
      "a key is still visible more than once after the converging re-run")
    val k = updates.orderBy("key").limit(1).head().getLong(0)
    val prices = conv.filter(col("key") === k)
      .select("o_totalprice").collect().map(_.getDouble(0)).toSeq
    assert(prices.length === 1 && prices.head ===
      ord.filter(col("key") === k).head().getDouble(2) + 100,
      s"converged key $k carries $prices")
  }

  test("torn batch arrival (dir present, log entry missing): reader families converge after replay") {
    // The documented crash window between the batch-dir write and the
    // _files append: full-table readers see the batch, commit-log
    // skip-readers do not — both must converge once the streaming engine
    // replays the batch (at-least-once), with no duplicates.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_torn").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    val total = ord.count()
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val batch = spk.range(5).select(
      (col("id") + 900000000L).as("key"),
      lit("1996-02-10 00:00:00").cast("timestamp_ntz").as("o_orderdate"),
      lit(42.0).as("o_totalprice"), lit(1L).as("seq"))
    // simulate the torn state: data landed, crash before the log append
    batch.write.mode("overwrite").parquet(s"$live/batch=3")
    val lo = lit("1990-01-01 00:00:00").cast("timestamp")
    val hi = lit("2000-12-31 23:59:59").cast("timestamp")
    // the residual between-filter drops the fixture's NULL o_orderdate
    // rows, so the skip side is compared against the same-filtered count
    val inRange = ord.filter(col("o_orderdate").between(lo, hi)).count()
    val fullTorn = graft.sources.Sinks.readTable(spk, root).count()
    val skipTorn = graft.sources.Sinks
      .readTableSkip(spk, root, Seq(("o_orderdate", lo, hi))).count()
    assert(fullTorn === total + 5, "full reader must see the torn batch")
    assert(skipTorn === inRange,
      "commit-log skip-reader must NOT see the unlogged batch")
    // the streaming engine replays the batch → writeBatch completes the
    // data-then-log discipline and both families agree
    graft.sources.Sinks.writeBatch(batch.toDF(), root, 3L)
    val fullAfter = graft.sources.Sinks.readTable(spk, root).count()
    val skipAfter = graft.sources.Sinks
      .readTableSkip(spk, root, Seq(("o_orderdate", lo, hi))).count()
    assert(fullAfter === total + 5 && skipAfter === inRange + 5,
      s"reader families disagree after replay: full=$fullAfter skip=$skipAfter")
  }

  test("_files log compacts past the batch-append threshold; zero-listing skip reads stay sound") {
    // Each writeBatch appends a one-row parquet file to the commit log;
    // left alone a long streaming run turns the log itself into an
    // O(batches)-file dir (the r18 ADVICE bound). Past the threshold the
    // log folds to one file, dedup'd, with the skip contract intact.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_logcompact").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    val nBatches = 20
    (1 to nBatches).foreach { i =>
      val b = spk.range(2).select(
        (col("id") + 900000000L + i * 10L).as("key"),
        lit("1996-02-10 00:00:00").cast("timestamp_ntz").as("o_orderdate"),
        lit(1.0).as("o_totalprice"), lit(1L).as("seq"))
      graft.sources.Sinks.writeBatch(b.toDF(), root, i.toLong)
    }
    val logParts = dataFileSig(spk, s"$live/_files").size
    assert(logParts <= 16,
      s"_files log did not compact: $logParts part files after $nBatches appends")
    val lo = lit("1990-01-01 00:00:00").cast("timestamp")
    val hi = lit("2000-12-31 23:59:59").cast("timestamp")
    // between drops the fixture's NULL o_orderdate rows — filter the
    // expectation identically
    val inRange = ord.filter(col("o_orderdate").between(lo, hi)).count()
    graft.sources.Sinks.valveListings.set(0L)
    val skipN = graft.sources.Sinks
      .readTableSkip(spk, root, Seq(("o_orderdate", lo, hi))).count()
    assert(skipN === inRange + 2L * nBatches,
      s"skip-read lost rows across the log compaction: $skipN")
    assert(graft.sources.Sinks.valveListings.get() === 0L,
      "log compaction broke the zero-listing contract")
  }

  test("a compaction swap crashed between renames is healed by the next append: _files recovered, zero-listing skip reads resume") {
    // The r19 ADVICE failure mode: the old delete-then-rename swap could
    // crash leaving the version with NO _files, and because both append
    // paths guard their log appends with fs.exists, the log was never
    // recreated — every later skip read paid the counted listing valve
    // forever. The rename-first swap parks the log in a hidden
    // .files-compact-old-* dir instead, and the next append renames it
    // back (healedFilesLog) before appending.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_logheal").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    def arrival(k: Long) = spk.range(2).select(
      (col("id") + k).as("key"),
      lit("1996-02-10 00:00:00").cast("timestamp_ntz").as("o_orderdate"),
      lit(1.0).as("o_totalprice"), lit(1L).as("seq"))
    graft.sources.Sinks.writeBatch(arrival(900000001L).toDF(), root, 1L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spk.sparkContext.hadoopConfiguration)
    // the crash shape: the swap parked the log aside and died before the
    // second rename could put the compacted copy in place
    val fm = new org.apache.hadoop.fs.Path(s"$live/_files")
    assert(fs.rename(fm,
      new org.apache.hadoop.fs.Path(s"$live/.files-compact-old-crash")))
    assert(!fs.exists(fm))
    // next append heals: log renamed back, prior entries intact, the new
    // arrival commit-logged on top
    graft.sources.Sinks.writeBatch(arrival(900000011L).toDF(), root, 2L)
    assert(fs.exists(fm), "append did not heal the parked _files log")
    val entries = spk.read.parquet(fm.toString)
      .select("entry").as[String].collect()
    assert(entries.exists(_.endsWith("batch=1")) &&
      entries.exists(_.endsWith("batch=2")),
      s"healed log lost entries: ${entries.mkString(",")}")
    val lo = lit("1990-01-01 00:00:00").cast("timestamp")
    val hi = lit("2000-12-31 23:59:59").cast("timestamp")
    val inRange = ord.filter(col("o_orderdate").between(lo, hi)).count()
    graft.sources.Sinks.valveListings.set(0L)
    assert(graft.sources.Sinks
      .readTableSkip(spk, root, Seq(("o_orderdate", lo, hi))).count() === inRange + 4L,
      "healed log lost rows")
    assert(graft.sources.Sinks.valveListings.get() === 0L,
      "healed log still paying the listing valve")
  }

  test("merge-on-read appends harvest footer envelopes: every landed file joins the pruning manifests, reads stay sound") {
    // ADVICE r19: upsertBatchDv used to append data files WITHOUT
    // harvesting their stats/bloom envelopes, so every skip/bloom read
    // scanned all MOR-appended files regardless of predicate — read
    // amplification growing linearly with merge batches. Landed files
    // must now appear in _stats AND _bloom, and both pruned read shapes
    // must stay correct over the harvested manifests.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_morharvest").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"), bloomCol = "key")
    val b = ord.filter(col("key") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("seq", lit(2L))
    graft.sources.Sinks.upsertBatchDv(b, root, "key", "seq")
    val live = graft.sources.Sinks.resolveTable(spk, root)
    def norm(s: String) =
      new org.apache.hadoop.fs.Path(s).toUri.getPath
    val logged = spk.read.parquet(s"$live/_files")
      .filter(!col("dir")).select("entry").as[String].collect()
      .map(norm).toSet
    val statted = spk.read.parquet(s"$live/_stats")
      .select("file").as[String].collect().map(norm).toSet
    val bloomed = spk.read.parquet(s"$live/_bloom")
      .select("file").as[String].collect().map(norm).toSet
    assert(logged.subsetOf(statted),
      s"MOR-landed files missing from _stats: ${(logged -- statted).take(3)}")
    assert(logged.subsetOf(bloomed),
      s"MOR-landed files missing from _bloom: ${(logged -- bloomed).take(3)}")
    // skip read over the harvested manifest: sound, zero listings
    val lo = lit("1990-01-01 00:00:00").cast("timestamp")
    val hi = lit("2000-12-31 23:59:59").cast("timestamp")
    val inRange = ord.filter(col("o_orderdate").between(lo, hi)).count()
    graft.sources.Sinks.valveListings.set(0L)
    assert(graft.sources.Sinks
      .readTableSkip(spk, root, Seq(("o_orderdate", lo, hi))).count() === inRange,
      "skip read over harvested manifests lost rows")
    assert(graft.sources.Sinks.valveListings.get() === 0L)
    // bloom point lookup finds the UPDATED row (it lives in a landed,
    // freshly-harvested file) with the updated value
    val probeKey = ord.filter(col("key") % 10 === 0)
      .select("key").as[Long].head()
    val hit = graft.sources.Sinks
      .readTableSkip(spk, root, Nil, Some(("key", Seq(probeKey))))
    assert(hit.count() === 1L, "bloom lookup lost the MOR-updated row")
    val orig = ord.filter(col("key") === probeKey)
      .select("o_totalprice").as[Double].head()
    assert(hit.select("o_totalprice").as[Double].head() === orig + 1.0,
      "bloom lookup returned the superseded row, not the merged one")
  }

  test("per-merge snapshots: readTableMergeVersion walks base, merge 1, merge 2, and a fold starts a fresh epoch") {
    // VERDICT r19 #2: MOR merges mutate the live version with no pointer
    // publish, so publish-granularity travel steps over them. Each merge
    // now records a metadata snapshot; the reader must reach every
    // between-merge state of the epoch, return None past its anchor, and
    // a rewriting fold (compactDeletes) must reset the epoch.
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_morhist").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    val n = ord.count()
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val probe = ord.filter(col("key") % 10 === 0).select("key").as[Long].head()
    val orig = ord.filter(col("key") === probe)
      .select("o_totalprice").as[Double].head()
    def priceAt(df: org.apache.spark.sql.DataFrame, k: Long): Double =
      df.filter(col("key") === k).select("o_totalprice").as[Double].head()
    // merge 1: price restatement on every 10th key
    graft.sources.Sinks.upsertBatchDv(
      ord.filter(col("key") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("seq", lit(2L)),
      root, "key", "seq")
    // merge 2: disjoint insert slice
    val ins = ord.filter(col("key") % 13 === 0)
      .withColumn("key", col("key") + 500000000L)
      .withColumn("seq", lit(3L))
    val nIns = ins.count()
    graft.sources.Sinks.upsertBatchDv(ins, root, "key", "seq")
    // back=0 is the live table
    assert(graft.sources.Sinks.readTableMergeVersion(spk, root, 0).get
      .count() === n + nIns)
    // back=1: post-merge-1 — restated price visible, inserts not yet
    val m1 = graft.sources.Sinks.readTableMergeVersion(spk, root, 1).get
    assert(m1.count() === n, "back=1 leaked merge-2 inserts")
    assert(priceAt(m1, probe) === orig + 1.0,
      "back=1 lost merge-1's restatement")
    // back=2: the pre-merge anchor = the published base
    val m2 = graft.sources.Sinks.readTableMergeVersion(spk, root, 2).get
    assert(m2.count() === n)
    assert(priceAt(m2, probe) === orig,
      "the epoch anchor does not match the published base")
    // back=3: past the epoch
    assert(graft.sources.Sinks.readTableMergeVersion(spk, root, 3).isEmpty)
    // a rewriting fold publishes a fresh version: epoch resets
    graft.sources.Sinks.deleteWhere(spk, root, col("key") % 3 === 0)
    val visible = graft.sources.Sinks.readTable(spk, root).count()
    assert(graft.sources.Sinks.compactDeletes(spk, root, 0.25, 2))
    assert(graft.sources.Sinks.readTable(spk, root).count() === visible,
      "fold changed the visible rows")
    assert(graft.sources.Sinks.readTableMergeVersion(spk, root, 1).isEmpty,
      "a rewriting commit must start a fresh per-merge epoch")
    // and the new epoch travels again: merge 3 updates one surviving key
    val probe2 = ord.filter(col("key") % 10 === 1 && col("key") % 3 =!= 0)
      .select("key").as[Long].head()
    val before = priceAt(graft.sources.Sinks.readTable(spk, root), probe2)
    graft.sources.Sinks.upsertBatchDv(
      ord.filter(col("key") === probe2)
        .withColumn("o_totalprice", col("o_totalprice") + 5.0)
        .withColumn("seq", lit(9L)),
      root, "key", "seq")
    val nm1 = graft.sources.Sinks.readTableMergeVersion(spk, root, 1).get
    assert(nm1.count() === visible)
    assert(priceAt(nm1, probe2) === before,
      "new-epoch back=1 does not match the post-fold state")
  }

  test("an empty _deletes directory (mkdirs-then-crash litter) is read as no deletions, not a bricked table") {
    val spk = spark
    import spk.implicits._
    val root = Files.createTempDirectory("graft_dvempty").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    val total = ord.count()
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    // the crash shape: the dir exists, no parquet file ever landed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spk.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$live/_deletes"))
    assert(graft.sources.Sinks.readTable(spk, root).count() === total,
      "an empty _deletes dir must read as zero deletions")
    assert(graft.sources.Sinks.deletedFraction(spk, root) === 0.0)
    // and the next mutation proceeds normally over the litter
    graft.sources.Sinks.upsertBatchDv(
      ord.filter(col("key") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100)
        .withColumn("seq", lit(2L)),
      root, "key", "seq")
    assert(graft.sources.Sinks.readTable(spk, root).count() === total)
  }

  test("time travel to a pre-fold version still applies that version's own vectors") {
    // _deletes lives INSIDE the version dir and retires with it — so a
    // reader time-traveling past a compactDeletes fold must see the
    // RETIRED version with its vectors applied (the deleted rows were
    // logically gone before the fold; history must agree), never the
    // raw pre-delete rows.
    val spk = spark
    val root = Files.createTempDirectory("graft_dvtt").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    graft.sources.Sinks.deleteWhere(spk, root, col("key") % 3 === 0)
    val expected = ord.filter(col("key") % 3 =!= 0).count()
    assert(graft.sources.Sinks.compactDeletes(spk, root, 0.25, 4),
      "fold should trigger above the threshold")
    // live = folded (no vectors); one back = the retired vector-carrying
    // version — both must show the same logical rows
    assert(graft.sources.Sinks.readTable(spk, root).count() === expected)
    val prev = graft.sources.Sinks.readTableVersion(spk, root, 1)
    assert(prev.isDefined, "the pre-fold version must be retained")
    assert(prev.get.count() === expected,
      "time travel surfaced rows the retired version's vectors had deleted")
  }

  test("merge-on-read rejects an evolving batch loudly (additive evolution goes through the rewriting path)") {
    val spk = spark
    val root = Files.createTempDirectory("graft_morevo").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq")
    val evolving = ord.limit(5)
      .withColumn("seq", lit(2L))
      .withColumn("extra", lit("new-column"))
    val e = intercept[IllegalArgumentException] {
      graft.sources.Sinks.upsertBatchDv(evolving, root, "key", "seq")
    }
    assert(e.getMessage.contains("additive evolution goes through upsertBatch"),
      s"wrong failure message: ${e.getMessage}")
    // the rejected batch left the table untouched
    assert(graft.sources.Sinks.readTable(spk, root).count() === ord.count())
    // same-name TYPE change fails just as loudly (a name-only guard would
    // append mixed-type parquet into the live version and brick every
    // later plain read — the COW path's own documented hazard)
    val typeChanged = ord.limit(5)
      .withColumn("seq", lit(2L))
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.Sinks.upsertBatchDv(typeChanged, root, "key", "seq")
    }
    assert(e2.getMessage.contains("cast the batch to the table's types"),
      s"wrong type-clash message: ${e2.getMessage}")
    assert(graft.sources.Sinks.readTable(spk, root).count() === ord.count())
  }

  test("compactDeletes: below the threshold a metadata no-op retaining vectors; above, a rewrite folds them") {
    val spk = spark
    val root = Files.createTempDirectory("graft_dvpolicy").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    val live = graft.sources.Sinks.resolveTable(spk, root)
    // ~1% deleted: policy must NOT rewrite — reads stay anti-join
    graft.sources.Sinks.deleteWhere(spk, root, col("key") % 101 === 0)
    assert(!graft.sources.Sinks.compactDeletes(spk, root, 0.25, 4),
      "policy rewrote below the threshold")
    assert(graft.sources.Sinks.resolveTable(spk, root) === live,
      "below-threshold call published a version")
    assert(new java.io.File(s"$live/_deletes").exists,
      "below-threshold call dropped the vectors")
    // ~34% deleted: past the threshold the fold must publish
    graft.sources.Sinks.deleteWhere(spk, root, col("key") % 3 === 0)
    val expected = ord
      .filter(col("key") % 101 =!= 0 && col("key") % 3 =!= 0).count()
    assert(graft.sources.Sinks.compactDeletes(spk, root, 0.25, 4),
      "policy did not rewrite above the threshold")
    val live2 = graft.sources.Sinks.resolveTable(spk, root)
    assert(live2 !== live, "above-threshold call did not publish")
    assert(!new java.io.File(s"$live2/_deletes").exists,
      "folded version still carries vectors")
    assert(graft.sources.Sinks.readTable(spk, root).count() === expected,
      "the fold lost rows or resurrected deleted ones")
  }

  test("a failed lease release is retried, and a persistent one throws instead of stranding .LOCK") {
    // Release renames `.LOCK` to `.LOCK.release.<token>` before deleting
    // it; a rename that fails must neither pass for success (every later
    // writer would hit ConcurrentWriterException until LockStaleMs) nor
    // fail a commit a single retry would have released.
    val spk = spark
    import spk.implicits._
    val table = Files.createTempDirectory("graft_release").toString + "/t"
    def upsert(k: Long, v: String): Unit = graft.sources.Sinks.upsertBatch(
      Seq((k, v, 1L)).toDF("key", "v", "seq"), table, "key", "seq")
    upsert(1L, "a")
    val lock = java.nio.file.Paths.get(s"$table/.LOCK")
    val conf = spk.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[ReleaseFailingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      // one transient failure: retried, the upsert succeeds and releases
      ReleaseFailingFs.failures.set(1)
      upsert(2L, "b")
      assert(ReleaseFailingFs.failures.get() === -1,
        "expected exactly one failed and one successful release rename")
      assert(!Files.exists(lock), "a retried release left .LOCK behind")
      // persistent failure: loud, naming the lease; the commit landed
      ReleaseFailingFs.failures.set(Int.MaxValue)
      val e = intercept[java.io.IOException](upsert(3L, "c"))
      assert(e.getMessage.contains(".LOCK") && e.getMessage.contains("committed"),
        s"release failure does not name the stuck lease: ${e.getMessage}")
      assert(Files.exists(lock))
    } finally {
      ReleaseFailingFs.failures.set(0)
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
    assert(graft.sources.Sinks.readTable(spk, table)
      .as[(Long, String, Long)].collect().toSet ===
      Set((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)))
  }

  test("copy-on-write and merge-on-read upserts share one winner rule: same batches, same rows") {
    // the two MERGE forms are documented as interchangeable; feed both
    // the same batches — equal-seq ties with different payloads (within
    // the batch and against the base), a stale replay, and an
    // out-of-order replay — and require identical visible rows
    val spk = spark
    import spk.implicits._
    val dir = Files.createTempDirectory("graft_mergerule").toString
    val base = Seq((1L, "base-1", 1L), (2L, "base-2", 1L), (3L, "base-3", 1L),
      (4L, "base-4", 5L)).toDF("key", "v", "seq")
    val b1 = Seq((1L, "tie-a", 1L), (1L, "tie-b", 1L), (2L, "new-2", 2L),
      (3L, "tie-3", 1L), (5L, "ins-5a", 1L), (5L, "ins-5b", 1L))
    val b2 = Seq((2L, "stale-2", 1L), (4L, "stale-4", 4L), (6L, "ins-6", 1L))
    val batches = Seq(b1, b2, b1).map(_.toDF("key", "v", "seq"))
    val (cow, mor) = (s"$dir/cow", s"$dir/mor")
    graft.sources.Sinks.upsertBatch(base, cow, "key", "seq")
    graft.sources.Sinks.upsertBatch(base, mor, "key", "seq")
    batches.foreach { b =>
      graft.sources.Sinks.upsertBatch(b, cow, "key", "seq")
      graft.sources.Sinks.upsertBatchDv(b, mor, "key", "seq")
    }
    def rows(p: String) = graft.sources.Sinks.readTable(spk, p)
      .as[(Long, String, Long)].collect().toSet
    val cowRows = rows(cow)
    assert(cowRows === rows(mor), "the COW and MOR merges picked different winners")
    assert(cowRows.toSeq.map(_._1).sorted === (1L to 6L),
      s"expected exactly one row per key: $cowRows")
    assert(cowRows.contains((2L, "new-2", 2L)) && cowRows.contains((4L, "base-4", 5L)),
      s"a stale replay displaced a newer row: $cowRows")
  }
}

/** Local filesystem whose renames onto a lease-release name
  * (`.LOCK.release.*`) fail while [[ReleaseFailingFs.failures]] is
  * positive — injects the release-path failure the lease spec needs. */
class ReleaseFailingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (dst.getName.startsWith(".LOCK.release.") &&
        ReleaseFailingFs.failures.getAndDecrement() > 0)
      throw new java.io.IOException(s"injected rename failure onto $dst")
    else super.rename(src, dst)
}

object ReleaseFailingFs {
  val failures = new java.util.concurrent.atomic.AtomicInteger(0)
}
