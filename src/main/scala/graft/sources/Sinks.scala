package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, functions}
import org.apache.spark.sql.types.StructType

/** File sources and sinks (SURVEY §2.1): schema-declared JSON reads and
  * partitioned parquet writes — the reference family's I/O identity
  * (`read.json` → `write.partitionBy(...).parquet`).
  *
  * Scale notes: partitionBy columns become directories, so downstream
  * readers get partition pruning for free (PlanAudit/SinkSourceSpec assert
  * the PartitionFilters show up). Writers repartition by the partition
  * columns first so each task writes one file per partition instead of
  * every task writing a sliver of every partition — at 100 TB that's the
  * difference between `files = partitions` and `files = tasks × partitions`
  * (small-file death).
  */
object Sinks {

  /** Declared-schema JSON source — inference is never used in a prod path
    * (it costs a full extra pass and can flip types between runs). */
  def readJson(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** Partitioned parquet sink with per-partition file consolidation. */
  def writePartitioned(df: DataFrame, partitionCols: Seq[String], path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartition(partitionCols.map(col): _*)
      .write.partitionBy(partitionCols: _*).mode(mode).parquet(path)
  }

  /** Plain parquet sink (dims that don't warrant partitioning). */
  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(path)

  /** Declared-schema CSV source — like [[readJson]], inference is never
    * used in a prod path (CSV inference costs a full extra pass and types
    * drift between runs; a header row only names columns, it can't type
    * them). */
  def readCsv(spark: SparkSession, schema: StructType, path: String,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** CSV sink (interchange exports — parquet stays the analytic format). */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.option("header", header.toString).mode(mode).csv(path)

  /** Declared-schema ORC source — the other columnar interchange format
    * warehouse estates carry; same no-inference discipline as
    * [[readJson]]/[[readCsv]]. ORC carries its own schema, but declaring
    * one pins the contract (a writer-side type drift fails loudly at read
    * time instead of propagating). */
  def readOrc(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).orc(path)

  /** ORC sink. */
  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Bucketed parquet table sink: rows are hash-clustered into `buckets`
    * files per partition on `bucketCols` and each bucket sorted, so a
    * later join or aggregate keyed on the bucket columns reads the table
    * already co-partitioned — no shuffle of the big side (ScaleSpec
    * proves zero exchanges on a bucketed⋈bucketed join). Bucketing
    * metadata lives in the session catalog, hence `saveAsTable` + a table
    * name rather than a bare path. */
  /** A managed table's files OUTLIVE an in-memory catalog: a fresh
    * session that re-creates the same table name fails with
    * LOCATION_ALREADY_EXISTS even in Overwrite mode, because overwrite
    * only replaces tables the current catalog knows about. Drop any
    * current registration AND any orphaned default location first so
    * the sink is idempotent across engine restarts. */
  private def dropManagedTable(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  def writeBucketed(df: DataFrame, buckets: Int, bucketCols: Seq[String],
      table: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    val spark = df.sparkSession
    if (mode == SaveMode.Overwrite) dropManagedTable(spark, table)
    df.write.format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode(mode).saveAsTable(table)
  }

  /** CLUSTERED (sorted, non-bucketed) managed parquet table: range-
    * partition on the sort key into `files` output files and sort within
    * each, so every file covers one contiguous key interval and its
    * parquet min/max stats are tight — the write half of data skipping
    * (Delta OPTIMIZE ZORDER's layout, with the interleaved key computed
    * by the caller). Unlike [[writeBucketed]] the reader needs no bucket
    * spec: any engine scans the files, and a stats manifest prunes them. */
  def writeClustered(df: DataFrame, files: Int, sortCols: Seq[String],
      table: String): Unit = {
    val spark = df.sparkSession
    dropManagedTable(spark, table)
    df.repartitionByRange(files, sortCols.map(df.col): _*)
      .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
      .write.format("parquet").mode(SaveMode.Overwrite).saveAsTable(table)
  }

  /** Re-declare an existing bucketed-table artifact in a bare session
    * catalog: schema is read from the parquet files themselves (no
    * hardcoded DDL to drift) and the bucketing is re-stated, so a fresh
    * session — whose default in-memory catalog died with its predecessor —
    * can serve bucket-aware scans over the surviving directory. The
    * re-registration is EXTERNAL (explicit LOCATION): dropping it leaves
    * the data intact. Bucket files carry their bucket id in the file
    * name, which is how the re-declared table stays bucket-aware. */
  def registerBucketed(spark: SparkSession, table: String, path: String,
      bucketCols: Seq[String], buckets: Int): Unit = {
    val schema = spark.read.parquet(path).schema.toDDL
    val bc = bucketCols.mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(
      s"""CREATE TABLE `$table` ($schema) USING parquet
         |CLUSTERED BY ($bc) SORTED BY ($bc) INTO $buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }

  /** One micro-batch of the exactly-once streaming parquet sink: each
    * batch owns the directory `batch=<id>` and OVERWRITES it whole. A
    * failure-replay of the same batch id (Structured Streaming's
    * at-least-once foreachBatch contract) rewrites identical contents
    * instead of appending duplicates — idempotence comes from the
    * overwrite-per-batch-directory discipline. On a pure batch-structured
    * root, readers see the batch id as a partition column (write lineage
    * for free); once batches land inside a compacted version that holds
    * root-level files, [[readVersionDir]] switches that version to a
    * recursive read — every row survives, the lineage column does not
    * (the alternative, plain partition discovery, silently DROPS the
    * whole compacted base). */
  def writeBatch(batch: DataFrame, path: String, batchId: Long): Unit = {
    // pointer-aware: after a compaction published a versioned data dir,
    // later micro-batches keep landing inside the LIVE version (readers
    // resolve through the same pointer and see litter + compacted rows)
    val spark = batch.sparkSession
    val live = resolveTable(spark, path)
    // REPLAY-vs-DELETION-VECTOR reconciliation (the r18 ADVICE conflict):
    // [[deleteWhere]] may have recorded (file, pos) vectors naming files
    // INSIDE this batch dir; the overwrite below renames every task file,
    // so those rows would dangle and the replayed data would silently
    // RESURRECT the deleted rows. Every DV producer here is predicate- or
    // key-driven, i.e. value-determined — so deletion is re-applied by
    // VALUE, and the deleted VALUES are made DURABLE first: positional
    // vectors only identify the deleted rows while they still point at
    // live files, so a reconciliation that subtracted from a transient
    // frame would hold for exactly ONE replay — the next replay (which
    // at-least-once permits, and which a crash between this overwrite and
    // the log append forces) would find only dangling vectors, subtract
    // nothing, and resurrect every deleted row. So: rows the LIVE vectors
    // currently hide in this dir are appended to the hidden per-dir value
    // store `_deletes_values/batch=<id>` BEFORE the overwrite (duplicate
    // appends across crashed replays are harmless — the subtraction is an
    // anti-join), and the replayed content subtracts the WHOLE store —
    // deletions now survive any number of replays. The stale (file, pos)
    // rows stay behind harmlessly (they match nothing) and both they and
    // the value store fold away at the next rewriting commit, which
    // starts a fresh version.
    val batchDir = s"$live/batch=$batchId"
    val dp = new org.apache.hadoop.fs.Path(live, DeletesManifest)
    val vstore = new org.apache.hadoop.fs.Path(
      live, s"$DeletesValueStore/batch=$batchId")
    val fsv = fsOf(spark, dp)
    if (hasParquetFiles(fsv, dp)) {
      val dels = spark.read.parquet(dp.toString)
        .filter(functions.col("file").contains(s"/batch=$batchId/"))
      // materialize the currently-hidden rows into the value store while
      // their files still exist (the write reads the old dir)
      if (!dels.isEmpty)
        joinPositions(spark.read.parquet(batchDir), dels, "left_semi")
          .write.mode(SaveMode.Append).parquet(vstore.toString)
    }
    val content =
      if (!hasParquetFiles(fsv, vstore)) batch
      else {
        val d = spark.read.parquet(vstore.toString)
        // null-safe equality on every column: a deleted row carrying a
        // null must still subtract (plain equi-join keys never match on
        // null)
        val cond = batch.columns.map(c => batch(c) <=> d(c)).reduce(_ && _)
        batch.join(d, cond, "left_anti")
      }
    content.write.mode(SaveMode.Overwrite).parquet(batchDir)
    // Commit-log the arrival: the live version's `_files` manifest gains
    // the batch DIRECTORY entry, so manifest-skipping readers resolve the
    // post-commit arrival from the commit log instead of recursively
    // listing the table per read (the r17 scale finding). A DIR entry —
    // not the batch's file names — because replay OVERWRITES the dir
    // whole with fresh task-file names: logged file names would dangle
    // after a replay, while the dir name is stable and duplicate appends
    // of it dedup at read. Ordering makes a crash safe: data first, log
    // second — a crash in between leaves the batch invisible to
    // skip-readers until the streaming engine replays it (at-least-once),
    // the data-then-log commit discipline of every lake format. Plain
    // full-table readers ([[readTable]]) see the batch either way.
    appendFilesLog(spark, path, live, Seq((batchDir, true)))
  }

  /** Append `entries` (entry, is-dir) to the live version's `_files`
    * commit log — the one in-place log append [[writeBatch]] and
    * [[upsertBatchDv]] share. Heals a crashed compaction swap first
    * ([[healedManifest]]); a version without a log (legacy) stays
    * without one. Past [[FilesLogCompactThreshold]] parts the log is
    * folded back to one file. */
  private def appendFilesLog(spark: SparkSession, rootPath: String,
      live: String, entries: Seq[(String, Boolean)]): Unit = {
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(live))
    val fm = healedManifest(fs, live, FilesManifest)
    if (entries.nonEmpty && fs.exists(fm)) {
      import spark.implicits._
      entries.map { case (e, isDir) => (e, isDir, null: String) }
        .toDF("entry", "dir", "schema_json")
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(fm.toString)
      maybeCompactManifest(spark, rootPath, live, FilesManifest)
    }
  }

  /** Rewrite threshold for the `_files` commit log: each [[writeBatch]]
    * appends a one-row parquet file, so a long streaming run would grow
    * the log itself into an O(batches)-file dir that every skip-read
    * re-lists — eroding the O(manifest) claim the log exists to provide
    * (the r18 ADVICE bound). Past this many part files the log is folded
    * into one. */
  private val FilesLogCompactThreshold = 16

  /** The hidden swap-litter prefix for `name`'s compaction: staged tmp
    * dirs are `<prefix><tag>`, the parked pre-swap manifest is
    * `<prefix>old-<tag>`. */
  private def parkPrefix(name: String): String =
    s".${name.stripPrefix("_")}-compact-"

  /** Fold an appended hidden manifest (`_files`, and the MOR merge's
    * per-batch `_stats` / `_bloom` harvests) back to a single file once
    * its appends pass [[FilesLogCompactThreshold]]. Fold = whole-row
    * distinct: every appended row is keyed by its file entry, so
    * duplicates only arise from at-least-once replays and fold
    * losslessly. Crash-safe without an atomic dir swap: the compacted
    * manifest is staged to a hidden tmp dir, then swapped RENAME-FIRST
    * (rename the manifest aside to a hidden `<prefix>old-*` dir, rename
    * the staged tmp into place, delete the old) — a crash between the
    * renames leaves the version without the manifest but with its
    * complete content parked in the old dir, which [[healedManifest]]
    * renames back on the next append. Skip-reads inside that window fall
    * to the counted listing valve (sound); the r19 ADVICE failure mode —
    * a streaming-only table losing its log FOREVER because the appenders'
    * `fs.exists` guard never recreates it — is closed by the heal.
    *
    * LEASE-GUARDED, best-effort: the snapshot→delete→rename rewrite would
    * silently DESTROY a row a concurrent lease-holding mutator (e.g. an
    * [[upsertBatchDv]] logging its landed files) appends in between — a
    * permanent reader-family split with no replay to heal it. So: a
    * caller already holding this root's lease compacts directly; a
    * lockless caller ([[writeBatch]]) takes the lease for the rewrite and
    * simply SKIPS when a mutator holds it — compaction is maintenance,
    * the next over-threshold append retries. (A second lockless streaming
    * writer on one table is outside the sink's contract anyway — their
    * batch=<id> dirs would collide.) */
  private def maybeCompactManifest(spark: SparkSession, rootPath: String,
      live: String, name: String): Unit = {
    val fm = new org.apache.hadoop.fs.Path(live, name)
    val fs = fsOf(spark, fm)
    if (parquetParts(fs, fm).size <= FilesLogCompactThreshold) return
    val prefix = parkPrefix(name)
    def rewrite(): Unit = {
      // sweep swap litter from earlier crashed compactions FIRST: the
      // manifest exists here, so any `<prefix>*` entry (staged tmp or a
      // superseded old) is dead weight — and clearing superseded olds now
      // is what makes healedManifest's rename-back unambiguous (at most
      // one old dir can ever exist)
      fs.listStatus(new org.apache.hadoop.fs.Path(live)).foreach { st =>
        if (st.getPath.getName.startsWith(prefix))
          fs.delete(st.getPath, true)
      }
      val rows = spark.read.parquet(fm.toString).distinct()
        .localCheckpoint(true) // materialize BEFORE the old manifest moves
      val tag = java.util.UUID.randomUUID().toString.take(12)
      val tmp = new org.apache.hadoop.fs.Path(live, s"$prefix$tag")
      rows.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val old = new org.apache.hadoop.fs.Path(live, s"${prefix}old-$tag")
      if (!fs.rename(fm, old)) throw new java.io.IOException(
        s"could not park $fm for the compaction swap")
      if (!fs.rename(tmp, fm)) throw new java.io.IOException(
        s"could not swap compacted $name manifest into place at $fm")
      fs.delete(old, true)
    }
    val root = new org.apache.hadoop.fs.Path(rootPath)
    if (heldLeases.get().contains(root.toUri.getPath)) rewrite()
    else
      try withTableLock(spark, rootPath)(rewrite())
      catch { case _: ConcurrentWriterException => () } // busy: skip, retry next append
  }

  /** Resolve the version's manifest path `name`, HEALING a compaction
    * swap that crashed between [[maybeCompactManifest]]'s two renames:
    * the complete content survives in the parked `<prefix>old-*` dir, so
    * rename it back before any appender concludes "this version has no
    * log". Without this the appenders' `fs.exists` guard never recreates
    * the `_files` log and a long streaming-only table silently degrades
    * every skip read to the counted listing valve forever (sound, but it
    * defeats the O(manifest) contract — the r19 ADVICE finding). At most
    * one old dir can exist (the rewrite sweeps superseded swap litter
    * before each compaction), so the rename-back is unambiguous. Called
    * from MUTATOR append paths only — single-writer by contract; readers
    * in the crash window keep falling to the sound counted valve. */
  private def healedManifest(fs: org.apache.hadoop.fs.FileSystem,
      live: String, name: String): org.apache.hadoop.fs.Path = {
    val fm = new org.apache.hadoop.fs.Path(live, name)
    if (!fs.exists(fm)) {
      val liveP = new org.apache.hadoop.fs.Path(live)
      if (fs.exists(liveP))
        fs.listStatus(liveP)
          .find(st => st.isDirectory &&
            st.getPath.getName.startsWith(s"${parkPrefix(name)}old-"))
          .foreach(st => fs.rename(st.getPath, fm))
    }
    fm
  }

  /** Exactly-once streaming parquet sink via foreachBatch — the seam a
    * production pipeline uses when the sink needs transactional behavior
    * plain file append can't give (upserts, dedup against the target,
    * multi-table fan-out all live here). */
  def foreachBatchParquet(stream: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeBatch(batch.toDF(), path, batchId)
    }

  /** The streaming MERGE sink in MERGE-ON-READ form: each micro-batch
    * upserts through [[upsertBatchDv]] — superseded rows become deletion
    * vectors, winners append as new commit-logged files, ZERO base
    * rewrites per batch. This is the sink a continuously-updated 100 TB
    * table wants when per-batch updates touch a small scattered fraction:
    * the copy-on-write [[upsertBatch]] re-stages the whole table every
    * micro-batch (O(table) writes per batch), while this path writes
    * O(batch + matched); periodic [[compactDeletes]] folds the vectors
    * once the read-amplification trade inverts. At-least-once replay
    * converges on the same visible rows (the (seq, row-hash) total
    * order — batch-equal replays re-vector and re-append identical rows;
    * stale replays lose per key and no-op). */
  def mergeDvStream(stream: DataFrame, path: String, keyCol: String,
      seqCol: String, deleteCol: String = null)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertBatchDv(batch.toDF(), path, keyCol, seqCol, deleteCol)
    }

  /** One micro-batch of the streaming MERGE sink: upsert `batch` into the
    * keyed parquet table at `path` — the streaming twin of the
    * q_merge_upsert plan. Within the batch, latest-wins per key by
    * `seqCol`; against the table, one full outer equi-join on `keyCol`
    * where the row with the GREATER seq wins (ties go to the batch) —
    * the same single-join shape Delta/Iceberg run under streaming MERGE,
    * never a per-row lookup. The winner per key is the maximum of
    * (seq, xxhash64 of the full row) — a TOTAL order, so equal-seq rows
    * resolve deterministically instead of by arrival order. Because the
    * stored state is always that maximum, replaying ANY earlier batch
    * (in any order, any number of times) recomputes the same maximum:
    * the sink converges under arbitrary at-least-once replay.
    *
    * Durability: the merge is staged to a fresh versioned dir inside the
    * table root and committed via the manifest-pointer [[publish]] — ONE
    * atomic pointer rename, so a crash at any point leaves readers (who
    * resolve through [[readTable]]) on a complete table version. */
  def upsertBatch(batch: DataFrame, path: String, keyCol: String,
      seqCol: String, statsCols: Seq[String] = Nil,
      bloomCol: String = null): Unit =
    rewrite(batch.sparkSession, path) { snap =>
    val spark = batch.sparkSession
    // table existence via the PATH's filesystem (java.io.File would read
    // the local disk even when the table lives on HDFS/S3 and silently
    // replace the base table with the bare batch). A root holding only
    // staged `data-*` dirs and no pointer is a crashed initial publish —
    // nothing was ever committed, so the table does not exist yet.
    val tableExists =
      if (snap.lines.nonEmpty)
        snap.fs.exists(new org.apache.hadoop.fs.Path(snap.live))
      else snap.fs.exists(snap.root) && snap.fs.listStatus(snap.root).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("data-") && !n.startsWith(".")
      }
    val merged =
      if (!tableExists) mergeRule(batch, new StructType(), keyCol, seqCol).latest
      else {
        val base = readVersionDir(spark, snap.live)
        // ADDITIVE SCHEMA EVOLUTION: a batch must carry every current
        // table column (key/seq resolution and the row-hash tiebreak are
        // defined over them) and MAY append new ones — base-won rows get
        // null in the new columns, the Delta/Iceberg mergeSchema
        // contract. A batch MISSING a table column fails loudly below
        // (unresolved __b_ column), never silently drops data.
        val m = mergeRule(batch, base.schema, keyCol, seqCol)
        base.join(m.prefixed,
            functions.col(keyCol) === functions.col(s"__b_$keyCol"),
            "full_outer")
          .select(base.columns.toSeq.map { c =>
            functions.when(m.batchWins, functions.col(s"__b_$c"))
              .otherwise(functions.col(c)).as(c)
          } ++ m.newCols.map { c =>
            // typed null: a bare lit(null) is NullType, unwritable parquet
            functions.when(m.batchWins, functions.col(s"__b_$c"))
              .otherwise(functions.lit(null).cast(batch.schema(c).dataType))
              .as(c)
          }: _*)
      }
    // With `statsCols`, the staged version is CLUSTERED by them and
    // carries its own per-file min/max manifest INSIDE the version dir
    // (`_stats` — underscore-hidden from parquet readers, retired with
    // its version), so a MERGE-maintained table keeps file-skipping
    // without any out-of-band reindex: the manifest is part of the
    // commit, exactly like a format's file stats. The layout contract
    // propagates: a batch that doesn't name statsCols on an
    // already-maintained table inherits the live manifest's columns (a
    // plain upsert must not silently strip the table's file-skipping).
    val effStats = if (statsCols.nonEmpty) statsCols else snap.statsCols
    // 16 range partitions is the FIXTURE operating point (sf<=0.1); a
    // production deployment sizes output files by target bytes
    // (spark.sql.files.maxRecordsPerFile / the table's target file
    // size), not a constant — the protocol is unchanged either way
    val out =
      if (effStats.isEmpty) merged
      else merged
        .repartitionByRange(16, effStats.map(functions.col): _*)
        .sortWithinPartitions(effStats.head, effStats.tail: _*)
    Staged(out, effStats, Option(bloomCol).orElse(snap.bloomKey))
  }

  /** The upsert winner rule BOTH merge forms ([[upsertBatch]] and
    * [[upsertBatchDv]]) run, so the two are interchangeable and replays
    * converge on the same rows whichever form applied them:
    *   - latest-per-key inside the batch;
    *   - the total order (seq, xxhash64 of the name-sorted row) — the
    *     name sort makes base and batch sides hash identically regardless
    *     of physical column order;
    *   - type parity for columns on both sides: a same-name-different-
    *     type batch column would silently coerce in the merge (widening
    *     the table on publish) or append mixed-type parquet next to the
    *     base files (a bricked version), and int vs long also xxhash64
    *     differently, breaking the replay tiebreak — evolution is
    *     additive-only, so a type change fails loudly;
    *   - `batchWins` over the `__b_`-prefixed batch side of the full-outer
    *     key join: batch inserts, greater seq, or equal seq with the
    *     greater-or-equal row hash.
    * `newCols` (batch columns the base lacks — only the COW path admits
    * them) hash as typed nulls on the base side: hashing only the base
    * columns would order an evolving batch's rows without their new
    * columns, and a replay AFTER the evolution (when those columns exist
    * on both sides) could pick a different winner. */
  private final case class MergeRule(latest: DataFrame, prefixed: DataFrame,
      batchWins: org.apache.spark.sql.Column, newCols: Seq[String])

  private def mergeRule(batch: DataFrame, base: StructType, keyCol: String,
      seqCol: String): MergeRule = {
    val newCols = batch.columns.filterNot(base.fieldNames.contains).toSeq
    def rowHash(cols: Seq[String], prefix: String = "",
        nulls: Seq[String] = Nil) =
      functions.xxhash64(cols.sorted.map { c =>
        if (nulls.contains(c)) functions.lit(null).cast(batch.schema(c).dataType)
        else functions.col(s"$prefix$c")
      }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy(functions.col(seqCol).desc, rowHash(batch.columns.toSeq).desc)
    val latest = batch
      .withColumn("__rn", functions.row_number().over(w))
      .filter(functions.col("__rn") === 1).drop("__rn")
    val typeClash = base.fieldNames.filter(batch.columns.contains).flatMap { c =>
      val bt = base(c).dataType
      val lt = batch.schema(c).dataType
      if (bt == lt) None else Some(s"$c (table ${bt.sql}, batch ${lt.sql})")
    }
    if (typeClash.nonEmpty) throw new IllegalArgumentException(
      "schema evolution is additive-only: the batch changes the type of " +
        s"existing column(s) ${typeClash.mkString(", ")} — cast the batch " +
        "to the table's types explicitly before merging")
    val prefixed = latest.columns.foldLeft(latest) { (d, c) =>
      d.withColumnRenamed(c, s"__b_$c")
    }
    val allCols = base.fieldNames.toSeq ++ newCols
    val batchWins = functions.col(s"__b_$keyCol").isNotNull &&
      (functions.col(keyCol).isNull ||
        functions.col(s"__b_$seqCol") > functions.col(seqCol) ||
        (functions.col(s"__b_$seqCol") === functions.col(seqCol) &&
          rowHash(allCols, "__b_") >= rowHash(allCols, nulls = newCols)))
    MergeRule(latest, prefixed, batchWins, newCols)
  }

  /** A table root's live state, resolved ONCE per mutator under its
    * lease: the pointer lines (line 1 = live, later lines = retained
    * predecessors), the live version dir (the root itself when there is
    * no pointer), and — read on first use — the layout contract the
    * live version carries. */
  private final class Snapshot(spark: SparkSession, val path: String) {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs: org.apache.hadoop.fs.FileSystem = fsOf(spark, root)
    val lines: Seq[String] = readPointerLines(fs, root)
    val live: String = lines.headOption.map(n => s"$path/$n").getOrElse(path)

    /** The stats-manifest columns of the live version, if it carries one
      * — how the manifest CONTRACT propagates through every rewriting
      * mutator: once a table is layout-maintained (a statsCols commit),
      * compaction, tombstone purges, OPTIMIZE, and plain upserts must all
      * re-establish the manifest on the version they publish, or the
      * first unrelated maintenance run silently turns every skip-scan
      * into a full scan. The column LIST rides explicitly inside the
      * manifest (`stats_cols`, like `_bloom`'s key_col) —
      * reverse-engineering it from `_min`/`_max` field-name suffixes
      * mis-recovers a data column whose own name ends in `_min`
      * (`price_min` → manifest fields `price_min_min`/`price_min_max`
      * plus a phantom column `price`); the suffix parse survives only as
      * the legacy-manifest fallback. */
    lazy val statsCols: Seq[String] = {
      val sp = new org.apache.hadoop.fs.Path(live, "_stats")
      if (!fs.exists(sp)) Nil
      else {
        val df = spark.read.parquet(sp.toString)
        if (df.schema.fieldNames.contains("stats_cols"))
          df.select("stats_cols").limit(1).collect().headOption
            .map(_.getString(0).split(",").toSeq).getOrElse(Nil)
        else df.schema.fieldNames.toSeq
          .filter(_.endsWith("_min")).map(_.stripSuffix("_min"))
      }
    }

    /** The Bloom-manifest key column of the live version, if it carries
      * one — the point-lookup half of the layout contract, propagated the
      * same way; the key column NAME rides inside the manifest itself
      * (`key_col`). */
    lazy val bloomKey: Option[String] = {
      val bp = new org.apache.hadoop.fs.Path(live, "_bloom")
      if (!fs.exists(bp)) None
      else spark.read.parquet(bp.toString).select("key_col").limit(1)
        .collect().headOption.map(_.getString(0))
    }
  }

  /** What a rewriting mutator stages: the new version's rows (already
    * laid out), its manifest contract, and its hive partition columns. */
  private final case class Staged(df: DataFrame, statsCols: Seq[String],
      bloomCol: Option[String], partitionCols: Seq[String] = Nil)

  /** The ONE copy-on-write commit every rewriting mutator
    * ([[upsertBatch]], [[purgeTombstones]], [[compact]],
    * [[optimizeClustered]]) runs, under the writer lease: resolve the
    * live [[Snapshot]] once, sweep uncommitted stages (a crashed FIRST
    * publish over a pointerless root leaves fully-staged orphan `data-*`
    * dirs that the whole-root base read would sweep into the table —
    * nothing there was ever committed, the pointer write IS the commit,
    * so deleting them first makes replay after a crash at ANY point
    * converge), build the new version from the snapshot, stage it fully
    * to a fresh `data-*` dir (the base read is the live version, which
    * the publish protocol keeps intact until one more cycle completes),
    * write its commit manifests, and commit with the single fenced
    * pointer swap. */
  private def rewrite(spark: SparkSession, path: String)(
      stage: Snapshot => Staged): Unit = withTableLock(spark, path) {
    val snap = new Snapshot(spark, path)
    sweepUncommittedStages(snap)
    val st = stage(snap)
    val staged = stageName()
    val w = st.df.write.mode(SaveMode.Overwrite)
    (if (st.partitionCols.nonEmpty) w.partitionBy(st.partitionCols: _*) else w)
      .parquet(s"$path/$staged")
    writeVersionManifests(spark, s"$path/$staged", st.statsCols, st.bloomCol,
      st.df.schema)
    publish(spark, snap, staged)
  }

  /** The skip-readers' one body: resolve the live version, select files
    * from its pruning `manifest` (falling back to the full resolved scan
    * when the version carries none — pruning is an optimization, never a
    * correctness dependency), read them through [[readPruned]], and keep
    * the exact `residual` filter (the manifest prune yields a superset). */
  private def readSkipping(spark: SparkSession, path: String, manifest: String,
      select: DataFrame => DataFrame,
      residual: org.apache.spark.sql.Column): DataFrame = {
    val live = resolveTable(spark, path)
    val mp = new org.apache.hadoop.fs.Path(live, manifest)
    val pruned =
      if (!fsOf(spark, mp).exists(mp)) readVersionDir(spark, live)
      else readPruned(spark, live, mp.toString,
        select(spark.read.parquet(mp.toString))
          .select("file").collect().map(_.getString(0)).toSeq)
    pruned.filter(residual)
  }

  /** Bloom-skipping point lookup on a pointer-published table whose live
    * version carries a `_bloom` manifest (one sketch per data file over
    * xxhash64 of the key column — point-lookup skipping for the column
    * the sort order does NOT cover, where a date-clustered MERGE table
    * scatters any key across every file's full domain and min/max can't
    * prune): the may-contain test runs
    * DISTRIBUTED over the manifest (graft_bloom_any — sketch bytes never
    * leave the executors), only surviving file names reach the driver,
    * and the exact IN filter stays so false positives cost I/O, never
    * correctness. Falls back to the full resolved scan without a
    * manifest. */
  def readTableBloomSkip(spark: SparkSession, path: String, keyCol: String,
      keys: Seq[Long]): DataFrame =
    readSkipping(spark, path, "_bloom", { bloom =>
      import spark.implicits._
      val hashes = keys.toDF("k")
        .select(functions.xxhash64(functions.col("k")).as("h"))
        .collect().map(_.getLong(0)).toSeq // |keys| — bounded probe state
      bloom.filter(graft.functions.BloomExprs.bloomAny(spark,
        functions.col("bloom"), functions.typedLit(hashes)))
    }, functions.col(keyCol).isin(keys: _*))

  /** `_files` — the version's COMMIT-LOGGED file set: one row per data
    * file written at publish (entry, dir = false, schema_json = the
    * version's read schema) plus one row per post-commit streaming batch
    * DIRECTORY appended by [[writeBatch]] (dir = true). This is what lets
    * a skip-reader resolve the live file set from O(manifest) bytes
    * instead of a recursive filesystem listing per read — at 100 TB with
    * O(10⁵–10⁶) files that listing is a full object-store LIST plus an
    * O(files) driver loop in the hot metadata path of every skip query
    * (the r17 `weak` finding). The listing valve survives only for
    * LEGACY versions without a `_files` manifest. */
  private val FilesManifest = "_files"

  /** Count of legacy-valve recursive listings taken by skip-readers —
    * test instrumentation for the zero-listing contract: a skip-read of
    * a `_files`-carrying version must never bump this (SinkSourceSpec
    * asserts 0 across the whole manifest lifecycle, including after
    * streaming arrivals), while a legacy version without the commit log
    * must (the soundness valve still fires there). */
  private[graft] val valveListings = new java.util.concurrent.atomic.AtomicLong(0)

  /** A file path's bare URI path — the one rendering-insensitive key for
    * comparing file names across sources (`_metadata.file_path` and
    * listings render `file:/p`, input_file_name renders `file:///p`). */
  private[graft] def norm(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Recursive data-file listing of a version dir (hidden `_`/`.` entries
    * skipped, the same filter Spark's own FileIndex applies) — used at
    * COMMIT time to build the manifests, and at READ time only as the
    * legacy valve for pre-`_files` versions. */
  private[graft] def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return Nil
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath
      val rel = p.toUri.getPath.stripPrefix(root.toUri.getPath)
      val hidden = rel.split("/").exists(seg =>
        seg.startsWith("_") || seg.startsWith("."))
      if (!hidden && p.getName.endsWith(".parquet")) buf += p.toString
    }
    buf.toSeq
  }

  /** Read the manifest-selected files PLUS every live entry the pruning
    * manifest does not cover — the soundness contract ("the manifest
    * prunes only what it covers") with the uncovered set now resolved
    * from the `_files` COMMIT LOG: file entries not in the pruning
    * manifest plus every appended batch-dir entry, a metadata read of
    * O(manifest) bytes, zero filesystem listings. The version's read
    * schema also rides in the log, so the pruned branch never constructs
    * a full-table scan even for schema. A legacy version without
    * `_files` falls back to the recursive listing valve (counted by
    * [[valveListings]]). */
  private def readPruned(spark: SparkSession, live: String,
      manifestDir: String, sel: Seq[String]): DataFrame = {
    val known = spark.read.parquet(manifestDir)
      .select("file").collect().map(r => norm(r.getString(0))).toSet
    val fm = new org.apache.hadoop.fs.Path(live, FilesManifest)
    // unknown entries carry their dir-ness so the DV pre-filter below can
    // match dir entries by prefix and file entries exactly
    val (unknown, commitSchema) =
      if (fsOf(spark, fm).exists(fm)) {
        val (entries, sj) = readFilesLog(spark, fm)
        (entries.filter { case (e, isDir) => isDir || !known(norm(e)) }.distinct,
          sj.map(org.apache.spark.sql.types.DataType.fromJson(_)
            .asInstanceOf[StructType]))
      } else {
        valveListings.incrementAndGet()
        (listDataFiles(spark, live).filterNot(p => known(norm(p)))
          .map(p => (p, false)), None)
      }
    // legacy (or empty-log corner) only: schema via Spark's own listing
    lazy val inferredSchema = readVersionDir(spark, live).schema
    val schema = commitSchema.getOrElse(inferredSchema)
    val all = (sel.map(s => (s, false)) ++ unknown).distinct
    if (all.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // NO basePath: a shared base makes Spark infer `batch` as a partition
    // column from the dir entries and silently DROP the root-level file
    // entries (the readVersionDir data-loss edge, reproduced on explicit
    // file lists too). Each entry read standalone keeps every row; the
    // batch lineage column is not surfaced by pruned reads. Deletion
    // vectors apply here too — a skip-read must never return a row the
    // whole-version read hides (only on the file-source branch: the
    // empty frame has no _metadata to resolve, and nothing to delete) —
    // PRE-FILTERED to the scanned entries, so the DV probe cost tracks
    // the files this query actually reads, not the table's total deletes.
    else applyDeletes(spark, live,
      spark.read.schema(schema).parquet(all.map(_._1): _*),
      Some((all.collect { case (e, false) => e },
        all.collect { case (e, true) => e })))
  }

  // ---- Commit-time manifest construction ----------------------------------
  // Stats come from PARQUET FOOTER METADATA, not a data scan: every parquet
  // file already carries per-column-chunk min/max in its footer, so the
  // commit harvests them with O(files) footer reads distributed over
  // executors — no data pages are touched (the r17 `weak` #2 finding: the
  // old groupBy(input_file_name) pass re-read the whole just-written
  // version per commit; at 100 TB a MERGE rewriting 1% of files paid a
  // re-read of those files' data bytes for stats the footers already
  // held). The data pass survives ONLY for the Bloom sketch, which footers
  // genuinely can't provide — and it is column-pruned to the key.

  /** Footer stats of one column in one file, in a neutral slot encoding
    * (long-backed / double / UTF-8 bytes) chosen by the SPARK type and
    * verified against the parquet primitive type on the executor. `ok`
    * false means "fall back to the data-scan pass for this version"
    * (exotic type, INT96 timestamp, or stats parquet omitted despite
    * non-null data); `hasVal` false with `ok` true means the file has no
    * non-null values — a NULL envelope, which every skip predicate
    * correctly never selects (exactly what min()/max() over the file
    * would produce). */
  private case class FooterCell(ok: Boolean, hasVal: Boolean,
      lmin: Long, lmax: Long, dmin: Double, dmax: Double,
      smin: Array[Byte], smax: Array[Byte])

  private case class FooterInfo(file: String, rows: Long,
      cells: Seq[FooterCell])

  /** Merge helper: the empty cell (no values seen yet). */
  private def emptyCell = FooterCell(ok = true, hasVal = false,
    0L, 0L, 0d, 0d, null, null)

  /** Read the footers of `files` on EXECUTORS (parallelize over the
    * file-name list; one footer open per file, no data pages) and return
    * per-file row counts + per-statsCol min/max envelopes. File-count-
    * sized result — the same bounded metadata every manifest collect in
    * this protocol carries. */
  private def readFooters(spark: SparkSession, files: Seq[String],
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Seq[FooterInfo] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1, math.min(files.size, 32))
    spark.sparkContext.parallelize(files, slices)
      .map(f => readOneFooter(f, cols, conf.value))
      .collect().toSeq
  }

  /** One file's footer → row count + per-column envelope cells, merging
    * column-chunk statistics across the file's row groups. Runs on an
    * executor. */
  private def readOneFooter(file: String,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)],
      conf: org.apache.hadoop.conf.Configuration): FooterInfo = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val cells = cols.map { case (cname, dt) =>
        var cell = emptyCell
        blocks.foreach { b =>
          if (cell.ok) b.getColumns.asScala
            .find(_.getPath.toDotString == cname) match {
            case None =>
              // column chunk absent: sound only if the block is empty
              if (b.getRowCount > 0) cell = cell.copy(ok = false)
            case Some(ch) =>
              val st = ch.getStatistics
              val ptn = ch.getPrimitiveType.getPrimitiveTypeName
              val ann = ch.getPrimitiveType.getLogicalTypeAnnotation
              if (st == null || (!st.hasNonNullValue &&
                  !(st.isNumNullsSet && st.getNumNulls == ch.getValueCount))) {
                // stats omitted despite data (oversized binary, ancient
                // writer) — cannot trust a null envelope, fall back
                if (ch.getValueCount > 0) cell = cell.copy(ok = false)
              } else if (st.hasNonNullValue) {
                // slot + unit decided by the SPARK type, verified against
                // the parquet physical type; mismatch → fall back
                def asLong(v: Any): Long = v.asInstanceOf[Number].longValue
                (dt, ptn) match {
                  case (IntegerType | ShortType | ByteType, INT32) =>
                    cell = mergeLong(cell, asLong(st.genericGetMin),
                      asLong(st.genericGetMax))
                  case (LongType, INT64) =>
                    cell = mergeLong(cell, asLong(st.genericGetMin),
                      asLong(st.genericGetMax))
                  case (DateType, INT32) =>
                    cell = mergeLong(cell, asLong(st.genericGetMin),
                      asLong(st.genericGetMax))
                  case (TimestampType | TimestampNTZType, INT64) =>
                    // NTZ included: Spark 4 infers parquet timestamps with
                    // isAdjustedToUTC=false as TIMESTAMP_NTZ (the fixture
                    // tables' type), same INT64 micros encoding
                    val unit = ann match {
                      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                        t.getUnit match {
                          case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
                          case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
                          case _ => 0L // NANOS: not our writer's output
                        }
                      case _ => 0L
                    }
                    if (unit == 0L) cell = cell.copy(ok = false)
                    else cell = mergeLong(cell,
                      asLong(st.genericGetMin) * unit,
                      asLong(st.genericGetMax) * unit)
                  case (FloatType, FLOAT) | (DoubleType, DOUBLE) =>
                    cell = mergeDouble(cell,
                      st.genericGetMin.asInstanceOf[Number].doubleValue,
                      st.genericGetMax.asInstanceOf[Number].doubleValue)
                  case (StringType, BINARY)
                      if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                    // parquet orders BINARY stats by UNSIGNED byte
                    // comparison — the same order Spark's UTF8String
                    // min/max uses, so merging with compareUnsigned
                    // reproduces the scan-built envelope exactly. (A
                    // writer that TRUNCATED long binary stats still keeps
                    // them sound: min truncated down, max incremented —
                    // envelopes only widen, pruning stays correct.)
                    cell = mergeBytes(cell,
                      st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
                      st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
                  case _ => cell = cell.copy(ok = false)
                }
              } // else: all-null chunk — contributes nothing to the envelope
          }
        }
        cell
      }
      FooterInfo(file, rows, cells)
    } finally reader.close()
  }

  private def mergeLong(c: FooterCell, mn: Long, mx: Long): FooterCell =
    if (!c.hasVal) c.copy(hasVal = true, lmin = mn, lmax = mx)
    else c.copy(lmin = math.min(c.lmin, mn), lmax = math.max(c.lmax, mx))

  private def mergeDouble(c: FooterCell, mn: Double, mx: Double): FooterCell =
    if (!c.hasVal) c.copy(hasVal = true, dmin = mn, dmax = mx)
    else c.copy(dmin = math.min(c.dmin, mn), dmax = math.max(c.dmax, mx))

  private def mergeBytes(c: FooterCell, mn: Array[Byte],
      mx: Array[Byte]): FooterCell =
    if (!c.hasVal) c.copy(hasVal = true, smin = mn, smax = mx)
    else c.copy(
      smin = if (java.util.Arrays.compareUnsigned(mn, c.smin) < 0) mn else c.smin,
      smax = if (java.util.Arrays.compareUnsigned(mx, c.smax) > 0) mx else c.smax)

  private def microsToTs(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  private def microsToLdt(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)

  /** Footer cells → typed `_stats` manifest rows, or None when any file's
    * footer was unusable (the whole version then falls back to the
    * data-scan pass — correctness valve, never partial manifests). */
  private def footerStatsRows(infos: Seq[FooterInfo],
      dts: Seq[org.apache.spark.sql.types.DataType])
      : Option[Seq[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.types._
    if (infos.exists(_.cells.exists(!_.ok))) None
    else Some(infos.map { fi =>
      val vals = fi.cells.zip(dts).flatMap { case (c, dt) =>
        if (!c.hasVal) Seq(null, null)
        else dt match {
          case IntegerType => Seq(c.lmin.toInt, c.lmax.toInt)
          case ShortType => Seq(c.lmin.toShort, c.lmax.toShort)
          case ByteType => Seq(c.lmin.toByte, c.lmax.toByte)
          case LongType => Seq(c.lmin, c.lmax)
          case DateType => Seq(
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(c.lmin)),
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(c.lmax)))
          case TimestampType => Seq(microsToTs(c.lmin), microsToTs(c.lmax))
          case TimestampNTZType => Seq(microsToLdt(c.lmin), microsToLdt(c.lmax))
          case FloatType => Seq(c.dmin.toFloat, c.dmax.toFloat)
          case DoubleType => Seq(c.dmin, c.dmax)
          case StringType => Seq(
            new String(c.smin, java.nio.charset.StandardCharsets.UTF_8),
            new String(c.smax, java.nio.charset.StandardCharsets.UTF_8))
          case _ => return None // type slipped past the executor check
        }
      }
      org.apache.spark.sql.Row.fromSeq(fi.file +: vals)
    })
  }

  /** Per-file (file, c_min, c_max…) stats frame over `cols` for an
    * explicit file list — the ONE manifest builder every stats manifest
    * goes through (the commit-time `_stats`, the merge-on-read harvest,
    * and the managed-table layout family in PipelineOps). Envelopes come
    * from FOOTER metadata (O(files), no data pages); when any footer is
    * unusable (INT96 timestamps, exotic types, omitted stats) it falls
    * back to a column-pruned data scan of the files — loudly, because at
    * 100 TB a silent fallback re-reads the data bytes per commit and the
    * operator should know which file/column degraded the path. The scan
    * anchors partition discovery at `basePath` when given, so a
    * hive-partitioned version's partition-column envelopes survive.
    * Also returns the files' max row count (from the same footer reads),
    * the Bloom sketch capacity input. */
  private[graft] def statsFrame(spark: SparkSession, files: Seq[String],
      cols: Seq[String], schema: StructType,
      basePath: String = null): (DataFrame, Long) = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dts = cols.map(c => schema(c).dataType)
    val footers = readFooters(spark, files, cols.zip(dts))
    val maxRows = if (footers.nonEmpty) footers.map(_.rows).max else 0L
    val frame = footerStatsRows(footers, dts) match {
      case Some(rs) =>
        spark.createDataFrame(rs.asJava, StructType(
          StructField("file", StringType) +: cols.zip(dts).flatMap { case (c, dt) =>
            Seq(StructField(s"${c}_min", dt), StructField(s"${c}_max", dt))
          }))
      case None =>
        footers.iterator.flatMap(fi => fi.cells.zipWithIndex.collect {
          case (c, i) if !c.ok => s"${fi.file} col=${cols(i)}"
        }).take(3).foreach(m => System.err.println(
          s"[graft] footer stats unusable ($m); falling back to data-scan stats pass"))
        val aggs = cols.flatMap(c => Seq(
          functions.min(c).as(s"${c}_min"), functions.max(c).as(s"${c}_max")))
        val reader = spark.read.schema(schema)
        Option(basePath).fold(reader)(reader.option("basePath", _))
          .parquet(files: _*)
          .groupBy(functions.input_file_name().as("file"))
          .agg(aggs.head, aggs.tail: _*)
    }
    (frame, maxRows)
  }

  /** One Bloom sketch per file of `rows` over xxhash64(`keyCol`) — the
    * ONE sketch build behind every `_bloom` manifest. Capacity comes from
    * the files' REAL max rows-per-file (footer row counts — free), at ~10
    * bits/key with a 40k-item floor: a fixed 40k-item sketch under a
    * compacted multi-million-row file degrades to fpp≈1 and prunes
    * nothing (correctness survives via the residual IN filter, but the
    * index silently dies — the r17 ADVICE finding). */
  private[graft] def bloomFrame(rows: DataFrame, keyCol: String,
      maxRows: Long = 0L): DataFrame = {
    graft.functions.BloomExprs.register(rows.sparkSession)
    val estItems = math.max(40000L, maxRows)
    rows.groupBy(functions.input_file_name().as("file"))
      .agg(functions.expr(
        s"graft_bloom_agg(xxhash64(`$keyCol`), ${estItems}L, ${estItems * 10L}L)")
        .as("bloom"))
  }

  /** Build the staged version's commit manifests: `_stats` (per-file
    * min/max envelopes + the explicit `stats_cols` list, via
    * [[statsFrame]]), `_bloom` (per-file sketch over xxhash64 of the key
    * plus its `key_col`, via [[bloomFrame]] — the one data pass footers
    * can't replace, column-pruned to the key), and `_files` (the
    * commit-logged file set + the version's read schema) that lets
    * readers skip the filesystem listing entirely. ONE commit-time
    * recursive listing of the fresh staged dir feeds all three. */
  private def writeVersionManifests(spark: SparkSession, dir: String,
      statsCols: Seq[String], bloomCol: Option[String],
      schema: StructType): Unit = {
    val files = listDataFiles(spark, dir)
    val (stats, maxRows) =
      if (files.isEmpty || (statsCols.isEmpty && bloomCol.isEmpty))
        (None, 0L)
      else {
        val (df, rows) = statsFrame(spark, files, statsCols, schema, dir)
        (Some(df), rows)
      }
    if (statsCols.nonEmpty) stats.foreach(
      _.withColumn("stats_cols", functions.lit(statsCols.mkString(",")))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/_stats"))
    bloomCol.foreach { c =>
      bloomFrame(spark.read.parquet(dir), c, maxRows)
        .withColumn("key_col", functions.lit(c))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/_bloom")
    }
    // `_files` LAST (the listing above must never see manifest litter):
    // the authoritative commit-logged file set + read schema. Written on
    // EVERY commit — manifest-free tables get it too, so the first later
    // statsCols commit doesn't have to retrofit the log.
    val sp = spark
    import sp.implicits._
    files.map(f => (f, false, schema.json))
      .toDF("entry", "dir", "schema_json")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$FilesManifest")
  }

  /** File-skipping range scan (`col` BETWEEN lo AND hi) of a pointer-
    * published table whose live version carries a `_stats` manifest (a
    * [[upsertBatch]] with `statsCols`): prune the version's file list by
    * the per-file envelopes, read ONLY the intersecting files, and keep
    * the exact residual filter. A version without a manifest falls back
    * to the full resolved scan — pruning is an optimization, never a
    * correctness dependency. At 100 TB this is what makes a continuously
    * MERGE-maintained table cheap to query on its cluster key: every
    * commit re-establishes the envelopes, so scan cost tracks the
    * predicate's data, not the table. */
  def readTableSkip(spark: SparkSession, path: String, col: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): DataFrame =
    readSkipping(spark, path, "_stats",
      _.filter(functions.col(s"${col}_max") >= lo &&
        functions.col(s"${col}_min") <= hi),
      functions.col(col).between(lo, hi))

  /** MERGE-with-DELETE's retention half: drop every row whose boolean
    * `deleteCol` is true from the live version and publish the shrunk
    * table. Deletes under this protocol are SOFT — a batch upserts the
    * key with the tombstone flag set, latest-wins seq resolution makes
    * the delete replay-safe exactly like any other upsert, and readers
    * filter the flag — so the tombstone ROW must survive until the
    * at-least-once replay horizon has drained: purging earlier lets a
    * stale replayed batch resurrect the key (the same contract as
    * Delta's VACUUM vs time travel). One filter-and-rewrite cycle
    * through the shared [[rewrite]] commit, layout contract propagated. */
  def purgeTombstones(spark: SparkSession, path: String,
      deleteCol: String): Unit = rewrite(spark, path) { snap =>
    Staged(readVersionDir(spark, snap.live)
      .filter(!functions.coalesce(
        functions.col(deleteCol).cast("boolean"), functions.lit(false))),
      snap.statsCols, snap.bloomKey)
  }

  /** Small-file compaction for a parquet directory: one read, one
    * `coalesce(files)` write of the same rows, staged and swapped into
    * place like [[upsertBatch]]. The streaming sinks above produce one
    * file set per micro-batch; left alone, a 100 TB table's read path
    * degrades to an open() per tiny file and the scheduler drowns in
    * splits — periodic compaction is the maintenance operator that keeps
    * scan cost proportional to bytes, not batch count. `partitionCols`
    * preserves an existing hive layout (the partition columns read back
    * as data columns and must be re-materialized as directories);
    * `coalesce` (not repartition) keeps the rewrite shuffle-free. A
    * compacted version keeps its manifest: envelopes are re-measured from
    * the coalesced files (wider than a clustered write's — correct, just
    * less selective until the next clustering commit). */
  def compact(spark: SparkSession, path: String, files: Int,
      partitionCols: Seq[String] = Nil): Unit = rewrite(spark, path) { snap =>
    Staged(readVersionDir(spark, snap.live).coalesce(files),
      snap.statsCols, snap.bloomKey, partitionCols)
  }

  /** OPTIMIZE as a LAKE COMMIT — the pointer-protocol form of a
    * clustered rewrite: recluster the LIVE version of a (possibly
    * pointer-published) table root by `sortCols` into `files` range
    * partitions, stage the rewrite to a fresh `data-*` dir inside the
    * root, and swap it in as a NEW VERSION with the single atomic
    * pointer rename, under the writer lease like every mutator. The
    * predecessor version is RETAINED (the [[HistoryKeep]] window), so a
    * concurrent reader that resolved CURRENT before the swap keeps
    * scanning its complete snapshot — the OPTIMIZE-vs-reader
    * interleaving a production lake runs continuously at 100 TB, where
    * reclustering can never mean blocking reads (Delta OPTIMIZE's commit
    * semantics). A legacy pointerless root is upgraded in place: the
    * first publish absorbs its root-level files into retirement after
    * the swap. Crash at any point leaves readers on a complete version
    * (staged-dir litter is swept by the next mutator). The optimized
    * version keeps (tightened) envelopes on the table's established
    * stats columns; a root without a manifest gets one on the sort
    * columns — OPTIMIZE is the layout operator, its output should always
    * be skippable. */
  def optimizeClustered(spark: SparkSession, path: String, files: Int,
      sortCols: Seq[String]): Unit = rewrite(spark, path) { snap =>
    val df = readVersionDir(spark, snap.live)
    Staged(df.repartitionByRange(files, sortCols.map(df.col): _*)
        .sortWithinPartitions(sortCols.head, sortCols.tail: _*),
      if (snap.statsCols.nonEmpty) snap.statsCols else sortCols, snap.bloomKey)
  }

  /** Bounded retry-on-conflict for single-table mutators — the writer
    * behavior a production lake client ships: a mutator that loses the
    * lease race ([[ConcurrentWriterException]]) waits and RE-RUNS its
    * whole stage+publish cycle, which re-reads the NEW CURRENT under its
    * own fresh lease, so two interleaved writers both land instead of the
    * second aborting to its caller. This is the lease-protocol form of
    * optimistic concurrency: a true OCC stages outside the lock and
    * validates at commit; under the single-writer lease the stage already
    * runs inside the lock, so "retry the whole cycle against the new
    * version" is the equivalent — and like Delta's conflict retry it is
    * only safe because every mutator here is a COMMUTATIVE merge over the
    * live version (latest-wins upsert, filter, recluster), never a blind
    * overwrite. Backoff is deterministic linear (no RNG — reproducible
    * runs); `attempts` bounds total tries. */
  def withWriterRetry[T](attempts: Int = 5, backoffMs: Long = 200L)(
      body: => T): T = {
    require(attempts >= 1, s"attempts must be >= 1, got $attempts")
    var i = 1
    while (true) {
      try return body
      catch {
        case e: ConcurrentWriterException =>
          if (i >= attempts) throw e
          Thread.sleep(backoffMs * i)
          i += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Small-file COMPACTION for a BUCKETED catalog table: rewrite the same
    * rows under the same bucket spec with exactly ONE file per bucket.
    * Append-maintained index artifacts (DedupIndex, VecIndex) add one
    * task-file set per bucket per append cycle; left alone, every probe
    * pays N file opens per bucket — this is their maintenance operator.
    *
    * Mechanism: the rewrite reads the table with the bucketed scan pinned
    * ON, so each read partition is exactly one bucket (all its file
    * generations together) and the bucketed writer maps it back to one
    * file. Without the pin, the table's advertised hash partitioning
    * elides the explicit repartition as redundant, and then — no exchange
    * left to justify the bucketed read — DisableUnnecessaryBucketedScan
    * degrades the scan to size-split file partitions, leaving one file
    * per (task, bucket). The repartition on the bucket keys (whose hash
    * IS the bucket hash, murmur3 pmod) stays as the belt-and-braces guard.
    *
    * Swap protocol: stage under `<t>__compact`, then DROP the live name
    * and RENAME the staged table into it. The two catalog ops are not
    * atomic; the crash window is closed by a heal at the NEXT call (live
    * name missing + staged present → finish the rename), and the staged
    * data is complete before the first metadata op runs, so no crash
    * point loses rows. A table registered over an EXTERNAL location keeps
    * its original files (DROP deletes metadata only) — that path's
    * retirement belongs to its owner; the compacted table is managed
    * either way. */
  def compactBucketed(spark: SparkSession, t: String,
      keys: Seq[String], buckets: Int): Unit = {
    val staged = s"${t}__compact"
    if (!spark.catalog.tableExists(t)) {
      // heal a crash between the DROP and RENAME of a previous compaction
      require(spark.catalog.tableExists(staged),
        s"bucketed table $t missing and no staged compaction to heal")
      spark.sql(s"ALTER TABLE `$staged` RENAME TO `$t`")
      return
    }
    val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val old = spark.conf.get(k)
    spark.conf.set(k, "false")
    try {
      val df = spark.table(t)
        .repartition(buckets, keys.map(functions.col): _*)
      writeBucketed(df, buckets, keys, staged)
    } finally spark.conf.set(k, old)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    spark.sql(s"ALTER TABLE `$staged` RENAME TO `$t`")
  }

  // ---- Manifest-pointer table publish ------------------------------------
  // A rewritten table (streaming MERGE, compaction) is published by writing
  // the new data to a fresh versioned directory INSIDE the table root and
  // then atomically swapping a single pointer file (`CURRENT`, containing
  // the live data-dir name) that every reader resolves through. The commit
  // is ONE atomic metadata op (rename-with-overwrite of the pointer), so a
  // crash at any point leaves readers on a complete table version:
  //   - crash while staging → CURRENT still names the old version;
  //   - crash between pointer-tmp write and rename → same;
  //   - crash after the swap, before retirement → new version live, stale
  //     dirs leak until the next publish retires them.
  // The pointer names up to [[HistoryKeep]] versions (line 1 = live, later
  // lines = predecessors, newest first), so readers that resolved CURRENT
  // just before a swap can finish their scan AND a bounded time-travel
  // history ("diff vs N publishes ago") is a metadata read. Versions
  // beyond the window are retired by the publish that rolls them out.
  // This is the minimal slice of a table format's commit protocol — no
  // manifest lists, no snapshot log — sized to the delete→rename window
  // it closes (SinkSourceSpec simulates the crash points).
  //
  // SINGLE WRITER per table root, now ENFORCED: every mutator
  // (upsertBatch, compact, vacuum) runs under a best-effort lease file
  // ([[withTableLock]] — atomic create-if-absent on `.LOCK`), so a second
  // concurrent writer FAILS FAST with [[ConcurrentWriterException]]
  // instead of having its staged `data-*` dir silently deleted by the
  // first writer's retirement, or losing its merge on the pointer swap.
  // A crashed holder's lease goes stale after [[LockStaleMs]] and is
  // reclaimed by the next writer. Readers never touch the lock — they
  // resolve through the atomically-swapped pointer and are safe at any
  // time.

  private val PointerFile = "CURRENT"

  /** Lease file name: dot-prefixed so parquet readers of a legacy
    * (pointerless) root ignore it, and upsertBatch's legacy
    * table-existence probe doesn't mistake it for committed data. */
  private val LockFile = ".LOCK"

  /** The reclaimers' mutex file. NOT collected by publish/vacuum
    * retirement: a LIVE reclaimer may hold it while an overstaying
    * lease holder publishes, and retirement can't tell a live mutex
    * from a crashed one — it self-expires via [[ReclaimMutexStaleMs]]
    * instead. (Sweeper litter `.LOCK.reclaim.sweep.*` IS collected —
    * those names are unique and never load-bearing.) */
  private val ReclaimMutexFile = s"$LockFile.reclaim"

  /** table-root URI path → lease token held by the current thread —
    * the commit-point fencing handle: [[writePointer]] verifies the
    * lease file still carries this token immediately before the pointer
    * swap, so any residual lease-yank race (stacked crashed-reclaimer +
    * concurrent-sweeper interleavings) aborts LOUDLY before publishing
    * instead of silently losing the other writer's merge. A MAP keyed by
    * root, not a single slot: a mutator whose body nests a withLease on
    * a SECOND root must not clobber the outer handle, or the outer
    * publish would silently skip the fencing check entirely. */
  private val heldLeases = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }

  /** Versions the pointer file names: the live one + 2 predecessors.
    * Retention cost is HistoryKeep × table size; the window is what
    * "compare against last-but-one publish" audits read. */
  val HistoryKeep = 3

  /** A lease whose acquire-timestamp is older than this is presumed
    * crashed and is reclaimable by the next writer. Mutations here are
    * single staged-write + pointer-swap cycles — minutes, not hours — so
    * one hour is far past any live holder at the scales this repo runs;
    * a deployment with multi-hour merges would raise it (or refresh the
    * lease mid-flight, which this slice deliberately doesn't carry). */
  val LockStaleMs: Long = 60L * 60 * 1000

  /** A second concurrent mutator on one table root — the documented
    * single-writer contract, made checkable. */
  final class ConcurrentWriterException(msg: String)
    extends RuntimeException(msg)

  /** Safety margin subtracted from [[LockStaleMs]] by the release-path
    * window guard: the holder measures its window from `heldSince`
    * (stamped AFTER acquisition) while a reclaimer judges staleness from
    * the lease file's own timestamp (stamped BEFORE the holder returned
    * from acquire), so near the boundary the reclaimer's clock runs a
    * little AHEAD of the holder's — the margin keeps the holder from
    * touching the file inside that skew. */
  private val ReleaseGraceMs: Long = 5L * 60 * 1000

  /** Staleness bound for the RECLAIM MUTEX (`.LOCK.reclaim`): the mutex
    * guards a millisecond-scale read-judge-delete-create block, so ten
    * minutes is far past any live reclaimer; a crashed one's mutex is
    * swept after this. Residual (accepted, documented): a reclaimer
    * stalled LONGER than this between its staleness re-read and its
    * delete can, in principle, wake up and delete a successor's fresh
    * lease — the classic lease/GC-pause hazard; a deployment needing
    * stronger guarantees uses storage-level fencing tokens. */
  private val ReclaimMutexStaleMs: Long = 10L * 60 * 1000

  /** Run `body` holding the table root's writer lease. Acquisition is an
    * atomic-create of [[LockFile]] carrying (token, acquire-millis); if
    * the file already exists, a fresh lease fails the caller fast and a
    * stale one (crashed holder, see [[LockStaleMs]]) is reclaimed.
    * The create-if-absent CAS is scheme-aware: HDFS-like filesystems get
    * `fs.create(overwrite = false)` (an atomic namespace op there), but
    * Hadoop's Local/ChecksumFileSystem implements overwrite=false as a
    * non-atomic exists-then-create, so `file:` roots use
    * O_CREAT|O_EXCL via java.nio instead — the kernel-level
    * create-exclusive.
    * RECLAIM runs under a dedicated RECLAIM MUTEX (`.LOCK.reclaim`,
    * same create-exclusive CAS) so a live holder's lease is NEVER
    * touched: with the mutex held, the staleness judgment is repeated on
    * the lease's current content, and only a still-stale lease is
    * deleted before the normal acquire CAS decides the next holder.
    * Content can't change under the mutex — creators require absence,
    * release deletes only its own verified token inside the validity
    * window, and rival reclaimers are excluded — so the delete is sound.
    * The earlier rename-the-lease-aside design was NOT: between moving a
    * fresh lease aside and restoring it the lock slot sat empty, so a
    * third racer could acquire while the real holder was mid-publish —
    * two writers, colliding pointer swaps (caught by the 4-thread
    * reclaim-race spec). A reclaimer that crashes holding the mutex
    * leaves it behind; it goes stale after [[ReclaimMutexStaleMs]]
    * (reclaim is a millisecond-scale op) and the next reclaimer sweeps
    * it by SINGLE-WINNER rename-aside + content re-judgment (a bare
    * delete-then-create sweep would replay the lease TOCTOU one level
    * down). Retirement never touches the mutex (it can't tell a live
    * one from a crashed one — see [[ReclaimMutexFile]]). Stacked-failure
    * interleavings that still slip a double-reclaim through are caught
    * by [[writePointer]]'s commit-point fencing: the pointer swap
    * re-verifies lease ownership and aborts loudly on a yanked lease.
    * RELEASE is the same rename-then-verify shape (rename to a
    * holder-unique name, confirm it still carries our token, only then
    * delete; restore on mismatch) and only runs while the lease is still
    * inside its validity window less [[ReleaseGraceMs]] — a holder that
    * overstayed leaves the file alone, because a reclaimer may
    * legitimately own it by then. A release rename that still fails
    * after two retries throws an IOException naming the stuck lease —
    * never a silent success that strands `.LOCK` for [[LockStaleMs]]. */
  private def withTableLock[T](spark: SparkSession, path: String)(body: => T): T = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) fs.mkdirs(root)
    val lock = new org.apache.hadoop.fs.Path(root, LockFile)
    val token = java.util.UUID.randomUUID().toString
    def leaseAt(p: org.apache.hadoop.fs.Path): Option[(String, Long)] =
      try {
        readUtf8(fs, p).split("\n").map(_.trim) match {
          case Array(t, ts, _*) if ts.forall(_.isDigit) && ts.nonEmpty =>
            Some((t, ts.toLong))
          case _ => None // torn/empty write: a crashed acquire — stale
        }
      } catch { case _: java.io.IOException => None }
    def lease(): Option[(String, Long)] = leaseAt(lock)
    // older than maxAgeMs, or unreadable (a torn write: a crashed creator)
    def staleAt(p: org.apache.hadoop.fs.Path, maxAgeMs: Long): Boolean =
      leaseAt(p).forall { case (_, ts) =>
        System.currentTimeMillis() - ts > maxAgeMs
      }
    def stamped: Array[Byte] =
      s"$token\n${System.currentTimeMillis()}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def tryCreateExclusive(p: org.apache.hadoop.fs.Path,
        bytes: Array[Byte]): Boolean =
      try {
        if (fs.getUri.getScheme == "file") {
          // LocalFileSystem's create(overwrite=false) is exists-then-
          // create, NOT atomic; O_CREAT|O_EXCL is. No .crc sidecar is
          // written here, which is fine: ChecksumFileSystem reads a
          // sidecar-less file unverified, and rename/delete of the lease
          // go through fs so any test-fabricated sidecar moves with it.
          java.nio.file.Files.write(
            java.nio.file.Paths.get(p.toUri.getPath), bytes,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } else {
          val out = fs.create(p, false) // atomic on HDFS-like schemes
          try out.write(bytes)
          finally out.close()
          true
        }
      } catch {
        // FileAlreadyExistsException (the nio CREATE_NEW loss) IS an
        // IOException — one case covers both CAS branches
        case _: java.io.IOException => false
      }
    def tryAcquire(): Boolean = tryCreateExclusive(lock, stamped)
    def fail(): Nothing =
      throw new ConcurrentWriterException(
        s"table root $path is locked by a concurrent writer " +
          s"(lease ${lease().getOrElse("unreadable")}); mutators are " +
          "single-writer — retry after it completes, or reclaim after " +
          s"${LockStaleMs / 60000} min if it crashed")
    // best-effort restore of a file we turn out not to own: rename back,
    // or (if the slot was re-created meanwhile) drop our duplicate copy
    def restore(from: org.apache.hadoop.fs.Path,
        to: org.apache.hadoop.fs.Path): Unit = {
      val back = try fs.rename(from, to)
      catch { case _: java.io.IOException => false }
      if (!back) fs.delete(from, false)
    }
    if (!tryAcquire()) {
      if (!staleAt(lock, LockStaleMs)) fail()
      // reclaim mutex: serializes reclaimers WITHOUT ever emptying a
      // live holder's lock slot (the scaladoc's rename-aside
      // post-mortem). A fresh lease is never deleted: content is
      // immutable while the file exists and the mutex is held.
      val rmx = new org.apache.hadoop.fs.Path(root, s"$LockFile.reclaim")
      def tryMutex(): Boolean = tryCreateExclusive(rmx, stamped)
      if (!tryMutex()) {
        if (!staleAt(rmx, ReclaimMutexStaleMs)) fail()
        // SINGLE-WINNER sweep of the crashed reclaimer's mutex: a bare
        // delete-then-create would be the same TOCTOU the mutex exists
        // to close, one level down (two sweepers both delete, the
        // slower one's delete removes the faster one's FRESH mutex and
        // both enter the critical section). Rename to a sweeper-unique
        // name instead — exactly one rename wins — then re-judge the
        // MOVED content; a fresh mutex that slid under the rename is
        // restored and the sweeper fails fast.
        val swept = new org.apache.hadoop.fs.Path(root,
          s"$LockFile.reclaim.sweep.$token")
        val won = try fs.rename(rmx, swept)
        catch { case _: java.io.IOException => false }
        if (!won) fail()
        if (!staleAt(swept, ReclaimMutexStaleMs)) { restore(swept, rmx); fail() }
        fs.delete(swept, false)
        if (!tryMutex()) fail()
      }
      try {
        // re-judge on the lease's CURRENT content — under the mutex the
        // only way it changes is vanishing entirely (a release), which
        // the acquire CAS below adjudicates anyway
        if (!staleAt(lock, LockStaleMs)) fail()
        fs.delete(lock, false)
        if (!tryAcquire()) fail()
      } finally fs.delete(rmx, false)
    }
    val heldSince = System.currentTimeMillis()
    // commit-point fencing handle; map-keyed so a nested lease on a
    // different root composes instead of clobbering this one
    heldLeases.set(heldLeases.get() + (root.toUri.getPath -> token))
    // release: only a lease that is provably still OURS — rename it to a
    // holder-unique name first (atomic — nobody else can then touch it),
    // verify it still carries our token, and only then delete; a foreign
    // lease caught by the rename (a reclaimer racing the validity
    // boundary) is restored. A transient rename failure is retried with
    // writePointer's backoff; a lease that is gone was not ours to
    // release. A rename that keeps failing must NOT pass for success: the
    // stranded `.LOCK` would fail every later writer for LockStaleMs.
    def release(): Unit = {
      val rel = new org.apache.hadoop.fs.Path(root, s"$LockFile.release.$token")
      val moved = (0 to 2).iterator.map { attempt =>
        val ok = try fs.rename(lock, rel)
        catch { case _: java.io.IOException => false }
        if (ok) Some(true)
        else if (!fs.exists(lock)) Some(false)
        else if (attempt < 2) { Thread.sleep(20L << attempt); None }
        else throw new java.io.IOException(
          s"could not release the writer lease $lock (rename failed 3 times); " +
            "the mutation committed, but later writers fail with " +
            "ConcurrentWriterException until the lease is removed or goes " +
            s"stale after ${LockStaleMs / 60000} min")
      }.collectFirst { case Some(v) => v }.getOrElse(false)
      if (moved) {
        if (leaseAt(rel).exists(_._1 == token)) fs.delete(rel, false)
        else restore(rel, lock)
      }
    }
    var failure: Throwable = null
    try body
    catch { case t: Throwable => failure = t; throw t }
    finally {
      heldLeases.set(heldLeases.get() - root.toUri.getPath)
      // The window guard keeps an overstaying holder from touching the
      // file at all, with ReleaseGraceMs covering the
      // heldSince-vs-file-timestamp skew. A release failure after a
      // failed body rides along as suppressed; the body's error wins.
      if (System.currentTimeMillis() - heldSince <
          LockStaleMs - ReleaseGraceMs)
        try release()
        catch {
          case e: java.io.IOException if failure != null =>
            failure.addSuppressed(e)
        }
    }
  }

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Pointer file contents: line 1 = live data dir, line 2 (optional) =
    * predecessor data dir. Both lines land in the ONE atomically-renamed
    * file, so "current" and "one version back" always agree — there is no
    * second metadata op to crash between. */
  private def readPointerLines(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    val ptr = new org.apache.hadoop.fs.Path(root, PointerFile)
    if (!fs.exists(ptr)) Nil
    else readUtf8(fs, ptr).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** A small metadata file's whole content as UTF-8 — the one reader
    * behind the pointer, lease, and snapshot files. */
  private def readUtf8(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Resolve a table root through its `CURRENT` pointer to the live data
    * directory. A root without a pointer (a plain parquet dir, or the
    * streaming sink's raw `batch=` litter) resolves to itself, so every
    * reader can go through this unconditionally. */
  def resolveTable(spark: SparkSession, path: String): String =
    new Snapshot(spark, path).live

  /** The version's positional DELETION VECTORS: `_deletes` holds
    * (file, pos) rows naming deleted positions in the version's own data
    * files — the merge-on-read half of a table format's delete support
    * (Delta deletion vectors / Iceberg positional deletes). Lives INSIDE
    * the version dir, so it is valid exactly for the files it names and
    * retires with them; every rewriting mutator reads through
    * [[readVersionDir]], so a rewrite FOLDS the deletes into the new
    * version (which starts with no `_deletes`) instead of resurrecting
    * the rows. */
  private val DeletesManifest = "_deletes"

  /** Per-BATCH-DIR deleted-VALUE store (`_deletes_values/batch=<id>`):
    * [[writeBatch]]'s replay reconciliation writes the row values its
    * dir's positional vectors hide here before overwriting the dir, so a
    * deletion survives any number of at-least-once replays (a positional
    * vector identifies its rows only while its files exist — see the
    * reconciliation comment in [[writeBatch]]). Underscore-hidden from
    * every reader; retires with its version like `_deletes`. */
  private val DeletesValueStore = "_deletes_values"

  /** Guard for reading maybe-empty hidden manifests: a crash between
    * `mkdirs` and the first file landing (or a zero-row append) leaves a
    * parquet-file-less directory that `spark.read.parquet` cannot infer a
    * schema for — treating it as "nothing recorded" both avoids the
    * bricked-table failure mode and is semantically exact. */
  private def hasParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean =
    parquetParts(fs, dir).nonEmpty

  /** The parquet part files directly inside `dir` (none if it is absent). */
  private def parquetParts(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)

  /** The `_files` commit log's (entry, is-dir) rows and the version's
    * read schema JSON (carried by the publish-time rows). */
  private def readFilesLog(spark: SparkSession, fm: org.apache.hadoop.fs.Path)
      : (Seq[(String, Boolean)], Option[String]) = {
    val rows = spark.read.parquet(fm.toString)
      .select("entry", "dir", "schema_json").collect().toSeq
    (rows.map(r => (r.getString(0), r.getBoolean(1))),
      rows.flatMap(r => Option(r.getString(2))).headOption)
  }

  /** Apply a version dir's deletion vectors to a frame read FROM ITS
    * FILES: anti-join on (_metadata.file_path, _metadata.row_index) —
    * both sides render identically because [[deleteWhere]] records the
    * positions from the same metadata columns. Only valid on
    * file-source frames over `dir`'s files (the hidden _metadata struct
    * must resolve). No broadcast hint: DV volume is bounded by deleted
    * rows, and AQE's size-gated broadcast decides; at pathological
    * delete volumes the planner falls back to a shuffle join instead of
    * OOMing the driver.
    *
    * `scanned` = (file entries, dir entries) when the caller scans a
    * PRUNED subset of the version (the skip/bloom readers): the vector
    * set is pre-filtered to positions inside those entries, so the
    * anti-join probe cost tracks FILES SCANNED, not total deletes
    * (VERDICT r19 #4 — without this a narrow skip-read over a
    * heavily-deleted-but-below-compaction-threshold table distincts and
    * probes every vector in the table on every query). A vector outside
    * the scanned set matches nothing by construction (both sides carry
    * the file path), so the filter is a pure cost cut, never a
    * correctness change. Comparison is on the NORMALIZED URI path —
    * vectors record `_metadata.file_path` (`file:/…`) while manifest
    * entries come from listings (`file:/…`) or the data-scan stats
    * fallback (`file:///…`); stripping `scheme://authority` / `scheme:/`
    * on both sides makes the match rendering-insensitive. Dir entries
    * (post-commit `batch=` arrivals) match by prefix. */
  private def applyDeletes(spark: SparkSession, dir: String,
      df: DataFrame,
      scanned: Option[(Seq[String], Seq[String])] = None): DataFrame = {
    val dp = new org.apache.hadoop.fs.Path(dir, DeletesManifest)
    if (!hasParquetFiles(fsOf(spark, dp), dp)) df
    else {
      val raw = spark.read.parquet(dp.toString)
      val pruned = scanned match {
        case None => raw
        case Some((files, dirs)) =>
          val normCol = functions.regexp_replace(
            functions.regexp_replace(functions.col("file"),
              "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
            "^[a-zA-Z][a-zA-Z0-9+.-]*:/", "/")
          val fileKeep =
            if (files.isEmpty) functions.lit(false)
            else normCol.isin(files.map(norm): _*)
          val keep = dirs.map(d => norm(d).stripSuffix("/") + "/")
            .foldLeft(fileKeep)((acc, p) => acc || normCol.startsWith(p))
          raw.filter(keep)
      }
      joinPositions(df, pruned, "left_anti")
    }
  }

  /** Join a file-source frame to a (file, pos) vector set on
    * (_metadata.file_path, _metadata.row_index) — `left_anti` hides the
    * deleted rows (every DV reader), `left_semi` selects them
    * ([[writeBatch]]'s replay reconciliation). The vectors are distinct'd
    * first: idempotent under replayed/duplicate delete appends. */
  private def joinPositions(df: DataFrame, vectors: DataFrame,
      how: String): DataFrame = {
    val dels = vectors
      .select(functions.col("file").as("__dv_file"),
        functions.col("pos").as("__dv_pos"))
      .distinct()
    df.withColumn("__dv_file", functions.col("_metadata.file_path"))
      .withColumn("__dv_pos", functions.col("_metadata.row_index"))
      .join(dels, Seq("__dv_file", "__dv_pos"), how)
      .drop("__dv_file", "__dv_pos")
  }

  /** Merge-on-read DELETE: record every live row matching `predicate` as
    * a (file, position) deletion vector in the live version's `_deletes`
    * manifest — ZERO data files rewritten, the O(matched rows) metadata
    * write a production lake uses when rewrite amplification is the
    * bottleneck (a 1-row delete in a 1 GB file costs a few bytes, not a
    * 1 GB rewrite). Readers ([[readTable]], the skip-readers, every
    * mutator's base read) apply the vectors via anti-join; the NEXT
    * rewriting commit folds them into its new version. Contrast with
    * [[purgeTombstones]], the copy-on-write path (full filter-rewrite
    * cycle) — the classic MOR/COW trade, both now available. Runs under
    * the writer lease. Appends accumulate; duplicate positions dedup at
    * read. */
  def deleteWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column): Unit =
    withTableLock(spark, path) {
      val live = resolveTable(spark, path)
      // RAW read (no DV application): the hidden _metadata struct only
      // resolves directly on the file-source relation — the DV anti-join
      // projects it away. Re-recording an already-deleted position that
      // still matches is harmless: readers dedup (file, pos).
      readVersionDirRaw(spark, live)
        .filter(predicate)
        .select(functions.col("_metadata.file_path").as("file"),
          functions.col("_metadata.row_index").as("pos"))
        // one vector file per delete op (same rationale as the merge's
        // staged DV write): (file, pos) ints, never worth a task-file
        // per scanned partition
        .repartition(1)
        .write.mode(SaveMode.Append).parquet(s"$live/$DeletesManifest")
    }

  /** MERGE-ON-READ UPSERT: the matched-update half of MERGE expressed as
    * deletion vectors + appended files — ZERO base data files rewritten
    * (contrast [[upsertBatch]], the copy-on-write MERGE that stages a
    * whole new version). Per key, the greater (seq, full-row xxhash64)
    * wins — the same total order as the COW path, so the two MERGE forms
    * are interchangeable and replaying any batch converges on the same
    * visible rows. A superseded base row becomes a (file, pos) vector in
    * the live version's `_deletes`; winning batch rows (updates AND
    * inserts) land as NEW files in the version dir, commit-logged in
    * `_files`. At 100 TB this is the MERGE a continuously-updated table
    * wants when updates touch a small fraction of rows scattered across
    * many large files: cost is O(matched rows + batch), never a rewrite
    * of every touched gigabyte (Delta's DV-backed MERGE shape).
    *
    * Commit order under the writer lease: stage both outputs while the
    * live file set is still untouched, then files-in → `_files` log →
    * `_deletes` append. A crash inside the window leaves transient
    * DUPLICATES (old + new row per matched key) — the replay-friendly
    * failure mode, consistent with [[writeBatch]]'s at-least-once
    * discipline — never lost rows. Schema evolution is NOT this path's
    * job: an evolving batch goes through the rewriting [[upsertBatch]]
    * (the version's commit-logged read schema must change with it).
    *
    * HISTORY GRANULARITY: a MOR merge mutates the LIVE version in place
    * (files + vectors + log rows) with no pointer publish, so
    * [[readTableVersion]] steps over PUBLISHES, not MOR batches. WITHIN
    * the live version's epoch, per-merge states are now reachable via
    * [[readTableMergeVersion]] — each merge records a metadata-only
    * snapshot (see [[SnapshotsDir]]); a rewriting commit starts a fresh
    * epoch, the checkpoint-vs-delta granularity every lake format
    * exposes. */
  /** `deleteCol` (optional) adds the MERGE matched-DELETE clause in
    * merge-on-read form: a winning batch row whose flag is true retires
    * its matched base row as a deletion vector and appends NOTHING — a
    * delete costs a few metadata bytes, never a file write. The flag must
    * be one of the table's own columns (the COW soft-delete convention
    * q_merge_delete uses), so delete batches replay-converge like any
    * other: a replayed delete finds no base row, wins as an "insert",
    * and is then filtered by its own flag — appending and deleting
    * nothing. */
  def upsertBatchDv(batch: DataFrame, path: String, keyCol: String,
      seqCol: String, deleteCol: String = null): Unit = {
    // empty-trigger short-circuit: a recovered/offsets-only micro-batch
    // must not pay the whole-version read + merge join + staged writes
    // for zero rows (at 100 TB that is a full table scan per no-op)
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    withTableLock(spark, path) {
    val snap = new Snapshot(spark, path)
    require(snap.lines.nonEmpty,
      s"upsertBatchDv needs a published table at $path (seed it with " +
        "upsertBatch first) — merge-on-read mutates a committed version")
    val live = snap.live
    // per-merge history: the FIRST merge on this version anchors the
    // epoch with a PRE-merge snapshot, so back=<merges> reaches the
    // published base state (VERDICT r19 #2)
    if (snapFiles(snap.fs, live).isEmpty) writeMergeSnapshot(spark, live)
    // base rows with their physical positions, current vectors applied
    // (an already-deleted row must neither block an insert nor be
    // re-deleted at a second position)
    val baseRaw = readVersionDirRaw(spark, live)
      .withColumn("__file", functions.col("_metadata.file_path"))
      .withColumn("__pos", functions.col("_metadata.row_index"))
    val base = applyDeletes(spark, live, baseRaw)
    val dataCols = base.columns.filterNot(Set("__file", "__pos")).toSeq
    require(batch.columns.toSet == dataCols.toSet,
      s"merge-on-read batch columns ${batch.columns.sorted.mkString(",")} " +
        s"must equal the table's ${dataCols.sorted.mkString(",")} — " +
        "additive evolution goes through upsertBatch")
    // the shared winner rule, TYPE parity included: names alone would
    // let a same-name-different-type batch append mixed-type parquet
    // next to the base files (a silently bricked version)
    val m = mergeRule(batch, StructType(dataCols.map(base.schema(_))),
      keyCol, seqCol)
    // persisted: the full-outer merge join over the whole-version read is
    // the call's dominant cost, and BOTH outputs below consume it — a
    // bare plan would re-run the base scan + DV anti-join + join twice
    val joined = base.join(m.prefixed,
      functions.col(keyCol) === functions.col(s"__b_$keyCol"), "full_outer")
      .persist()
    // DISTINCT: a base holding duplicate rows for a key — exactly the
    // state this op's own documented crash window (files in, vectors not
    // yet) leaves behind — matches the one batch row N times in the
    // full-outer join; without the dedup the re-run meant to CONVERGE
    // that state would append the winner N times (permanent visible
    // duplicates). All N copies are the identical batch-side row, so the
    // distinct is deterministic; dvRows below intentionally keeps one
    // vector per superseded base COPY.
    val winners = joined.filter(m.batchWins)
      .select(dataCols.map(c => functions.col(s"__b_$c").as(c)): _*)
      .distinct()
    // matched-DELETE clause: flagged winners retire their base row (the
    // dvRows side below) and append nothing
    val newRows = Option(deleteCol).map { c =>
      winners.filter(!functions.coalesce(
        functions.col(c).cast("boolean"), functions.lit(false)))
    }.getOrElse(winners)
    val dvRows = joined
      .filter(functions.col(keyCol).isNotNull && m.batchWins)
      .select(functions.col("__file").as("file"),
        functions.col("__pos").as("pos"))
    // stage BOTH outputs first (hidden dot-dirs — invisible to readers
    // and to the mixed-layout classifier) while the live file set both
    // plans captured is still physically intact
    val tag = java.util.UUID.randomUUID().toString.take(12)
    val stageData = new org.apache.hadoop.fs.Path(live, s".merge-dv-$tag")
    val stageDv = new org.apache.hadoop.fs.Path(live, s".merge-dvv-$tag")
    try {
      newRows.write.mode(SaveMode.Overwrite).parquet(stageData.toString)
      // ONE vector file per merge (repartition, not coalesce — coalesce
      // would collapse the merge join itself to one partition): the
      // per-batch vector set is a few (file, pos) ints, but a task-file
      // per shuffle partition made `_deletes` grow 32 part files per
      // merge — the 50-cycle soak (tools/SoakProbe) measured 928 parts
      // before the fold, i.e. an O(batches) file-open cost on every DV
      // read. Delta writes one DV file per commit for the same reason.
      dvRows.repartition(1).write.mode(SaveMode.Overwrite)
        .parquet(stageDv.toString)
    } finally joined.unpersist(false)
    val fs = snap.fs
    // commit: data files in, log them, then the vectors
    val landed = parquetParts(fs, stageData).map { p =>
      val dst = new org.apache.hadoop.fs.Path(live, p.getName)
      if (!fs.rename(p, dst)) throw new java.io.IOException(
        s"merge-on-read commit: could not move $p into $live")
      dst.toString
    }
    // same O(appends) commit-log growth bound as writeBatch (we hold the
    // lease here, so a due log fold runs directly)
    appendFilesLog(spark, path, live, landed.map((_, false)))
    // harvest the landed files' envelopes into the pruning manifests so
    // skip/bloom reads can prune them (ADVICE r19 — unharvested MOR
    // appends are always-scanned, read amplification growing linearly
    // with merge batches until a rewriting commit)
    if (landed.nonEmpty) harvestAppendedManifests(spark, snap, landed)
    val delDir = new org.apache.hadoop.fs.Path(live, DeletesManifest)
    val dvParts = parquetParts(fs, stageDv)
    if (dvParts.nonEmpty) {
      if (!fs.exists(delDir)) fs.mkdirs(delDir)
      dvParts.foreach { p =>
        val dst = new org.apache.hadoop.fs.Path(delDir, p.getName)
        if (!fs.rename(p, dst)) throw new java.io.IOException(
          s"merge-on-read commit: could not move vector file $p into $delDir")
      }
    }
    fs.delete(stageData, true)
    fs.delete(stageDv, true)
    // record the post-merge visible state; a crash before this line means
    // the replayed (convergent) merge records it instead
    writeMergeSnapshot(spark, live)
    }
  }

  /** Harvest the footer envelopes (and Bloom sketches) of files APPENDED
    * by a merge-on-read commit into the live version's `_stats`/`_bloom`
    * manifests (ADVICE r19): without this every MOR-appended file is
    * absent from the pruning manifests, so every skip/bloom read must
    * scan it regardless of predicate — read amplification growing
    * linearly with merge batches until a rewriting commit. Cost is
    * O(landed files) footer reads plus one column-pruned data pass over
    * ONLY the landed files for the sketch — the same per-commit price
    * [[writeVersionManifests]] pays, scoped to the batch. Crash-safe by
    * the manifests' prune-only-what-you-cover contract: a crash before
    * either append leaves the landed files unknown to the manifests =
    * always scanned (sound); a crash between the two appends leaves one
    * manifest richer (also sound). Unusable footers (exotic types) take
    * [[statsFrame]]'s loud data-scan fallback over the landed files. Runs
    * under the caller's lease; manifest file-count growth is folded by
    * the same threshold compaction as the `_files` log. */
  private def harvestAppendedManifests(spark: SparkSession, snap: Snapshot,
      landed: Seq[String]): Unit = {
    val live = snap.live
    val statsDir = healedManifest(snap.fs, live, "_stats")
    val bloomDir = healedManifest(snap.fs, live, "_bloom")
    val statsCols = if (hasParquetFiles(snap.fs, statsDir)) snap.statsCols else Nil
    val bloomKey = if (hasParquetFiles(snap.fs, bloomDir)) snap.bloomKey else None
    if (statsCols.isEmpty && bloomKey.isEmpty) return
    // footer-only reads: schema + per-file row counts + min/max envelopes
    val schema = spark.read.parquet(landed: _*).schema
    val harvest = statsCols.nonEmpty && statsCols.forall(schema.fieldNames.contains)
    val (stats, maxRows) =
      statsFrame(spark, landed, if (harvest) statsCols else Nil, schema, live)
    if (harvest) {
      stats.withColumn("stats_cols", functions.lit(statsCols.mkString(",")))
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(statsDir.toString)
      maybeCompactManifest(spark, snap.path, live, "_stats")
    }
    bloomKey.filter(schema.fieldNames.contains).foreach { c =>
      bloomFrame(spark.read.parquet(landed: _*), c, maxRows)
        .withColumn("key_col", functions.lit(c))
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(bloomDir.toString)
      maybeCompactManifest(spark, snap.path, live, "_bloom")
    }
  }

  /** Deleted fraction of the live version: distinct recorded (file, pos)
    * vectors over the version's physical row count. Both sides are
    * metadata-cheap — the vectors are a small manifest, and a bare
    * filterless parquet COUNT answers from footer row counts. Dangling
    * vectors (files renamed away by a batch replay) inflate the estimate
    * slightly — conservative in the right direction for a compaction
    * trigger. */
  def deletedFraction(spark: SparkSession, path: String): Double = {
    val live = resolveTable(spark, path)
    val dp = new org.apache.hadoop.fs.Path(live, DeletesManifest)
    if (!hasParquetFiles(fsOf(spark, dp), dp)) return 0.0
    val dels = spark.read.parquet(dp.toString).distinct().count()
    if (dels == 0L) return 0.0
    val total = readVersionDirRaw(spark, live).count()
    if (total == 0L) 1.0 else dels.toDouble / total
  }

  /** DV COMPACTION POLICY — the read-amplification guard a 100 TB
    * merge-on-read deployment needs: every deleted row is anti-join work
    * on EVERY read, so past a deleted-fraction threshold the metadata
    * trade inverts and a rewrite is cheaper than carrying the vectors.
    * When [[deletedFraction]] exceeds `maxDeletedFraction`, fold: one
    * staged rewrite through [[compact]] (whose base read applies the
    * vectors) publishes a clean version — no `_deletes`, stats/bloom
    * layout contract propagated — and reads flip from anti-join back to
    * plain pruned base files. Below the threshold this is a metadata-only
    * no-op. Returns whether a rewrite was published. */
  def compactDeletes(spark: SparkSession, path: String,
      maxDeletedFraction: Double, files: Int): Boolean = {
    require(maxDeletedFraction >= 0.0 && maxDeletedFraction < 1.0,
      s"maxDeletedFraction must be in [0, 1), got $maxDeletedFraction")
    if (deletedFraction(spark, path) <= maxDeletedFraction) false
    else { compact(spark, path, files); true }
  }

  /** Read one VERSION DIRECTORY with layout-aware semantics — the single
    * whole-version read every reader and mutator goes through. Spark's
    * partition discovery has a silent data-loss edge this guards: a dir
    * holding BOTH root-level data files (a compacted/merged version) AND
    * `batch=N/` subdirs (post-commit streaming arrivals) makes the plain
    * `spark.read.parquet(dir)` infer `batch` as a partition column and
    * return ONLY the files under partition dirs — the whole base version
    * silently vanishes from the scan (found this round; the r17 valve
    * spec compared two reads that BOTH degenerated this way, so it held
    * vacuously). The fix: ONE top-level listStatus classifies the layout —
    * mixed root-files+subdirs reads with recursiveFileLookup (every file,
    * no partition inference; the batch lineage column is the documented
    * cost), pure layouts (flat, hive-partitioned, batch-only) keep the
    * plain read and their partition-column semantics. */
  private def readVersionDirRaw(spark: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, root)
    val top = if (fs.exists(root)) fs.listStatus(root) else Array.empty[org.apache.hadoop.fs.FileStatus]
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    val rootFiles = top.exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val subDirs = top.exists(st => st.isDirectory && !hidden(st.getPath.getName))
    if (rootFiles && subDirs)
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
    else spark.read.parquet(dir)
  }

  /** [[readVersionDirRaw]] with the version's deletion vectors applied —
    * what every consumer outside [[deleteWhere]] itself uses. */
  private[graft] def readVersionDir(spark: SparkSession, dir: String): DataFrame =
    applyDeletes(spark, dir, readVersionDirRaw(spark, dir))

  /** Read a (possibly pointer-published) table — the reader half of the
    * publish protocol. */
  def readTable(spark: SparkSession, path: String): DataFrame =
    readVersionDir(spark, resolveTable(spark, path))

  /** Time-travel read, `back` publishes ago (back = 0 is the live
    * version): every retained version's name rides in the ONE atomically-
    * renamed pointer file (newest first), so this is a metadata read,
    * never a directory-listing heuristic over retired dirs — and the
    * whole history can never disagree with the live version. Returns None
    * beyond the retained window ([[HistoryKeep]] versions; a plain dir or
    * a first publish has no history at all). Deeper history than the
    * window is the non-goal boundary: that's a real table format's
    * snapshot log. Scale: cost is identical to reading the live table. */
  def readTableVersion(spark: SparkSession, path: String,
      back: Int): Option[DataFrame] = {
    require(back >= 0, s"back must be >= 0, got $back")
    val root = new org.apache.hadoop.fs.Path(path)
    readPointerLines(fsOf(spark, root), root).lift(back)
      .map(name => readVersionDir(spark, s"$path/$name"))
  }

  // ---- Per-merge MOR snapshots -------------------------------------------

  /** Per-MERGE snapshot log for merge-on-read tables (VERDICT r19 #2):
    * a MOR merge mutates the LIVE version in place (appended files +
    * deletion vectors + commit-log rows) with no pointer publish, so
    * [[readTableVersion]] steps over PUBLISHES, not merges. Each
    * [[upsertBatchDv]] now also writes a tiny TEXT snapshot under the
    * live version's hidden `_snapshots/`: the commit-logged entry list
    * plus the `_deletes` part-file names visible at that moment (the
    * first merge on a version also writes a PRE-merge anchor, so
    * back=<merges> reaches the published base). Reconstruction is sound
    * because a MOR epoch is APPEND-ONLY: data files are never deleted or
    * rewritten within a version (rewrites publish a NEW version,
    * retiring the old dir with its snapshots — per-merge history spans
    * one version epoch, the checkpoint-vs-delta granularity every lake
    * format exposes) and `_deletes` parts are append-only. Cost per
    * merge: one metadata read of `_files`, a one-level `_deletes`
    * listing, one small atomic text write — no Spark job. Known seam: a
    * `batch=` DIR entry re-reads at its CURRENT content, so an
    * at-least-once replay overwriting a batch dir after the snapshot can
    * alter a reconstruction that includes it (the same replay caveat the
    * commit log itself carries). */
  private val SnapshotsDir = "_snapshots"

  private def snapFiles(fs: org.apache.hadoop.fs.FileSystem,
      live: String): Seq[org.apache.hadoop.fs.Path] = {
    val dir = new org.apache.hadoop.fs.Path(live, SnapshotsDir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("snap-"))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Record the live version's CURRENT visible state as the next
    * `snap-%08d` entry: one `S<TAB>schema_json` line, one `F`/`D` line
    * per commit-logged file/dir entry, one `V` line per `_deletes` part.
    * Atomic (tmp + rename); a legacy version without `_files` records
    * nothing (per-merge travel needs the commit log's complete file
    * set). Caller holds the table lease. */
  private def writeMergeSnapshot(spark: SparkSession, live: String): Unit = {
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(live))
    val fm = healedManifest(fs, live, FilesManifest)
    if (!hasParquetFiles(fs, fm)) return
    val (entries, schemaJson) = readFilesLog(spark, fm)
    val dvParts = parquetParts(fs,
      new org.apache.hadoop.fs.Path(live, DeletesManifest)).map(_.toString)
    val dir = new org.apache.hadoop.fs.Path(live, SnapshotsDir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val n = snapFiles(fs, live)
      .flatMap(p => p.getName.stripPrefix("snap-").toIntOption)
      .maxOption.map(_ + 1).getOrElse(0)
    val sb = new StringBuilder
    sb.append("S\t").append(schemaJson.getOrElse("")).append('\n')
    entries.distinct.foreach { case (e, isDir) =>
      sb.append(if (isDir) "D\t" else "F\t").append(e).append('\n')
    }
    dvParts.foreach(p => sb.append("V\t").append(p).append('\n'))
    val tmp = new org.apache.hadoop.fs.Path(dir, f".snap-$n%08d.tmp")
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, f"snap-$n%08d")))
      throw new java.io.IOException(s"could not commit merge snapshot $n at $dir")
  }

  /** PER-MERGE time travel on a merge-on-read table: the visible state
    * `back` MERGES ago within the live version's epoch (back = 0 is the
    * live table; back = 1 is "before the last MOR merge"). Returns None
    * past the epoch's first recorded state — deeper history crosses a
    * publish boundary, where [[readTableVersion]] takes over. Cost: the
    * snapshot is a metadata read; the reconstruction reads only the
    * snapshot's file set and anti-joins only its pinned DV parts —
    * same shape as a live read of that state. */
  def readTableMergeVersion(spark: SparkSession, path: String,
      back: Int): Option[DataFrame] = {
    require(back >= 0, s"back must be >= 0, got $back")
    if (back == 0) return Some(readTable(spark, path))
    val live = resolveTable(spark, path)
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(live))
    val snaps = snapFiles(fs, live)
    // snapshots: [pre-first-merge anchor, post-merge-1, …, post-merge-k];
    // the live state IS the last snapshot's state, so back=b reads index
    // (count-1) - b
    val idx = snaps.length - 1 - back
    if (idx < 0) return None
    val lines = readUtf8(fs, snaps(idx)).split("\n").toSeq
    def tagged(t: String) =
      lines.filter(_.startsWith(t + "\t")).map(_.drop(2)).distinct
    val schema = lines.find(_.startsWith("S\t")).map(_.drop(2).trim)
      .filter(_.nonEmpty)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType])
    val entries = tagged("F") ++ tagged("D")
    if (entries.isEmpty)
      return schema.map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
    val reader = schema.map(spark.read.schema).getOrElse(spark.read)
      .parquet(entries: _*)
    // the snapshot pins its DV state by part file, not by whatever
    // `_deletes` holds now
    val dvParts = tagged("V")
    Some(if (dvParts.isEmpty) reader
      else joinPositions(reader, spark.read.parquet(dvParts: _*), "left_anti"))
  }

  private def stageName(): String =
    s"data-${java.util.UUID.randomUUID().toString.take(12)}"

  /** Delete orphan staged `data-*` dirs from a POINTERLESS root: nothing
    * there was ever committed (the pointer write is the commit), so they
    * are crash litter a whole-root read must never sweep in. A pointered
    * root is untouched — its staged dirs are retired by [[publish]] /
    * collected by [[vacuum]]. */
  private def sweepUncommittedStages(snap: Snapshot): Unit =
    if (snap.lines.isEmpty && snap.fs.exists(snap.root))
      snap.fs.listStatus(snap.root).foreach { st =>
        if (st.getPath.getName.startsWith("data-")) snap.fs.delete(st.getPath, true)
      }

  /** Write the pointer file's lines via the one atomic rename-with-
    * overwrite — the commit primitive [[publish]] and [[vacuum]] share.
    * FENCED: when the calling thread holds this root's lease (every
    * public mutator does), the lease file is re-read immediately before
    * the swap and must still carry the held token — a writer whose lease
    * was yanked by a residual reclaim race aborts loudly here, before it
    * can overwrite the pointer and lose the usurper's merge. (The
    * check-to-rename window is milliseconds; full closure needs
    * storage-level conditional-put fencing this FS slice doesn't carry.) */
  private def writePointer(spark: SparkSession,
      root: org.apache.hadoop.fs.Path, lines: Seq[String]): Unit = {
    val fs = fsOf(spark, root)
    heldLeases.get().get(root.toUri.getPath).foreach { token =>
      // Three verdicts, not two: a lease that READS with a foreign token
      // or is MISSING is a genuine yank (abort); a transient read ERROR
      // on an otherwise healthy holder is retried a couple of times
      // before aborting — a single flaky read must not kill a valid
      // commit and strand the staged dir as litter.
      def readToken(): Option[String] =
        readUtf8(fs, new org.apache.hadoop.fs.Path(root, LockFile))
          .split("\n").headOption.map(_.trim)
      val owns = (0 to 2).iterator.map { attempt =>
        try Some(readToken().contains(token))
        catch {
          case _: java.io.FileNotFoundException => Some(false) // gone = yanked
          case _: java.io.IOException if attempt < 2 =>
            Thread.sleep(20L << attempt); None // transient: retry
          case _: java.io.IOException => Some(false) // persistent: abort
        }
      }.collectFirst { case Some(v) => v }.getOrElse(false)
      if (!owns) throw new ConcurrentWriterException(
        s"writer lease for $root was reclaimed mid-mutation (commit-point " +
          "fencing check); aborting before the pointer swap — the staged " +
          "dir is litter the next publish retires")
    }
    // writer-unique tmp name: publishes are lease-serialized, but if
    // mutual exclusion is ever violated a shared tmp turns the second
    // swap into a FileNotFound crash mid-commit — unique tmps degrade
    // that to pointer last-writer-wins, and retirement/vacuum sweep any
    // crash litter either way
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".$PointerFile.tmp.${java.util.UUID.randomUUID().toString.take(12)}")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(root.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new org.apache.hadoop.fs.Path(root, PointerFile),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Delete every root entry not in `keep` — publish-time retirement and
    * vacuum share this single definition of "collectable". */
  private def retireExcept(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, keep: Set[String]): Unit =
    fs.listStatus(root).foreach { st =>
      if (!keep.contains(st.getPath.getName)) fs.delete(st.getPath, true)
    }

  /** Commit `stagedName` (a data dir already fully written inside the
    * table root) as the live version: atomic pointer swap naming the new
    * version plus up to [[HistoryKeep]]−1 predecessors, then retire every
    * root entry except the retained versions, the pointer, and the writer
    * lease — which also absorbs a legacy (pre-pointer) layout's
    * root-level files on first publish, and rolls the version that just
    * fell out of the history window into retirement. Runs under the
    * caller's table lock (every public mutator holds it). */
  private def publish(spark: SparkSession, snap: Snapshot,
      stagedName: String): Unit = {
    val kept = (stagedName +: snap.lines).take(HistoryKeep)
    writePointer(spark, snap.root, kept)
    retireExcept(snap.fs, snap.root,
      Set(PointerFile, LockFile, ReclaimMutexFile) ++ kept)
  }

  /** Version retention / VACUUM for a published table root — the
    * maintenance operator a long-running ingest loop schedules so disk
    * growth stays bounded by the retention contract, not by uptime:
    * collects crashed-stage `data-*` litter and pointer-tmp files, and —
    * with `retainPredecessor = false` — also every predecessor version
    * (shrinking retention to the live version only, for when the
    * history grace window has provably drained). The live version
    * and the pointer always survive. Dropping predecessors first
    * rewrites the pointer to a single line via the SAME atomic rename as
    * a publish, so a crash between pointer rewrite and deletion leaves
    * unreferenced dirs the next vacuum collects — never a pointer
    * naming a deleted dir, and time travel reports None instead of
    * dangling. On a pointerless root this is exactly the uncommitted-
    * stage sweep. Holds the writer lease, like every mutator here. */
  def vacuum(spark: SparkSession, path: String,
      retainPredecessor: Boolean = true): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return
    withTableLock(spark, path) {
      val snap = new Snapshot(spark, path)
      val lines = snap.lines
      if (lines.isEmpty) sweepUncommittedStages(snap)
      else {
        val kept = if (retainPredecessor) lines else Seq(lines.head)
        if (kept != lines) writePointer(spark, root, kept)
        retireExcept(fs, root, Set(PointerFile, LockFile, ReclaimMutexFile) ++ kept)
      }
    }
  }
}
