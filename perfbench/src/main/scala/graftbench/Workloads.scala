package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.SparkifyEtl
import graft.sources.{Scratch, Sinks}

/** What a workload gets: the session, the meter, its seed and where its
  * inputs live (`benchDir`: the fixture tables; `inDir`: other generated
  * inputs; `runDir`: scratch space of this run). */
final class Ctx(val spark: SparkSession, val meter: Meter, val seed: Long,
    val benchDir: String, val inDir: String, val runDir: String) {
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
  /** Workload-specific readings for the report. */
  val report = mutable.LinkedHashMap.empty[String, Any]
  /** Values (not per-pass sums) for the traced run's per-layer metrics. */
  val values = mutable.LinkedHashMap.empty[String, Double]
  def timeMs(body: => Unit): Double = {
    val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e6
  }
}

trait Workload {
  /** Whether the workload reads the fixture tables (and so warms them). */
  def readsFixtures: Boolean = true
  /** Timed passes per run. */
  def passes: Int = 2
  /** Untimed: the workload's own shapes, before the timed section. */
  def warm(c: Ctx): Unit
  /** One pass over the workload's op sequence. */
  def pass(c: Ctx, p: Int): Unit
  /** After the timed section: final checks and traced-run extras. */
  def finish(c: Ctx): Unit = ()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "llm_curation" => new QueryWorkload(Catalog.llm)
    case "sparkify_etl" => new EtlWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The graded queries the query workload runs, by SparkEntry module. */
object Catalog {
  /** Every custom expression (graft_simhash16, graft_minhash_sig,
    * graft_bitmap_and_count, graft_lsh_sigs, graft_dot) and both index
    * families (DedupIndex, VecIndex) are exercised at least once. */
  val llm: Seq[(String, Seq[String])] = Seq(
    "sketchdedup" -> Seq("q_dedup_simhash", "q_dedup_incremental",
      "q_dedup_index_probe"),
    "vectorops" -> Seq("q_vec_lsh_neardup", "q_vec_index_probe"))
}

/** Graded queries run one after another (closed loop, one client). Each
  * op is `Q.fn` (plan building plus any eager jobs it runs) followed by a
  * full `collect()`, so no column of the result can be pruned away.
  * Scratch caches are released at module boundaries, as a long-lived
  * session sharing module-private intermediates would. A query that
  * fails on any pass fails the correctness gate. */
final class QueryWorkload(groups: Seq[(String, Seq[String])]) extends Workload {
  private val byName = graft.SparkEntry.allQ.map(q => q.name -> q).toMap
  /** Each query's first result: a digest of its rows, and the rows and
    * schema kept for the oracle compare, written out after the timed
    * section. */
  private val first =
    mutable.LinkedHashMap.empty[String, (String, Array[Row], StructType)]

  /** The seed orders the modules and then the queries within each
    * (keeping modules contiguous). */
  private def order(seed: Long): Seq[(String, graft.Q)] = {
    val rnd = new Random(seed)
    val all = groups.map { case (m, qs) => m -> qs.map(byName) }
    rnd.shuffle(all).flatMap { case (m, qs) => rnd.shuffle(qs).map(m -> _) }
  }

  /** Every query once at the bench size: plans (join strategies, AQE
    * decisions) and their generated code depend on the data size, so a
    * smaller warm-up would leave the first timed pass compiling. */
  def warm(c: Ctx): Unit = order(c.seed).foreach { case (_, q) =>
    try q.fn(c.spark, c.benchDir).collect() catch { case NonFatal(_) => }
    Scratch.releaseAll()
  }

  def pass(c: Ctx, p: Int): Unit = {
    val m = c.meter
    val seq = order(c.seed)
    seq.zipWithIndex.foreach { case ((mod, q), i) =>
      val res = m.op("query", q.name, mod) {
        val df = m.layer(s"operators.$mod.build", s"operators.$mod.build_ms", null) {
          q.fn(c.spark, c.benchDir)
        }
        val rows = m.layer(s"operators.$mod.exec", s"operators.$mod.exec_ms", null) {
          df.collect()
        }
        (rows, df.schema)
      }
      c.check(s"${q.name} returns a result on pass $p", res.isDefined,
        m.ops.last.err)
      res.foreach { case (rows, schema) => record(c, p, q.name, rows, schema) }
      if (i + 1 == seq.size || seq(i + 1)._1 != mod) {
        if (m.traced) {
          m.add("scratch.cached_mb_sum", m.cachedMb()._2)
          m.add("scratch.boundaries", 1)
        }
        m.layer("scratch.release", "scratch.release_ms", null)(Scratch.releaseAll())
      }
    }
  }

  /** The first result of each query is kept for the oracle compare;
    * later passes must reproduce it exactly. */
  private def record(c: Ctx, p: Int, name: String, rows: Array[Row],
      schema: StructType): Unit = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => sha.update((r.toString + "\n").getBytes("UTF-8")))
    val digest = sha.digest().map(b => f"$b%02x").mkString
    first.get(name) match {
      case None => first(name) = (digest, rows, schema)
      case Some((d, _, _)) =>
        c.check(s"$name repeats its first result", d == digest,
          s"pass $p returned ${rows.length} rows that differ from the first pass")
    }
  }

  /** After the timed section: the first results go to parquet, and every
    * query of the catalog is handed to the oracle compare, so one that
    * never returned a result is a mismatch there too. */
  override def finish(c: Ctx): Unit = {
    first.foreach { case (name, (_, rows, schema)) =>
      val df = c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      graft.Verify.ntzNormalize(df).coalesce(1).write.mode("overwrite")
        .parquet(s"${c.runDir}/results/$name")
    }
    c.report("oracle_sql") = groups.flatMap(_._2)
      .map(n => n -> byName(n).oracle.getOrElse("")).toMap
    val m = c.meter
    if (m.tracing) {
      val b = m.counter("scratch.boundaries")
      if (b > 0) c.values("scratch.cached_mb") = m.counter("scratch.cached_mb_sum") / b
      ExprProbes.run(c)
    }
  }
}

/** Direct throughput probes of graft's five custom Catalyst expressions
  * over the bench documents and embeddings (replicated for volume). Each
  * probe aggregates the expression's output, so nothing prunes it. */
object ExprProbes {
  import graft.functions.{SketchExprs, VecExprs}

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val rep = spark.range(40).toDF("rep")
    val toks = spark.read.parquet(s"${c.benchDir}/documents.parquet")
      .crossJoin(rep)
      .select(expr("transform(split(text, ' '), t -> xxhash64(t))").as("h"))
      .persist()
    val embs = spark.read.parquet(s"${c.benchDir}/embeddings.parquet")
      .crossJoin(rep).select(col("embedding")).persist()
    val nt = toks.count().toDouble
    val ne = embs.count().toDouble
    def probe(name: String, rows: Double, df: DataFrame, out: Column): Unit = {
      val times = (1 to 3).map(_ => c.timeMs(df.select(max(xxhash64(out))).collect()))
      c.values(s"functions.$name.rows_per_s") = rows / (times.sorted.apply(1) / 1000.0)
    }
    probe("graft_minhash_sig", nt, toks, SketchExprs.minhashSig(spark, col("h")))
    probe("graft_simhash16", nt, toks, SketchExprs.simhash16(spark, col("h")))
    probe("graft_bitmap_and_count", nt, toks,
      SketchExprs.bitmapAndCount(spark, col("h"), col("h")))
    probe("graft_dot", ne, embs, VecExprs.dot(spark, col("embedding"), col("embedding")))
    probe("graft_lsh_sigs", ne, embs, VecExprs.lshSigs(spark, col("embedding"), 4))
    toks.unpersist(); embs.unpersist()
  }
}

/** The paper's workload: batch ETL of Sparkify song/log JSON into five
  * partitioned tables, the streaming twin over the log files (one
  * micro-batch per file), then star-schema reads over the output. */
final class EtlWorkload extends Workload {
  override def readsFixtures: Boolean = false
  override def passes: Int = 1
  private val obs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val written = mutable.ArrayBuffer.empty[Long]

  /** One untimed cycle over the same inputs (into its own output dir):
    * file and partition counts shape the plans, as data size does for
    * the queries. */
  def warm(c: Ctx): Unit = cycle(c, s"${c.inDir}/etl", s"${c.runDir}/etl_out/warm")

  def pass(c: Ctx, p: Int): Unit = {
    val out = s"${c.runDir}/etl_out/p$p"
    obs += cycle(c, s"${c.inDir}/etl", out)
    val sizes = Files.sizes(out)
    written += sizes.values.sum
    if (c.meter.traced) {
      c.meter.add("sinks.bytes_written", sizes.values.sum.toDouble)
      c.meter.add("sinks.files_written", sizes.size.toDouble)
    }
  }

  private def cycle(c: Ctx, in: String, out: String): Map[String, Any] = {
    val m = c.meter
    val spark = c.spark
    val songs = s"$in/song_data"
    val logs = s"$in/log_data"
    m.op("write", "SparkifyEtl.run") {
      m.layer("etl.run")(SparkifyEtl.run(spark, songs, logs, out))
    }
    val progress = m.op("stream", "SparkifyEtl.runStream") {
      m.layer("etl.runStream") {
        val q = SparkifyEtl.runStream(spark, songs, logs, out)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        q.recentProgress.filter(_.numInputRows > 0)
      }
    }.getOrElse(Array.empty)
    progress.foreach { pr =>
      val d = pr.durationMs.asScala.view.mapValues(_.doubleValue).toMap
      m.record("batch", s"micro-batch ${pr.batchId}", "", d.getOrElse("triggerExecution", 0.0))
      if (m.traced) {
        m.add("streaming.batches", 1)
        Seq("triggerExecution" -> "trigger_ms", "addBatch" -> "add_batch_ms",
          "walCommit" -> "wal_commit_ms", "queryPlanning" -> "query_planning_ms")
          .foreach { case (k, n) => m.add(s"streaming.$n", d.getOrElse(k, 0.0)) }
      }
    }
    def read[T](name: String, key: String)(body: => T): Option[T] =
      m.op("read", name)(m.layer(key)(body))
    val sp = read("songplays", "etl.star_read") {
      spark.read.parquet(s"$out/songplays")
        .agg(count(lit(1)), count(col("song_id"))).head()
    }
    val dims = read("dimensions", "etl.star_read") {
      (spark.read.parquet(s"$out/users").select(col("user_id"), col("level"))
        .orderBy("user_id").collect(),
       spark.read.parquet(s"$out/time").agg(countDistinct(col("start_time"))).head(),
       spark.read.parquet(s"$out/songs").count(),
       spark.read.parquet(s"$out/artists").count())
    }
    val star = read("star_join", "etl.star_read") {
      val f = spark.read.parquet(s"$out/songplays")
      val s = spark.read.parquet(s"$out/songs").select(col("song_id"), col("artist_id").as("s_artist"))
      val a = spark.read.parquet(s"$out/artists").select(col("artist_id").as("a_artist"))
      f.join(s, "song_id").join(a, col("s_artist") === col("a_artist")).count()
    }
    val stream = read("stream_tables", "sinks.readTable") {
      (Sinks.readTable(spark, s"$out/songplays_stream").count(),
       Sinks.readTable(spark, s"$out/users_stream").select(col("user_id"), col("level"))
         .orderBy("user_id").collect())
    }
    def pairs(rs: Option[Array[Row]]) =
      rs.map(_.toSeq.map(r => Seq(r.getLong(0), r.getString(1)))).orNull
    Map(
      "songplays" -> sp.map(_.getLong(0)).orNull,
      "matched_song_ids" -> sp.map(_.getLong(1)).orNull,
      "users" -> pairs(dims.map(_._1)),
      "start_times" -> dims.map(_._2.getLong(0)).orNull,
      "songs" -> dims.map(_._3).orNull,
      "artists" -> dims.map(_._4).orNull,
      "star_join" -> star.orNull,
      "stream_songplays" -> stream.map(_._1).orNull,
      "stream_users" -> pairs(stream.map(_._2)),
      "micro_batches" -> progress.length)
  }

  override def finish(c: Ctx): Unit = {
    c.report("observed") = obs.toSeq
    c.report("bytes_written") = written.toSeq
    if (c.meter.tracing) replay(c)
  }

  /** Traced run only: `SparkifyEtl.run`'s five steps replayed through the
    * public builders, each timed on its own. */
  private def replay(c: Ctx): Unit = {
    val spark = c.spark
    val in = s"${c.inDir}/etl"
    val out = s"${c.runDir}/etl_out/replay"
    val songData = Sinks.readJson(spark, SparkifyEtl.songSchema, s"$in/song_data")
    val logData = Sinks.readJson(spark, SparkifyEtl.logSchema, s"$in/log_data")
    c.values("etl.read_json_ms") = c.timeMs {
      songData.queryExecution.toRdd.count(); logData.queryExecution.toRdd.count()
    }
    c.values("etl.songs_ms") = c.timeMs(Sinks.writePartitioned(
      SparkifyEtl.buildSongs(songData), Seq("year", "artist_id"), s"$out/songs"))
    c.values("etl.artists_ms") = c.timeMs(
      Sinks.write(SparkifyEtl.buildArtists(songData), s"$out/artists"))
    c.values("etl.users_ms") = c.timeMs(
      Sinks.write(SparkifyEtl.buildUsers(logData), s"$out/users"))
    c.values("etl.time_ms") = c.timeMs(Sinks.writePartitioned(
      SparkifyEtl.buildTime(logData), Seq("year", "month"), s"$out/time"))
    c.values("etl.songplays_ms") = c.timeMs(Sinks.writePartitioned(
      SparkifyEtl.buildSongplays(logData, songData), Seq("year", "month"),
      s"$out/songplays"))
  }
}

/** Local file-system walks for byte accounting. */
object Files {
  /** path -> size of every regular file under `root`. */
  def sizes(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root.stripPrefix("file:"))
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally s.close()
    }
  }
}
