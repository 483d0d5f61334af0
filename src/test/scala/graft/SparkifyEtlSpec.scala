package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.etl.SparkifyEtl

/** End-to-end run of the reference workload on generated JSON fixtures:
  * song + log events in, five partitioned parquet tables out, with the
  * join/dedup/time-derivation semantics asserted row-level. */
class SparkifyEtlSpec extends SparkTestBase {

  private def writeFixtures(dir: String): Unit = {
    Files.writeString(Paths.get(s"$dir/songs.json"),
      """{"num_songs":1,"artist_id":"A1","artist_name":"Neko","artist_location":"Oslo","song_id":"S1","title":"Aurora","duration":210.5,"year":2019}
        |{"num_songs":1,"artist_id":"A2","artist_name":"Piros","artist_location":"Pecs","song_id":"S2","title":"Delta","duration":180.0,"year":2021}
        |{"num_songs":1,"artist_id":"A1","artist_name":"Neko","artist_location":"Oslo","song_id":"S1","title":"Aurora","duration":210.5,"year":2019}
        |""".stripMargin)
    // ts values: 2021-06-01 (1622505600000) onwards; user 7 upgrades level
    Files.writeString(Paths.get(s"$dir/logs.json"),
      """{"artist":"Neko","page":"NextSong","song":"Aurora","length":210.5,"userId":"7","firstName":"Ada","lastName":"L","gender":"F","level":"free","sessionId":1,"ts":1622505600000,"location":"X","userAgent":"ua","auth":"in","method":"PUT","status":200,"itemInSession":0,"registration":1.0}
        |{"artist":"Neko","page":"Home","song":null,"length":null,"userId":"7","firstName":"Ada","lastName":"L","gender":"F","level":"free","sessionId":1,"ts":1622505700000,"location":"X","userAgent":"ua","auth":"in","method":"GET","status":200,"itemInSession":1,"registration":1.0}
        |{"artist":"Unknown","page":"NextSong","song":"Nothere","length":1.0,"userId":"8","firstName":"Bo","lastName":"K","gender":"M","level":"paid","sessionId":2,"ts":1622592000000,"location":"Y","userAgent":"ua","auth":"in","method":"PUT","status":200,"itemInSession":0,"registration":1.0}
        |{"artist":"Piros","page":"NextSong","song":"Delta","length":180.0,"userId":"7","firstName":"Ada","lastName":"L","gender":"F","level":"paid","sessionId":3,"ts":1625097600000,"location":"X","userAgent":"ua","auth":"in","method":"PUT","status":200,"itemInSession":0,"registration":1.0}
        |""".stripMargin)
  }

  test("full reference ETL: JSON logs -> partitioned star schema") {
    val dir = Files.createTempDirectory("graft_etl").toString
    val out = s"$dir/out"
    writeFixtures(dir)
    SparkifyEtl.run(spark, s"$dir/songs.json", s"$dir/logs.json", out)

    val songs = spark.read.parquet(s"$out/songs")
    assert(songs.count() === 2, "dup song row must collapse")
    assert(songs.columns.toSet === Set("song_id", "title", "duration", "year", "artist_id"))

    val artists = spark.read.parquet(s"$out/artists")
    assert(artists.count() === 2)

    val users = spark.read.parquet(s"$out/users")
    // user 7 appears twice; latest-by-ts level ("paid") must win
    val u7 = users.filter(col("user_id") === 7).collect()
    assert(u7.length === 1 && u7.head.getAs[String]("level") === "paid")

    val time = spark.read.parquet(s"$out/time")
    assert(time.count() === 3) // 3 distinct NextSong timestamps
    val t0 = time.filter(col("hour") === 0).count()
    assert(t0 === 3) // all fixture events are at midnight UTC

    val sp = spark.read.parquet(s"$out/songplays")
    assert(sp.count() === 3, "one songplay per NextSong event")
    // matched joins carry song_id; the unmatched play keeps a null song_id
    assert(sp.filter(col("song_id").isNotNull).count() === 2)
    assert(sp.select("songplay_id").distinct().count() === 3)
    // partition layout: year=.../month=... directories exist
    assert(Files.exists(Paths.get(s"$out/songplays/year=2021/month=6")))
    assert(Files.exists(Paths.get(s"$out/songplays/year=2021/month=7")))
  }

  test("streaming ETL twin: per-batch songplay append + replay-safe users merge") {
    val spk = spark
    import spk.implicits._
    val dir = Files.createTempDirectory("graft_etl_stream").toString
    val logDir = s"$dir/logs"; Files.createDirectories(Paths.get(logDir))
    val out = s"$dir/out"
    writeFixtures(dir) // songs.json + the 4-event logs.json (unused here)
    // two log files -> two micro-batches (maxFilesPerTrigger=1): user 7
    // plays on free in batch 0, upgrades to paid in batch 1
    Files.writeString(Paths.get(s"$logDir/log0.json"),
      """{"artist":"Neko","page":"NextSong","song":"Aurora","length":210.5,"userId":"7","firstName":"Ada","lastName":"L","gender":"F","level":"free","sessionId":1,"ts":1622505600000,"location":"X","userAgent":"ua","auth":"in","method":"PUT","status":200,"itemInSession":0,"registration":1.0}
        |{"artist":"Unknown","page":"NextSong","song":"Nothere","length":1.0,"userId":"8","firstName":"Bo","lastName":"K","gender":"M","level":"paid","sessionId":2,"ts":1622592000000,"location":"Y","userAgent":"ua","auth":"in","method":"PUT","status":200,"itemInSession":0,"registration":1.0}
        |""".stripMargin)
    Files.writeString(Paths.get(s"$logDir/log1.json"),
      """{"artist":"Piros","page":"NextSong","song":"Delta","length":180.0,"userId":"7","firstName":"Ada","lastName":"L","gender":"F","level":"paid","sessionId":3,"ts":1625097600000,"location":"X","userAgent":"ua","auth":"in","method":"PUT","status":200,"itemInSession":0,"registration":1.0}
        |""".stripMargin)
    SparkifyEtl.runStream(spark, s"$dir/songs.json", logDir, out)
      .awaitTermination()
    // songplays: one per NextSong event, appended across the batch dirs
    val sp = spark.read.parquet(s"$out/songplays_stream")
    assert(sp.count() === 3, "one songplay per NextSong event across batches")
    assert(sp.select("batch").distinct().count() === 2,
      "two micro-batches must have produced two batch partitions")
    assert(sp.filter(col("song_id").isNotNull).count() === 2)
    // users: cross-batch latest-wins — user 7's batch-1 upgrade sticks
    val users = graft.sources.Sinks.readTable(spark, s"$out/users_stream")
    assert(users.count() === 2)
    assert(users.filter(col("user_id") === 7).head().getAs[String]("level")
      === "paid")
    // replay safety: re-applying the STALE batch-0 users frame must not
    // regress user 7 to free (the stored seq wins)
    val stale = graft.etl.SparkifyEtl.buildUsersWithSeq(
      graft.sources.Sinks.readJson(spark, SparkifyEtl.logSchema,
        s"$logDir/log0.json"))
    graft.sources.Sinks.upsertBatch(stale, s"$out/users_stream",
      "user_id", "seq_ts")
    val replayed = graft.sources.Sinks.readTable(spark, s"$out/users_stream")
    assert(replayed.count() === 2 &&
      replayed.filter(col("user_id") === 7).head().getAs[String]("level")
        === "paid",
      "a stale replayed batch regressed the users dim")
  }

  test("a logged-out NextSong event keeps its play with a NULL user_id, batch and stream") {
    // Real Sparkify logs carry plays with an empty userId. Under ANSI the
    // BIGINT cast of "" used to fail the whole load; the play must land
    // with user_id NULL (the non-ANSI reference's result) and stay out of
    // the users dim.
    val dir = Files.createTempDirectory("graft_etl_anon").toString
    writeFixtures(dir)
    val anon =
      """{"artist":"Neko","page":"NextSong","song":"Aurora","length":210.5,"userId":"","firstName":null,"lastName":null,"gender":null,"level":"free","sessionId":9,"ts":1622505900000,"location":null,"userAgent":null,"auth":"Logged Out","method":"PUT","status":200,"itemInSession":0,"registration":null}
        |""".stripMargin
    Files.writeString(Paths.get(s"$dir/logs.json"),
      Files.readString(Paths.get(s"$dir/logs.json")) + anon)
    SparkifyEtl.run(spark, s"$dir/songs.json", s"$dir/logs.json", s"$dir/out")
    val sp = spark.read.parquet(s"$dir/out/songplays")
    assert(sp.count() === 4, "one songplay per NextSong event, logged-out included")
    assert(sp.filter(col("user_id").isNull).count() === 1)
    assert(spark.read.parquet(s"$dir/out/users").filter(col("user_id").isNull)
      .count() === 0, "a logged-out play must not become a user")

    val logDir = s"$dir/logs"; Files.createDirectories(Paths.get(logDir))
    Files.writeString(Paths.get(s"$logDir/log0.json"),
      """{"artist":"Piros","page":"NextSong","song":"Delta","length":180.0,"userId":"8","firstName":"Bo","lastName":"K","gender":"M","level":"paid","sessionId":2,"ts":1622592000000,"location":"Y","userAgent":"ua","auth":"Logged In","method":"PUT","status":200,"itemInSession":0,"registration":1.0}
        |""".stripMargin + anon)
    SparkifyEtl.runStream(spark, s"$dir/songs.json", logDir, s"$dir/sout")
      .awaitTermination()
    val ssp = spark.read.parquet(s"$dir/sout/songplays_stream")
    assert(ssp.count() === 2 && ssp.filter(col("user_id").isNull).count() === 1)
    assert(graft.sources.Sinks.readTable(spark, s"$dir/sout/users_stream")
      .select("user_id").collect().map(_.getLong(0)).toSeq === Seq(8L),
      "a logged-out play must not become a streamed user")
  }
}
