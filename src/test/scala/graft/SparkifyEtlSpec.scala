package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{SparkifyEtl, SparkifyQueries, SparkifySchemas}

/** End-to-end golden tests of the Sparkify pipeline over the checked-in
  * JSON fixture (src/test/resources/sparkify — FIXTURES.md §B). The fixture
  * is designed so the reference's four analytic queries (README.md:111–276)
  * have exact hand-computed answers, including its edge cases: empty/null
  * keys, duplicate song records, the multi-artist same-title note
  * (README.md:109), a mid-log level change, unmatched plays → null FKs,
  * a month-boundary (row_number restart), and sub-second timestamps
  * (second-truncation semantics).
  */
class SparkifyEtlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val fixture: String =
    getClass.getResource("/sparkify").getPath
  lazy val outDir: String = {
    val d = Files.createTempDirectory("sparkify_out").toString
    SparkifyEtl.runAll(spark, fixture, d)
    d
  }
  private def table(name: String): DataFrame = spark.read.parquet(s"$outDir/$name")

  /** Runs `body`, returning its result with the ids of the Spark jobs and
    * the query executions it started. Listener events arrive
    * asynchronously but in order on one queue, so once a sentinel job
    * submitted after `body` is seen, every event of `body` has been
    * delivered.
    */
  private def observed[T](body: => T): (T, Seq[Int], Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    val key = "sparkify.spec.probe"
    val tag = s"probe-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[Int]()
    val qes = new ConcurrentLinkedQueue[QueryExecution]()
    val sentinelSeen = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case `tag` => jobs.add(e.jobId)
          case p if p == s"$tag-sentinel" => sentinelSeen.countDown()
          case _ =>
        }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      sc.setLocalProperty(key, tag)
      val result = try body finally sc.setLocalProperty(key, s"$tag-sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "listener bus never delivered the sentinel job")
      (result, jobs.asScala.toSeq, qes.asScala.toSeq)
    } finally {
      sc.setLocalProperty(key, null)
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** A temp lake holding `n` song files under song_data/X/Y/Z/. */
  private def songLake(n: Int): JPath = {
    val root = Files.createTempDirectory("sparkify_lake")
    val dir = Files.createDirectories(root.resolve("song_data/X/Y/Z"))
    (0 until n).foreach { i =>
      Files.writeString(dir.resolve(f"TRXYZ$i%04d.json"),
        s"""{"num_songs": 1, "artist_id": "AR$i", "artist_latitude": null, """ +
          s""""artist_longitude": null, "artist_location": "", "artist_name": "Artist $i", """ +
          s""""song_id": "SO$i", "title": "Title $i", "duration": ${100.5 + i}, "year": ${1990 + i % 3}}""")
    }
    root
  }

  private def referenceGlobRead(lake: JPath): DataFrame =
    spark.read.schema(SparkifySchemas.songSchema).json(s"$lake/song_data/*/*/*/*.json")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("songs: empty-string and null song_id dropped, duplicates collapsed, hive layout") {
    val songs = table("songs")
    val ids = songs.select("song_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("SOHEY1", "SOHEY2", "SOLUN1", "SOYOU1"))
    assert(new java.io.File(s"$outDir/songs/year=1990/artist_id=ARDY1").isDirectory)
  }

  test("artists: kept even when song_id was empty/null; deduplicated") {
    val ids = table("artists").select("artist_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("ARDY1", "ARLUN1", "ARNUL1", "ARUSH1", "ARUSH2", "ARXX1"))
  }

  test("users: empty userId dropped; level change yields two rows for one user") {
    val users = table("users")
    assert(users.count() == 4)
    val tegan = users.where(users("user_id") === "80").collect()
    assert(tegan.map(_.getAs[String]("level")).sorted.toSeq == Seq("free", "paid"))
    assert(users.where(users("user_id") === "").count() == 0)
  }

  test("time: one row per songplay event (not deduped — reference quirk); second truncation") {
    import spark.implicits._
    val time = table("time")
    assert(time.count() == 11) // 11 NextSong events incl. the empty-user one
    // Kate's two plays 900ms apart truncate to the same second
    val kateSecond = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1542268800L))
    assert(time.where($"start_time" === kateSecond).count() == 2)
    // weekday is the intended 'E' capability, not the reference's 'F' bug
    val wd = time.select("weekday").distinct().collect().map(_.getString(0)).toSet
    assert(wd.subsetOf(Set("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")))
  }

  test("songplays: unmatched plays keep null FKs; ids restart per (year,month) and are dense") {
    import spark.implicits._
    val sp = table("songplays")
    assert(sp.count() == 11)
    assert(sp.where($"song_id".isNull).count() == 2) // Garage Demo + Winter Tune
    val perMonth = sp.groupBy($"year", $"month")
      .agg(org.apache.spark.sql.functions.countDistinct($"songplay_id").as("d"),
        org.apache.spark.sql.functions.max($"songplay_id").as("mx"),
        org.apache.spark.sql.functions.count($"songplay_id").as("n"))
      .collect()
    assert(perMonth.length == 2) // Nov + Dec 2018
    perMonth.foreach { r =>
      assert(r.getAs[Long]("d") == r.getAs[Long]("n"))
      assert(r.getAs[Int]("mx").toLong == r.getAs[Long]("n"))
    }
  }

  test("F3: the string-route to_timestamp path equals the direct timestamp_seconds path") {
    import spark.implicits._
    val events = SparkifyEtl.songplayEvents(SparkifyEtl.readLogData(spark, fixture))
    val direct = SparkifyEtl.withEventTime(events).select($"ts", $"start_time")
    val viaString = SparkifyEtl.withEventTimeViaString(events).select($"ts", $"start_time")
    assert(direct.exceptAll(viaString).count() == 0)
    assert(viaString.exceptAll(direct).count() == 0)
  }

  test("case-insensitive column resolution (P6): col(\"useragent\") resolves userAgent like etl.py:187") {
    import org.apache.spark.sql.functions.col
    val events = SparkifyEtl.songplayEvents(SparkifyEtl.readLogData(spark, fixture))
    // the reference writes the wrong case and relies on spark.sql.caseSensitive=false
    val resolved = events.select(col("useragent"), col("USERID")).collect()
    assert(resolved.nonEmpty)
    assert(resolved.forall(r => Option(r.getString(0)).forall(_.contains("Mozilla"))))
  }

  test("golden: top songs (README.md:111–147 shape)") {
    val rows = SparkifyQueries.topSongs(table("songplays"), table("songs"), table("artists"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      ("You're The One", "Dwight Yoakam", 7L),
      ("Hey Daddy (Daddy's Home)", "Usher", 2L)))
  }

  test("golden: top users (README.md:153–188 shape; level change merges to one row)") {
    val rows = SparkifyQueries.topUsers(table("songplays"), table("users"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      ("49", "Chloe Cuevas", 6L),
      ("97", "Kate Harrell", 2L),
      ("80", "Tegan Levine", 2L)))
  }

  test("golden: top user id is 49 (README.md:194–227)") {
    val rows = SparkifyQueries.topUserId(table("songplays"), table("users")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("49"))
  }

  test("golden: top sessions for user 49 (README.md:233–276 shape, unpadded dates)") {
    val rows = SparkifyQueries
      .topSessionsForUser(table("songplays"), table("users"), table("songs"), "49")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1041L, "2018-11-29", "Chloe Cuevas", 3L),
      (1079L, "2018-11-30", "Chloe Cuevas", 1L),
      (2001L, "2018-12-1", "Chloe Cuevas", 1L)))
  }

  test("S1/S2 inferred-schema parity: spark.read.json inference ≡ the explicit-schema read") {
    // The reference infers schemas on every read (etl.py:64/124); the
    // engine pins them (SparkifySchemas) to save the inference pass and
    // enable field pruning. That is the ONE reference behavior implemented
    // differently by design — this spec proves the divergence is
    // observation-free on the reference's own data shape: inference
    // chooses exactly the pinned types, and the rows are identical.
    import org.apache.spark.sql.functions.col
    def parity(glob: String, schema: org.apache.spark.sql.types.StructType): Unit = {
      val explicit = spark.read.schema(schema).json(glob)
      val inferred = spark.read.json(glob)
      // normalized schema equality: same field set, and same type per
      // field (inference orders fields alphabetically — order is the only
      // permitted difference, normalized by the select below)
      assert(
        inferred.schema.fields.map(f => f.name -> f.dataType).toMap ==
          explicit.schema.fields.map(f => f.name -> f.dataType).toMap,
        s"inference chose different types for $glob")
      val aligned = inferred.select(schema.fieldNames.map(col): _*)
      assert(aligned.exceptAll(explicit).isEmpty && explicit.exceptAll(aligned).isEmpty,
        s"inferred and explicit reads disagree on rows for $glob")
    }
    parity(s"$fixture/song_data/*/*/*/*.json", graft.etl.SparkifySchemas.songSchema)
    parity(s"$fixture/log-data/*.json", graft.etl.SparkifySchemas.logSchema)
  }

  test("listing guard: the song lake is listed on the driver, past the 32-path threshold") {
    val lake = songLake(40)
    // control: the reference glob hands Spark 40 root paths and lists them in a job
    val (_, globJobs, _) = observed(referenceGlobRead(lake))
    assert(globJobs.nonEmpty, "the reference glob read should start a listing job")
    val (songs, jobs, _) = observed(SparkifyEtl.readSongData(spark, lake.toString))
    assert(jobs.isEmpty, s"readSongData started jobs ${jobs.mkString(",")} while creating the DataFrame")
    assert(songs.count() == 40)
    assert(sameRows(songs, referenceGlobRead(lake)))
  }

  test("depth contract: non-.json files are skipped; a .json file off the glob's depth fails loudly") {
    val lake = songLake(3)
    Files.writeString(lake.resolve("song_data/X/Y/Z/notes.txt"), "not a song")
    assert(sameRows(SparkifyEtl.readSongData(spark, lake.toString), referenceGlobRead(lake)))
    for (stray <- Seq("song_data/X/Y/stray.json", "song_data/X/Y/Z/W/deep.json")) {
      val f = lake.resolve(stray)
      Files.createDirectories(f.getParent)
      Files.writeString(f, """{"song_id": "SOSTRAY", "title": "Stray", "artist_id": "ARX", "year": 2000}""")
      val e = intercept[IllegalArgumentException](SparkifyEtl.readSongData(spark, lake.toString))
      assert(e.getMessage.contains(f.getFileName.toString), e.getMessage)
      Files.delete(f)
    }
  }

  test("cache: processLogData's re-read of the song lake is served from processSongData's cache") {
    val lake = songLake(3)
    SparkifyEtl.processSongData(spark, lake.toString, Files.createTempDirectory("sparkify_cache").toString)
    val reread = SparkifyEtl.readSongData(spark, lake.toString)
    try assert(reread.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]))
    finally reread.unpersist()
  }

  test("songs sink: one parquet file per (year, artist_id) directory; one explicit-count shuffle") {
    val songsDir = new java.io.File(s"$outDir/songs")
    val partitionDirs = songsDir.listFiles().filter(_.getName.startsWith("year="))
      .flatMap(_.listFiles().filter(_.getName.startsWith("artist_id=")))
    assert(partitionDirs.nonEmpty)
    partitionDirs.foreach { d =>
      val parquet = d.list().filter(_.endsWith(".parquet"))
      assert(parquet.length == 1, s"$d holds ${parquet.mkString(",")}")
    }

    val songData = SparkifyEtl.readSongData(spark, fixture)
    val expected = SparkifyEtl.songsPartitions(songData)
    assert(expected == spark.sparkContext.defaultParallelism)
    val out = Files.createTempDirectory("sparkify_songs").toString
    val (_, _, qes) = observed(SparkifyEtl.writeSongs(SparkifyEtl.songsTable(songData), out))
    val writes = qes.map(_.executedPlan).filter(p => PlanWalk.allNodes(p).exists(_.isInstanceOf[DataWritingCommandExec]))
    assert(writes.size == 1)
    val shuffles = PlanWalk.allNodes(writes.head).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"songs write plan:\n${writes.head}")
    assert(shuffles.head.shuffleOrigin == REPARTITION_BY_NUM)
    assert(shuffles.head.numPartitions == expected)
  }
}
