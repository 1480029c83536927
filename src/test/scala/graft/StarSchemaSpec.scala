package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.pipeline.StarSchema

/** End-to-end pipeline test (SURVEY §5 item 4): the reference's full
  * 11-step workflow over FIXTURES.md §A fixture JSON — asserts all five
  * tables' schemas, partition layouts, the paid-over-free users build,
  * null-preserving songplays, the J3 artist disambiguation, and the C4
  * calendar-year semantics on a Dec-30 timestamp.
  */
class StarSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private def write(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, content)
  }

  /** Fixture checklist (FIXTURES.md §A): two songs by one artist (artists
    * dedup), a title collision across artists (J3 disambiguation), null
    * lat/long, a non-NextSong row, a user at both levels, matched and
    * unmatched plays, two events at the same ts, a Dec-30 ts (week-year
    * trap), and a sub-second-millisecond ts. */
  private lazy val outDir: String = {
    val root = Files.createTempDirectory("graft_star")
    val song = (id: String, title: String, aid: String, yr: Long, dur: Double,
        aname: String, aloc: String, lat: Option[Double], lon: Option[Double]) =>
      s"""{"song_id":"$id","title":"$title","artist_id":"$aid","year":$yr,"duration":$dur,"artist_name":"$aname","artist_location":"$aloc"""" +
        lat.map(v => s""","artist_latitude":$v""").getOrElse("") +
        lon.map(v => s""","artist_longitude":$v""").getOrElse("") + "}"
    write(root.resolve("song_data/A/A/A/TRA1.json"),
      song("SOA001", "Song Alpha", "AR001", 2019, 180.5, "Artist One", "NYC", Some(40.7), Some(-74.0)))
    write(root.resolve("song_data/A/A/B/TRA2.json"),
      song("SOA002", "Song Beta", "AR001", 0, 200.0, "Artist One", "NYC", Some(40.7), Some(-74.0)))
    write(root.resolve("song_data/A/B/A/TRB1.json"),
      song("SOB001", "Song Alpha", "AR002", 2020, 150.25, "Artist Two", "", None, None))

    val log = (page: String, ts: Long, uid: String, first: String, last: String,
        gender: String, level: String, sng: String, art: String, sess: Long) =>
      s"""{"page":"$page","ts":$ts,"userId":"$uid","firstName":"$first","lastName":"$last","gender":"$gender","level":"$level","song":"$sng","artist":"$art","sessionId":$sess,"location":"Loc","userAgent":"UA"}"""
    write(root.resolve("log_data/2019/12/events1.json"), Seq(
      // matched play, sub-second ms (2019-12-01 00:00:00.123 UTC)
      log("NextSong", 1575158400123L, "10", "Sara", "Johnson", "F", "free",
        "Song Alpha", "Artist One", 100),
      // non-NextSong row -> dropped by F1
      log("Home", 1575158401000L, "10", "Sara", "Johnson", "F", "free", "", "", 100),
      // unmatched play; Dec-30 week-year trap; user 10 now paid (dual level)
      log("NextSong", 1577664000000L, "10", "Sara", "Johnson", "F", "paid",
        "Unknown Tune", "Nobody", 101),
      // same ts as previous (time-table distinct); title-collision match -> AR002
      log("NextSong", 1577664000000L, "20", "Ben", "Lee", "M", "paid",
        "Song Alpha", "Artist Two", 200),
      // free-only user, matched play
      log("NextSong", 1575244800500L, "30", "Amy", "Cole", "F", "free",
        "Song Beta", "Artist One", 300)
    ).mkString("\n"))

    val out = root.resolve("warehouse").toString
    StarSchema.run(spark,
      s"$root/song_data/*/*/*/*.json", s"$root/log_data/*/*/*.json", out)
    out
  }

  private def table(name: String) = spark.read.parquet(s"$outDir/$name")

  test("all five tables exist with the reference schemas") {
    assert(table("songs").columns.toSet ===
      Set("song_id", "title", "artist_id", "year", "duration"))
    assert(table("artists").columns.toSet ===
      Set("artist_id", "name", "location", "latitude", "longitude"))
    assert(table("users").columns.toSet ===
      Set("user_id", "first_name", "last_name", "gender", "level"))
    assert(table("time").columns.toSet ===
      Set("start_time", "hour", "day", "week", "month", "year", "weekday"))
    assert(table("songplays").columns.toSet ===
      Set("songplay_id", "start_time", "user_id", "level", "song_id",
        "artist_id", "session_id", "location", "user_agent", "year", "month"))
  }

  test("the log stage's pinned songs/artists schemas match what parquet infers") {
    // processLogData re-reads the song stage's output with Schemas.songs /
    // Schemas.artists instead of inferring; the columns it selects must
    // type exactly as inference would type the real output.
    val pinned = Map("songs" -> graft.engine.Schemas.songs,
      "artists" -> graft.engine.Schemas.artists)
    for ((name, cols) <- StarSchema.lookupColumns) {
      val inferred = table(name).select(cols.map(col): _*).schema
      val read = spark.read.schema(pinned(name)).parquet(s"$outDir/$name")
        .select(cols.map(col): _*).schema
      assert(read === inferred, name)
    }
  }

  test("partition layouts match the reference (etl.py:51,137,173)") {
    def dirs(p: String) = new java.io.File(p).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs(s"$outDir/songs") === Set("year=0", "year=2019", "year=2020"))
    assert(dirs(s"$outDir/songs/year=2019") === Set("artist_id=AR001"))
    assert(dirs(s"$outDir/time") === Set("year=2019"))
    assert(dirs(s"$outDir/time/year=2019") === Set("month=12"))
    assert(dirs(s"$outDir/songplays") === Set("year=2019"))
  }

  test("artists are deduplicated across songs") {
    val a = table("artists").as[(String, String, String, Option[Double], Option[Double])]
      .collect().toSet
    assert(a === Set(
      ("AR001", "Artist One", "NYC", Some(40.7), Some(-74.0)),
      ("AR002", "Artist Two", "", None, None)))
  }

  test("users prefer paid over free; single-level users survive") {
    val u = table("users").select("user_id", "level").as[(String, String)]
      .collect().toSet
    assert(u === Set(("10", "paid"), ("20", "paid"), ("30", "free")))
  }

  test("time has one row per distinct ts, calendar year, sub-second precision") {
    val t = table("time")
      .select("start_time", "year", "month", "week", "weekday")
      .as[(java.sql.Timestamp, Int, Int, Int, String)].collect()
    assert(t.length === 3) // the two ts=1577664000000 events collapse to one
    val dec30 = t.find(_._1.getTime == 1577664000000L).get
    assert((dec30._2, dec30._3, dec30._4, dec30._5) === ((2019, 12, 1, "Monday")))
    assert(t.exists(_._1.getTime == 1575158400123L)) // .123 ms preserved
  }

  test("songplays preserve unmatched plays with null ids and disambiguate artists") {
    val sp = table("songplays")
      .select("session_id", "song_id", "artist_id")
      .as[(Long, Option[String], Option[String])].collect().toSet
    assert(sp === Set(
      (100L, Some("SOA001"), Some("AR001")), // matched
      (101L, None, None),                    // unmatched survives (J4 left)
      (200L, Some("SOB001"), Some("AR002")), // title collision -> right artist
      (300L, Some("SOA002"), Some("AR001"))))
    assert(table("songplays").select("songplay_id").distinct().count() === 4L)
  }

  test("JSON schema inference drifts userId/sessionId types; fixed schema does not") {
    // The reference infers log schemas (etl.py:43,87), so its userId type
    // depends on the DATA: unquoted numerics infer LONG, quoted ones
    // STRING — day-one drift for anyone porting reference code across log
    // batches. The engine's fixed Schemas.logData pins STRING and coerces
    // either spelling (SURVEY §1.2/§7.4 — the promised documenting test).
    val root = Files.createTempDirectory("graft_infer")
    val f = root.resolve("log.json")
    Files.writeString(f,
      // userId UNQUOTED (numeric) — the spelling that flips inference
      """{"page":"NextSong","ts":1575158400123,"userId":10,"firstName":"Sara","lastName":"Johnson","gender":"F","level":"free","song":"s","artist":"a","sessionId":100,"location":"L","userAgent":"U"}""")

    val inferred = spark.read.json(f.toString)
    val byName = inferred.schema.fields.map(x => x.name -> x.dataType).toMap
    assert(byName("userId") === org.apache.spark.sql.types.LongType,
      "inference on numeric userId yields LONG — the drift the reference ships with")
    assert(byName("sessionId") === org.apache.spark.sql.types.LongType)

    val fixed = graft.engine.Tables.readJson(spark,
      graft.engine.Schemas.logData, f.toString)
    val fixedTypes = fixed.schema.fields.map(x => x.name -> x.dataType).toMap
    assert(fixedTypes("userId") === org.apache.spark.sql.types.StringType,
      "fixed schema pins userId STRING regardless of data spelling")
    // and the numeric spelling still READS under the fixed schema
    assert(fixed.select("userId").as[String].head() === "10")
  }

  test("schemaDrift: clean on the harness fixture, NAMES a re-typed column") {
    // the current fixture is by definition a known era: no drift beyond
    // informational NTZ-absorption lines (r10's q_table_skip lesson —
    // the NTZ↔LTZ flip is named out loud even though Tables.apply
    // absorbs it, because the absorption is load-bearing)
    val base = graft.engine.Tables.schemaDrift(spark, sfDir)
    assert(base.forall(_.contains("absorbed by Tables.apply")), base.toString)

    // doctored events fixture: ts re-typed to STRING, props dropped,
    // a column added — the probe must name each, per table.column,
    // instead of the ~50 cryptic per-query analysis errors r8 opened
    // with when the harness flipped events.ts timestamp eras
    val root = Files.createTempDirectory("graft_drift")
    spark.range(3)
      .selectExpr("id AS event_id", "CAST(id AS STRING) AS ts",
        "id AS user_id", "'click' AS event_type",
        "CAST(id AS DOUBLE) AS value", "id AS surprise")
      .write.mode("overwrite").parquet(root.resolve("events.parquet").toString)
    val drift = graft.engine.Tables.schemaDrift(spark, root.toString)
    assert(drift.exists(l => l.startsWith("events.ts:") &&
      l.contains("string") && l.contains("event-ts")), drift.toString)
    assert(drift.exists(_.startsWith("events.props: column MISSING")), drift.toString)
    assert(drift.exists(_.startsWith("events.surprise: unexpected new column")), drift.toString)
    // absent tables are skipped, so only the doctored table reports
    assert(drift.forall(_.startsWith("events.")), drift.toString)
  }

  test("ntzOutputs: every instant timestamp (incl. nested) retypes to NTZ, values bit-identical") {
    import org.apache.spark.sql.types._
    val df = spark.sql(
      """SELECT id,
        |  timestamp_micros(1000000 * id) AS ts,
        |  named_struct('start', timestamp_micros(id), 'n', id) AS w,
        |  array(timestamp_micros(id)) AS arr,
        |  'x' AS s
        |FROM range(5)""".stripMargin)
    val out = graft.engine.Tables.ntzOutputs(df)
    def types(dt: DataType): Seq[DataType] = dt match {
      case st: StructType => st.fields.toSeq.flatMap(f => types(f.dataType))
      case a: ArrayType => types(a.elementType)
      case other => Seq(other)
    }
    val leaves = out.schema.fields.flatMap(f => types(f.dataType))
    assert(!leaves.contains(TimestampType), out.schema.treeString)
    assert(leaves.count(_ == TimestampNTZType) === 3)
    // pure UTC retype: identical epoch micros on every path
    val got = out.selectExpr("unix_micros(CAST(ts AS TIMESTAMP))",
      "unix_micros(CAST(w.start AS TIMESTAMP))",
      "unix_micros(CAST(arr[0] AS TIMESTAMP))")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === (0L until 5L).map(i => (1000000L * i, i, i)))
    // no-op on a timestamp-free frame: the SAME plan comes back
    val plain = spark.range(3).selectExpr("id", "CAST(id AS STRING) s")
    assert(graft.engine.Tables.ntzOutputs(plain) eq plain)
  }

  test("judgedTypeLint: names tz-aware timestamps and decimals (incl. nested), silent otherwise") {
    import org.apache.spark.sql.types._
    val dirty = StructType(Seq(
      StructField("ok_ntz", TimestampNTZType),
      StructField("bad_ts", TimestampType),
      StructField("bad_dec", DecimalType(38, 2)),
      StructField("nest", StructType(Seq(StructField("inner", TimestampType)))),
      StructField("arr", ArrayType(DecimalType(18, 0)))))
    val lint = graft.engine.Tables.judgedTypeLint("q_x", dirty)
    assert(lint.exists(_.startsWith("q_x.bad_ts: tz-aware TIMESTAMP")), lint.toString)
    assert(lint.exists(_.startsWith("q_x.bad_dec: DECIMAL(38,2)")), lint.toString)
    assert(lint.exists(_.startsWith("q_x.nest.inner: tz-aware TIMESTAMP")), lint.toString)
    assert(lint.exists(_.startsWith("q_x.arr[]: DECIMAL(18,0)")), lint.toString)
    assert(lint.size === 4, lint.toString)
    val clean = StructType(Seq(StructField("a", LongType),
      StructField("t", TimestampNTZType), StructField("d", DateType)))
    assert(graft.engine.Tables.judgedTypeLint("q_y", clean).isEmpty)
  }

  test("judged query outputs carry NO instant timestamps (the r11 28-red tz class)") {
    // representative end-to-end pin through the real queries wrapper:
    // C1 epoch→timestamp roundtrip is THE timestamp-output query
    val out = SparkEntry.queries("q_epoch_roundtrip")(spark, sfDir)
    assert(graft.engine.Tables.judgedTypeLint("q_epoch_roundtrip", out.schema).isEmpty,
      out.schema.treeString)
    assert(out.schema.fields.exists(_.dataType ==
      org.apache.spark.sql.types.TimestampNTZType))
  }

  test("withStatsTimestampType: MICROS inside, caller setting restored, override honored") {
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    graft.engine.Tables.withStatsTimestampType(spark) {
      assert(spark.conf.get(key) === "TIMESTAMP_MICROS")
    }
    assert(spark.conf.get(key) === before)
    try {
      spark.conf.set("graft.parquet.outputTimestampType", "INT96")
      graft.engine.Tables.withStatsTimestampType(spark) {
        assert(spark.conf.get(key) === "INT96")
      }
      assert(spark.conf.get(key) === before)
    } finally spark.conf.unset("graft.parquet.outputTimestampType")
  }

  test("withStatsTimestampType: concurrent wrapped writes never leak an era " +
      "(r12 fence — serialized set/body/restore)") {
    // Two threads hammer the wrapper on ONE session; each asserts the
    // pin it observes INSIDE its own window and that its parquet output
    // really carries MICROS stats-era metadata. Unsynchronized
    // set→body→restore interleavings would restore out of order and let
    // one thread's window observe INT96 (the r11 failure class at the
    // sink side).
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    import org.apache.spark.sql.functions._
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        try {
          (0 until 8).foreach { r =>
            graft.engine.Tables.withStatsTimestampType(spark) {
              if (spark.conf.get(key) != "TIMESTAMP_MICROS")
                errs.add(s"thread $i round $r saw ${spark.conf.get(key)}")
              val p = s"${sys.props("java.io.tmpdir")}/graft_rt/conc_era_$i"
              spark.range(2).coalesce(1)
                .select(to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
                .write.mode("overwrite").parquet(p)
              // MICROS era ⇒ footer min/max stats exist for the ts column
              val fs = new org.apache.hadoop.fs.Path(p)
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
              val part = fs.listStatus(new org.apache.hadoop.fs.Path(p))
                .map(_.getPath).find(_.getName.endsWith(".parquet")).get
              val in = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                  part, spark.sparkContext.hadoopConfiguration))
              try {
                val c = in.getFooter.getBlocks.get(0).getColumns.get(0)
                if (c.getPrimitiveType.getPrimitiveTypeName.toString == "INT96")
                  errs.add(s"thread $i round $r wrote INT96")
                if (!c.getStatistics.hasNonNullValue)
                  errs.add(s"thread $i round $r wrote statless ts")
              } finally in.close()
            }
          }
        } catch { case e: Throwable => errs.add(e.toString) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(spark.conf.get(key) === before)
  }
}
