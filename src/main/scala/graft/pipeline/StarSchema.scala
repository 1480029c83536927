package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.engine.{Caches, Schemas, Tables}
import graft.operators.Relational._

/** The reference's entire product: the 11-step song/log ETL composing a
  * five-table star schema (fact `songplays` + dims `songs`, `artists`,
  * `users`, `time`) persisted as partitioned parquet
  * (/root/reference/etl.py:28-188, README.md:13-23, SURVEY.md §1.1/§3.1).
  *
  * Composed entirely from the named operators in
  * [[graft.operators.Relational]] — this file adds orchestration, not new
  * semantics. Deliberate, documented divergences from the reference:
  * explicit JSON schemas instead of inference (SURVEY §1.2), calendar
  * year/month instead of the week-based `'YYYY'` pattern (C4 trap, §7.4),
  * and an `xxhash64` surrogate songplay id instead of
  * `monotonically_increasing_id` (deterministic, testable — C5).
  *
  * The materialize-then-reread barrier is preserved as pipeline
  * semantics: `songplays` is built from the PARQUET songs/artists tables
  * written in step one (etl.py:141-146), not from in-memory plans —
  * restart-safe, and the parquet scan gives the fact join pruned columns
  * for free.
  */
object StarSchema {

  /** Steps 1-4 (etl.py:28-66): song catalog → `songs` (partitioned by
    * year, artist_id) and `artists` (deduped, unpartitioned). */
  def processSongData(spark: SparkSession, songJsonGlob: String, outDir: String): Unit = {
    // Both table builds consume the same JSON scan; persist so the glob is
    // listed and parsed once, not once per sink (there is no parquet
    // pushdown to lose). With one file per song, listing the files cost as
    // much as parsing them — the listing job was about half of this stage
    // while it ran one task per file; Tables.bootstrap caps it at one task
    // per core.
    // Registered via Caches (the repo cache contract) so an exception
    // between persist and the prompt unpersist below still gets released
    // at the next query boundary; the finally keeps the prompt path.
    val raw = Caches.persisted(
      Tables.readJson(spark, Schemas.songData, songJsonGlob))
    try {
      val songs = raw.select(Schemas.songs.fieldNames.toIndexedSeq.map(col): _*)
      writePartitioned(songs, s"$outDir/songs", Seq("year", "artist_id"))

      val artists = dedupAll(projectRename(raw, Schemas.artistRenames: _*))
      writePartitioned(artists, s"$outDir/artists", Seq.empty)
    } finally raw.unpersist()
  }

  /** Steps 5-11 (etl.py:69-174): activity logs → `users` (paid preferred
    * over free), `time` (distinct timestamp dims, partitioned by year,
    * month), and the `songplays` fact (left-joined to the materialized
    * songs/artists parquet, partitioned by year, month). */
  def processLogData(spark: SparkSession, logJsonGlob: String, outDir: String): Unit = {
    val raw = Tables.readJson(spark, Schemas.logData, logJsonGlob)
    // Three consumers (users, time, songplays) would each re-list and
    // re-parse the log JSON; persist the filtered plays once. At full scale
    // this spills to disk rather than re-running the parse — still the
    // right trade: parsed-and-filtered rows are far narrower than raw JSON.
    // Caches-registered + finally, same rationale as processSongData.
    val plays = Caches.persisted(filterEq(raw, "page", "NextSong")
      .withColumn("ts", epochMsToTs(col("ts"))))
    try {

    // users: distinct 5-column rows; where a user appears at both levels
    // keep only the paid row (J1+J2, etl.py:96-121).
    val users = preferValueAll(
      projectRename(plays, "userId" -> "user_id", "firstName" -> "first_name",
        "lastName" -> "last_name", "gender" -> "gender", "level" -> "level"),
      "user_id", "level", "paid")
    writePartitioned(users, s"$outDir/users", Seq.empty)

    // time: one row per distinct event timestamp (etl.py:124-138).
    val time = dedupAll(
      plays.select((col("ts").as("start_time") +: timeDims(col("ts"))): _*))
    writePartitioned(time, s"$outDir/time", Seq("year", "month"))

    // songplays: J3 songs x artists lookup from the MATERIALIZED parquet,
    // then the load-bearing J4 left join on (song=title, artist=name) —
    // unmatched plays survive with null song_id/artist_id (etl.py:141-174).
    // The re-reads take the song stage's schemas from Schemas instead of
    // inferring them, which would cost one footer job per table.
    val songs = readTable(spark, s"$outDir/songs", Schemas.songs)
      .select(lookupColumns("songs").map(col): _*)
    val artists = readTable(spark, s"$outDir/artists", Schemas.artists)
      .select(lookupColumns("artists").map(col): _*)
      .withColumnRenamed("artist_id", "artist_id1")
    val lookup = dimJoin(songs, artists, col("artist_id") === col("artist_id1"))
      .select("song_id", "title", "artist_id", "name")

    val enriched = factLeftJoin(plays, lookup,
      plays("song") === lookup("title") && plays("artist") === lookup("name"))
    val songplays = enriched.select(
      surrogateId(plays("ts"), plays("userId"), plays("sessionId")).as("songplay_id"),
      plays("ts").as("start_time"),
      col("userId").as("user_id"),
      col("level"),
      lookup("song_id"),
      lookup("artist_id"),
      col("sessionId").as("session_id"),
      col("location"),
      col("userAgent").as("user_agent"),
      year(plays("ts")).as("year"),
      month(plays("ts")).as("month"))
    writePartitioned(songplays, s"$outDir/songplays", Seq("year", "month"))
    } finally plays.unpersist()
  }

  /** The columns the log stage reads back from each song-stage table. */
  val lookupColumns: Map[String, Seq[String]] = Map(
    "songs" -> Seq("song_id", "title", "artist_id"),
    "artists" -> Seq("artist_id", "name"))

  /** main()-equivalent (etl.py:177-188): song data first — the log stage
    * re-reads its parquet output. */
  def run(spark: SparkSession, songJsonGlob: String, logJsonGlob: String,
      outDir: String): Unit = {
    processSongData(spark, songJsonGlob, outDir)
    processLogData(spark, logJsonGlob, outDir)
  }
}
