package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Seeded input generators. The same seed gives the same inputs, and each
  * generator states what the program must produce from them, so outputs are
  * checked against construction rather than against a stored answer. */
object Gen {

  private def writeLines(file: File, lines: Iterator[String]): Unit = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }

  private def q(s: String): String = Json.str(s)

  // ---------------------------------------------------------------- star_etl

  /** Sizes and shares of the star_etl inputs. `days` daily log files hold
    * the events, spread evenly over consecutive days from 2018-11-01. */
  final case class StarSizes(songs: Int, artists: Int, users: Int, events: Int,
      paidShare: Double, bothLevelsShare: Double, unmatchedShare: Double,
      otherPageShare: Double, days: Int)

  /** Row counts the five star-schema tables must have. */
  final case class StarExpected(songs: Long, artists: Long, users: Long,
      time: Long, songplays: Long, unmatchedPlays: Long)

  /** Song and log JSON in the reference layout: one song per file at
    * `dir/song_data/X/Y/Z/<track id>.json` (X, Y, Z are letters of the
    * track id) and one newline-delimited log file per day at
    * `dir/log_data/yyyy/MM/yyyy-MM-dd-events.json`.
    *
    * Every (title, artist name) pair is unique, so the songplays lookup
    * matches each play at most once; a user's name, gender and location
    * never change, so the users table has one row per user who played a
    * song. Unmatched plays name a title that is not in the catalog. */
  def star(dir: String, seed: Long, z: StarSizes): StarExpected = {
    val rnd = new java.util.SplittableRandom(seed)
    val artistIds = (0 until z.artists).map(a => f"AR$seed%x${a}%05d")
    val artistNames = (0 until z.artists).map(a => s"Artist ${rnd.nextInt(1000000)} $a")
    val songArtist = Array.fill(z.songs)(rnd.nextInt(z.artists))
    val songTitle = (0 until z.songs).map(s => s"Song ${rnd.nextInt(1000000)} $s")
    for (s <- 0 until z.songs) {
      val a = songArtist(s)
      val lat = if (a % 5 == 0) "null" else Json.num(-60 + (a * 7919 % 12000) / 100.0)
      val lon = if (a % 5 == 0) "null" else Json.num(-170 + (a * 104729 % 34000) / 100.0)
      val letters = Seq.fill(3)(('A' + rnd.nextInt(3)).toChar)
      val track = f"TR${letters.mkString}$s%07d"
      writeLines(new File(s"$dir/song_data/${letters.mkString("/")}/$track.json"), Iterator(
        s"""{"song_id":${q(f"SO$s%07d")},"title":${q(songTitle(s))},""" +
          s""""artist_id":${q(artistIds(a))},"year":${1995 + rnd.nextInt(4)},""" +
          s""""duration":${Json.num(60 + rnd.nextInt(300000) / 1000.0)},""" +
          s""""artist_name":${q(artistNames(a))},"artist_location":${q(s"City $a")},""" +
          s""""artist_latitude":$lat,"artist_longitude":$lon}"""))
    }

    // user kinds: 0 = free only, 1 = paid only, 2 = both levels
    val userKind = Array.fill(z.users) {
      val r = rnd.nextDouble()
      if (r < z.bothLevelsShare) 2 else if (r < z.bothLevelsShare + z.paidShare) 1 else 0
    }
    val genders = Array("F", "M")
    val agents = Array("Mozilla/5.0 (X11)", "Mozilla/5.0 (Macintosh)", "Mozilla/5.0 (Windows NT 10.0)")
    val playedUsers = mutable.BitSet()
    val playTimes = mutable.HashSet.empty[Long]
    var plays = 0L
    var unmatched = 0L
    val day0 = 1541030400000L // 2018-11-01
    val dayMs = 86400000L
    // the mean gap spreads the events over `days` days, so none is left over
    val maxGap = (2 * z.days * dayMs / z.events - 1).toInt
    var ts = day0 + rnd.nextInt(1000)
    val events = Array.tabulate(z.events) { i =>
      // two events in about every hundred share a timestamp
      if (rnd.nextInt(100) != 0) ts += 1 + rnd.nextInt(maxGap)
      val u = rnd.nextInt(z.users)
      val level = userKind(u) match {
        case 0 => "free"
        case 1 => "paid"
        case _ => if (rnd.nextBoolean()) "paid" else "free"
      }
      val next = rnd.nextDouble() >= z.otherPageShare
      val (page, song, artist) =
        if (!next) (if (rnd.nextBoolean()) "Home" else "Logout", "null", "null")
        else {
          plays += 1
          playedUsers += u
          playTimes += ts
          if (rnd.nextDouble() < z.unmatchedShare) {
            unmatched += 1
            ("NextSong", q(s"Unknown ${rnd.nextInt(1000000)}"), q(artistNames(rnd.nextInt(z.artists))))
          } else {
            val s = rnd.nextInt(z.songs)
            ("NextSong", q(songTitle(s)), q(artistNames(songArtist(s))))
          }
        }
      ts -> (s"""{"artist":$artist,"auth":"Logged In","firstName":${q(s"First$u")},""" +
        s""""gender":"${genders(u % 2)}","itemInSession":${i % 50},""" +
        s""""lastName":${q(s"Last$u")},"length":${Json.num(100 + rnd.nextInt(200000) / 1000.0)},""" +
        s""""level":"$level","location":${q(s"Town ${u % 97}, ST")},"method":"PUT",""" +
        s""""page":"$page","registration":${1540000000000L + u},""" +
        s""""sessionId":${u * 1000 + i / 5000},"song":$song,"status":200,"ts":$ts,""" +
        s""""userAgent":${q(agents(u % agents.length))},"userId":${q(u.toString)}}""")
    }
    events.groupBy { case (t, _) => java.time.Instant.ofEpochMilli(t).toString.take(10) }
      .foreach { case (day, evs) =>
        writeLines(new File(s"$dir/log_data/${day.take(4)}/${day.slice(5, 7)}/$day-events.json"),
          evs.iterator.map(_._2))
      }
    StarExpected(songs = z.songs, artists = songArtist.distinct.length,
      users = playedUsers.size, time = playTimes.size, songplays = plays,
      unmatchedPlays = unmatched)
  }

  // ---------------------------------------------------------------- curation

  /** A curation corpus of `groups` groups. Each group has a base document of
    * three copies of a 20-word phrase that no other group shares, and with
    * the given shares also an exact copy of it, a near copy (four copies of
    * the phrase: another text with the same set of shingles, so its MinHash
    * signature equals the base's) and a junk document (one copy, below the
    * Gopher minimum of 50 words). */
  final case class CurateSizes(groups: Int, exactDupShare: Double,
      nearDupShare: Double, junkShare: Double)

  final case class CurateDoc(doc_id: Long, text: String, n_tokens: Int)

  /** Documents left after each stage, and the tokens of the survivors. */
  final case class CurateExpected(docs: Long, keptGate: Long, keptExact: Long,
      keptNear: Long, survivorTokens: Long)

  val PhraseWords = 20

  def curation(seed: Long, z: CurateSizes): (Seq[CurateDoc], CurateExpected) = {
    val rnd = new java.util.SplittableRandom(seed)
    def word(): String = Seq.fill(4 + rnd.nextInt(5))(('a' + rnd.nextInt(26)).toChar).mkString
    // (group, copies of the phrase, kind): 0 base, 1 exact copy, 2 near copy, 3 junk
    val members = (0 until z.groups).flatMap { g =>
      val phrase = ("the" +: "and" +: Seq.fill(PhraseWords - 2)(word())).mkString(" ")
      Seq((g, phrase, 3, 0)) ++
        (if (rnd.nextDouble() < z.exactDupShare) Seq((g, phrase, 3, 1)) else Nil) ++
        (if (rnd.nextDouble() < z.nearDupShare) Seq((g, phrase, 4, 2)) else Nil) ++
        (if (rnd.nextDouble() < z.junkShare) Seq((g, phrase, 1, 3)) else Nil)
    }
    // ids in a seeded order, so which copy of a group survives varies
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((0L until members.size.toLong).toVector)
    val docs = members.zip(ids).map { case ((_, phrase, copies, _), id) =>
      CurateDoc(id, Seq.fill(copies)(phrase).mkString(" "), copies * PhraseWords)
    }
    val byGroup = members.zip(docs).groupBy(_._1._1).values.toSeq
    val gated = byGroup.map(_.filter(_._1._4 != 3))
    // exact dedup keeps the smallest id of each text; the near-dup pass then
    // keeps the smallest id of the group, as all its texts share shingles
    val exact = gated.map(_.groupBy(_._2.text).values.map(_.minBy(_._2.doc_id)).toSeq)
    val near = exact.map(_.minBy(_._2.doc_id))
    (docs, CurateExpected(docs = docs.size, keptGate = gated.map(_.size).sum,
      keptExact = exact.map(_.size).sum, keptNear = near.size,
      survivorTokens = near.map(_._2.n_tokens.toLong).sum))
  }

  // --------------------------------------------------------------- table ops

  /** One step of the table sequence: `rows` are the (k, v) rows an append
    * or upsert writes; a delete removes the keys with k % mod == rem; a
    * read of version `version` (0 = latest) scans and aggregates. */
  final case class TableStep(kind: String, rows: Seq[(Long, Long)] = Nil,
      mod: Long = 0, rem: Long = 0, version: Int = 0)

  final case class TableSizes(initial: Int, batch: Int)

  /** create, then append, upsert, delete and compact, each followed by a
    * read of the latest version, then a time-travel read of an earlier
    * version. Keys stay below 10^6 and values below 10^6, so
    * aggregate checksums never overflow. */
  def tableOps(seed: Long, z: TableSizes): Seq[TableStep] = {
    val rnd = new java.util.SplittableRandom(seed)
    def value(): Long = rnd.nextInt(1000000).toLong
    var next = 0L
    def fresh(n: Int): Seq[(Long, Long)] = (0 until n).map { _ =>
      next += 1 + rnd.nextInt(3); (next, value())
    }
    val create = TableStep("create", fresh(z.initial))
    val append = TableStep("append", fresh(z.batch))
    // half the upserted keys exist, half are new
    val existing = (create.rows ++ append.rows).map(_._1)
    val upsert = TableStep("upsert",
      Seq.fill(z.batch / 2)(existing(rnd.nextInt(existing.size)) -> value())
        .distinctBy(_._1) ++ fresh(z.batch / 2))
    val mod = 5L + rnd.nextInt(10)
    val latest = TableStep("read_latest")
    Seq(create, append, latest, upsert, latest,
      TableStep("delete", mod = mod, rem = rnd.nextInt(mod.toInt).toLong), latest,
      TableStep("compact"), latest,
      TableStep("read_version", version = 1 + rnd.nextInt(3)))
  }
}
