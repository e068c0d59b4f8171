package graft.perfbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom
import scala.collection.mutable

/** Size and shape knobs of the Sparkify corpus. Every property the five
  * transforms depend on is a knob here, and [[Corpus.generate]] measures
  * the realised value of each one exactly (see [[Corpus.properties]]).
  *
  * No sample of the real Sparkify corpus is in the repository, so the
  * defaults are chosen to exercise each branch of the transforms, not
  * derived from it; perfbench/README.md gives the reason for each. The one
  * figure the repository records about the real corpus, more than 4,000
  * songs with `year = 0`, is met: 0.30 of 20,000 songs is about 6,000.
  *
  * @param events          log events (all pages, logged-in and logged-out)
  * @param songs           song records
  * @param users           distinct logged-in users
  * @param months          calendar months the events span, from `startYear`-01
  * @param hitShare        NextSong events drawn as an exact (title, artist,
  *                        length) copy of a song: the songplays join hits
  * @param nearMissShare   NextSong events that match a song on one or two of
  *                        the three join columns only
  * @param nonNextSongShare events whose page is not NextSong
  * @param emptyUserShare  logged-out events, whose `userId` is ""
  * @param dupTitleShare   songs that reuse an earlier song's title (half of
  *                        them by the same artist, which fans out `artists`)
  * @param yearZeroShare   songs with the `year = 0` unknown sentinel
  * @param tsSlotsPerEvent distinct `ts` slots per event; events draw their
  *                        `ts` from the slots, so below 1 they collide
  */
final case class CorpusSpec(
    events: Int, songs: Int, users: Int, months: Int = 24, startYear: Int = 2018,
    hitShare: Double = 0.30, nearMissShare: Double = 0.25,
    nonNextSongShare: Double = 0.20, emptyUserShare: Double = 0.03,
    dupTitleShare: Double = 0.08, yearZeroShare: Double = 0.30,
    tsSlotsPerEvent: Double = 0.75)

object CorpusSpec {
  /** The corpus both Sparkify workloads run on (sizes: perfbench/README.md). */
  val standard: CorpusSpec = CorpusSpec(events = 100000, songs = 20000, users = 500)
  /** A few hundred rows, for the self-tests. */
  val tiny: CorpusSpec = CorpusSpec(events = 3000, songs = 400, users = 40, months = 4)
}

/** One expected songplays row, computed from the generator's own records. */
final case class Play(tsMs: Long, userId: String, level: String, songId: String,
                      artistId: String, sessionId: Int, location: String, userAgent: String)

/** A generated corpus on disk plus everything known about it without Spark:
  * expected row counts of the five tables, the realised input properties,
  * and the expected songplays/artists contents the read oracle works from.
  */
final case class Corpus(
    spec: CorpusSpec, seed: Long, dir: String,
    logGlob: String, songGlob: String, inputBytes: Long, digest: String,
    expected: Map[String, Long], properties: Map[String, Double],
    nextSongEvents: Long, plays: IndexedSeq[Play],
    songTitle: Map[String, String], artistName: Map[String, String],
    artistFanout: Map[String, Long])

object Corpus {

  private val titleWords = Vector(
    "love", "night", "rain", "fire", "heart", "road", "dream", "river", "light",
    "shadow", "summer", "winter", "city", "ghost", "gold", "silver", "blue",
    "red", "wild", "broken", "electric", "midnight", "ocean", "paper", "glass",
    "stone", "echo", "velvet", "thunder", "honey", "neon", "desert", "storm",
    "lonely", "highway", "sugar", "mirror", "crystal", "falling", "rising",
    "dancing", "burning", "silent", "golden", "hollow", "secret", "little",
    "last", "first", "forever", "tonight", "yesterday", "morning", "angel",
    "devil", "train", "window", "garden", "memory", "satellite")
  private val artistWordsA = Vector(
    "The", "Velvet", "Black", "Crimson", "Young", "Lost", "Royal", "Silver",
    "Electric", "Northern", "Southern", "Broken", "Golden", "Lucky", "Wild",
    "Quiet", "Loud", "Modern", "Ancient", "Sonic")
  private val artistWordsB = Vector(
    "Foxes", "Kings", "Rivers", "Tigers", "Ghosts", "Machines", "Saints",
    "Wolves", "Sisters", "Brothers", "Lights", "Hearts", "Echoes", "Pilots",
    "Drifters", "Ravens", "Owls", "Comets", "Sparrows", "Giants")
  private val firstNames = Vector(
    "Ada", "Grace", "Alan", "Linus", "Barbara", "Ken", "Margaret", "Dennis",
    "Frances", "Edsger", "Radia", "Tony", "Sophie", "Niklaus", "Hedy", "John",
    "Katherine", "Donald", "Lynn", "Guido")
  private val lastNames = Vector(
    "Lovelace", "Hopper", "Turing", "Torvalds", "Liskov", "Thompson",
    "Hamilton", "Ritchie", "Allen", "Dijkstra", "Perlman", "Hoare", "Wilson",
    "Wirth", "Lamarr", "Backus", "Johnson", "Knuth", "Conway", "Rossum")
  private val locations = Vector(
    "San Jose-Sunnyvale-Santa Clara, CA", "Chicago-Naperville-Elgin, IL-IN-WI",
    "New York-Newark-Jersey City, NY-NJ-PA", "Atlanta-Sandy Springs-Roswell, GA",
    "Houston-The Woodlands-Sugar Land, TX", "Portland-Vancouver-Hillsboro, OR-WA",
    "Tampa-St. Petersburg-Clearwater, FL", "Lansing-East Lansing, MI",
    "Boston-Cambridge-Newton, MA-NH", "Seattle-Tacoma-Bellevue, WA")
  // Real Sparkify user agents carry embedded double quotes, so the JSON
  // reader has to undo escapes on this field.
  private val userAgents = Vector(
    "\"Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/36.0.1985.143 Safari/537.36\"",
    "\"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4) AppleWebKit/537.78.2 (KHTML, like Gecko) Version/7.0.6 Safari/537.78.2\"",
    "Mozilla/5.0 (Windows NT 6.1; WOW64; rv:31.0) Gecko/20100101 Firefox/31.0",
    "\"Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Ubuntu Chromium/36.0.1985.125 Chrome/36.0.1985.125 Safari/537.36\"",
    "Mozilla/5.0 (compatible; MSIE 10.0; Windows NT 6.2; WOW64; Trident/6.0)")
  private val artistLocations = Vector(
    "London, England", "Detroit, MI", "", "Hamilton, Ontario, Canada",
    "Nashville, TN", "Berlin, Germany", "Sydney, Australia", "")
  // (page, method, status) of the pages other than NextSong.
  private val loggedInPages = Vector(
    ("Home", "GET", 200), ("Logout", "PUT", 307), ("Settings", "GET", 200),
    ("Save Settings", "PUT", 307), ("Help", "GET", 200), ("About", "GET", 200),
    ("Downgrade", "GET", 200), ("Upgrade", "GET", 200), ("Error", "GET", 404),
    ("Add to Playlist", "PUT", 200), ("Thumbs Up", "PUT", 307),
    ("Thumbs Down", "PUT", 307), ("Roll Advert", "GET", 200))
  private val loggedOutPages = Vector(
    ("Home", "GET", 200), ("Login", "PUT", 307), ("About", "GET", 200),
    ("Help", "GET", 200))

  private final case class SongRec(songId: String, title: String, artist: Int,
                                   units: Long, year: Int)
  private final case class ArtistRec(id: String, name: String, lat: String,
                                     lon: String, location: String)
  private final case class UserRec(id: String, first: String, last: String,
                                   gender: String, location: String, agent: String,
                                   registration: Long, paid: Boolean)
  private final case class Event(ts: Long, user: Int, page: String, method: String,
                                 status: Int, level: String, song: String,
                                 artist: String, units: Long, session: Int, item: Int)

  /** Durations and lengths are whole multiples of 1e-5 s written with five
    * decimals, so two values are equal as doubles exactly when their texts
    * are equal: the expected join results need no floating point.
    */
  private def secs(units: Long): String = java.math.BigDecimal.valueOf(units, 5).toPlainString

  private def hex(rnd: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append("0123456789ABCDEF".charAt(rnd.nextInt(16))); i += 1 }
    sb.toString
  }

  private def jstr(s: String): String =
    if (s == null) "null"
    else if (s.indexOf('"') < 0 && s.indexOf('\\') < 0) "\"" + s + "\""
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def cap(w: String): String = w.head.toUpper.toString + w.tail

  /** Songs are spread over this many JSON-lines files. */
  private val songFiles = 16

  /** Writes the corpus for `seed` under `dir` (which must not exist yet) as
    * `log_data/YYYY/MM/YYYY-MM-events.json` (one event per line, the 18
    * fields of `Schemas.logEventJson`) and `song_data/X/songs.json` (one song
    * per line, the 10 fields of `Schemas.songJson`). Single-threaded.
    */
  def generate(spec: CorpusSpec, seed: Long, dir: String): Corpus = {
    val rnd = new SplittableRandom(seed)

    // ---- artists and songs
    val nArtists = math.max(2, spec.songs / 3)
    val artists = Array.tabulate(nArtists) { i =>
      val name = s"${artistWordsA(i % 20)} ${artistWordsB((i / 20) % 20)}" +
        (if (i >= 400) s" ${i / 400 + 1}" else "")
      val geo = rnd.nextDouble() < 0.4
      ArtistRec(s"AR${hex(rnd, 16)}", name,
        if (geo) secs(-6000000L + rnd.nextInt(13000000)) else null,
        if (geo) secs(-16000000L + rnd.nextInt(33000000)) else null,
        artistLocations(rnd.nextInt(artistLocations.size)))
    }
    val seenTitles = mutable.HashSet.empty[String]
    val songs = new Array[SongRec](spec.songs)
    var j = 0
    while (j < spec.songs) {
      var artist = rnd.nextInt(nArtists)
      val title =
        if (j > 0 && rnd.nextDouble() < spec.dupTitleShare) {
          val earlier = songs(rnd.nextInt(j))
          if (rnd.nextBoolean()) artist = earlier.artist
          earlier.title
        } else {
          var t: String = null
          while (t == null || seenTitles.contains(t)) {
            val n = 2 + rnd.nextInt(2)
            t = (0 until n).map(_ => titleWords(rnd.nextInt(titleWords.size)))
              .mkString(" ").capitalize
          }
          seenTitles += t
          t
        }
      val year = if (rnd.nextDouble() < spec.yearZeroShare) 0 else 1960 + rnd.nextInt(59)
      songs(j) = SongRec(s"SO${hex(rnd, 16)}", title, artist,
        6000000L + rnd.nextInt(54000000), year)
      j += 1
    }

    // ---- users
    val users = Array.tabulate(spec.users) { u =>
      UserRec((u + 1).toString, firstNames(rnd.nextInt(firstNames.size)),
        lastNames(rnd.nextInt(lastNames.size)), if (rnd.nextBoolean()) "F" else "M",
        locations(rnd.nextInt(locations.size)), userAgents(rnd.nextInt(userAgents.size)),
        1514764800000L - rnd.nextInt(1000000000).toLong, rnd.nextDouble() < 0.3)
    }

    // ---- events
    val startMs = LocalDate.of(spec.startYear, 1, 1).atStartOfDay(ZoneOffset.UTC)
      .toInstant.toEpochMilli
    val endMs = LocalDate.of(spec.startYear, 1, 1).plusMonths(spec.months)
      .atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    val slots = math.max(1, (spec.events * spec.tsSlotsPerEvent).toInt)
    val slotLen = (endMs - startMs) / slots
    val pNext = (1.0 - spec.nonNextSongShare) / (1.0 - spec.emptyUserShare)
    // songs are picked with a quadratic skew, so play counts have a head
    def pickSong(): SongRec = {
      val u = rnd.nextDouble()
      songs(math.min(songs.length - 1, (u * u * songs.length).toInt))
    }
    val events = new Array[Event](spec.events)
    var i = 0
    while (i < spec.events) {
      val ts = startMs + rnd.nextInt(slots).toLong * slotLen
      if (rnd.nextDouble() < spec.emptyUserShare) {
        val (page, method, status) = loggedOutPages(rnd.nextInt(loggedOutPages.size))
        events(i) = Event(ts, -1, page, method, status, "free", null, null, -1L,
          1 + rnd.nextInt(5000), rnd.nextInt(10))
      } else {
        val u = rnd.nextInt(users.length)
        val level = if (users(u).paid != (rnd.nextDouble() < 0.1)) "paid" else "free"
        val session = u * 50 + rnd.nextInt(50)
        val item = rnd.nextInt(120)
        if (rnd.nextDouble() < pNext) {
          val r = rnd.nextDouble()
          val s = pickSong()
          val name = artists(s.artist).name
          val (song, artist, units) =
            if (r < spec.hitShare) (s.title, name, s.units)
            else if (r < spec.hitShare + spec.nearMissShare) {
              val other = artists(rnd.nextInt(nArtists)).name + " & Friends"
              rnd.nextInt(4) match {
                case 0 => (s.title, other, s.units)          // artist differs
                case 1 => (s.title, name, s.units + 1)       // length differs
                case 2 => (s.title + " (Live)", name, s.units) // title differs
                case _ => (s.title, other, s.units + 100000) // title only
              }
            } else {
              val t = s"${cap(titleWords(rnd.nextInt(titleWords.size)))} Unreleased ${rnd.nextInt(1000)}"
              (t, s"Unsigned ${artistWordsB(rnd.nextInt(20))}", 6000000L + rnd.nextInt(54000000))
            }
          events(i) = Event(ts, u, "NextSong", "PUT", 200, level, song, artist, units,
            session, item)
        } else {
          val (page, method, status) = loggedInPages(rnd.nextInt(loggedInPages.size))
          events(i) = Event(ts, u, page, method, status, level, null, null, -1L,
            session, item)
        }
      }
      i += 1
    }

    // ---- expected warehouse contents, computed without Spark
    val byTAD = songs.indices.groupBy(k =>
      (songs(k).title, artists(songs(k).artist).name, songs(k).units))
    val byTA = songs.indices.groupBy(k => (songs(k).title, artists(songs(k).artist).name))
    val plays = Vector.newBuilder[Play]
    val fanout = mutable.HashMap.empty[String, Long]
    var nextSong, hitEvents, artistRows = 0L
    val distinctTs = mutable.HashSet.empty[Long]
    events.foreach { e =>
      distinctTs += e.ts
      if (e.page == "NextSong") {
        nextSong += 1
        val m = byTAD.getOrElse((e.song, e.artist, e.units), IndexedSeq.empty)
        if (m.nonEmpty) hitEvents += 1
        val usr = users(e.user)
        m.foreach { k =>
          val s = songs(k)
          plays += Play(e.ts, usr.id, e.level, s.songId, artists(s.artist).id,
            e.session, usr.location, usr.agent)
        }
      }
      if (e.song != null && e.artist != null)
        byTA.getOrElse((e.song, e.artist), IndexedSeq.empty).foreach { k =>
          artistRows += 1
          val id = artists(songs(k).artist).id
          fanout(id) = fanout.getOrElse(id, 0L) + 1
        }
    }
    val playRows = plays.result()
    val expected = Map(
      "songplays" -> playRows.size.toLong, "artists" -> artistRows,
      "time" -> distinctTs.size.toLong, "users" -> spec.events.toLong,
      "songs" -> spec.songs.toLong)

    // ---- write the JSON files
    val root = new File(dir)
    require(!root.exists(), s"corpus dir $dir already exists")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    def writeLines(f: File, lines: Iterator[String]): Unit = {
      f.getParentFile.mkdirs()
      val w = new java.io.BufferedOutputStream(new FileOutputStream(f), 1 << 16)
      try lines.foreach { l =>
        val b = (l + "\n").getBytes(StandardCharsets.UTF_8)
        md.update(b); bytes += b.length
        w.write(b)
      } finally w.close()
    }
    def eventJson(e: Event): String = {
      val u = if (e.user >= 0) users(e.user) else null
      def uf(f: UserRec => String) = jstr(if (u == null) null else f(u))
      val len = if (e.units < 0) "null" else secs(e.units)
      val reg = if (u == null) "null" else u.registration.toString
      s"""{"artist":${jstr(e.artist)},"auth":"${if (u == null) "Logged Out" else "Logged In"}","firstName":${uf(_.first)},"gender":${uf(_.gender)},"itemInSession":${e.item},"lastName":${uf(_.last)},"length":$len,"level":"${e.level}","location":${uf(_.location)},"method":"${e.method}","page":"${e.page}","registration":$reg,"sessionId":${e.session},"song":${jstr(e.song)},"status":${e.status},"ts":${e.ts},"userAgent":${uf(_.agent)},"userId":"${if (u == null) "" else u.id}"}"""
    }
    val monthOf = events.map { e =>
      val d = Instant.ofEpochMilli(e.ts).atZone(ZoneOffset.UTC)
      (d.getYear, d.getMonthValue)
    }
    val byMonth = events.indices.groupBy(monthOf)
    byMonth.keys.toSeq.sorted.foreach { case ym @ (y, m) =>
      writeLines(new File(f"$dir/log_data/$y%04d/$m%02d/$y%04d-$m%02d-events.json"),
        byMonth(ym).iterator.map(k => eventJson(events(k))))
    }
    val logBytes = bytes
    def songJson(s: SongRec): String = {
      val a = artists(s.artist)
      s"""{"num_songs":1,"artist_id":"${a.id}","artist_latitude":${Option(a.lat).getOrElse("null")},"artist_longitude":${Option(a.lon).getOrElse("null")},"artist_location":${jstr(a.location)},"artist_name":${jstr(a.name)},"song_id":"${s.songId}","title":${jstr(s.title)},"duration":${secs(s.units)},"year":${s.year}}"""
    }
    (0 until songFiles).foreach { p =>
      writeLines(new File(f"$dir/song_data/$p%02d/songs.json"),
        songs.iterator.zipWithIndex.collect { case (s, n) if n % songFiles == p => songJson(s) })
    }

    val titleCounts = songs.groupBy(_.title).view.mapValues(_.length).toMap
    val songArtists = songs.map(s => artists(s.artist).name).toSet
    val properties = Map(
      "events" -> spec.events.toDouble,
      "songs" -> spec.songs.toDouble,
      "users" -> spec.users.toDouble,
      "log_bytes" -> logBytes.toDouble,
      "song_bytes" -> (bytes - logBytes).toDouble,
      "non_nextsong_share" -> (spec.events - nextSong).toDouble / spec.events,
      "empty_user_share" -> events.count(_.user < 0).toDouble / spec.events,
      "songplays_hit_share" -> hitEvents.toDouble / math.max(1, nextSong),
      // a near miss matches some song on its title or its artist, not on all three
      "near_miss_share" -> events.count(e => e.page == "NextSong" &&
        !byTAD.contains((e.song, e.artist, e.units)) &&
        (titleCounts.contains(e.song) || songArtists.contains(e.artist))
      ).toDouble / math.max(1, nextSong),
      "dup_title_share" -> songs.count(s => titleCounts(s.title) > 1).toDouble / spec.songs,
      "year_zero_share" -> songs.count(_.year == 0).toDouble / spec.songs,
      "distinct_ts" -> distinctTs.size.toDouble,
      "artist_fanout_mean" -> (if (fanout.isEmpty) 0.0 else artistRows.toDouble / fanout.size),
      "artist_fanout_max" -> (if (fanout.isEmpty) 0.0 else fanout.values.max.toDouble))

    Corpus(spec, seed, dir, s"$dir/log_data/*/*/*.json", s"$dir/song_data/*/*.json",
      bytes, md.digest().map("%02x".format(_)).mkString, expected, properties,
      nextSong, playRows,
      songs.map(s => s.songId -> s.title).toMap,
      artists.map(a => a.id -> a.name).toMap, fanout.toMap)
  }
}
