package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.etl.Ingest.SpotifyClient

/** SplitMix64 finaliser: a pure function of its inputs, so every generated
  * attribute below is reproducible from (seed, id) alone. */
object Mix {
  def apply(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mod(n: Long, xs: Long*): Int = java.lang.Math.floorMod(apply(xs: _*), n).toInt
}

/** Row counts the ETL must produce for a set of generated playlists. */
final case class Expected(playlists: Long, tracks: Long, albums: Long,
    artists: Long, dimAlbums: Long, dimArtists: Long, fact: Long) {
  def bronze: Map[String, Long] = Map("playlists" -> playlists,
    "tracks" -> tracks, "albums" -> albums, "artists" -> artists)
  def gold: Map[String, Long] = Map("stg_playlists" -> playlists,
    "stg_tracks" -> tracks, "stg_albums" -> albums, "stg_artists" -> artists,
    "dim_playlists" -> playlists, "dim_albums" -> dimAlbums,
    "dim_artists" -> dimArtists, "fact_playlist_tracks" -> fact)
}

/** Seeded raw playlists in the Spotify API shape the bronze layer reads:
  * one playlist per document, wrapped in a JSON array, `items` track items
  * each.
  *
  * Track, album and artist attributes are functions of their id only, so
  * the whole-row DISTINCT dims collapse to one row per id exactly as on
  * real API data (a track seen in two playlists carries the same album).
  * Edge cases come at fixed rates: missing `description` (1 playlist in
  * 10), missing `explicit` (1 track in 20), 4- and 7-character release
  * dates (1 album in 10 each), multi-artist tracks (1 in 5), a null album
  * and an empty artist list (1 track in 50 each). */
final class PlaylistGen(seed: Long, items: Int = 50, nTracks: Int = 20000,
    nAlbums: Int = 2500, nArtists: Int = 4000) {

  private val tag = java.lang.Long.toString(seed & 0xFFFFFFL, 36)

  def playlistId(p: Int): String = s"pl${tag}x$p"

  private def trackId(t: Int) = s"tr${tag}x$t"
  private def albumOf(t: Int): Option[Int] =
    if (t % 50 == 7) None else Some(Mix.mod(nAlbums, seed, 1, t))
  private def artistsOf(t: Int): Seq[Int] =
    if (t % 50 == 13) Nil
    else {
      val n = if (Mix.mod(5, seed, 2, t) == 0) 2 + Mix.mod(2, seed, 3, t) else 1
      (0 until n).map(i => Mix.mod(nArtists, seed, 4, t, i)).distinct
    }
  private def tracksOf(p: Int): Seq[Int] =
    (0 until items).map(i => Mix.mod(nTracks, seed, 5, p, i))

  private def album(a: Int): String = {
    val y = 1960 + Mix.mod(65, seed, 6, a)
    val m = 1 + Mix.mod(12, seed, 7, a)
    val d = 1 + Mix.mod(28, seed, 8, a)
    val date = a % 10 match {
      case 0 => f"$y%04d"
      case 1 => f"$y%04d-$m%02d"
      case _ => f"$y%04d-$m%02d-$d%02d"
    }
    val precision = date.length match { case 4 => "year"; case 7 => "month"; case _ => "day" }
    s"""{"album_type":"album","id":"al${tag}x$a","name":"Album $a","release_date":"$date",""" +
      s""""release_date_precision":"$precision","total_tracks":${1 + Mix.mod(20, seed, 9, a)}}"""
  }

  private def artist(r: Int): String =
    s"""{"id":"ar${tag}x$r","name":"Artist $r","type":"artist"}"""

  private def track(t: Int): String = {
    val explicit =
      if (t % 20 == 3) "" else s""""explicit":${Mix.mod(2, seed, 10, t) == 0},"""
    val albumJson = albumOf(t).map(album).getOrElse("null")
    s"""{"added_at":"2024-04-22T11:06:52Z","is_local":false,"track":{""" +
      s""""id":"${trackId(t)}","name":"Track $t","duration_ms":${120000 + Mix.mod(240000, seed, 11, t)},""" +
      s""""popularity":${Mix.mod(101, seed, 12, t)},$explicit"track_number":${1 + Mix.mod(12, seed, 13, t)},""" +
      s""""disc_number":1,"album":$albumJson,"artists":${artistsOf(t).map(artist).mkString("[", ",", "]")}}}"""
  }

  /** The raw document for playlist `p`, as the API client lands it. */
  def playlistJson(p: Int): String = {
    val description = if (p % 10 == 3) "" else s""""description":"Daily mix $p","""
    val items = tracksOf(p).map(track)
    s"""[{"collaborative":false,$description"followers":{"total":${Mix.mod(1000000, seed, 14, p)}},""" +
      s""""id":"${playlistId(p)}","name":"Playlist $p","owner":{"id":"owner${p % 7}"},""" +
      s""""public":${p % 2 == 0},"snapshot_id":"snap$p","tracks":{"limit":${this.items},""" +
      s""""total":${this.items},"items":${items.mkString("[", ",", "]")}}}]"""
  }

  /** Write playlists `ps` into `dir`, one file per playlist, named the way
    * `Ingest.landPlaylists` names them. */
  def land(dir: Path, ps: Range): Unit = {
    Files.createDirectories(dir)
    ps.foreach(p => Files.write(dir.resolve(s"playlist_${playlistId(p)}_$items.json"),
      playlistJson(p).getBytes(UTF_8)))
  }

  def expected(ps: Range): Expected = {
    val tracks = ps.flatMap(tracksOf)
    val albums = tracks.flatMap(albumOf).toSet
    val artists = tracks.map(artistsOf)
    Expected(
      playlists = ps.size.toLong,
      tracks = tracks.size.toLong,
      albums = tracks.size.toLong,
      artists = artists.map(_.size.toLong).sum,
      // a null album still emits one all-null albums row, which DISTINCT keeps
      dimAlbums = albums.size.toLong + (if (tracks.exists(albumOf(_).isEmpty)) 1 else 0),
      dimArtists = artists.flatten.toSet.size.toLong,
      fact = tracks.count(t => albumOf(t).nonEmpty && artistsOf(t).nonEmpty).toLong)
  }

  /** The API client a daily landing fetches through. */
  def client: SpotifyClient = new SpotifyClient {
    private val byId = (id: String) => id.stripPrefix(s"pl${tag}x").toInt
    def fetchPlaylist(playlistId: String, limit: Int): String = playlistJson(byId(playlistId))
    def search(query: String, searchType: String, genre: Option[String], limit: Int): String = "[]"
  }
}

/** The curation corpus: `documents`, `embeddings` and `lineitem` tables in
  * the shape of the engine's test data (word-salad text over a 40-word
  * vocabulary in five languages and five sources; 64-d float vectors
  * around ten labelled centres; TPC-H-style line prices). A pure function
  * of `seed`. */
object CorpusGen {
  private val vocab = ("a the data spark batch stream scan sort hash join group agg filter " +
    "query table row column key value window merge part line order customer vector " +
    "fast slow big small index shard model token batch cache plan node edge graph").split(' ')
  private val langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "fr", "de", "de")

  /** Every 8th document is a near-copy of an earlier one (one word in
    * ten replaced), so the near-duplicate operators find real pairs. */
  def documents(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    def words(i: Int): IndexedSeq[String] =
      (0 until 8 + Mix.mod(63, seed, 20, i)).map(w => vocab(Mix.mod(vocab.length, seed, 21, i, w)))
    (0 until n).map { i =>
      val ws =
        if (i % 8 == 7) words(Mix.mod(i, seed, 23, i)).zipWithIndex.map { case (w, j) =>
          if (Mix.mod(10, seed, 24, i, j) == 0) vocab(Mix.mod(vocab.length, seed, 25, i, j)) else w }
        else words(i)
      val text = ws.mkString(" ")
      (i.toLong, text, langs(Mix.mod(langs.length, seed, 22, i)), s"src${i % 5}", text.length.toLong)
    }
  }

  def embeddings(seed: Long, n: Int, dim: Int = 64): Seq[(Long, Array[Float], Int)] =
    (0 until n).map { i =>
      val label = Mix.mod(10, seed, 30, i)
      val v = Array.tabulate(dim) { d =>
        val centre = (Mix.mod(2001, seed, 31, label, d) - 1000) / 1000.0
        val noise = (Mix.mod(2001, seed, 32, i, d) - 1000) / 4000.0
        (centre + noise).toFloat
      }
      (i.toLong, v, label)
    }

  /** The `lineitem` columns the curation queries read. */
  def lineitem(seed: Long, n: Int): Seq[(Long, String, Double)] =
    (0 until n).map { i =>
      val qty = 1 + Mix.mod(50, seed, 40, i)
      val cents = 90000L + Mix.mod(10000000, seed, 41, i)
      (i.toLong / 4 + 1, "ANR".charAt(Mix.mod(3, seed, 42, i)).toString, qty * cents / 100.0)
    }
}
