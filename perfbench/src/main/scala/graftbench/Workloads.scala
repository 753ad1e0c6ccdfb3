package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.etl.{Ingest, Pipeline}
import graft.streaming.Streams

/** One timed public call. `check` verifies its output; it runs after the
  * pass, outside both the timing and the traced counters. */
final case class Call(name: String, seconds: Double, check: () => Boolean)

object Call {
  /** Time `body` as span `name`. A throw is recorded as a failed call
    * (its check returns false), never dropped. */
  def apply[T](name: String)(body: => T)(check: T => Boolean): Call = {
    val t0 = System.nanoTime()
    try {
      val v = Spans(name)(body)
      Call(name, (System.nanoTime() - t0) / 1e9, () => guarded(name)(check(v)))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name threw: $e")
        Call(name, (System.nanoTime() - t0) / 1e9, () => false)
    }
  }

  def guarded(name: String)(ok: => Boolean): Boolean =
    try {
      val r = ok
      if (!r) System.err.println(s"[perfbench] $name: output check failed")
      r
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name check threw: $e")
        false
    }
}

trait Workload {
  /** Inputs that exist before the program starts; untimed. */
  def generate(): Unit
  /** Untimed preparation after the last set-up, as checked calls. */
  def load(spark: SparkSession): Seq[Call] = Nil
  def pass(spark: SparkSession, n: Int): Seq[Call]
  /** Name (or name prefix) of the calls `call_p50_s` pools: one kind of
    * call per workload, so the median is over like calls. */
  def unitCall: String
  /** Rough length of a warm pass on 4 cores, in seconds; fixes the number
    * of warm passes a run makes for a given `--seconds`. */
  def nominalPassS: Double
  /** Checked calls after the last pass; not timed into any metric. */
  def finish(spark: SparkSession): Seq[Call] = Nil
  /** Directories whose new parquet files count as written by a pass. */
  def outputs: Seq[Path] = Nil
  /** MB of raw input a pass reads (0 when none). */
  def rawMb: Double = 0.0
  /** The raw zone whose batch scans `etl.raw_scans` counts. */
  def rawDir: Option[String] = None
  def sizes: Map[String, Any]
}

object Workload {
  /** Regular files under `dir` (none when it does not exist). */
  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else scala.util.Using.resource(Files.walk(dir))(_.iterator.asScala.filter(Files.isRegularFile(_)).toList)

  def dirMb(dir: Path): Double = files(dir).map(Files.size(_)).sum / (1024.0 * 1024.0)
}

/** One day of the paper's medallion pipeline per pass. The raw zone
  * starts with a backlog; each pass lands a day of new playlists through
  * the API client, runs the four bronze streams once (incremental,
  * exactly-once), then the full refresh: `Pipeline.run` (16 zone writes)
  * over the whole raw zone and the 8 gold frames of `Pipeline.compose`
  * forced. The first pass's streams catch up on the backlog.
  *
  * Checks: streamed bronze has exactly the generator's row counts after
  * every pass and after one empty re-run; each composed gold table equals
  * the staged one `Pipeline.run` wrote (order-independent fingerprint) and
  * has the generator's row count. The stg_* tables are one-to-one with
  * bronze, so this also pins the batch bronze counts. */
final class Etl(work: Path, seed: Long, backlog: Int, perDay: Int) extends Workload {
  private val gen = new PlaylistGen(seed)
  private val tables = Seq("playlists", "tracks", "albums", "artists")
  private val raw = work.resolve("raw")
  private val streamed = work.resolve("stream/bronze")
  private val checkpoints = work.resolve("stream/checkpoints")
  private val wh = work.resolve("warehouse")
  private var landed = backlog

  def generate(): Unit = gen.land(raw, 0 until backlog)

  private def runOnce(spark: SparkSession, t: String): Unit =
    Streams.runBronzeOnce(spark, raw.toString, t, streamed.toString, checkpoints.toString)

  private def stored(spark: SparkSession, dir: Path): Force.Print = Force(spark.read.parquet(dir.toString))

  def pass(spark: SparkSession, n: Int): Seq[Call] = {
    val day = landed until landed + perDay
    landed += perDay
    val expected = gen.expected(0 until landed)
    val land = Call("Ingest.landPlaylists")(
      Ingest.landPlaylists(gen.client, day.map(gen.playlistId), raw.toString))(_.size == perDay)
    val streams = tables.map(t => Call(s"Streams.runBronzeOnce:$t")(runOnce(spark, t)) { _ =>
      stored(spark, streamed.resolve(t)).rows == expected.bronze(t)
    })
    // the staged gold compared below is read back from this run's gold zone
    val run = Call("Pipeline.run")(Pipeline.run(spark, raw.toString, wh.toString))(_ => true)
    val composed = Spans("Pipeline.compose")(Pipeline.compose(spark, raw.toString))
    val frames = composed.keys.toSeq.sorted.map { t =>
      Call(s"compose:$t")(Force(composed(t))) { p =>
        p.rows == expected.gold(t) && p == stored(spark, wh.resolve(s"gold/$t"))
      }
    }
    (land +: streams) ++ (run +: frames)
  }

  /** One more stream run with no new files must leave every count as is. */
  override def finish(spark: SparkSession): Seq[Call] = {
    val expected = gen.expected(0 until landed)
    tables.map(t => Call(s"rerun:$t")(runOnce(spark, t)) { _ =>
      stored(spark, streamed.resolve(t)).rows == expected.bronze(t)
    })
  }

  def unitCall: String = "Pipeline.run"
  def nominalPassS: Double = 12.0

  override def outputs: Seq[Path] = Seq(streamed, wh)
  override def rawMb: Double = Workload.dirMb(raw)
  override def rawDir: Option[String] = Some(raw.toString)

  def sizes: Map[String, Any] = Map("backlog_playlists" -> backlog, "playlists_per_day" -> perDay,
    "items_per_playlist" -> 50, "playlists_after_pass" -> landed,
    "raw_mb_after_pass" -> Workload.dirMb(raw))
}

/** Heavy curation queries over a generated corpus. The corpus is the same
  * for every seed, so each query's fingerprint is checked against recorded
  * values; the seed orders the queries within each pass. */
final class CurationHeavy(work: Path, seed: Long, docs: Int, vectors: Int,
    expectedFile: Path, record: Boolean) extends Workload {
  import CurationHeavy._
  private val data = work.resolve("data")
  private val seen = scala.collection.mutable.LinkedHashMap.empty[String, Force.Print]
  private lazy val expected: Map[String, Force.Print] =
    if (record || !Files.exists(expectedFile)) Map.empty
    else Files.readAllLines(expectedFile).asScala.filterNot(_.startsWith("#")).map(_.split('\t'))
      .collect { case Array(q, rows, hash) => q -> Force.Print(rows.toLong, hash.toLong) }.toMap

  def generate(): Unit = ()

  override def load(spark: SparkSession): Seq[Call] = Seq(Call("corpus") {
    import spark.implicits._
    CorpusGen.documents(CorpusSeed, docs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(data.resolve("documents.parquet").toString)
    CorpusGen.embeddings(CorpusSeed, vectors).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(data.resolve("embeddings.parquet").toString)
    CorpusGen.lineitem(CorpusSeed, 4 * docs).toDF("l_orderkey", "l_returnflag", "l_extendedprice")
      .coalesce(1).write.parquet(data.resolve("lineitem.parquet").toString)
  }(_ => record || expected.keySet == Queries.toSet))

  def pass(spark: SparkSession, n: Int): Seq[Call] =
    new scala.util.Random(Mix(seed, n)).shuffle(Queries).map { q =>
      Call(s"query:$q") {
        val df = Spans("SparkEntry.queries")(SparkEntry.queries(q)(spark, data.toString))
        try Force(df) finally graft.ops.OpCaches.releaseAll()
      } { print =>
        val first = seen.getOrElseUpdate(q, print)
        print == first && (record || expected.get(q).contains(print))
      }
    }

  override def finish(spark: SparkSession): Seq[Call] = {
    if (record) {
      val header = s"# query\trows\thash (corpus seed $CorpusSeed, $docs documents, $vectors vectors)"
      val rows = seen.toSeq.sortBy(_._1).map { case (q, p) => s"$q\t${p.rows}\t${p.hash}" }
      Files.write(expectedFile, (header +: rows).asJava)
    }
    Nil
  }

  def unitCall: String = "query:"
  def nominalPassS: Double = 9.0

  def sizes: Map[String, Any] = Map("documents" -> docs, "vectors" -> vectors,
    "queries" -> Queries.size, "corpus_mb" -> Workload.dirMb(data))
}

object CurationHeavy {
  val CorpusSeed = 42L
  /** One query per curation family the engine optimises: the
    * connected-components loop, IVF/PQ model builds, BPE training,
    * DDSketch, the web-curation regex chain, media decoding and the
    * incremental guards. */
  val Queries: Seq[String] = Seq("q65_neardup_groups", "q104_semdedup_ivf", "q75_bpe_train",
    "q85_dd_quantile", "q133_web_curation", "q149_media_curation", "q144_incremental_images_near")
}
