package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.tools.NativeWarmup

/** Benchmark main. Runs one workload in this JVM: one set-up in the cold
  * JVM, one first pass, then a fixed number of warm passes (see
  * [[warmPasses]]), then checks. Prints one JSON result line last on
  * stdout and writes the full record (every pass, call and span) to
  * `--out`.
  *
  *   graftbench.Main --workload etl --seed 1 --seconds 10 --trace 0 \
  *     --work <scratch dir> --out <result.json> --expected <dir> [--record]
  */
object Main {
  /** Warm passes of a run: enough to fill `--seconds` at the workload's
    * nominal pass length, and at least 2. The count depends only on the
    * arguments, not on how fast the code runs, so every run of a workload
    * does the same work (an `etl` pass grows the raw zone). */
  def warmPasses(seconds: Double, wl: Workload): Int =
    math.max(2, math.ceil(seconds / wl.nominalPassS).toInt)

  final case class Pass(n: Int, seconds: Double, calls: Seq[(Call, Boolean)],
      layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val record = args.contains("--record")
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val k = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

    val canaryStart = Seq.fill(3)(canary())
    val wl: Workload = workload match {
      case "etl" => new Etl(work, seed, backlog = 250, perDay = 50)
      case "curation_heavy" => new CurationHeavy(work, seed, docs = 500, vectors = 250,
        Paths.get(opt("expected")).resolve("curation_heavy.tsv"), record)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Spans("generate")(wl.generate())

    // set-up: session, function registration and warm-up, once, in the
    // cold JVM, as a daily job pays it before its first pass
    val t0 = System.nanoTime()
    var spark: SparkSession = Spans("setup") {
      val session = Spans("GraftSession.local")(GraftSession.local())
      Spans("NativeWarmup.warmup")(NativeWarmup.warmup(session))
      session
    }
    val setupSeconds = (System.nanoTime() - t0) / 1e9

    val probe = if (traced) Some(new Probe(spark, wl.rawDir)) else None
    probe.foreach(_.start())
    val prepared = wl.load(spark).map(c => c -> c.check())

    val passes = ArrayBuffer.empty[Pass]
    def runPass(n: Int): Unit = {
      val before = probe.map(_.snapshot())
      probe.foreach(_.resetPeak())
      val spanMark = Spans.all.size
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val calls = Spans(s"pass:$n")(wl.pass(spark, n))
      val secs = (System.nanoTime() - t0) / 1e9
      val layers = (before, probe.map(_.snapshot())) match {
        case (Some(b), Some(a)) => Layers.perPass(b, a, probe.get, spanMark, wl, startMs, k)
        case _ => Map.empty[String, Double]
      }
      passes += Pass(n, secs, calls.map(c => c -> c.check()), layers)
      System.err.println(f"[perfbench] $workload pass $n: $secs%.3f s")
    }
    (1 to 1 + warmPasses(seconds, wl)).foreach(runPass)
    val finished = wl.finish(spark).map(c => c -> c.check())
    probe.foreach(_.stop())

    spark.stop()
    spark = null
    val heapMb = retainedHeapMb()
    val canaryEnd = Seq.fill(3)(canary())

    val warm = passes.drop(1)
    val warmCalls = warm.flatMap(_.calls.map(_._1)).filter(_.name.startsWith(wl.unitCall)).map(_.seconds)
    val allCalls = prepared ++ passes.flatMap(_.calls) ++ finished
    val failed = allCalls.count(!_._2)
    val canaryMs = Stats.median(canaryStart ++ canaryEnd)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupSeconds, "s"),
        ("first_pass_s", passes.head.seconds, "s"),
        ("pass_s", Stats.median(warm.map(_.seconds).toSeq), "s"),
        ("call_p50_s", Stats.median(warmCalls.toSeq), "s"),
        ("heap_retained_mb", heapMb, "MB"))
      else Layers.report(passes.toSeq, canaryMs)

    val result = ListMap(
      "correct" -> (failed == 0),
      "attempted" -> allCalls.size,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (name, v, unit) =>
        name -> ListMap("value" -> v, "unit" -> unit) }: _*))

    val full = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "k" -> k, "commit" -> sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown"),
      "source_digest" -> sys.env.getOrElse("GRAFTBENCH_SOURCE_DIGEST", "unknown"),
      "host.canary_ms" -> ListMap("start" -> canaryStart, "end" -> canaryEnd),
      "sizes" -> ListMap(wl.sizes.toSeq: _*),
      "setup_s" -> setupSeconds,
      "passes" -> passes.toSeq.map(p => ListMap(
        "n" -> p.n, "seconds" -> p.seconds,
        "calls" -> p.calls.map { case (c, ok) => ListMap("name" -> c.name, "seconds" -> c.seconds, "ok" -> ok) },
        "layers" -> ListMap(p.layers.toSeq.sortBy(_._1): _*))),
      "checks" -> (prepared ++ finished).map { case (c, ok) => ListMap("name" -> c.name, "ok" -> ok) },
      "layers" -> (if (traced) ListMap(Layers.all(passes.toSeq).map { case (n, v, u) =>
        n -> ListMap("value" -> v, "unit" -> u) }: _*) else ListMap()),
      "self_ms" -> (if (traced) ListMap(Layers.selfMs(): _*) else ListMap()),
      "spans" -> (if (traced) Spans.all.toSeq.map(s => ListMap("name" -> s.name,
        "start_ms" -> (s.startNs - Spans.all.head.startNs) / 1e6, "ms" -> s.ms, "parent" -> s.parent))
        else Nil),
      "result" -> result)
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    Option(opt.getOrElse("out", null)).foreach(o => Files.writeString(Paths.get(o), json.writeValueAsString(full) + "\n"))
    println(json.writeValueAsString(result))
  }

  /** Heap still in use once the session is stopped and a full GC has run:
    * what JVM-global state (model memos, generated classes, op caches)
    * keeps alive after the work is done. Two collections with a pause let
    * references released by the first reach the second. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** A fixed pure-JVM loop; its wall time tracks host speed (CPU steal,
    * frequency), not anything graft does. */
  @volatile private var sink = 0L
  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Per-layer numbers of a traced run, named after graft's modules plus
  * Spark's codegen and task execution. */
object Layers {
  private val counters = Seq("exec.action_ms", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_cpu_s", "exec.task_run_s", "exec.gc_s", "exec.input_mb", "exec.shuffle_read_mb",
    "exec.shuffle_write_mb", "exec.spill_mb", "ops.cache_put_mb", "ops.cache_blocks",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms", "codegen.compile_ms",
    "codegen.compiles", "functions.reregistrations", "etl.bronze_ms", "etl.silver_ms",
    "etl.gold_ms", "etl.raw_scans", "streaming.batches", "streaming.rows",
    "streaming.latest_offset_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.trigger_ms")

  def perPass(before: Map[String, Double], after: Map[String, Double], probe: Probe,
      spanMark: Int, wl: Workload, startMs: Long, k: Int): Map[String, Double] = {
    val d = counters.map(c => c -> (after.getOrElse(c, 0.0) - before.getOrElse(c, 0.0))).toMap
    val refresh = Spans.ms("Pipeline.run", spanMark)
    val runOnce = Spans.ms("Streams.runBronzeOnce", spanMark)
    // Spark's own action wall: Dataset actions plus streaming triggers
    val actionMs = d("exec.action_ms") + d("streaming.trigger_ms")
    val written = wl.outputs.flatMap(dir => Workload.files(dir).filter(p =>
      p.toString.endsWith(".parquet") && Files.getLastModifiedTime(p).toMillis >= startMs)
      .map(Files.size(_)))
    val mbWritten = written.sum / (1024.0 * 1024.0)
    val rawMb = wl.rawMb
    d ++ Map(
      "exec.action_ms" -> actionMs,
      "exec.cpu_busy_frac" -> (if (actionMs > 0) d("exec.task_cpu_s") / (actionMs / 1e3 * k) else 0.0),
      "exec.peak_task_mem_mb" -> after("exec.peak_task_mem_mb"),
      "queries.build_ms" -> Spans.ms("SparkEntry.queries", spanMark),
      "queries.build_jobs" -> buildJobs(probe, spanMark),
      "etl.refresh_ms" -> refresh,
      "etl.compose_ms" -> (Spans.ms("Pipeline.compose", spanMark) + Spans.ms("compose", spanMark)),
      "etl.between_ms" -> (if (refresh > 0) refresh - d("etl.bronze_ms") - d("etl.silver_ms") - d("etl.gold_ms") else 0.0),
      "etl.land_ms" -> Spans.ms("Ingest.landPlaylists", spanMark),
      "etl.files_written" -> written.size.toDouble,
      "etl.mb_written" -> mbWritten,
      "etl.write_amp" -> (if (rawMb > 0) mbWritten / rawMb else 0.0),
      "streaming.run_once_ms" -> runOnce,
      "streaming.startup_ms" -> (if (runOnce > 0) runOnce - d("streaming.trigger_ms") else 0.0))
  }

  /** Jobs submitted while a `SparkEntry.queries` call was running: the
    * eager trains, loops and merges a query does before it returns. */
  private def buildJobs(probe: Probe, spanMark: Int): Double = {
    val windows = Spans.all.iterator.drop(spanMark).filter(_.name == "SparkEntry.queries")
      .map(s => (Spans.wallMs(s.startNs), Spans.wallMs(s.endNs))).toSeq
    probe.jobStarts.count(t => windows.exists { case (a, b) => t >= a && t <= b }).toDouble
  }

  /** Layer metrics whose end-to-end target is the first pass come from the
    * first pass; the others are medians over the warm passes. */
  private val firstPassOnly = Set("codegen.compile_ms", "codegen.compiles",
    "queries.build_ms", "queries.build_jobs")

  private def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb") || name.contains(".mb_")) "MB"
    else if (name.endsWith("_frac") || name.endsWith("_amp")) "ratio"
    else "count"

  /** The layer metrics on the result line: every time that both workloads
    * measure, and every count, size and ratio. Times of layers only one
    * workload drives (etl.*_ms, streaming.*_ms, queries.build_ms) would
    * read exactly 0 on the other, so they stay in the run record. */
  val reported: Seq[String] = Seq("plans.analysis_ms", "plans.optimization_ms",
    "plans.planning_ms", "codegen.compile_ms", "codegen.compiles", "exec.action_ms", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_cpu_s", "exec.task_run_s", "exec.gc_s",
    "exec.cpu_busy_frac", "exec.input_mb", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.peak_task_mem_mb", "functions.reregistrations", "ops.cache_put_mb",
    "ops.cache_blocks", "queries.build_jobs", "etl.raw_scans", "etl.files_written",
    "etl.mb_written", "etl.write_amp", "streaming.batches", "streaming.rows")

  /** Per-layer values for the whole run: the result line's subset plus
    * the workload-specific times, for the run record. */
  def all(passes: Seq[Main.Pass]): Seq[(String, Double, String)] = {
    val warm = passes.drop(1)
    val names = passes.head.layers.keySet - "streaming.trigger_ms"
    names.toSeq.sorted.map { name =>
      val v = if (firstPassOnly(name)) passes.head.layers(name)
        else Stats.median(warm.map(_.layers(name)))
      (name, v, unit(name))
    }
  }

  def report(passes: Seq[Main.Pass], canaryMs: Double): Seq[(String, Double, String)] = {
    def setupMs(name: String) = Stats.median(Spans.all.filter(_.name == name).map(_.ms).toSeq)
    val layer = all(passes).map(m => m._1 -> m).toMap
    Seq(("session.build_ms", setupMs("GraftSession.local"), "ms"),
      ("session.warmup_ms", setupMs("NativeWarmup.warmup"), "ms"),
      ("traced.pass_s", Stats.median(passes.drop(1).map(_.seconds)), "s"),
      ("host.canary_ms", canaryMs, "ms")) ++ reported.map(layer)
  }

  /** Self time per span name (detail after ':' dropped): each span's
    * duration minus the time its child spans cover. */
  def selfMs(): Seq[(String, Double)] = {
    val children = Spans.all.filter(_.parent >= 0).groupMapReduce(_.parent)(_.ms)(_ + _)
    Spans.all.zipWithIndex
      .groupMapReduce(_._1.name.takeWhile(_ != ':')) { case (s, i) => s.ms - children.getOrElse(i, 0.0) }(_ + _)
      .toSeq.sortBy(-_._2)
  }
}
