package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.tools.RawSentinel

/** Progress lines with the time since the JVM started (to the run's log). */
object Log {
  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
  def step(msg: String): Unit =
    println(f"[${(System.currentTimeMillis() - startMs) / 1e3}%7.2f s] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Host sentinel readings (raw extractor loops, no Spark). */
final case class Sentinel(oneThread: Double, parallel: Double) {
  def json: String = Json.obj(Seq("raw_1thr_docs_per_s" -> Json.num(oneThread),
    "raw_par_docs_per_s" -> Json.num(parallel)))
}

/** One timed job's measurements, with the host sentinel read just before it. */
final case class JobRecord(tag: String, wallS: Double, cpuS: Double, outBytes: Long,
                           peakHeapMb: Double, errors: Seq[String], traced: Boolean,
                           sentinel: Sentinel) {
  def ok: Boolean = errors.isEmpty
  def json: String = Json.obj(Seq(
    "tag" -> Json.str(tag), "traced" -> traced.toString, "wall_s" -> Json.num(wallS),
    "cpu_s" -> Json.num(cpuS), "out_bytes" -> outBytes.toString,
    "peak_heap_mb" -> Json.num(peakHeapMb), "ok" -> ok.toString,
    "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
    "sentinel" -> sentinel.json))
}

/**
 * The benchmark JVM: one workload, closed loop with one client (one batch job
 * at a time), in one local[nproc] Spark session.
 *
 *   --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --result <file>
 *
 * Writes the result (last-line JSON of the benchmark command plus the per-job
 * detail) to --result; --work holds every input and output and is deleted by
 * the caller.
 */
object Main {
  val SetupReps = 3
  val MinJobs = 2
  val MaxJobs = 12

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val result = Paths.get(opts("result")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val ctx = Ctx(spark, seed, work, nproc)
      val wl = Workloads(workload, ctx)
      require(!(trace && wl.isInstanceOf[CurateDedup]),
        "curate_dedup has no traced run: every traced extract_* run measures its layers")
      val out = new Runner(wl, seconds, trace).run()
      Files.write(result, out.getBytes(StandardCharsets.UTF_8))
      Log.step("result written")
    } finally { shutdown(); spark.stop() }
    Log.step("session stopped")
  }

  private val SentinelDocs = 6000
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool()

  /** A short reading of RawSentinel's raw extractor loop, 1 thread and nproc
    * threads (~0.3 s): cheap enough to take next to every job. The traced
    * run also records the full RawSentinel.oneThread / parallel readings. */
  def sentinel(nproc: Int): Sentinel = {
    def rate(threads: Int): Double = {
      val t0 = System.nanoTime()
      val fs = (0 until threads).map(t => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = RawSentinel.rawLoop(SentinelDocs, t * 37)
      }))
      if (fs.map(_.get()).sum == -1) println("impossible")
      threads.toDouble * SentinelDocs / ((System.nanoTime() - t0) / 1e9)
    }
    rate(1) // warm
    Sentinel(rate(1), rate(nproc))
  }
  def shutdown(): Unit = pool.shutdownNow()

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  /** The old generation: where a batch job's retained state ends up. */
  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  def resetHeapPeak(): Unit = { System.gc(); oldGen.foreach(_.resetPeakUsage()) }
  def heapPeakMb(): Double = oldGen.map(_.getPeakUsage.getUsed / 1048576.0).getOrElse(Double.NaN)
}

/** Set-up, warm-up, the timed loop and (traced runs) the layer probes. */
final class Runner(wl: Workload, seconds: Double, trace: Boolean) {
  import Main._
  private val nproc = wl.ctx.nproc
  private val notes = ArrayBuffer.empty[String] // set-up / warm-up check failures

  /** One job into a fresh output dir: timed, measured and (unless it is the
    * warm-up, whose output only a throw can fail) checked. */
  def timedJob(tag: String, tracer: Option[(Tracer, JobListener)],
               check: Boolean = true): (JobRecord, Option[TracedJob]) = {
    val out = wl.prepare(tag)
    val host = sentinel(nproc)
    val bytes0 = Dirs.bytes(out)
    resetHeapPeak()
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    val (err, traced) = tracer match {
      case None =>
        (attempt(wl.job(out, tag, new Calls(None, "", -1))), None)
      case Some((t, l)) =>
        val run = s"${wl.name}-$tag"
        val calls0 = ArrayBuffer.empty[(String, Int)]
        val (e, root) = t.span(run, -1, s"job:${wl.name}") { id =>
          val calls = new Calls(Some(t), run, id)
          val r = attempt(wl.job(out, tag, calls))
          calls0 ++= calls.spans
          r
        }
        (e, Some(TracedJob(run, root, calls0.toList)))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs() - cpu0) / 1e9
    val peak = heapPeakMb()
    val outBytes = Dirs.bytes(out) - bytes0
    Log.step(f"job $tag: wall $wall%.3f s, checking")
    val errors = err.toSeq ++ (if (err.isEmpty && check) safeCheck(out) else Nil)
    val rec = JobRecord(tag, wall, cpu, outBytes, peak, errors, tracer.isDefined, host)
    if (tracer.isEmpty) Dirs.delete(out)
    (rec, traced)
  }

  private def attempt(f: => Unit): Option[String] =
    try { f; None } catch { case e: Exception => Some(s"job threw ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def safeCheck(out: Path): Seq[String] =
    try wl.check(out) catch { case e: Exception => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }

  def run(): String = {
    // set-up, repeated; its median is setup_s together with the warm-up jobs
    // (a traced run reports no setup_s, so it sets up once)
    val reps = if (trace) 1 else SetupReps
    val setupS = (0 until reps).map { k =>
      Log.step(s"set-up ${k + 1}/$reps")
      val t0 = System.nanoTime()
      wl.setupStep()
      (System.nanoTime() - t0) / 1e9
    }
    notes ++= wl.setupCheck().map("set-up: " + _)
    val warm = (0 until wl.warmupJobs).map { k =>
      Log.step(s"warm-up job ${k + 1}/${wl.warmupJobs}")
      timedJob(s"warm$k", None, check = false)._1
    }
    notes ++= warm.flatMap(_.errors).map("warm-up: " + _)
    val setup = Stats.median(setupS) + warm.map(_.wallS).sum

    val jobs = ArrayBuffer.empty[JobRecord]
    val untracedJobs = if (trace) 1 else MaxJobs
    while (jobs.size < untracedJobs &&
      (trace || jobs.size < MinJobs || jobs.map(_.wallS).sum < seconds)) {
      Log.step(s"timed job ${jobs.size}")
      val (rec, _) = timedJob(s"t${jobs.size}", None)
      jobs += rec
    }
    val layer =
      if (!trace) None
      else {
        Log.step("traced job")
        val tracer = new Tracer
        val listener = new JobListener
        wl.ctx.spark.sparkContext.addSparkListener(listener)
        val (rec, tj) = try timedJob(s"t${jobs.size}", Some((tracer, listener)))
          finally {
            org.apache.spark.perfbench.SparkInternals.drain(wl.ctx.spark.sparkContext)
            wl.ctx.spark.sparkContext.removeSparkListener(listener)
          }
        jobs += rec
        Some((rec, tj.get, tracer, listener))
      }
    val hostAfter = sentinel(nproc)
    val finished = jobs.toList

    // medians over the jobs that passed; over all of them if none did (the
    // run is then reported incorrect, but its numbers stay numbers)
    val untraced = Some(finished.filter(j => j.ok && !j.traced)).filter(_.nonEmpty)
      .getOrElse(finished.filterNot(_.traced))
    val wall = Stats.median(untraced.map(_.wallS))
    // wall_s and docs_per_s are reported but not gated: on a shared host
    // their spread across seeds reached 0.25-0.29 while cpu_s stayed at 0.09
    val e2e = Seq(
      ("cpu_s", Stats.median(untraced.map(_.cpuS)), "s"),
      ("out_bytes_per_doc", Stats.median(untraced.map(_.outBytes.toDouble)) / wl.docs, "B/doc"),
      ("setup_s", setup, "s"))
    val failed = finished.count(!_.ok)
    val metrics: Seq[(String, Double, String)] = layer match {
      case None => e2e
      case Some((rec, tj, tracer, listener)) =>
        val l = new Layers(wl, tracer, listener, tj, rec, wall)
        val m = l.measure()
        notes ++= l.problems
        Files.write(wl.ctx.work.resolve("spans.jsonl"),
          tracer.toJsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        m
    }
    val correct = notes.isEmpty && failed == 0
    val metricJson = Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> finished.size.toString,
      "failed" -> failed.toString,
      "metrics" -> metricJson,
      "workload" -> Json.str(wl.name),
      "seed" -> wl.ctx.seed.toString,
      "docs" -> wl.docs.toString,
      "wall_s" -> Json.num(wall),
      "docs_per_s" -> Json.num(wl.docs / wall),
      "nproc" -> nproc.toString,
      "failed_frac" -> Json.num(failed.toDouble / finished.size),
      "setup_reps_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> warm.map(w => Json.num(w.wallS)).mkString("[", ",", "]"),
      "notes" -> notes.map(Json.str).mkString("[", ",", "]"),
      "host_before" -> finished.head.sentinel.json,
      "host_after" -> hostAfter.json,
      "jobs" -> finished.map(_.json).mkString("[", ",", "]")))
  }
}

/** A traced job's run id, root span and (call name, span id) children. */
final case class TracedJob(run: String, root: Int, calls: List[(String, Int)])
