package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.CorpusGen
import graft.functions.{extract_any_text, extract_doc, text_digest}
import graft.ops.DedupOps
import graft.pipeline.{CurationPipeline, ExtractPipeline}

/**
 * Per-layer numbers of a traced run, each named after the module it times:
 * html / pdf (Spark-free parser loops), expr (noop-sink expression ladder),
 * pipeline (ExtractPipeline.run split into phases by the listener), ops
 * (curation and dedup public calls), host (raw sentinels) and trace (the
 * tracing self-checks). Everything is timed from the benchmark's side of a
 * public call.
 */
final class Layers(wl: Workload, tracer: Tracer, listener: JobListener, tj: TracedJob,
                   traced: JobRecord, untracedWall: Double) {
  private val spark: SparkSession = wl.ctx.spark
  private val nproc = wl.ctx.nproc
  val problems = ArrayBuffer.empty[String]
  private val out = ArrayBuffer.empty[(String, Double, String)]
  private def put(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))

  def measure(): Seq[(String, Double, String)] = {
    Log.step("layers: pipeline")
    pipeline()
    Log.step("layers: ops")
    ops()
    Log.step("layers: html/pdf")
    parsers()
    Log.step("layers: expr")
    ladder()
    Log.step("layers: host")
    put("host.raw_1thr_docs_per_s", graft.tools.RawSentinel.oneThread(), "docs/s")
    put("host.raw_par_docs_per_s", graft.tools.RawSentinel.parallel(nproc, 1), "docs/s")
    put("trace.overhead_s", traced.wallS - untracedWall, "s")
    put("jvm.old_gen_peak_mb", traced.peakHeapMb, "MB")
    val neg = tracer.negativeSelf()
    if (neg.nonEmpty) problems += s"trace: ${neg.size} span(s) with negative self time, e.g. ${neg.head.name}"
    out.toList
  }

  /** Spark jobs become children of the call span they ran in, stages
    * children of their job. */
  private def attachSparkSpans(l: JobListener, t: TracedJob, phase: Map[Int, String]): Unit = {
    val calls = t.calls.map { case (_, id) => tracer.get(id) }
    l.orderedJobs.foreach { j =>
      calls.find(c => j.startMs >= c.startMs - 1 && j.startMs <= c.endMs + 1).foreach { c =>
        val label = phase.get(j.id).map(p => s" [$p]").getOrElse("")
        val jid = tracer.add(t.run, c.id, s"spark-job ${j.id}$label ${j.callSite}", j.startMs, j.endMs)
        l.stagesOf(j).filterNot(_.completedMs.isNaN).foreach { s =>
          tracer.add(t.run, jid, s"stage ${s.id}${if (s.isMap) " map" else ""} parents ${s.parents.mkString(",")}",
            s.submittedMs, s.completedMs)
        }
      }
    }
  }

  // ------------------------------------------------------------ pipeline

  /** Phase split of the traced job's ExtractPipeline.run call. */
  private def pipeline(): Unit = {
    val l = listener // the traced job's
    val call = tracer.get(tj.calls.find(_._1 == "ExtractPipeline.run").get._2)
    val a = Phases.extractRun(l, call.startMs, call.endMs)
    attachSparkSpans(l, tj, a.jobPhase)
    Phases.Names.foreach(n => put(s"pipeline.${n}_s", a.phaseMs(n) / 1000, "s"))
    put("pipeline.driver_gap_s", a.driverGapMs / 1000, "s")
    val coverage = (a.phaseMs.values.sum + a.driverGapMs) / a.wallMs
    if (math.abs(coverage - 1) > 0.05)
      problems += f"trace: phases + driver gap cover $coverage%.3f of the run's wall time (want within 5%%)"
    val jobs = l.orderedJobs.filter(j => a.jobPhase.contains(j.id))
    val stagesOfPhase = (ps: Set[String]) => jobs.filter(j => ps(a.jobPhase(j.id))).flatMap(l.stagesOf)
    val all = jobs.flatMap(l.stagesOf)
    val tasks = StageStats.tasks(all)
    put("pipeline.wall_s", a.wallMs / 1000, "s")
    put("pipeline.spark_jobs", jobs.size.toDouble, "count")
    put("pipeline.scan_amplification",
      StageStats.tasks(stagesOfPhase(Set("quarantine_write", "salt_shuffle", "range_sample",
        "range_shuffle", "bucket_write"))).map(_.recordsIn).sum.toDouble / wl.docs, "ratio")
    // a stage consumes the host/salt exchange when one of its parents (run or
    // skipped) writes that exchange's shuffle
    val saltShuffles = stagesOfPhase(Set("salt_shuffle")).flatMap(_.shuffleId).toSet
    put("pipeline.extract_passes", all.count(s => s.parents.flatMap(l.stage).flatMap(_.shuffleId)
      .exists(saltShuffles)).toDouble, "count")
    put("pipeline.failed_tasks", tasks.count(_.failed).toDouble, "count")
    put("pipeline.executor_cpu_s", tasks.map(_.cpuNs).sum / 1e9, "s")
    put("pipeline.gc_s", tasks.map(_.gcMs).sum / 1e3, "s")
    put("pipeline.shuffle_write_mb", StageStats.mb(tasks.map(_.shuffleWriteBytes).sum), "MB")
    put("pipeline.shuffle_fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1e3, "s")
    put("pipeline.spill_mb", StageStats.mb(tasks.map(_.spillBytes).sum), "MB")
    put("pipeline.task_skew", StageStats.skew(stagesOfPhase(Set("salt_shuffle", "bucket_write"))), "ratio")
    put("pipeline.commit_groups_run", a.groups.toDouble, "count")
    put("pipeline.recomputed_frac",
      StageStats.tasks(stagesOfPhase(Set("bucket_write"))).map(_.recordsOut).sum.toDouble / wl.docs, "ratio")
  }

  private def seconds(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ------------------------------------------------------------ ops

  /** The curate_dedup job (CurationPipeline.runJob, then
    * DedupOps.dropNearDupsCC), traced and checked, over the curation table of
    * this seed, then the funnel and the three dedup stages as separate
    * noop-sink calls. */
  private def ops(): Unit = {
    val cd = new CurateDedup(wl.ctx.copy(work = wl.ctx.work.resolve("ops")), Workloads.CurateDocs)
    cd.setupStep()
    problems ++= cd.setupCheck().map("curate_dedup set-up: " + _)
    val docs = spark.read.parquet(cd.table.toString)
    val l = new JobListener
    spark.sparkContext.addSparkListener(l)
    try {
      val run = s"ops-${wl.name}"
      val out = cd.prepare("ops-probe")
      val (callSpans, root) = tracer.span(run, -1, "job:curate_dedup") { id =>
        val calls = new Calls(Some(tracer), run, id)
        cd.job(out, "ops-probe", calls)
        calls.spans.toList
      }
      problems ++= cd.check(out).map("curate_dedup: " + _)
      val funnelS = seconds(CurationPipeline.run(docs, "text", "id", "url", hostCapK = cd.hostCapK,
        samplePct = 100, gates = Set.empty).funnel.collect())
      val cand = DedupOps.nearDupPairs(docs, "text", "id", 0.4, rowsPerBand = 3)
      val candS = seconds(noop(cand))
      val ver = DedupOps.verifiedNearDupPairs(docs, "text", "id", 0.8, 0.4, rowsPerBand = 3)
      val verS = seconds(noop(ver))
      val nCand = cand.count().toDouble
      val pairs = ver.localCheckpoint(true)
      val nVer = pairs.count().toDouble
      val ccS = seconds(noop(DedupOps.connectedComponents(pairs)))
      org.apache.spark.perfbench.SparkInternals.drain(spark.sparkContext)
      attachSparkSpans(l, TracedJob(run, root, callSpans), Map.empty)
      val span = callSpans.toMap.map { case (n, id) => n -> tracer.get(id) }
      val runJob = span("CurationPipeline.runJob")
      put("curation.funnel_s", funnelS, "s")
      put("curation.job_s", runJob.durMs / 1000, "s")
      val curatedWrites = l.orderedJobs.filter(j => j.startMs >= runJob.startMs && j.startMs <= runJob.endMs)
        .flatMap(_.execId).filter(e => l.execTarget.get(e).contains("curated")).distinct.size
      put("curation.groups", curatedWrites.toDouble, "count")
      put("dedup.drop_near_dups_cc_s", span("DedupOps.dropNearDupsCC").durMs / 1000, "s")
      put("dedup.candidates_s", candS, "s")
      put("dedup.verify_s", verS - candS, "s")
      put("dedup.cc_s", ccS, "s")
      put("dedup.candidate_pairs", nCand, "count")
      put("dedup.verified_pairs", nVer, "count")
      put("dedup.precision", if (nCand > 0) nVer / nCand else 1.0, "ratio")
      val rootSpan = tracer.get(root)
      val stages = l.orderedJobs.filter(j => j.startMs >= rootSpan.startMs && j.startMs <= rootSpan.endMs)
        .flatMap(l.stagesOf)
      val tasks = StageStats.tasks(stages)
      put("ops.shuffle_write_mb", StageStats.mb(tasks.map(_.shuffleWriteBytes).sum), "MB")
      put("ops.spill_mb", StageStats.mb(tasks.map(_.spillBytes).sum), "MB")
      put("ops.task_skew", StageStats.skew(stages), "ratio")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  // ------------------------------------------------------------ html / pdf

  /** Single-thread parser loops over an in-memory slice of this seed's docs. */
  private def parsers(): Unit = {
    val slice = (0 until 2000).map(i => CorpusGen.page(i.toLong, wl.ctx.seed))
    val html = slice.filter(p => p.kind == "html" || p.kind == "pre").map(_.html).toArray
    val pdf = slice.filter(_.kind == "pdf").map(_.html).toArray
    def rate(docs: Array[Array[Byte]], f: Array[Byte] => Int): (Double, Double) = {
      var sink = 0L
      docs.foreach(d => sink += f(d)) // warm
      val passes = ArrayBuffer.empty[Double]
      while (passes.sum < 0.6 || passes.size < 3) {
        val t0 = System.nanoTime()
        docs.foreach(d => sink += f(d))
        passes += (System.nanoTime() - t0) / 1e9
      }
      if (sink == -1) println("impossible")
      val s = Stats.median(passes.toList)
      (docs.length / s, docs.map(_.length.toLong).sum / 1048576.0 / s)
    }
    val (hDocs, hMb) = rate(html, d => graft.html.HtmlExtract.extract(d).length)
    put("html.docs_per_s", hDocs, "docs/s")
    put("html.mb_per_s", hMb, "MB/s")
    put("pdf.text_docs_per_s", rate(pdf, d => graft.pdf.PdfExtract.text(d).length)._1, "docs/s")
    put("pdf.spans_docs_per_s", rate(pdf, d => graft.pdf.PdfExtract.textAndSpans(d)._2.size)._1, "docs/s")
  }

  // ------------------------------------------------------------ expr ladder

  /** Noop-sink ladder over the workload's pages parquet; each step adds one
    * expression, so a step's self time is its time minus its base step's.
    * Steps alternate across four rounds; each step keeps its best time, the
    * one least disturbed by other work on the host. */
  private def ladder(): Unit = {
    val pages = spark.read.parquet(wl.ctx.work.resolve("pages").toString)
    val v = ExtractPipeline.validationReasons(ExtractPipeline.Config()).as("v")
    val steps = Seq(
      "scan" -> Seq(col("html")),
      "validate" -> Seq(v),
      "extract_doc" -> Seq(v, extract_doc(col("html")).as("d")),
      "extract_any_text" -> Seq(v, extract_any_text(col("html")).as("t")),
      "text_digest" -> Seq(v, text_digest(extract_doc(col("html")).getField("text")).as("g")))
    val times = steps.map(_._1 -> ArrayBuffer.empty[Double]).toMap
    (0 until 4).foreach { _ =>
      steps.foreach { case (n, cols) => times(n) += seconds(noop(pages.select(cols: _*))) }
    }
    val t = times.map { case (n, xs) => n -> xs.min }
    put("expr.scan_s", t("scan"), "s")
    put("expr.validate_s", t("validate") - t("scan"), "s")
    put("expr.extract_doc_s", t("extract_doc") - t("validate"), "s")
    put("expr.extract_any_text_s", t("extract_any_text") - t("validate"), "s")
    put("expr.text_digest_s", t("text_digest") - t("extract_doc"), "s")
  }
}
