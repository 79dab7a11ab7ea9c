package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.fixtures.Corpus
import graft.functions.extract_any_text
import graft.ops.DedupOps
import graft.pipeline.{CurationPipeline, ExtractPipeline}

/** Runs one named public call: plain in an untraced job, as a child span of
  * the job span in a traced one. */
final class Calls(tracer: Option[Tracer], run: String, parent: Int) {
  val spans = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
  def apply[T](name: String)(f: => T): T = tracer match {
    case None => f
    case Some(t) =>
      val (r, id) = t.span(run, parent, name)(_ => f)
      spans += name -> id
      r
  }
}

final case class Ctx(spark: SparkSession, seed: Long, work: Path, nproc: Int)

object Dirs {
  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.toList finally s.close() }

  def bytes(p: Path): Long = walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  def delete(p: Path): Unit = walk(p).reverse.foreach(Files.delete)

  def copy(src: Path, dst: Path): Unit = walk(src).foreach { f =>
    val t = dst.resolve(src.relativize(f).toString)
    if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
  }
}

/**
 * One benchmark workload: a timed batch job over generated inputs, the
 * set-up that makes those inputs, and the check of each job's output against
 * the benchmark's own reference.
 */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Input docs of one timed job (the base of docs_per_s). */
  def docs: Long
  /** The set-up step (timed into setup_s); re-creating its outputs is safe. */
  def setupStep(): Unit
  /** Untimed jobs before the timed ones. */
  def warmupJobs: Int = 1
  /** Checks of set-up outputs the jobs rely on (untimed). */
  def setupCheck(): Seq[String] = Nil
  /** Fresh output dir for one job (untimed). */
  def prepare(tag: String): Path
  def job(out: Path, tag: String, calls: Calls): Unit
  def check(out: Path): Seq[String]

  protected def spark: SparkSession = ctx.spark
  protected def at(rel: String): Path = ctx.work.resolve(rel)
  protected def writeCorpus(n: Int, dir: Path): Unit =
    Corpus.pages(spark, n.toLong, ctx.seed, parallelism = ctx.nproc * 2)
      .write.mode("overwrite").parquet(dir.toString)
  protected def fresh(rel: String): Path = {
    val p = at(rel)
    Dirs.delete(p)
    p
  }
}

object Workloads {
  /** Input docs per job. A job takes 6-9 s at 4 cores, most of it Spark's
    * fixed per-job and per-group cost; larger inputs would not leave room for
    * two timed jobs per run within the evaluation's time budget (see
    * perfbench/README.md, "Why two gated workloads"). */
  val FreshDocs = 16000
  val ResumeDocs = 8000
  val CurateDocs = 1500

  val Names = Seq("extract_fresh", "extract_resume", "curate_dedup")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "extract_fresh" => new ExtractFresh(ctx, FreshDocs)
    case "extract_resume" => new ExtractResume(ctx, ResumeDocs)
    case "curate_dedup" => new CurateDedup(ctx, CurateDocs)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  /** Reads an ExtractPipeline output dir back for the reference check. */
  def readExtract(spark: SparkSession, out: Path, r: ExtractPipeline.RunResult): Reference.ExtractOut = {
    // the text comes back as its digest, recomputed here with Spark's own sha2
    val rows = spark.read.parquet(out.resolve("extracted").toString)
      .select(col("url"), col("status"), sha2(encode(col("text"), "UTF-8"), 256),
        col("text_sha256"), col("bucket"))
      .collect().map(x => (x.getString(0), x.getString(1), x.getString(2), x.getString(3), x.getInt(4)))
    val qPath = out.resolve("quarantine")
    val q = if (Files.exists(qPath))
      spark.read.parquet(qPath.toString).select(col("url")).collect().map(_.getString(0)).toSeq
    else Nil
    Reference.ExtractOut(rows.toSeq, q, latestLineage(spark, out.resolve("lineage")),
      r.extracted, r.skipped, r.errors, r.quarantined)
  }

  /** Latest committed (bucket, row_count, digest) per bucket. */
  def latestLineage(spark: SparkSession, path: Path): Seq[(Int, Long, String)] =
    spark.read.parquet(path.toString).filter(col("status") === "committed")
      .select(col("bucket"), col("row_count"), col("digest"), col("committed_utc_ms"), col("run_id"))
      .collect().groupBy(_.getInt(0)).values.map { rs =>
        val r = rs.maxBy(x => (x.getLong(3), x.getString(4)))
        (r.getInt(0), r.getLong(1), r.getString(2))
      }.toSeq.sortBy(_._1)
}

/** `RunExtract … force`: a fresh force-mode run with spans, one commit group. */
final class ExtractFresh(ctx: Ctx, n: Int) extends Workload(ctx) {
  val name = "extract_fresh"
  /** Its set-up never runs the pipeline, and after one warm-up job the first
    * timed job still ran 10-20% slower on 30% more CPU (JIT compilation);
    * extract_resume's set-up runs the pipeline three times. */
  override val warmupJobs = 2
  val docs: Long = n.toLong
  val pages: Path = at("pages")
  lazy val truth: IndexedSeq[Reference.Doc] = Reference.docs(n, ctx.seed)
  private var last: ExtractPipeline.RunResult = _

  def setupStep(): Unit = writeCorpus(n, pages)
  def prepare(tag: String): Path = fresh(s"fresh-$tag")
  def job(out: Path, tag: String, calls: Calls): Unit = {
    val input = spark.read.parquet(pages.toString)
    last = calls("ExtractPipeline.run") {
      ExtractPipeline.run(spark, input, out.toString,
        ExtractPipeline.Config(mode = "force", withSpans = true, commitGroups = 1, runId = s"fresh-$tag"))
    }
  }
  def check(out: Path): Seq[String] =
    Reference.checkExtract(Workloads.readExtract(spark, out, last), truth, "force")
}

/** Checkpoint-resume: a `cli` run crashed after 3 of 4 commit groups is the
  * template; each job resumes a fresh copy of it. */
final class ExtractResume(ctx: Ctx, n: Int) extends Workload(ctx) {
  val name = "extract_resume"
  val docs: Long = n.toLong
  val pages: Path = at("pages")
  val template: Path = at("resume-template")
  lazy val truth: IndexedSeq[Reference.Doc] = Reference.docs(n, ctx.seed)
  private var last: ExtractPipeline.RunResult = _
  private var crashed = true
  private def cfg(runId: String) = ExtractPipeline.Config(mode = "cli", withSpans = false,
    commitGroups = 4, runId = runId)

  def setupStep(): Unit = {
    writeCorpus(n, pages)
    Dirs.delete(template)
    crashed = try {
      ExtractPipeline.run(spark, spark.read.parquet(pages.toString), template.toString,
        cfg("crash").copy(failAfterGroups = Some(3)))
      false
    } catch { case e: IllegalStateException if e.getMessage.contains("injected failure") => true }
  }
  override def setupCheck(): Seq[String] =
    if (crashed) Nil else Seq("the crash hook did not fire; no resume template")
  def prepare(tag: String): Path = {
    val out = fresh(s"resume-$tag")
    Dirs.copy(template, out)
    out
  }
  def job(out: Path, tag: String, calls: Calls): Unit = {
    val input = spark.read.parquet(pages.toString)
    last = calls("ExtractPipeline.run") {
      ExtractPipeline.run(spark, input, out.toString, cfg(s"resume-$tag"))
    }
  }
  def check(out: Path): Seq[String] =
    (if (last.resumedBuckets > 0) Nil else Seq("resume found no committed buckets")) ++
      Reference.checkExtract(Workloads.readExtract(spark, out, last), truth, "cli")
}

/** Curation (`RunCurate` settings) then cluster near-dup removal over an
  * (id, url, text) table with token-dropped mirrors. */
final class CurateDedup(ctx: Ctx, n: Int) extends Workload(ctx) {
  val name = "curate_dedup"
  lazy val truth: IndexedSeq[Reference.Doc] = Reference.docs(n, ctx.seed)
  lazy val reference: IndexedSeq[Reference.TableRow] = Reference.curateTable(truth, ctx.seed)
  def docs: Long = reference.size.toLong
  /** Below the head host's count (zipf s≈1.2 puts ~28% of docs on host0),
    * so the heavy-host salted cap path runs. */
  val hostCapK: Int = math.max(1, n / 10)
  val pages: Path = at("pages")
  val table: Path = at("curate-table")
  private var funnel: Seq[Long] = Nil

  /** The corpus extracted the way RunCurate extracts it (pre-extracted text
    * kept, the rest through extract_any_text), minus what validation
    * quarantines and empty texts, plus the mirrors. */
  def setupStep(): Unit = {
    writeCorpus(n, pages)
    val valid = ExtractPipeline.validationReasons(ExtractPipeline.Config())
    val base = spark.read.parquet(pages.toString)
      .filter(size(valid) === 0)
      .select(regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("id"),
        col("url"), coalesce(col("text"), extract_any_text(col("html"))).as("text"))
      .filter(length(col("text")) > 0)
    val session = spark
    import session.implicits._
    val mirrorIds = truth.map(_.i).filter(Reference.mirrored(_, ctx.seed)).toDF("id")
    val mirrors = base.join(mirrorIds, Seq("id")).select(
      (col("id") + Reference.MirrorOffset).as("id"),
      concat(col("url"), lit("/m")).as("url"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    base.unionByName(mirrors).repartition(ctx.nproc).write.mode("overwrite").parquet(table.toString)
  }

  /** The table holds exactly the reference rows. */
  override def setupCheck(): Seq[String] = {
    val got = spark.read.parquet(table.toString).select(col("id"), col("url"), col("text")).collect()
      .map(r => Reference.TableRow(r.getLong(0), r.getString(1), r.getString(2)))
    if (got.length == reference.size && got.toSet == reference.toSet) Nil
    else Seq(s"curation table differs from the reference (${got.toSet.diff(reference.toSet).size} " +
      s"unexpected, ${reference.toSet.diff(got.toSet).size} missing rows)")
  }

  def prepare(tag: String): Path = fresh(s"curate-$tag")
  def job(out: Path, tag: String, calls: Calls): Unit = {
    val docsDf = spark.read.parquet(table.toString)
    val r = calls("CurationPipeline.runJob") {
      CurationPipeline.runJob(spark, docsDf, out.resolve("curation").toString, "text", "id", "url",
        hostCapK = hostCapK, samplePct = 100, gates = Set.empty, commitGroups = 4,
        runId = s"curate-$tag")
    }
    funnel = r.funnel.toSeq
    calls("DedupOps.dropNearDupsCC") {
      DedupOps.dropNearDupsCC(docsDf, "text", "id", threshold = 0.8, candidateThreshold = 0.4,
        rowsPerBand = 3).select(col("id")).write.parquet(out.resolve("kept").toString)
    }
  }
  def check(out: Path): Seq[String] = {
    val cur = out.resolve("curation")
    val curated = spark.read.parquet(cur.resolve("curated").toString)
      .select(col("id"), sha2(encode(col("text"), "UTF-8"), 256), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val kept = spark.read.parquet(out.resolve("kept").toString).collect().map(_.getLong(0)).toSeq
    Reference.checkCurate(Reference.CurateOut(funnel, curated,
      Workloads.latestLineage(spark, cur.resolve("lineage")), kept), reference, hostCapK)
  }
}
