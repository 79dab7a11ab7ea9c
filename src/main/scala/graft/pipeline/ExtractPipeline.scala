package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{extract_doc, is_pdf, pdf_preflight, text_digest, url_host}

/**
 * The extraction job: scan → validate/quarantine → mode filter → salt skewed
 * hosts → extract → bucketed write → per-bucket lineage → resume.
 *
 * Dataflow mirrors the reference CLI lifecycle (ocr_combined.py:232-264) re-expressed
 * as one declarative plan:
 *
 *   pages ─ preflight ─┬─ quarantine/bucket=K         (security_validator.py:309-335)
 *                      └─ mode filter (skip_text)     (ocr_combined.py:124-141)
 *                          └─ anti-join done buckets  (resume; archive-dedup analog :147-157)
 *                              └─ repartition(host, salt)  ← explicit skew handling
 *                                  └─ extract_doc (one parse: text | error | spans)
 *                                      └─ write extracted/bucket=K  +  lineage rows
 *
 * Scale design (10^12 docs): every decision is per-row or per-bucket; no driver
 * collect of data rows. Buckets are a *logical*, url-hash-stable partitioning
 * (pmod(xxhash64(url), nBuckets)) — they survive reruns and cluster-size changes,
 * which is what makes lineage rows a valid checkpoint unit. Physical parallelism
 * (shuffle partitions, executor count) is free to differ from nBuckets.
 *
 * Metadata work is O(group), not O(table): every read-back passes the schema
 * the run already knows (no footer-inference job), a commit group reads back
 * only its own existing `bucket=K` dirs (no listing of the other buckets), and
 * the commit reads the lineage log once. Quarantine rows are clustered by
 * bucket before the partitioned write, so a run writes at most one quarantine
 * file per bucket instead of one per (input split × bucket).
 */
object ExtractPipeline {

  final case class Config(
      mode: String = "cli", // cli | visual (skip pre-extracted) | force (recompute all)
      maxBytes: Long = 100L * 1024 * 1024, // reference default 100MB (config.py:24)
      nBuckets: Int = 64,
      saltsPerHost: Int = 8, // zipf head hosts split across this many shuffle keys
      runId: String = "run-0",
      withSpans: Boolean = true, // emit hOCR-analog word spans for PDF payloads (visual/force modes, A8)
      freqAwareSalt: Boolean = false, // sample host shares, salt only the zipf head (SkewSalting)
      commitGroups: Int = 1, // >1 ⇒ buckets committed in batches (finer mid-job checkpoints, more input scans)
      failAfterGroups: Option[Int] = None, // test hook: inject a crash after N group commits
      maxRowsPerRun: Long = 0L, // B11 batch cap (config.py:56): >0 ⇒ audit-flag oversized runs
      parquetCodec: String = "zstd", // payload-table compression: zstd ≈ 25-30% smaller than
      // snappy on extracted text at comparable scan speed — at the 100 TB tier
      // that is tens of TB of storage and shuffle-read bandwidth
      decryptPdfs: Boolean = false // attempt empty-user-password recovery (PdfCrypto, RC4
      // standard handler) BEFORE validation: recovered files extract like clear
      // PDFs; genuinely password-protected ones still quarantine. Off by default
      // — the reference quarantines every encrypted PDF, and the golden corpus
      // digests are pinned to that stance
  )

  /** Validation struct: quarantine reasons per row (empty ⇒ valid).
    * Mirrors security_validator semantics: size cap (:177-179), magic/version
    * (:370-390), encryption markers (:417-439). HTML payloads are accepted when
    * the first non-whitespace byte is '<'; anything else is an unknown payload. */
  def validationReasons(cfg: Config): org.apache.spark.sql.Column = {
    val pf = pdf_preflight(col("html"))
    def magic(bytes: Array[Byte]) =
      substring(col("html"), 1, bytes.length) === lit(bytes)
    array_compact(array(
      when(length(col("html")) > cfg.maxBytes, lit("too_large")),
      when(length(col("html")) === 0, lit("empty_payload")),
      when(is_pdf(col("html")) && !pf.getField("is_pdf"), lit("bad_pdf_version")),
      when(is_pdf(col("html")) && pf.getField("encrypted"), lit("encrypted")),
      // active-content PDFs (B7 suspicious patterns): /JavaScript /OpenAction /Launch /AA
      when(is_pdf(col("html")) && pf.getField("suspicious"), lit("suspicious_pdf_action")),
      // executable payloads masquerading as pages (PE / ELF / shebang magic)
      when(magic("MZ".getBytes) || magic(Array(0x7f.toByte, 'E'.toByte, 'L'.toByte, 'F'.toByte)) ||
        magic("#!".getBytes), lit("executable_payload")),
      // B8 url sanity: path-traversal patterns incl. single/double URL-encoded
      // forms (security_validator.py:337-347)
      when(lower(col("url")).rlike("""\.\./|\.\.\\|%2e%2e%2f|%2e%2e%5c|\.\.%252f|\.\.%255c"""),
        lit("path_traversal_url")),
      // "first non-whitespace byte is '<'": strip ALL leading whitespace plus a
      // UTF-8 BOM — ltrim alone strips only U+0020, misclassifying payloads that
      // start with \n, \t, \r\n, or a BOM. The binary→string CAST (not decode):
      // strict decode throws MALFORMED_CHARACTER_CODING on any non-UTF-8 payload
      // (real crawls are full of latin-1/binary), killing the task; the cast
      // wraps raw bytes and the regex engine substitutes U+FFFD lazily
      when(!is_pdf(col("html")) &&
        !(regexp_replace(substring(col("html"), 1, 64).cast("string"),
          "^[\\s\\uFEFF]+", "").startsWith("<")),
        lit("unknown_payload"))
    ))
  }

  /** Risk classification, keyword semantics per security_validator.py:474-492:
    * traversal/executable → critical, encrypted/suspicious → high,
    * >2 issues → medium, else low. */
  private def risk(reasons: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def anyContains(needle: String) =
      exists(reasons, r => r.contains(needle))
    when(anyContains("traversal") || anyContains("executable"), "critical")
      .when(anyContains("encrypted") || anyContains("suspicious"), "high")
      .when(size(reasons) > 2, "medium")
      .otherwise("low")
  }

  val BucketCol = "bucket"

  def withBucket(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn(BucketCol, pmod(xxhash64(col("url")), lit(nBuckets)).cast("int"))

  /** Split input into (valid, quarantine). */
  def validate(pages: DataFrame, cfg: Config): (DataFrame, DataFrame) = {
    val withReasons = pages.withColumn("_reasons", validationReasons(cfg))
    val valid = withReasons.filter(size(col("_reasons")) === 0).drop("_reasons")
    val quarantine = withBucket(withReasons.filter(size(col("_reasons")) > 0), cfg.nBuckets)
      .select(
        col("url"),
        col(BucketCol),
        col("_reasons").as("reasons"),
        risk(col("_reasons")).as("risk"),
        sha2(col("html"), 256).as("payload_sha256"))
    (valid, quarantine)
  }

  /** Mode semantics: cli/visual skip rows with pre-existing text (skip_text=True,
    * ocr_combined.py:124-129); force recomputes everything (:130-135). */
  def modeFilter(valid: DataFrame, mode: String): (DataFrame, DataFrame) = {
    if (mode == "force") (valid, valid.limit(0))
    else (valid.filter(col("text").isNull), valid.filter(col("text").isNotNull))
  }

  /**
   * Extraction plan for the rows to process. The repartition key is
   * (host, salt): hosts are zipfian (a handful dominate the corpus), so
   * partitioning by host alone would put the head host's entire volume in one
   * task; the salt splits each host across `saltsPerHost` shuffle keys while
   * keeping same-host rows mostly co-located (useful for host-level politeness
   * and compression locality at the 100 TB tier).
   */
  def extract(toProcess: DataFrame, cfg: Config): DataFrame = {
    val saltExpr =
      if (cfg.freqAwareSalt) {
        // one sampled host-frequency pass → salt only the zipf head, keep the
        // tail fully co-located (SkewSalting)
        val parts = toProcess.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
        val salts = SkewSalting.headHostSalts(
          toProcess.withColumn("_host", url_host(col("url"))), col("_host"), parts)
        SkewSalting.saltColumn(col("url"), col("_host"), salts)
      } else pmod(xxhash64(col("url")), lit(cfg.saltsPerHost))
    val salted = toProcess
      .withColumn("_host", url_host(col("url")))
      .withColumn("_salt", saltExpr)
      .repartition(col("_host"), col("_salt"))
    // fused single-parse extraction with a per-row failure signal; withSpans
    // only controls whether the (wider) spans column is materialized
    val base = withBucket(salted, cfg.nBuckets)
      .withColumn("_doc", extract_doc(col("html")))
      .withColumn("text", col("_doc.text"))
      .withColumn("error_class", col("_doc.error"))
      .withColumn("spans",
        if (cfg.withSpans) col("_doc.spans")
        else array().cast("array<struct<page:int,x1:int,y1:int,x2:int,y2:int,word:string>>"))
    base
      .withColumn("text_sha256", text_digest(col("text")))
      .select(
        col("url"), col("warc_ts"), col("lang"), col(BucketCol),
        // C8 per-row status: a parse failure is NOT a silent empty doc
        when(col("error_class").isNotNull, "error").otherwise("extracted").as("status"),
        col("error_class"),
        col("text"), col("text_sha256"),
        length(col("text")).as("n_chars"),
        col("spans"),
        size(col("spans")).as("n_spans"),
        // pages are \f-separated in reconstructed text (Tesseract sidecar contract)
        (size(split(col("text"), "\f")) ).as("n_pages"))
  }

  /** Skipped rows carry their pre-existing text through unchanged. */
  def passThroughSkipped(skipped: DataFrame, cfg: Config): DataFrame =
    withBucket(skipped, cfg.nBuckets).select(
      col("url"), col("warc_ts"), col("lang"), col(BucketCol),
      lit("skipped").as("status"),
      lit(null).cast("string").as("error_class"),
      col("text"),
      text_digest(col("text")).as("text_sha256"),
      length(col("text")).as("n_chars"),
      array().cast("array<struct<page:int,x1:int,y1:int,x2:int,y2:int,word:string>>").as("spans"),
      lit(0).as("n_spans"),
      lit(1).as("n_pages"))

  /** Per-bucket lineage from the *written* output: stable under reruns.
    * digest = sha256 of the '\n'-joined, url-sorted per-row text digests —
    * the bucket-level golden fingerprint (FIXTURES.md §4). */
  def lineage(extracted: DataFrame, runId: String): DataFrame =
    extracted
      .groupBy(col(BucketCol))
      .agg(
        count(lit(1)).as("row_count"),
        sum(when(col("status") === "extracted", 1L).otherwise(0L)).as("ok_count"),
        sum(when(col("status") === "skipped", 1L).otherwise(0L)).as("skipped_count"),
        sum(when(col("status") === "error", 1L).otherwise(0L)).as("err_count"),
        sha2(encode(concat_ws("\n",
          sort_array(collect_list(concat_ws("\t", col("url"), col("text_sha256"))))), "UTF-8"), 256)
          .as("digest"))
      .select(
        lit(runId).as("run_id"), col(BucketCol), col("row_count"),
        col("ok_count"), col("skipped_count"), col("err_count"), col("digest"),
        lit("committed").as("status"),
        // monotonic commit stamp: "latest lineage per bucket" orders by this,
        // never by run_id strings ('run-10' sorts before 'run-2' lexically)
        lit(System.currentTimeMillis()).as("committed_utc_ms"))

  /** The lineage log's schema, in `lineage`'s column order. */
  val LineageSchema: StructType = StructType.fromDDL(
    "run_id STRING, bucket INT, row_count BIGINT, ok_count BIGINT, skipped_count BIGINT, " +
      "err_count BIGINT, digest STRING, status STRING, committed_utc_ms BIGINT")

  /** Lineage log reader with the known schema (no footer-inference job),
    * tolerant of rows written by older engine versions: `committed_utc_ms`
    * and `err_count` were added after the first release, so an outDir whose
    * log predates them must still resume/compact — a column a file lacks
    * reads as null and defaults to 0 (epoch-0 commit stamps sort OLDEST, so
    * any re-run supersedes a legacy row, which is the correct resume
    * semantics for rows that predate the stamp). Curation and frontier
    * lineage logs carry no count columns; they read as null. */
  def readLineage(spark: SparkSession, lineagePath: String): DataFrame =
    spark.read.schema(LineageSchema).parquet(lineagePath)
      .withColumn("err_count", coalesce(col("err_count"), lit(0L)))
      .withColumn("committed_utc_ms", coalesce(col("committed_utc_ms"), lit(0L)))

  /** The given buckets' `bucket=K` dirs under a bucket-partitioned table,
    * read with the schema the writer used: no footer-inference job, and only
    * those dirs are listed, so the metadata cost is O(buckets), not O(table).
    * A bucket that got no rows has no dir and is left out. */
  private[graft] def readBuckets(spark: SparkSession, tablePath: String, schema: StructType,
                                 buckets: Seq[Int]): DataFrame = {
    val dirs = buckets.map(b => s"$tablePath/$BucketCol=$b").filter(fsExists(spark, _))
    if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", tablePath).parquet(dirs: _*)
  }

  final case class RunResult(
      extractedPath: String,
      lineagePath: String,
      quarantinePath: String,
      jobsPath: String,
      totalIn: Long,
      extracted: Long,
      skipped: Long,
      errors: Long,
      quarantined: Long,
      resumedBuckets: Int,
      snapshotId: String
  )

  /**
   * Full run with checkpoint-resume. Output layout under `outDir`:
   *   extracted/bucket=K/...parquet   (one dir per logical bucket)
   *   lineage/...parquet              (appended per run)
   *   quarantine/...parquet
   *
   * Resume: buckets already present in lineage (status=committed) are
   * anti-joined away (reference archive-dedup anti-join shape,
   * ocr_combined.py:147-157); their output dirs are left untouched, so an
   * interrupted run recomputes only missing buckets (FIXTURES.md invariant 4).
   */
  def run(spark: SparkSession, pages0: DataFrame, outDir: String, cfg: Config): RunResult = {
    val t0 = System.nanoTime()
    // empty-password recovery is a per-row payload rewrite ahead of the
    // validate/extract plan — undecryptable payloads pass through unchanged
    // and hit the usual "encrypted" quarantine gate. Gated on the PDF magic
    // so the (mostly non-PDF) corpus never enters the decrypt attempt at
    // all — tryDecrypt materializes a latin-1 String view (2 bytes/char) of
    // candidate payloads, which must stay a per-PDF cost, not a per-row one
    val pages =
      if (cfg.decryptPdfs)
        pages0.withColumn("html",
          when(graft.functions.is_pdf(col("html")),
            coalesce(graft.functions.pdf_decrypt(col("html")), col("html")))
            .otherwise(col("html")))
      else pages0
    val extractedPath = s"$outDir/extracted"
    val lineagePath = s"$outDir/lineage"
    val quarantinePath = s"$outDir/quarantine"
    val jobsPath = s"$outDir/jobs"
    val metricsPath = s"$outDir/metrics"
    val auditPath = s"$outDir/audit"
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)

    // A12 audit log (database_manager.py:122-150): events buffer driver-side
    // and flush as parquet appends at durability points (after each group
    // commit and at run end) — a crash keeps every committed group's events
    import spark.implicits._
    var auditSeq = 0
    val auditBuf = scala.collection.mutable.ArrayBuffer.empty[graft.model.AuditRow]
    def audit(eventType: String, severity: String, message: String): Unit = {
      auditBuf += graft.model.AuditRow(cfg.runId, auditSeq, System.currentTimeMillis(),
        eventType, severity, message)
      auditSeq += 1
    }
    def flushAudit(): Unit = if (auditBuf.nonEmpty) {
      auditBuf.toSeq.toDF().write.mode(SaveMode.Append).parquet(auditPath)
      auditBuf.clear()
    }
    audit("run_start", "info", s"mode=${cfg.mode} nBuckets=${cfg.nBuckets} commitGroups=${cfg.commitGroups}")

    // B11 batch cap (config.py:56; enforcement security_validator.py:286-288):
    // the reference flags oversized batches with an issue + recommendation and
    // proceeds — mirrored as an audit warning, not a hard failure. limit(n+1)
    // early-exits the scan at the threshold instead of a full extra input pass
    // (a full count over a WARC-backed frame would decompress every archive).
    if (cfg.maxRowsPerRun > 0 && cfg.maxRowsPerRun < Int.MaxValue) {
      val probe = pages.select(lit(1).as("_one")).limit(cfg.maxRowsPerRun.toInt + 1).count()
      if (probe > cfg.maxRowsPerRun)
        audit("batch_too_large", "warning",
          s"input rows exceed maxRowsPerRun=${cfg.maxRowsPerRun}; " +
            "process in smaller runs or raise the cap")
    }

    recoverLineageSwap(spark, outDir) // finish any interrupted retention swap
    // resume: buckets with committed lineage are done — gate every sink on them.
    // The done list is at most nBuckets entries (driver-safe); a NOT-isin filter
    // lets the parquet reader prune done bucket directories outright, which a
    // left_anti join would not (no static partition pruning through joins).
    val doneBucketIds: Array[Int] =
      if (fsExists(spark, lineagePath))
        readLineage(spark, lineagePath).filter(col("status") === "committed")
          .select(col(BucketCol)).distinct().collect().map(_.getInt(0))
      else Array.empty[Int]
    val nDone = doneBucketIds.length
    if (nDone > 0)
      audit("resume", "info", s"$nDone bucket(s) already committed; recomputing only the rest")
    def notDone(df: DataFrame): DataFrame =
      if (nDone > 0) df.filter(!col(BucketCol).isin(doneBucketIds.toSeq: _*)) else df

    val todoBuckets = (0 until cfg.nBuckets).filterNot(doneBucketIds.toSet)

    val (valid, quarantine) = validate(pages, cfg)
    // quarantine rows cluster by bucket before the partitioned write: each
    // partition owns one contiguous run of the not-done buckets, so a run
    // writes at most one file per bucket, not one per (input split × bucket).
    // Only the narrow quarantine rows cross this exchange; the scan and
    // validation stay on the input splits
    val qParts = math.max(1, math.min(todoBuckets.size,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt))
    val qPartOf = Array.fill(cfg.nBuckets)(0)
    todoBuckets.zipWithIndex.foreach { case (b, i) =>
      qPartOf(b) = (i.toLong * qParts / todoBuckets.size).toInt
    }
    // dynamic partition overwrite keyed by bucket ⇒ reruns are idempotent per
    // bucket (exactly-once resume without a transactional catalog; the honest
    // Iceberg-snapshot substitution, SURVEY.md §7.0)
    notDone(quarantine)
      .repartitionById(qParts, element_at(typedLit(qPartOf.toSeq), col(BucketCol) + 1))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", cfg.parquetCodec)
      .mode(SaveMode.Overwrite)
      .partitionBy(BucketCol)
      .parquet(quarantinePath)

    val (toProcess0, skipped) = modeFilter(valid, cfg.mode)
    val all = extract(toProcess0, cfg).unionByName(passThroughSkipped(skipped, cfg))
    val todo = notDone(all)

    // Commit groups: the not-done buckets are processed in `commitGroups` batches,
    // each batch's output write followed immediately by its lineage append — the
    // checkpoint unit of a mid-job failure. A run killed between group commits
    // resumes with only the uncommitted groups recomputed (north rule:
    // checkpoint-resume of failed partitions without recomputation).
    // Trade-off: G groups ⇒ G input scans (the bucket filter prunes extraction,
    // not the scan); at the 100 TB tier pick G so a group is O(1-4 TB).
    val groups: Seq[Seq[Int]] =
      if (cfg.commitGroups <= 1 || todoBuckets.isEmpty) Seq(todoBuckets)
      else {
        val per = math.max(1, math.ceil(todoBuckets.size.toDouble / cfg.commitGroups).toInt)
        todoBuckets.grouped(per).toSeq
      }
    var committed = 0
    groups.filter(_.nonEmpty).foreach { group =>
      val part =
        if (groups.size == 1) todo
        else todo.filter(col(BucketCol).isin(group: _*))
      // range-partitioned write (north rule): physical partitions are contiguous
      // (bucket, url) ranges, so each bucket dir holds url-sorted files — url
      // point/prefix reads touch one file, and parquet min/max url stats prune
      part.repartitionByRange(col(BucketCol), col("url"))
        .sortWithinPartitions(col(BucketCol), col("url"))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", cfg.parquetCodec)
        .mode(SaveMode.Overwrite)
        .partitionBy(BucketCol)
        .parquet(extractedPath)
      // lineage from the written files (read-back guarantees we fingerprint what
      // landed): only this group's bucket dirs, with the written schema
      val written = readBuckets(spark, extractedPath, part.schema, group)
      lineage(written, cfg.runId).write.mode(SaveMode.Append).parquet(lineagePath)
      committed += 1
      audit("group_commit", "info",
        s"group $committed/${groups.size}: buckets ${group.min}..${group.max} (${group.size})")
      flushAudit() // durability point: committed groups' audit rows survive a crash
      cfg.failAfterGroups.foreach { k =>
        if (committed >= k && committed < groups.size)
          throw new IllegalStateException(s"injected failure after $committed commit group(s)")
      }
    }

    // one read of the lineage log: the latest committed row per bucket (at most
    // nBuckets rows) is both the snapshot manifest (Iceberg-emulation commit
    // record over ALL committed buckets) and the source of the counters —
    // metadata-sized, never a rescan of the output
    val latest = readLineage(spark, lineagePath)
      .filter(col("status") === "committed")
      .groupBy(col(BucketCol))
      .agg(max(struct(col("committed_utc_ms"), col("run_id"), col("row_count"), col("digest"),
        col("ok_count"), col("skipped_count"), col("err_count"))).as("l"))
      .select(col(BucketCol), col("l.row_count"), col("l.digest"),
        col("l.ok_count"), col("l.skipped_count"), col("l.err_count"))
      .collect()
    // next id = numeric successor of the LATEST snapshot, never the manifest
    // COUNT — after retention expiry the count shrinks and a count-derived id
    // would sort before kept snapshots, breaking the lexicographic-commit-order
    // contract (latestSnapshot would resolve to a stale run)
    val parentSnapshot = CatalogIO.latestSnapshot(spark, extractedPath)
    val nextSeq = parentSnapshot
      .flatMap(id => """snap-(\d+)""".r.findFirstMatchIn(id).map(_.group(1).toInt + 1))
      .getOrElse(0)
    val snapshotId = f"snap-$nextSeq%06d-${cfg.runId}"
    CatalogIO.writeSnapshot(spark, extractedPath, CatalogIO.Snapshot(
      snapshotId = snapshotId,
      runId = cfg.runId,
      parent = parentSnapshot.getOrElse(""),
      createdUtcMs = System.currentTimeMillis(),
      buckets = latest.map(r =>
        CatalogIO.BucketEntry(r.getInt(0), r.getLong(1), r.getString(2))).toSeq.sortBy(_.bucket)))

    def total(i: Int): Long = latest.map(r => if (r.isNullAt(i)) 0L else r.getLong(i)).sum
    val nExtracted = total(3)
    val nSkipped = total(4)
    val nErrors = total(5)
    val q = try spark.read.schema(quarantine.schema).parquet(quarantinePath).count()
      catch { case _: Exception => 0L }
    val wallSec = (System.nanoTime() - t0) / 1e9

    // jobs table row (reference OCRJob analog, database_manager.py:42-84)
    import spark.implicits._
    val totalRows = nExtracted + nSkipped + nErrors + q
    Seq(graft.model.JobRow(
      run_id = cfg.runId, mode = cfg.mode,
      total_rows = totalRows,
      extracted = nExtracted, skipped = nSkipped, errors = nErrors, quarantined = q,
      wall_sec = wallSec,
      docs_per_sec = if (wallSec > 0) totalRows / wallSec else 0.0,
      status = "completed"
    )).toDF().write.mode(SaveMode.Append).parquet(jobsPath)

    audit("run_complete", "info",
      s"extracted=$nExtracted skipped=$nSkipped errors=$nErrors quarantined=$q snapshot=$snapshotId")
    flushAudit()

    spark.sparkContext.removeSparkListener(metrics)
    metrics.write(spark, cfg.runId, metricsPath)

    RunResult(
      extractedPath, lineagePath, quarantinePath, jobsPath,
      totalIn = totalRows,
      extracted = nExtracted,
      skipped = nSkipped,
      errors = nErrors,
      quarantined = q,
      resumedBuckets = nDone,
      snapshotId = snapshotId)
  }

  /**
   * Retention job (F5, reference cleanup database_manager.py:537-568): expire
   * all but the newest `keepSnapshots` snapshot manifests and compact the
   * lineage log to the latest committed row per bucket. Resume semantics are
   * preserved exactly — resume reads only committed buckets' latest state,
   * which compaction keeps. The compacted lineage is written to a temp dir
   * and swapped in with renames so a crash leaves either the old or the new
   * log, never a partial one.
   */
  def retention(spark: SparkSession, outDir: String, keepSnapshots: Int = 3): Unit = {
    val lineagePath = s"$outDir/lineage"
    recoverLineageSwap(spark, outDir) // finish any interrupted prior swap first
    CatalogIO.expireSnapshots(spark, s"$outDir/extracted", keepSnapshots)
    if (!fsExists(spark, lineagePath)) return
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(BucketCol))
      .orderBy(col("committed_utc_ms").desc, col("run_id").desc)
    val latest = readLineage(spark, lineagePath)
      .filter(col("status") === "committed")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val tmpPath = s"$outDir/lineage_compact_tmp"
    latest.write.mode(SaveMode.Overwrite).parquet(tmpPath)
    val hPath = new org.apache.hadoop.fs.Path(lineagePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(s"$outDir/lineage_old_tmp")
    if (fs.exists(old)) fs.delete(old, true) // leftover from a prior crash
    // rename returns false on failure (it does not throw): an unchecked promote
    // followed by the old-dir delete would destroy the only lineage copy
    if (!fs.rename(hPath, old))
      throw new IllegalStateException(s"retention: could not move $hPath aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmpPath), hPath)) {
      fs.rename(old, hPath) // restore the original before failing
      throw new IllegalStateException("retention: compacted-lineage promote failed; original restored")
    }
    fs.delete(old, true)
  }

  /** The swap above is two renames, not one atomic op: a crash between them
    * leaves NO live lineage (resume would silently recompute everything).
    * Every lineage reader path first completes an interrupted swap from the
    * surviving tmp dirs — the swap is RECOVERABLE rather than atomic. */
  private def recoverLineageSwap(spark: SparkSession, outDir: String): Unit = {
    val lineage = new org.apache.hadoop.fs.Path(s"$outDir/lineage")
    val fs = lineage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val compactTmp = new org.apache.hadoop.fs.Path(s"$outDir/lineage_compact_tmp")
    val oldTmp = new org.apache.hadoop.fs.Path(s"$outDir/lineage_old_tmp")
    if (!fs.exists(lineage)) {
      // died between the renames: the compacted (preferred) or original log
      // is sitting in a tmp dir — promote it
      if (fs.exists(compactTmp)) fs.rename(compactTmp, lineage)
      else if (fs.exists(oldTmp)) fs.rename(oldTmp, lineage)
    }
    if (fs.exists(lineage)) {
      if (fs.exists(oldTmp)) fs.delete(oldTmp, true)
      if (fs.exists(compactTmp)) fs.delete(compactTmp, true)
    }
  }

  /** Per-run rollup joining jobs to lineage (reference job_summary view,
    * docker/init.sql:28-49): run_id, mode, totals, buckets committed. */
  def jobSummary(spark: SparkSession, outDir: String): DataFrame = {
    recoverLineageSwap(spark, outDir) // every lineage reader completes an interrupted swap
    val jobs = spark.read.parquet(s"$outDir/jobs")
    val lin = readLineage(spark, s"$outDir/lineage")
      .groupBy(col("run_id"))
      .agg(count(lit(1)).as("buckets_committed"),
        sum("row_count").as("lineage_rows"),
        sum("ok_count").as("lineage_ok"),
        sum("skipped_count").as("lineage_skipped"))
    // errors ride along: the reference's job_summary view counts failed files
    // per job (docker/init.sql:28-49) — dropping the column hid every failure
    // from the one table an operator actually reads
    jobs.join(lin, Seq("run_id"), "left")
      .select(col("run_id"), col("mode"), col("total_rows"), col("extracted"),
        col("skipped"), col("errors"), col("quarantined"), col("buckets_committed"),
        col("lineage_rows"), col("docs_per_sec"), col("status"))
  }

  private[graft] def fsExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
