package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

import graft.fixtures.CorpusGen

/**
 * The benchmark's own answers, computed on the driver in plain Scala from the
 * generator — never from the program's output. Each `check*` returns the list
 * of violations (empty ⇒ the output is correct).
 */
object Reference {
  val QuarantineKinds = Set("js_pdf", "enc_pdf", "junk")
  val MirrorOffset = 1000000000L

  final case class Doc(i: Long, url: String, kind: String, expected: String, preText: String,
                       markerHit: Boolean) {
    /** Quarantine-kind docs, and PDFs that trip the validator's byte-scan
      * rules (see pdfMarkerHit). */
    def quarantined: Boolean = QuarantineKinds(kind) || markerHit
    /** Text the extracted table must hold for this url in `mode`. */
    def textIn(mode: String): String = if (mode != "force" && kind == "pre") preText else expected
    def statusIn(mode: String): String = if (mode != "force" && kind == "pre") "skipped" else "extracted"
    lazy val shaForce: String = sha256Hex(textIn("force"))
    lazy val shaCli: String = sha256Hex(textIn("cli"))
    def shaIn(mode: String): String = if (mode == "force") shaForce else shaCli
  }

  def docs(n: Int, seed: Long): IndexedSeq[Doc] =
    (0 until n).map { i =>
      val p = CorpusGen.page(i.toLong, seed)
      Doc(i.toLong, p.url, p.kind, p.expected, p.text, pdfMarkerHit(p.html))
    }

  /** The validator's documented PDF rules are byte scans: an active-content
    * marker anywhere in the first MiB (suspicious_pdf_action), an encryption
    * marker in the first or last 2 KiB (encrypted). They see stream data
    * too, so a generated PDF whose ASCII85 stream happens to contain "/AA"
    * is quarantined although the generator labels it `pdf`. */
  def pdfMarkerHit(b: Array[Byte]): Boolean = {
    def has(m: String, from: Int, until: Int): Boolean = {
      val mb = m.getBytes(StandardCharsets.US_ASCII)
      (math.max(0, from) to (math.min(b.length, until) - mb.length)).exists { i =>
        var k = 0
        while (k < mb.length && b(i + k) == mb(k)) k += 1
        k == mb.length
      }
    }
    val isPdf = b.length >= 5 && new String(b, 0, 5, StandardCharsets.US_ASCII) == "%PDF-"
    isPdf && (Seq("/JavaScript", "/OpenAction", "/Launch", "/AA").exists(has(_, 0, 1 << 20)) ||
      Seq("/Encrypt", "/StmF", "/StrF").exists(has(_, 0, 2048)) || has("/Encrypt", b.length - 2048, b.length))
  }

  def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  def host(url: String): String = url.stripPrefix("https://").takeWhile(_ != '/')

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The seeded third of docs that get a token-dropped mirror. */
  def mirrored(i: Long, seed: Long): Boolean =
    java.lang.Long.remainderUnsigned(mix(mix(seed ^ 0x6d6972726f72L) ^ i), 3L) == 0L

  /** q39's mirror: the text from the character after its first space (the
    * whole text when it has none). */
  def mirrorText(t: String): String = t.substring(t.indexOf(' ') + 1)

  // ------------------------------------------------------------ extraction

  final case class ExtractOut(
      // url, status, sha256 of the written text (recomputed), the text_sha256 column, bucket
      rows: Seq[(String, String, String, String, Int)],
      quarantine: Seq[String],
      lineage: Seq[(Int, Long, String)], // latest committed (bucket, row_count, digest)
      extracted: Long, skipped: Long, errors: Long, quarantined: Long)

  def checkExtract(out: ExtractOut, truth: IndexedSeq[Doc], mode: String): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = if (bad.size < 20) bad += msg
    val byUrl = truth.map(d => d.url -> d).toMap
    val seen = mutable.HashMap.empty[String, Int]
    out.rows.foreach { case (url, status, textSha, sha, _) =>
      seen(url) = seen.getOrElse(url, 0) + 1
      byUrl.get(url) match {
        case None => fail(s"unknown url in extracted: $url")
        case Some(d) if d.quarantined => fail(s"quarantine-kind ${d.kind} row extracted: $url")
        case Some(d) =>
          if (status != d.statusIn(mode)) fail(s"$url: status $status, want ${d.statusIn(mode)}")
          if (textSha != d.shaIn(mode)) fail(s"$url: text differs from the reference (${d.kind})")
          if (sha != d.shaIn(mode)) fail(s"$url: text_sha256 differs from the reference")
      }
    }
    out.quarantine.foreach { url =>
      seen(url) = seen.getOrElse(url, 0) + 1
      if (!byUrl.get(url).exists(_.quarantined)) fail(s"non-quarantine row quarantined: $url")
    }
    truth.foreach { d => if (seen.getOrElse(d.url, 0) != 1) fail(s"${d.url} landed ${seen.getOrElse(d.url, 0)} times") }
    val wantQ = truth.count(_.quarantined).toLong
    val wantSkipped = truth.count(d => !d.quarantined && d.statusIn(mode) == "skipped").toLong
    val wantExtracted = truth.size - wantQ - wantSkipped
    if ((out.extracted, out.skipped, out.errors, out.quarantined) != ((wantExtracted, wantSkipped, 0L, wantQ)))
      fail(s"counts extracted/skipped/errors/quarantined = ${out.extracted}/${out.skipped}/${out.errors}/" +
        s"${out.quarantined}, want $wantExtracted/$wantSkipped/0/$wantQ")
    if (out.extracted + out.skipped + out.errors + out.quarantined != truth.size)
      fail("extracted + skipped + errors + quarantined != docs")
    if (out.lineage.map(_._2).sum != out.extracted + out.skipped)
      fail(s"lineage row_count sums to ${out.lineage.map(_._2).sum}, want ${out.extracted + out.skipped}")
    // per-bucket lineage digest from the reference digests of the urls that
    // landed in that bucket
    val perBucket = out.rows.groupBy(_._5)
    out.lineage.foreach { case (b, n, digest) =>
      val rows = perBucket.getOrElse(b, Nil)
      val want = sha256Hex(rows.map { r =>
        r._1 + "\t" + byUrl.get(r._1).map(_.shaIn(mode)).getOrElse("?")
      }.sorted.mkString("\n"))
      if (rows.size != n) fail(s"bucket $b: lineage row_count $n, files hold ${rows.size}")
      if (digest != want) fail(s"bucket $b: lineage digest differs from the reference")
    }
    if (perBucket.keySet != out.lineage.map(_._1).toSet) fail("buckets on disk differ from committed lineage")
    bad.toList
  }

  // ------------------------------------------------------------ curation + dedup

  final case class TableRow(id: Long, url: String, text: String)

  /** The (id, url, text) table the curation set-up builds: every valid doc's
    * non-empty text (pre-extracted text as given, the rest extracted), plus a
    * token-dropped mirror for the seeded third. */
  def curateTable(truth: IndexedSeq[Doc], seed: Long): IndexedSeq[TableRow] = {
    val base = truth.filter(d => !d.quarantined && d.textIn("cli").nonEmpty)
      .map(d => TableRow(d.i, d.url, d.textIn("cli")))
    base ++ base.filter(r => mirrored(r.id, seed))
      .map(r => TableRow(r.id + MirrorOffset, r.url + "/m", mirrorText(r.text)))
  }

  /** Whitespace-separated tokens (Character.isWhitespace). */
  private def tokens(t: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < t.length) {
      while (i < t.length && t.charAt(i).isWhitespace) i += 1
      val s = i
      while (i < t.length && !t.charAt(i).isWhitespace) i += 1
      if (i > s) out += t.substring(s, i)
    }
    out.toSeq
  }

  /** Token 3-shingle set; a text with fewer tokens is one whole-text shingle. */
  private def shingles(t: String, k: Int): Set[Seq[String]] = {
    val tok = tokens(t)
    if (tok.isEmpty) Set.empty
    else if (tok.size < k) Set(tok)
    else tok.sliding(k).toSet
  }

  /** Exact Jaccard ≥ 4/5, in integers. */
  def nearDup(a: String, b: String): Boolean = {
    val (x, y) = (shingles(a, 3), shingles(b, 3))
    if (x.isEmpty && y.isEmpty) true
    else 5L * (x & y).size >= 4L * (x | y).size
  }

  /** Ids the cluster dedup must keep: every id but the larger of each mirror
    * pair whose exact shingle Jaccard reaches 0.8. */
  def keptIds(table: IndexedSeq[TableRow]): Set[Long] = {
    val byId = table.map(r => r.id -> r).toMap
    val losers = table.filter(_.id >= MirrorOffset).filter { m =>
      nearDup(byId(m.id - MirrorOffset).text, m.text)
    }.map(_.id).toSet
    table.map(_.id).toSet -- losers
  }

  /** Funnel and curated ids for gates = none, samplePct = 100: url dedup and
    * exact dedup keep the min id per url / per text, the host cap keeps the k
    * smallest ids of each host. */
  def curation(table: IndexedSeq[TableRow], k: Int): (Seq[Long], Set[Long]) = {
    val urlKeep = table.groupBy(_.url).values.map(_.minBy(_.id)).toIndexedSeq
    val exactKeep = urlKeep.groupBy(_.text).values.map(_.minBy(_.id)).toIndexedSeq
    val capped = exactKeep.groupBy(r => host(r.url)).values
      .flatMap(_.map(_.id).sorted.take(k)).toSet
    (Seq(table.size.toLong, urlKeep.size.toLong, exactKeep.size.toLong, exactKeep.size.toLong,
      capped.size.toLong, capped.size.toLong), capped)
  }

  final case class CurateOut(funnel: Seq[Long], curated: Seq[(Long, String, Int)], // id, text sha256, bucket
                             lineage: Seq[(Int, Long, String)], kept: Seq[Long])

  def checkCurate(out: CurateOut, table: IndexedSeq[TableRow], k: Int): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val (funnel, curatedIds) = curation(table, k)
    if (out.funnel != funnel) bad += s"funnel ${out.funnel.mkString("/")}, want ${funnel.mkString("/")}"
    if (out.funnel.sliding(2).exists(p => p(1) > p(0))) bad += "funnel is not monotone"
    val got = out.curated.map(_._1)
    if (got.size != got.distinct.size) bad += "curated output repeats ids"
    if (got.toSet != curatedIds)
      bad += s"curated ids differ from the reference (${(got.toSet -- curatedIds).size} extra, " +
        s"${(curatedIds -- got.toSet).size} missing)"
    val perBucket = out.curated.groupBy(_._3)
    out.lineage.foreach { case (b, n, digest) =>
      val rows = perBucket.getOrElse(b, Nil)
      val want = sha256Hex(rows.map { case (id, textSha, _) =>
        if (textSha == null) id.toString else id.toString + "\t" + textSha
      }.sorted.mkString("\n"))
      if (rows.size != n) bad += s"curated bucket $b: lineage row_count $n, files hold ${rows.size}"
      if (digest != want) bad += s"curated bucket $b: lineage digest differs from the written files"
    }
    if (out.lineage.map(_._2).sum != got.size) bad += "curated lineage row_count != curated rows"
    val keptWant = keptIds(table)
    if (out.kept.size != out.kept.distinct.size) bad += "kept ids repeat"
    if (out.kept.toSet != keptWant)
      bad += s"near-dup kept ids differ from the exact-Jaccard reference (${(out.kept.toSet -- keptWant).size} " +
        s"extra, ${(keptWant -- out.kept.toSet).size} missing)"
    bad.toList
  }
}
