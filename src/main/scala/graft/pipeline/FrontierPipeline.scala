package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Checkpoint-resumable frontier run — the CurationPipeline.runJob shape
 * applied to discovery: frontier targets bucket on a hash of the url and
 * write per commit group with dynamic partition overwrite, each group
 * followed by its lineage append (row count + content digest of what
 * landed). A rerun over the same outDir skips committed buckets; the
 * frontier op is deterministic (min-struct keepers, canonical keys), so a
 * resumed run's bytes equal an uninterrupted run's (spec-pinned). In a
 * crawl loop the PREVIOUS round's frontier output is this round's `seen`
 * input — the anti-join makes re-discovery idempotent across rounds.
 */
object FrontierPipeline {

  final case class JobResult(frontierPath: String, lineagePath: String,
                             nTargets: Long, resumedBuckets: Int)

  def runJob(spark: SparkSession, pages: DataFrame, outDir: String,
             urlCol: String, payloadCol: String,
             robots: Option[DataFrame] = None,
             agent: String = "graftbot",
             blockedDomains: Seq[String] = Nil,
             blockedSubstrings: Seq[String] = Nil,
             seen: Option[DataFrame] = None, seenUrlCol: String = "url",
             shards: Int = 1024,
             nBuckets: Int = 16, commitGroups: Int = 1,
             runId: String = "frontier-0",
             failAfterGroups: Option[Int] = None): JobResult = {
    val frontierPath = s"$outDir/frontier"
    val lineagePath = s"$outDir/lineage"
    val doneBuckets: Array[Int] =
      if (ExtractPipeline.fsExists(spark, lineagePath))
        ExtractPipeline.readLineage(spark, lineagePath)
          .filter(col("status") === "committed")
          .select(col("bucket")).distinct().collect().map(_.getInt(0))
      else Array.empty[Int]

    val targets = graft.ops.FrontierOps.frontier(pages, urlCol, payloadCol,
      robots = robots, agent = agent,
      blockedDomains = blockedDomains, blockedSubstrings = blockedSubstrings,
      seen = seen, seenUrlCol = seenUrlCol, shards = shards)
    val bucketed = targets.withColumn("bucket",
      pmod(xxhash64(col("url")), lit(nBuckets)).cast("int"))
    // read-backs pass the schema EXPLICITLY: a round that discovers nothing
    // new (the steady state of a crawl loop whose seen set has converged)
    // writes zero part files, and schema inference on an empty dynamic-
    // overwrite dir throws instead of returning an empty frame
    def readFrontier() =
      spark.read.schema(bucketed.schema).parquet(frontierPath)

    val todo = (0 until nBuckets).filterNot(doneBuckets.toSet)
    val groups: Seq[Seq[Int]] =
      if (commitGroups <= 1 || todo.isEmpty) Seq(todo)
      else todo.grouped(math.max(1, math.ceil(todo.size.toDouble / commitGroups).toInt)).toSeq
    var committed = 0
    groups.filter(_.nonEmpty).foreach { group =>
      bucketed.filter(col("bucket").isin(group: _*))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(frontierPath)
      val written = ExtractPipeline.readBuckets(spark, frontierPath, bucketed.schema, group)
      // one lineage row PER BUCKET IN THE GROUP, including empty ones (a
      // converged crawl round discovers nothing): an empty bucket with no
      // committed row would be "missing" to every later resume, which
      // re-runs the whole frontier computation just to rediscover nothing
      import spark.implicits._
      val groupDf = group.toDF("bucket")
      val aggs = written.groupBy(col("bucket"))
        .agg(count(lit(1)).as("row_count"),
          sha2(encode(concat_ws("\n", sort_array(collect_list(
            concat_ws("\t", col("url"), col("kind"), col("discovered_from"))))), "UTF-8"), 256)
            .as("digest"))
      groupDf.join(aggs, Seq("bucket"), "left")
        .select(lit(runId).as("run_id"), col("bucket"),
          coalesce(col("row_count"), lit(0L)).as("row_count"),
          // sha256("") — the digest of zero sorted rows
          coalesce(col("digest"),
            lit("e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"))
            .as("digest"),
          lit("committed").as("status"),
          lit(System.currentTimeMillis()).as("committed_utc_ms"))
        .write.mode(SaveMode.Append).parquet(lineagePath)
      committed += 1
      failAfterGroups.foreach { k =>
        if (committed >= k && committed < groups.size)
          throw new IllegalStateException(s"injected failure after $committed commit group(s)")
      }
    }
    val n = readFrontier().count()
    JobResult(frontierPath, lineagePath, n, doneBuckets.length)
  }
}
