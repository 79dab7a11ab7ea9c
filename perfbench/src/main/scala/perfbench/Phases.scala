package perfbench

/**
 * Attribution of one `ExtractPipeline.run` call's Spark jobs to named phases.
 *
 * The rule reads only what the listener saw — the SQL execution's write
 * target, whether a job ends in a shuffle-map stage, and job order — so it
 * survives line moves inside the pipeline:
 *  - a job of an execution that writes `quarantine` → quarantine_write;
 *  - jobs of an execution that writes `extracted`, in order: the first
 *    shuffle-map job is the host/salt exchange (salt_shuffle), a result job
 *    before the second map job is the range-bounds sampling job
 *    (range_sample), the second map job is the range exchange (range_shuffle),
 *    and the result job after it is the bucketed write (bucket_write);
 *  - a job of an execution that writes `lineage` → lineage;
 *  - any other job (reads, listings, the snapshot/counter/jobs/audit writes)
 *    → lineage while a commit group is still open, commit after the last
 *    lineage write, and lineage before the first quarantine write (the resume
 *    read of committed buckets).
 * The wall time not covered by any job is the driver gap.
 */
object Phases {
  val Names = Seq("quarantine_write", "salt_shuffle", "range_sample", "range_shuffle",
    "bucket_write", "lineage", "commit")

  final case class Attribution(jobPhase: Map[Int, String], phaseMs: Map[String, Double],
                               driverGapMs: Double, wallMs: Double, groups: Int)

  def extractRun(l: JobListener, startMs: Double, endMs: Double): Attribution = {
    val jobs = l.orderedJobs.filter(j => j.startMs >= startMs - 1 && j.startMs <= endMs + 1)
    val target = (j: JobRec) => j.execId.flatMap(l.execTarget.get).getOrElse("")
    val firstQ = jobs.indexWhere(j => target(j) == "quarantine")
    val lastLin = jobs.lastIndexWhere(j => target(j) == "lineage")
    val seenMaps = scala.collection.mutable.HashMap.empty[Long, Int]
    val phase = jobs.zipWithIndex.map { case (j, i) =>
      val p = target(j) match {
        case "quarantine" => "quarantine_write"
        case "extracted" =>
          val e = j.execId.get
          val maps = seenMaps.getOrElse(e, 0)
          if (j.finalIsMap) {
            seenMaps(e) = maps + 1
            if (maps == 0) "salt_shuffle" else "range_shuffle"
          } else if (maps <= 1) "range_sample"
          else "bucket_write"
        case "lineage" => "lineage"
        case _ =>
          if (firstQ >= 0 && i < firstQ) "lineage"
          else if (i > lastLin) "commit"
          else "lineage"
      }
      j.id -> p
    }.toMap
    val durOf = (j: JobRec) => math.max(0.0, math.min(j.endMs, endMs) - math.max(j.startMs, startMs))
    val phaseMs = Names.map(n => n -> jobs.filter(j => phase(j.id) == n).map(durOf).sum).toMap
    val covered = Intervals.unionLength(jobs.map(j =>
      (math.max(j.startMs, startMs), math.min(j.endMs, endMs))).filter(t => t._2 > t._1))
    val groups = jobs.filter(j => target(j) == "extracted").flatMap(_.execId).distinct.size
    Attribution(phase, phaseMs, (endMs - startMs) - covered, endMs - startMs, groups)
  }
}
