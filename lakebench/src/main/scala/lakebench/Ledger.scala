package lakebench

/** What one operation cost, layer by layer, from the traced run's events. */
final case class OpCost(op: OpRecord, jobs: Int, stages: Int, tasks: Int, jobS: Double,
    driverGapS: Double, executorRunS: Double, executorCpuS: Double, shuffleWriteMb: Double,
    shuffleReadMb: Double, spillMb: Double, planQueries: Int, analysisMs: Double,
    optimizationMs: Double, planningMs: Double, filesScanned: Long)

/** Attributes listener events to the operations that caused them. */
object Ledger {
  private val SlackNs = 2000000L // listener times have millisecond resolution

  private def covers(o: OpRecord, t: Long): Boolean = t >= o.start - SlackNs && t <= o.end + SlackNs

  /** The op a job belongs to: the op named by its local property when that
    * op was running at the job's start (thread pools can carry a stale
    * property), else the only op running then. */
  def jobOwner(ops: Seq[OpRecord], j: JobRecord): Option[OpRecord] = {
    val byId = j.op.flatMap(id => ops.find(_.id == id)).filter(covers(_, j.start))
    byId.orElse(ops.filter(covers(_, j.start)) match {
      case Seq(one) => Some(one)
      case _ => None
    })
  }

  /** The op a planned query belongs to: the op its client was running when
    * analysis began, or the only op running then. */
  def queryOwner(ops: Seq[OpRecord], q: QueryRecord): Option[OpRecord] = {
    val running = ops.filter(covers(_, q.start))
    running.filter(_.client == q.client) match {
      case Seq(one) => Some(one)
      case _ => running match {
        case Seq(one) => Some(one)
        case _ => None
      }
    }
  }

  /** Job intervals as spans under the innermost call span of their op that
    * was open when the job started. */
  def jobSpans(t: Tracer): Seq[Span] = {
    val ops = t.opList
    val spans = t.spanList
    val byOp = spans.groupBy(_.op)
    t.jobs.toArray(Array.empty[JobRecord]).toSeq.flatMap { j =>
      jobOwner(ops, j).map { o =>
        val inner = byOp.getOrElse(o.id, Nil)
          .filter(s => s.start <= j.start && j.start <= s.end)
          .maxByOption(_.start)
        Span(-1L - j.jobId, o.id, Some(inner.map(_.id).getOrElse(o.id)), "spark.job",
          s"job ${j.jobId}", math.max(j.start, o.start), math.min(math.max(j.end, j.start), o.end))
      }
    }
  }

  def costs(t: Tracer): Seq[OpCost] = {
    val ops = t.opList
    val jobs = t.jobs.toArray(Array.empty[JobRecord]).toSeq
    // a stage shared by several jobs counts for the first of them only
    val stageById = t.stages.toArray(Array.empty[StageRecord]).map(s => s.stageId -> s).toMap
    val stageJob = jobs.sortBy(_.jobId).flatMap(j => j.stageIds.map(_ -> j.jobId)).reverse.toMap
    val jobsByOp = jobs.flatMap(j => jobOwner(ops, j).map(_.id -> j)).groupMap(_._1)(_._2)
    val queriesByOp = t.queries.toArray(Array.empty[QueryRecord]).toSeq
      .flatMap(q => queryOwner(ops, q).map(_.id -> q)).groupMap(_._1)(_._2)
    ops.map { o =>
      val js = jobsByOp.getOrElse(o.id, Nil)
      val ss = js.flatMap(j => j.stageIds.filter(stageJob.get(_).contains(j.jobId)).flatMap(stageById.get))
      val union = Stats.unionLength(Stats.clip(js.map(j => (j.start, j.end)), o.start, o.end))
      val qs = queriesByOp.getOrElse(o.id, Nil)
      val mb = 1024.0 * 1024.0
      OpCost(o, js.size, ss.size, ss.map(_.tasks).sum, union / 1e9, (o.durNs - union) / 1e9,
        ss.map(_.runMs).sum / 1e3, ss.map(_.cpuNs).sum / 1e9,
        ss.map(_.shuffleWrite).sum / mb, ss.map(_.shuffleRead).sum / mb, ss.map(_.spill).sum / mb,
        qs.size, qs.map(_.analysisMs).sum.toDouble, qs.map(_.optimizationMs).sum.toDouble,
        qs.map(_.planningMs).sum.toDouble, qs.map(_.filesScanned).sum)
    }
  }
}
