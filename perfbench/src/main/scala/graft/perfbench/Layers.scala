package graft.perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run, derived from the spans, the listener's
  * job counters and the per-op file-system deltas. Counts (files, rows,
  * jobs, bytes) come from the first timed pass, which every run of a seed
  * executes identically; times average over every traced op. */
object Layers {

  val layers = Seq("catalyst", "scan", "read", "exec", "commit", "txn", "fold",
    "compact", "dedup")
  /** short stage names: q51, q104, ... */
  val stages = DedupStages.queries.map(_.takeWhile(_ != '_'))

  /** per traced op: ms of job and planner spans outside the op, cut away
    * before attribution (see [[SelfTime.attribute]]) */
  val clampedMs = mutable.ArrayBuffer[Double]()
  /** every traced op's spans, jobs and derived spans included */
  val allSpans = mutable.ArrayBuffer[Span]()

  private def opSpans(r: OpRec, tracer: Tracer, js: JobStats): Seq[Span] = {
    val own = tracer.spans.filter(_.op == r.id).toSeq
    val jobs = js.intervals.toSeq.map { case (s, e) =>
      (tracer.msToNano(r.id, s), tracer.msToNano(r.id, e)) }
    val jobSpans = jobs.map { case (s, e) =>
      val at = s.max(r.t0).min(r.t1)
      val parent = own.filter(p => p.start <= at && at <= p.end).maxBy(_.depth)
      Span(r.id, "job", "exec", s, e, parent.depth + 1, -1)
    }
    val tails = tracer.tails.toSeq.map { case (i, nl) => (tracer.spans(i), nl) }
      .filter(_._1.op == r.id).flatMap { case (sp, (n, l)) =>
        val ends = jobs.collect { case (s, e) if s >= sp.start && s <= sp.end => e }
        if (ends.isEmpty) None
        else Some(Span(r.id, n, l, ends.max.max(sp.start), sp.end, sp.depth + 1, -1))
      }
    own ++ jobSpans ++ tails
  }

  /** Wall time of `r` not covered by any of its Spark jobs, in ms. */
  private def outsideJobsMs(r: OpRec, tracer: Tracer, js: JobStats): Double = {
    val iv = js.intervals.toSeq
      .map { case (s, e) => (tracer.msToNano(r.id, s).max(r.t0), tracer.msToNano(r.id, e).min(r.t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var cur = Long.MinValue
    iv.foreach { case (s, e) =>
      val s2 = s.max(cur)
      if (e > s2) covered += e - s2
      cur = cur.max(e)
    }
    ((r.t1 - r.t0) - covered) / 1e6
  }

  def metrics(recs: Seq[OpRec], tracer: Tracer, listener: JobListener,
      cores: Int): Map[String, Double] = {
    val traced = recs.filter(_.traced)
    val first = traced.filter(_.pass == traced.map(_.pass).min)
    val js = traced.map(r => r.id -> listener.stats(r.id)).toMap
    val self = traced.map { r =>
      val sp = opSpans(r, tracer, js(r.id))
      allSpans ++= sp
      val (a, cut) = SelfTime.attribute(sp)
      clampedMs += cut / 1e6
      r.id -> a.map { case (k, v) => k -> v / 1e6 }
    }.toMap
    def selfMs(r: OpRec, layer: String) = self(r.id).getOrElse(layer, 0.0)
    def phaseMs(r: OpRec, phase: String): Option[Double] =
      tracer.spans.find(s => s.op == r.id && s.name == s"catalyst.$phase")
        .map(s => (s.end - s.start) / 1e6)
    def meanOf(rs: Seq[OpRec])(f: OpRec => Double) = Stats.mean(rs.map(f))
    def sumC(rs: Seq[OpRec], k: String) = rs.map(_.info.counts(k)).sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val m = mutable.LinkedHashMap[String, Double]()
    Seq("analysis", "optimization", "planning").foreach { ph =>
      m(s"catalyst.${ph}_ms") = Stats.mean(traced.flatMap(phaseMs(_, ph)))
    }
    val withScan = traced.filter(r => tracer.spans.exists(s => s.op == r.id && s.name == "scan.plan"))
    m("scan.plan_ms") = Stats.mean(withScan.flatMap(r => tracer.spans
      .filter(s => s.op == r.id && s.name == "scan.plan").map(s => (s.end - s.start) / 1e6)))
    val firstReads = first.filter(_.info.counts("reads") > 0)
    m("scan.files_read") = ratio(sumC(firstReads, "files_read"), firstReads.size)
    m("scan.files_live") = ratio(sumC(firstReads, "files_live"), firstReads.size)
    m("scan.files_read_ratio") = ratio(sumC(firstReads, "files_read"), sumC(firstReads, "files_live"))
    m("read.rows_scanned") = ratio(sumC(firstReads, "rows_scanned"), firstReads.size)
    m("read.rows_per_result") = ratio(sumC(firstReads, "rows_scanned"),
      firstReads.map(_.info.counts("result_rows").max(1.0)).sum)

    val firstJobs = first.map(r => js(r.id).jobs).sum.toDouble
    m("exec.jobs_per_op") = ratio(firstJobs, first.size)
    m("exec.tasks_per_job") = ratio(first.map(r => js(r.id).tasks).sum.toDouble, firstJobs)
    m("exec.task_busy_ms") = meanOf(traced)(r => js(r.id).busyMs.toDouble)
    m("exec.core_util") = ratio(traced.map(r => js(r.id).busyMs.toDouble).sum,
      traced.map(_.ms).sum * cores)
    m("exec.shuffle_mb") = meanOf(traced)(r => js(r.id).shuffleBytes / 1e6)
    m("exec.gc_ms") = meanOf(traced)(r => js(r.id).gcMs.toDouble)

    val writes = traced.filter(_.kind == "write")
    val firstWrites = first.filter(_.kind == "write")
    m("commit.ms") = meanOf(writes)(selfMs(_, "commit"))
    m("commit.meta_bytes") = meanOf(firstWrites)(_.info.counts("meta_bytes"))
    m("commit.files_added") = meanOf(firstWrites)(_.info.counts("files_added"))

    val folds = traced.filter(_.kind == "fold")
    val firstFolds = first.filter(_.kind == "fold")
    m("txn.ms") = meanOf(folds)(selfMs(_, "txn"))
    m("txn.tables") = meanOf(firstFolds)(_.info.counts("tables"))
    m("fold.jobs") = meanOf(firstFolds)(r => js(r.id).jobs.toDouble)
    m("fold.tasks") = meanOf(firstFolds)(r => js(r.id).tasks.toDouble)
    m("fold.driver_ms") = meanOf(folds)(selfMs(_, "fold"))

    val compacts = traced.filter(_.kind == "compact")
    m("compact.ms") = meanOf(compacts)(_.ms)
    m("compact.bytes_rewritten") = meanOf(first.filter(_.kind == "compact"))(_.info.counts("data_bytes"))
    m("compact.stall_ms") = meanOf(compacts)(r => outsideJobsMs(r, tracer, js(r.id)))

    stages.foreach { st =>
      m(s"dedup.stage_ms.$st") = meanOf(traced.filter(_.name.startsWith(st + "_")))(_.ms)
    }
    val stageOps = traced.filter(r => stages.exists(st => r.name.startsWith(st + "_")))
    val firstStages = stageOps.filter(r => first.contains(r))
    val stagePasses = stageOps.map(_.pass).distinct.size
    m("dedup.exchanges") = firstStages.map(r => js(r.id).exchanges).sum.toDouble
    m("dedup.shuffle_mb") = ratio(stageOps.map(r => js(r.id).shuffleBytes / 1e6).sum, stagePasses)

    layers.foreach(l => m(s"self_ms.$l") = meanOf(traced)(selfMs(_, l)))
    m("driver.unattributed_ms") = meanOf(traced)(selfMs(_, "driver"))
    m("trace.clamped_ms") = Stats.mean(clampedMs.toSeq)
    // ingest-only; the workload overrides them (Workload.extraMetrics)
    Seq("write_p50_ms", "write_p90_ms", "fold_p50_ms", "write_amp", "space_amp").foreach(m(_) = 0.0)
    m.toMap
  }
}
