package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One op of a workload: `kind` is read | write | fold | compact. The body
  * does the op and returns false when its own output check failed. */
final case class Op(kind: String, name: String, body: () => Boolean)

/** What a traced op measured besides its spans (counts, file-system
  * deltas). Untraced ops leave it empty. */
final class OpInfo {
  val counts = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  val scannedTables = mutable.LinkedHashSet[String]()
}

final case class OpRec(id: Int, pass: Int, kind: String, name: String,
    t0: Long, t1: Long, traced: Boolean, ok: Boolean, info: OpInfo) {
  def ms: Double = (t1 - t0) / 1e6
}

trait Workload {
  /** Build fresh state in catalog `cat` (own warehouse): table loads,
    * index seeds; forget what earlier ops recorded. */
  def setup(cat: String): Unit
  /** The ops of pass `i` (a pass is the workload's full op mix once). */
  def pass(i: Int): Seq[Op]
  /** Warehouse of the live state, for file-system listings. */
  def warehouse: Option[Path]
  /** Output checks after the timed window: (ids of ops that failed, messages). */
  def check(recs: Seq[OpRec]): (Set[Int], Seq[String])
  /** Workload-specific per-layer metrics of a traced run, given the
    * warehouse listings at the start and the end of the window. */
  def extraMetrics(recs: Seq[OpRec], start: Listing.Snap, end: Listing.Snap): Map[String, Double] =
    Map.empty
}

/** Shared plumbing the workloads call into: the session, the tracer, and
  * the read path split into its planning, scan-planning and fetch parts. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path) {
  private object H extends AdaptiveSparkPlanHelper
  /** id and info of the op in flight (info is filled by traced ops only) */
  var opId: Int = -1
  var info: OpInfo = new OpInfo

  def scans(p: SparkPlan): Seq[BatchScanExec] = H.collect(p) { case b: BatchScanExec => b }

  /** Register catalog `name` over a fresh warehouse directory. */
  def catalog(name: String): (String, Path) = {
    val wh = work.resolve(s"wh-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh.toString)
    (name, wh)
  }

  /** Run a query and return its rows. Traced, the call splits into a
    * `plan` span (Catalyst, with the planner's own phase spans under it), a
    * `scan.plan` span (graft's scan planning: the input partitions of every
    * graft scan) and a `fetch` span (execution and result collection). */
  def read(build: => DataFrame): Array[Row] =
    if (!tracer.isActive) build.collect()
    else {
      val df = tracer.span("plan", "catalyst") {
        val d = build
        d.queryExecution.executedPlan
        tracer.phases(d.queryExecution)
        d
      }
      val bs = scans(df.queryExecution.executedPlan)
      val parts = tracer.span("scan.plan", "scan") { bs.map(_.inputPartitions.size).sum }
      val rows = tracer.span("fetch", "read") { df.collect() }
      info.counts("files_read") += parts
      info.counts("rows_scanned") += scans(df.queryExecution.executedPlan)
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      info.counts("result_rows") += rows.length
      info.counts("reads") += 1
      bs.foreach(b => info.scannedTables += b.table.name())
      rows
    }

  /** A SQL statement that writes (INSERT / DELETE / UPDATE / OPTIMIZE ...):
    * the span covers the whole eager execution; its self time is the write
    * path's driver side (commit protocol), its jobs are charged to exec. */
  def sqlWrite(sql: String, layer: String = "commit"): Unit =
    tracer.span("write", layer) {
      val df = spark.sql(sql)
      tracer.phases(df.queryExecution)
    }

  private val live = mutable.HashMap[String, Int]()

  /** Input partitions of an unfiltered scan of `table`: its live files.
    * Remembered until the next op that writes ([[forgetLive]]). */
  def liveFiles(table: String): Int = live.getOrElseUpdate(table,
    scans(spark.table(table).queryExecution.executedPlan).map(_.inputPartitions.size).sum)

  def forgetLive(): Unit = live.clear()
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Main {

  /** local[N]: one executor thread per core, at most four */
  private val cores = math.min(4, Runtime.getRuntime.availableProcessors)
  /** untimed passes before the timed ones, on the same state: the first
    * pass after a set-up runs cold, up to 1.9x slower than later ones */
  private val warmupPasses = 1

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def session(work: Path, cores: Int): SparkSession = {
    graft.sources.FastLocalFileSystem.install()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.graft.checkpoint.dir", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** VmHWM of this process in MB (peak resident set). */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val input = Paths.get(arg(args, "input"))
    val out = Paths.get(arg(args, "out"))
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    Files.createDirectories(out)
    val work = out.resolve("work")
    Files.createDirectories(work)

    // JVM start on the nanoTime clock (the runtime reports it in epoch ms)
    val procStart = System.nanoTime() - (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val spark = session(work, cores)
    val tracer = new Tracer(trace)
    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, tracer, work)
    val w: Workload = workload match {
      case "ingest" => new Ingest(ctx, input)
      case "dedup" => new DedupStages(ctx, input, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupStart = System.nanoTime()
    w.setup("pb")
    // warm-up: class loading, code generation, JIT and the new state's
    // caches land here, not in timed ops
    val warmStart = System.nanoTime()
    (0 until warmupPasses).foreach(p => w.pass(p).foreach(_.body()))
    val warmEnd = System.nanoTime()

    // timed window: whole passes, closed loop, one client, until `seconds`
    // have passed and at least two passes ran; a traced run alternates
    // traced and untraced passes, so the tracing overhead is measured on the
    // same state and input
    val recs = mutable.ArrayBuffer[OpRec]()
    val passes = mutable.ArrayBuffer[(Boolean, Double, Int)]() // (traced, s, ops)
    val windowStart = System.nanoTime()
    val deadline = windowStart + (seconds * 1e9).toLong
    val whStart = w.warehouse.map(Listing.of)
    var p = warmupPasses
    var opId = 0
    while (p < warmupPasses + 2 || System.nanoTime() < deadline) {
      val traced = trace && (p - warmupPasses) % 2 == 0
      val ps = System.nanoTime()
      val ops = w.pass(p)
      ops.foreach { op =>
        val info = new OpInfo
        ctx.info = info
        ctx.opId = opId
        val writes = traced && op.kind != "read"
        val before = if (writes) w.warehouse.map(Listing.of) else None
        if (traced) spark.sparkContext.setJobGroup(s"pb-$opId", op.name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        if (traced) tracer.beginOp(opId, op.name, t0)
        val ok = try op.body() catch {
          case e: Exception =>
            System.err.println(s"perfbench: op ${op.name} failed: $e")
            false
        }
        val t1 = System.nanoTime()
        if (traced) tracer.endOp(t1)
        if (op.kind != "read") ctx.forgetLive()
        if (traced) {
          spark.sparkContext.clearJobGroup()
          info.scannedTables.foreach(t => info.counts("files_live") += ctx.liveFiles(t))
        }
        for (b <- before; wh <- w.warehouse) {
          val wr = Listing.written(b, Listing.of(wh))
          val (data, meta) = wr.partition(kv => Listing.isData(kv._1))
          info.counts("files_added") = data.size
          info.counts("data_bytes") = Listing.bytes(data)
          info.counts("meta_bytes") = Listing.bytes(meta)
          info.counts("tables") = wr.keys.map(Listing.tableOf).toSet.size
        }
        recs += OpRec(opId, p, op.kind, op.name, t0, t1, traced, ok, info)
        opId += 1
      }
      passes += ((traced, (System.nanoTime() - ps) / 1e9, ops.size))
      p += 1
    }
    val whEnd = w.warehouse.map(Listing.of)
    val checkStart = System.nanoTime()
    // set-up: process start to the first timed op, without the warm-up
    val setupS = ((warmStart - procStart) + (windowStart - warmEnd)) / 1e9
    System.err.println(f"perfbench: JVM and session ${(setupStart - procStart) / 1e9}%.2f s, " +
      f"set-up ${(warmStart - setupStart) / 1e9}%.2f s, warm-up ${(warmEnd - warmStart) / 1e9}%.2f s, " +
      f"window ${(checkStart - windowStart) / 1e9}%.2f s; " +
      s"passes ${passes.map(p => f"${p._2}%.2f").mkString(" ")}")
    recs.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      System.err.println(f"perfbench: op $n%-28s n=${rs.size}%3d median ${Stats.median(rs.map(_.ms).toSeq)}%8.1f ms " +
        rs.map(r => f"${r.ms}%.0f").mkString(" "))
    }
    if (trace) listener.drain()

    val (badIds, msgs) = w.check(recs.toSeq)
    val failedIds = recs.filterNot(_.ok).map(_.id).toSet ++ badIds
    val metrics = mutable.LinkedHashMap[String, Double]()
    val plain = recs.filterNot(_.traced)
    val plainPasses = passes.filterNot(_._1)
    def rate(ps: Iterable[(Boolean, Double, Int)]) = ps.map(_._3).sum / ps.map(_._2).sum
    val reads = plain.filter(_.kind == "read").map(_.ms).toSeq

    if (!trace) {
      metrics("setup_s") = setupS
      metrics("ops_per_s") = rate(plainPasses)
      metrics("read_p50_ms") = Stats.quantile(reads, 0.5)
      metrics("read_p90_ms") = Stats.quantile(reads, 0.9)
      metrics("pass_s") = Stats.median(plainPasses.map(_._2).toSeq)
      metrics("peak_rss_mb") = peakRssMb()
    } else {
      metrics ++= Layers.metrics(recs.toSeq, tracer, listener, cores)
      metrics("trace.ops_per_s") = rate(passes.filter(_._1))
      metrics("trace.overhead_ops_per_s") = metrics("trace.ops_per_s") - rate(plainPasses)
      metrics ++= w.extraMetrics(recs.toSeq, whStart.getOrElse(Map.empty), whEnd.getOrElse(Map.empty))
      SpanLog.dump(Layers.allSpans.toSeq, out.resolve("spans.jsonl"))
      System.err.println(f"perfbench: trace: job and planner time outside its op, cut at the op's " +
        f"bounds: ${Layers.clampedMs.sum}%.3f ms over ${Layers.clampedMs.size} ops, " +
        f"at most ${(Layers.clampedMs :+ 0.0).max}%.3f ms in one op")
      listener.dump(out.resolve("jobs.jsonl"))
    }
    System.err.println(f"perfbench: checks ${(System.nanoTime() - checkStart) / 1e9}%.2f s")
    val json = new StringBuilder
    json ++= "{\"correct\": " + (failedIds.isEmpty && msgs.isEmpty)
    json ++= s""", "attempted": ${recs.size}, "failed": ${failedIds.size}, "metrics": {"""
    json ++= metrics.map { case (k, v) => s""""$k": ${jnum(v)}""" }.mkString(", ")
    json ++= "}, \"messages\": ["
    json ++= msgs.map(m => "\"" + m.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString(", ")
    json ++= "]}"
    Files.write(out.resolve("result.json"), json.toString.getBytes("UTF-8"))
    spark.stop()
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
