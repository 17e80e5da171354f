package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution

/** One timed interval of an op. `layer` is what its self time is charged
  * to; `depth` orders nesting (the op's root span is depth 0). Times are
  * nanoseconds on the `System.nanoTime` clock. */
final case class Span(op: Int, name: String, layer: String, start: Long,
    end: Long, depth: Int, parent: Int)

/** Counters of the Spark jobs one op ran, gathered by [[JobListener]]. */
final class JobStats {
  var jobs = 0
  var tasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var exchanges = 0
  /** (start, end) of each job, epoch milliseconds. */
  val intervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** A SparkListener that sorts jobs, tasks and stages by the job group the
  * benchmark set for the op that caused them (`pb-<op id>`). Only the
  * public listener events are read. */
final class JobListener extends SparkListener {
  private val byOp = mutable.HashMap[Int, JobStats]()
  private val stageOp = mutable.HashMap[Int, Int]()
  private val jobOp = mutable.HashMap[Int, (Int, Long)]()
  private var started = 0
  private var ended = 0
  /** every job, for jobs.jsonl: id, op (-1 outside a traced op), start,
    * end, stages, call site of its last stage, result */
  private val log = mutable.LinkedHashMap[Int, mutable.LinkedHashMap[String, String]]()

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.stripPrefix("pb-").toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    opOf(e.properties).foreach { op =>
      byOp.getOrElseUpdate(op, new JobStats).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
      jobOp(e.jobId) = (op, e.time)
    }
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    log(e.jobId) = mutable.LinkedHashMap("job" -> e.jobId.toString,
      "op" -> opOf(e.properties).getOrElse(-1).toString,
      "start_ms" -> e.time.toString, "stages" -> e.stageIds.size.toString,
      "site" -> ("\"" + site.replace("\"", "'") + "\""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    jobOp.remove(e.jobId).foreach { case (op, t0) =>
      byOp(op).intervals += ((t0, e.time))
    }
    log.get(e.jobId).foreach { j =>
      j("end_ms") = e.time.toString
      j("result") = "\"" + e.jobResult.toString.replace("\"", "'").replace("\n", " ") + "\""
    }
  }

  /** An exchange is a completed stage that wrote shuffle output. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach { op =>
      val w = Option(e.stageInfo.taskMetrics).map(_.shuffleWriteMetrics)
      if (w.exists(m => m.recordsWritten > 0 || m.bytesWritten > 0)) byOp(op).exchanges += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val s = byOp(op)
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.busyMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def stats(op: Int): JobStats = synchronized(byOp.getOrElse(op, new JobStats))

  /** One JSON object per job of the run. */
  def dump(path: Path): Unit = synchronized {
    val lines = log.values.map(_.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Wait until every job the listener saw start has ended: events are
    * delivered asynchronously, and all of an op's events are posted before
    * its action returns. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      if (synchronized(started == ended)) stable += 1 else stable = 0
    }
  }
}

/** Files under a directory: relative path -> (size, mtime). Used around
  * traced ops to see what a commit wrote, from the file system alone. */
object Listing {
  type Snap = Map[String, (Long, Long)]

  def of(root: Path): Snap =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString ->
          ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }.toMap
      finally st.close()
    }

  /** Files added or rewritten between two snapshots. */
  def written(before: Snap, after: Snap): Snap =
    after.filter { case (k, v) => !before.get(k).contains(v) }

  def isData(rel: String): Boolean = rel.endsWith(".parquet")

  /** `<namespace>/<table>` of a warehouse-relative path. */
  def tableOf(rel: String): String = rel.split('/').take(2).mkString("/")

  def bytes(s: Snap): Long = s.valuesIterator.map(_._1).sum
}

/** Span recorder for one run. Outside a traced op every method is a plain
  * call of its body: untraced ops do no tracing work at all. Spans live in
  * memory until [[SpanLog.dump]] at the end of the run. */
final class Tracer(val enabled: Boolean) {
  /** op -> (nanoTime - epoch ns) taken when the op began: maps the op's job
    * and planner timestamps (epoch ms) onto the benchmark's clock, to within
    * a millisecond, without drift between the two clocks over a run */
  private val nanoOffset = mutable.HashMap[Int, Long]()
  def msToNano(op: Int, ms: Long): Long = ms * 1000000L + nanoOffset(op)

  val spans = mutable.ArrayBuffer[Span]()
  /** span index -> (name, layer) of the derived span that covers the time
    * from the span's last Spark job to its end (see [[span]]) */
  val tails = mutable.HashMap[Int, (String, String)]()
  private val stack = mutable.Stack[Int]()
  private var curOp = -1
  private var active = false

  def isActive: Boolean = active

  /** Open op `op`'s root span at `t0`, the op's own start stamp, so the
    * root span is exactly the op's wall time. */
  def beginOp(op: Int, name: String, t0: Long): Unit = if (enabled) {
    curOp = op
    active = true
    nanoOffset(op) = System.nanoTime() - System.currentTimeMillis() * 1000000L
    spans += Span(op, name, "driver", t0, 0L, 0, -1)
    stack.push(spans.size - 1)
  }

  /** Close the op's root span at `t1`, the op's own end stamp. */
  def endOp(t1: Long): Unit = if (enabled && active) {
    val i = stack.pop()
    spans(i) = spans(i).copy(end = t1)
    stack.clear()
    active = false
  }

  /** Time `body` as a span of `layer`, nested under the current span.
    * With `tail`, the stretch from the span's last Spark job to its end
    * becomes a child span of that (name, layer): the driver-side work a
    * call does once its data is written, such as a transaction's commit. */
  def span[T](name: String, layer: String, tail: Option[(String, String)] = None)(
      body: => T): T =
    if (!enabled || !active) body
    else {
      val parent = stack.top
      spans += Span(curOp, name, layer, System.nanoTime(), 0L, stack.size, parent)
      val i = spans.size - 1
      tail.foreach(tails(i) = _)
      stack.push(i)
      try body
      finally {
        stack.pop()
        spans(i) = spans(i).copy(end = System.nanoTime())
      }
    }

  /** Catalyst phase spans (parsing, analysis, optimization, planning) from
    * the query's own planning tracker, under the current span. */
  def phases(qe: QueryExecution): Unit = if (enabled && active) {
    val parent = stack.top
    qe.tracker.phases.foreach { case (phase, s) =>
      spans += Span(curOp, s"catalyst.$phase", "catalyst",
        msToNano(curOp, s.startTimeMs), msToNano(curOp, s.endTimeMs), stack.size, parent)
    }
  }
}

object SpanLog {
  /** One JSON object per span. */
  def dump(spans: Seq[Span], path: Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"op":${s.op},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"depth":${s.depth},"parent":${s.parent}}""" + "\n"
    }
    Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object SelfTime {

  /** Attribute every instant of an op's wall time (its root span) to
    * exactly one span: the deepest span active then (ties: the one that
    * started first). Returns layer -> self nanoseconds, with the root span's
    * own time under "driver", so the values sum to the op's wall time by
    * construction; and the nanoseconds of child spans that lay outside the
    * op and were cut away. Only spans stamped in milliseconds (jobs,
    * planner phases) can lie outside: by stamp rounding, or by a job whose
    * end the scheduler stamps after the action has returned. */
  def attribute(spans: Seq[Span]): (Map[String, Long], Long) = {
    val root = spans.find(_.depth == 0).get
    val cs = spans.map(s => s.copy(start = s.start.max(root.start).min(root.end),
      end = s.end.max(root.start).min(root.end))).filter(s => s.end > s.start || s.depth == 0)
    val cut = spans.filter(_.depth > 0).map(s => (s.end - s.start).max(0L)).sum -
      cs.filter(_.depth > 0).map(s => s.end - s.start).sum
    val cuts = cs.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = mutable.HashMap[String, Long]().withDefaultValue(0L)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val owner = cs.filter(s => s.start <= a && s.end >= b)
          .maxBy(s => (s.depth, -s.start))
        out(owner.layer) += b - a
      case _ =>
    }
    (out.toMap, cut)
  }
}
