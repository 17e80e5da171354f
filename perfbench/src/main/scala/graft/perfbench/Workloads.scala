package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Engine3
import graft.sources.{GraftTable, Snapshots}

object Rows {
  /** Order-independent, exact rendering of a result. */
  def canon(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).toSeq.sorted

  def tsv(p: Path): Vector[Array[String]] =
    Files.readAllLines(p).asScala.toVector.filter(_.nonEmpty).map(_.split("\t", -1))
}

/** One step loop over a row-keyed merge-on-read table and the full-text
  * index maintained from its change feed, in its own namespace. A pass is
  * one cycle of the schedule: its writes and reads, a fold of their change
  * feed, then OPTIMIZE plus the index's debt-triggered compaction. */
final class Ingest(ctx: Ctx, input: Path) extends Workload {
  private val spark = ctx.spark
  private val steps = Rows.tsv(input.resolve("steps.tsv"))
  /** schedule split into cycles, each ending at its `compact` step */
  private val cycles: Vector[Vector[Array[String]]] = {
    val out = mutable.ArrayBuffer[Vector[Array[String]]]()
    val cur = mutable.ArrayBuffer[Array[String]]()
    var i = 0
    while (i < steps.size) {
      val s = steps(i)
      if (s(0) == "insert") {
        val n = s(1).toInt
        cur += (s +: steps.slice(i + 1, i + 1 + n)).flatMap(_.toSeq).toArray
        i += n + 1
      } else {
        cur += s
        i += 1
        if (s(0) == "compact") { out += cur.toVector; cur.clear() }
      }
    }
    out.toVector
  }
  private val schema = StructType(Seq(StructField("row_key", StringType),
    StructField("doc_id", LongType), StructField("text", StringType)))

  private var ns = ""
  private var wh: Option[Path] = None
  private var tbl: GraftTable = _
  /** the benchmark's own model of the table: row_key -> (doc_id, text) */
  private val model = mutable.HashMap[String, (Long, String)]()
  /** rows the client sent (inserts and update post-images), for write_amp */
  private val clientRows = mutable.ArrayBuffer[Row]()
  private val servedTerms = mutable.LinkedHashSet[Seq[String]]()
  /** acknowledgement time of the oldest write not yet folded into the index */
  private var pendingSince: Option[Long] = None
  /** (fold end, freshness ms) per fold */
  private val freshness = mutable.ArrayBuffer[(Long, Double)]()

  def warehouse: Option[Path] = wh
  private def src = s"$ns.fts2_src"

  def setup(cat: String): Unit = {
    val (c, dir) = ctx.catalog(cat)
    wh = Some(dir)
    ns = s"$c.ing"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    Engine3.fts2Create(spark, ns, withRowKey = true)
    spark.sql(s"DROP TABLE $src")
    spark.sql(s"""CREATE TABLE $src (row_key STRING, doc_id BIGINT, text STRING)
      TBLPROPERTIES ('${graft.sources.GraftDeletes.ModeProp}' = 'merge-on-read')""")
    val seed = spark.read.parquet(input.resolve("seed.parquet").toString)
    seed.writeTo(src).append()
    val v1 = Engine3.fts2SrcVersion(spark, ns)
    Engine3.fts2Fold(spark, ns, spark.read.option("since-version", 0L)
      .option("snapshot-version", v1).table(src).select(col("doc_id"), col("text")), v1)
    val cat2 = spark.sessionState.catalogManager.catalog(c)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    tbl = cat2.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("ing"), "fts2_src")).asInstanceOf[GraftTable]
    model.clear()
    clientRows.clear()
    seed.collect().foreach(r => model(r.getString(0)) = (r.getLong(1), r.getString(2)))
    servedTerms.clear()
    pendingSince = None
    freshness.clear()
  }

  private def serve(terms: Seq[String]): DataFrame =
    Engine3.fts2Bm25(spark, ns, terms).orderBy(desc("score_micro"), col("doc_id")).limit(20)

  private def acked(): Unit = if (pendingSince.isEmpty) pendingSince = Some(System.nanoTime())

  private def inList(keys: Seq[String]) = keys.map(k => s"'$k'").mkString(", ")

  private def fold(): Unit = {
    val wm = graft.streaming.IndexMaintain.watermark(spark, s"$ns.fts2_meta")
    val head = Engine3.fts2SrcVersion(spark, ns)
    if (head > wm) {
      val feed = Snapshots.changes(spark, tbl, since = wm, end = Some(head), hydrateMor = true)
      Engine3.fts2FoldFeed(spark, ns, src, feed, wm, head, expect = Some(wm))
    }
  }

  private def op(s: Array[String]): Op = s(0) match {
    case "insert" =>
      val n = s(1).toInt
      val rows = (0 until n).map { j =>
        Row(s(2 + 3 * j), s(3 + 3 * j).toLong, s(4 + 3 * j))
      }
      Op("write", "insert", () => {
        ctx.tracer.span("write", "commit") {
          spark.createDataFrame(rows.asJava, schema).writeTo(src).append()
        }
        acked()
        rows.foreach(r => model(r.getString(0)) = (r.getLong(1), r.getString(2)))
        clientRows ++= rows
        true
      })
    case "delete" =>
      val keys = s(1).split(",").toSeq
      Op("write", "delete", () => {
        ctx.sqlWrite(s"DELETE FROM $src WHERE row_key IN (${inList(keys)})")
        acked()
        keys.foreach(model.remove)
        true
      })
    case "update" =>
      val word = s(1)
      val keys = s(2).split(",").toSeq
      Op("write", "update", () => {
        ctx.sqlWrite(s"UPDATE $src SET text = concat(text, ' $word') WHERE row_key IN (${inList(keys)})")
        acked()
        keys.foreach { k =>
          val (d, t) = model(k)
          model(k) = (d, s"$t $word")
          clientRows += Row(k, d, s"$t $word")
        }
        true
      })
    case "point" =>
      val key = s(1)
      Op("read", "point", () => {
        val got = ctx.read(spark.sql(s"SELECT row_key, doc_id, text FROM $src WHERE row_key = '$key'"))
        model.get(key).exists { case (d, t) => got.length == 1 && got(0) == Row(key, d, t) }
      })
    case "serve" =>
      val terms = s(1).split(",").toSeq
      Op("read", "serve", () => {
        servedTerms += terms
        ctx.read(serve(terms)).nonEmpty
      })
    case "fold" =>
      Op("fold", "fold", () => {
        ctx.tracer.span("fold", "fold", tail = Some(("txn", "txn")))(fold())
        val now = System.nanoTime()
        pendingSince.foreach(t => freshness += ((now, (now - t) / 1e6)))
        pendingSince = None
        true
      })
    case "compact" =>
      Op("compact", "compact", () => {
        ctx.sqlWrite(s"OPTIMIZE $src", layer = "compact")
        ctx.tracer.span("index.compact", "compact")(Engine3.fts2CompactIfDebt(spark, ns))
        true
      })
  }

  def pass(i: Int): Seq[Op] = cycles(i % cycles.size).map(op)

  /** The table must equal the key model, and BM25 served from the
    * maintained index must equal BM25 from an index folded from scratch
    * over the final corpus. */
  def check(recs: Seq[OpRec]): (Set[Int], Seq[String]) = {
    // every pass ends with a fold and a compaction, which changes no rows:
    // the index is current with the table here
    val msgs = mutable.ArrayBuffer[String]()
    val table = spark.table(src).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    if (table != model.toMap)
      msgs += s"ingest: table (${table.size} rows) differs from the key model (${model.size} rows)"
    val fresh = s"${ns.split('.')(0)}.ingcheck"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $fresh")
    Engine3.fts2Create(spark, fresh)
    spark.table(src).select(col("doc_id"), col("text")).writeTo(s"$fresh.fts2_src").append()
    val v = Engine3.fts2SrcVersion(spark, fresh)
    Engine3.fts2Fold(spark, fresh, spark.table(s"$fresh.fts2_src"), v)
    (servedTerms.toSeq.take(1) :+ Seq("scan", "join", "hash")).foreach { terms =>
      val a = Rows.canon(serve(terms).collect())
      val b = Rows.canon(Engine3.fts2Bm25(spark, fresh, terms)
        .orderBy(desc("score_micro"), col("doc_id")).limit(20).collect())
      if (a != b) msgs += s"ingest: BM25 for ${terms.mkString(",")} differs from a fresh fold"
    }
    (Set.empty, msgs.toSeq)
  }

  /** Write and fold latencies from the untraced passes. write_amp: bytes
    * written under the warehouse during the window over the client's rows
    * written once as plain parquet; space_amp: warehouse bytes at the end
    * over a compact parquet copy of the live tables. */
  override def extraMetrics(recs: Seq[OpRec], start: Listing.Snap,
      end: Listing.Snap): Map[String, Double] = {
    val plain = recs.filterNot(_.traced)
    val writes = plain.filter(_.kind == "write").map(_.ms)
    val plainFolds = plain.filter(_.kind == "fold").map(_.t1)
    val fr = freshness.filter { case (t, _) => plainFolds.exists(e => math.abs(e - t) < 1000000L) }
    def parquetBytes(df: DataFrame, name: String): Long = {
      val p = ctx.work.resolve(s"amp-$name")
      df.coalesce(1).write.mode("overwrite").parquet(p.toString)
      Listing.bytes(Listing.of(p).filter(_._1.endsWith(".parquet")))
    }
    val client = parquetBytes(spark.createDataFrame(clientRows.asJava, schema), "client")
    val written = Listing.bytes(Listing.written(start, end))
    val live = Seq("fts2_src", "fts2_post", "fts2_pos", "fts2_del", "fts2_glob", "fts2_meta")
      .map(t => parquetBytes(spark.table(s"$ns.$t"), t)).sum
    val whBytes = Listing.bytes(end.filter(_._1.startsWith("ing/")))
    Map("write_p50_ms" -> Stats.quantile(writes, 0.5),
      "write_p90_ms" -> Stats.quantile(writes, 0.9),
      "fold_p50_ms" -> Stats.median(fr.map(_._2).toSeq),
      "write_amp" -> (if (client == 0) 0.0 else written.toDouble / client),
      "space_amp" -> (if (live == 0) 0.0 else whBytes.toDouble / live))
  }
}

/** The near-duplicate pipeline: the q51, q104, q111 and q123 operators from
  * `SparkEntry.allDefs`, each an op, over the generated documents.parquet.
  * A pass runs the four stages once. The first pass's outputs are written
  * out for the DuckDB oracle check; every later pass must reproduce them. */
final class DedupStages(ctx: Ctx, input: Path, out: Path) extends Workload {
  private val spark = ctx.spark
  private val defs = DedupStages.queries.map(n =>
    graft.SparkEntry.allDefs.find(_.name == n).getOrElse(
      throw new IllegalStateException(s"no query $n")))
  private var dir: Path = _
  private val first = mutable.HashMap[String, (Array[Row], StructType)]()

  def warehouse: Option[Path] = None

  /** Stage the generated sample into a fresh corpus directory through
    * Spark, as a pipeline lands its input before the dedup stages run. */
  def setup(cat: String): Unit = {
    dir = ctx.work.resolve(s"docs-$cat")
    spark.read.parquet(input.resolve("documents.parquet").toString)
      .write.parquet(dir.resolve("documents.parquet").toString)
    first.clear()
  }

  def pass(i: Int): Seq[Op] = defs.map { d =>
    Op("read", d.name, () => {
      // the stage's own driver work (q111 iterates jobs while building its
      // frame) is dedup time; planning and the final fetch go through read
      val (rows, schema) = ctx.tracer.span("stage", "dedup") {
        val df = d.run(spark, dir.toString)
        (ctx.read(df), df.schema)
      }
      first.get(d.name) match {
        case None => first(d.name) = (rows, schema); true
        case Some((r0, _)) => Rows.canon(r0) == Rows.canon(rows)
      }
    })
  }

  /** Writes each stage's first result and its oracle SQL under `out`; the
    * DuckDB comparison runs outside the JVM. */
  def check(recs: Seq[OpRec]): (Set[Int], Seq[String]) = {
    val sb = new StringBuilder("{")
    defs.zipWithIndex.foreach { case (d, i) =>
      val (rows, schema) = first(d.name)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve("dedup").resolve(d.name).toString)
      val q = d.oracle.get.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      sb ++= (if (i > 0) ", " else "") + "\"" + d.name + "\": \"" + q + "\""
    }
    sb ++= "}"
    Files.write(out.resolve("oracle.json"), sb.toString.getBytes("UTF-8"))
    (Set.empty, Nil)
  }
}

object DedupStages {
  val queries = Seq("q51_substring_dups", "q104_lsh_eval",
    "q111_dup_clusters_bigstar", "q123_tfidf_cosine_join")
}
