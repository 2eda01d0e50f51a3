package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.sources.ParquetUpsertSink
import graft.streaming.CorpusIngest

/** The reference's cron job, round after round, against persisted
  * tables: upsert an orders batch (new keys, keys re-sent with a newer
  * version, and stale re-sends that must lose), purge failed keys into a
  * blocklist, read an aggregate of the table, ingest a micro-batch of
  * documents with near-dup admission, and read the corpus table.
  *
  * Set-up generates every round's batches from the seed and writes them
  * as parquet, which is all the program receives. Each pass restores the
  * initial tables first, so every pass runs the same rounds on the same
  * state. The check pass compares each operation with a reference model
  * computed here from the batches.
  */
final class IncrementalLoad extends Workload {
  val name = "incremental_load"
  override val shuffled = false

  private val Rounds = 2
  private val NewKeys = 60
  private val Updated = 60
  private val Stale = 10
  private val Failed = 15
  private val FreshDocs = 16
  private val VerbatimDocs = 8
  private val NearDocs = 8

  private var base = ""
  private def live(t: String) = s"$base/live/$t"
  private def batch(k: Int, t: String) = s"$base/batches/$t/r=$k"

  // reference model, per round
  private val expUpsert = mutable.ArrayBuffer.empty[(Long, Long)]
  private val expPurged = mutable.ArrayBuffer.empty[Long]
  private val expAgg = mutable.ArrayBuffer.empty[Map[String, (Long, Double)]]
  private val freshIds = mutable.ArrayBuffer.empty[Set[Long]]
  private val verbatimIds = mutable.ArrayBuffer.empty[Set[Long]]
  private var batchBytes = 0L
  private var writtenBytes = 0L
  private var nearAdmitted = 0L

  // the cron job ends by rebuilding the training corpus from the
  // ingested documents
  val ops: Seq[Op] = (0 until Rounds).flatMap(k => Seq(
    new UpsertOp(k), new BlocklistOp(k), new ReadOrdersOp(k),
    new IngestOp(k), new ReadCorpusOp(k))) :+ new PipelineOp(c =>
      ParquetUpsertSink.read(c.spark, live("corpus"))
        .select(col("doc_id"), col("text"), lit("und").as("lang"),
          lit("ingest").as("source")), pinned = false)

  private val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  override def prepare(c: Ctx, seed: Long): Unit = {
    val spark = c.spark
    base = s"${c.work}/incremental"
    IncrementalLoad.deleteTree(Paths.get(base))
    Seq(expUpsert, expPurged, expAgg, freshIds, verbatimIds).foreach(_.clear())
    nearAdmitted = 0L
    val rng = new Random(seed)

    val orders = Tables.orders(spark, c.fixture)
      .select(orderCols.map(col): _*)
      .withColumn("version", lit(0L))
    // initial snapshots in the sink's layout (<table>/data)
    orders.write.parquet(s"$base/init/orders/data")
    val docs = Tables.documents(spark, c.fixture)
      .filter(col("text").isNotNull).select("doc_id", "text")
    docs.write.parquet(s"$base/init/corpus/data")

    // model state: key -> (status, price); template rows for new keys
    val rows = orders.collect()
    val state = mutable.LinkedHashMap.empty[Long, (String, Double)]
    rows.foreach(r => state(r.getLong(0)) = (r.getString(2), r.getDouble(3)))
    var nextKey = state.keys.max + 1
    val docTexts = docs.collect().map(r => r.getString(1))
      .filter(_.split("\\s+").length >= 20)
    val statuses = Seq("O", "F", "P")
    val upRows = mutable.ArrayBuffer.empty[Row]
    val failedRows = mutable.ArrayBuffer.empty[Row]
    val docRows = mutable.ArrayBuffer.empty[(Int, Long, String)]

    for (k <- 0 until Rounds) {
      def row(key: Long, version: Long): Row = {
        val t = rows(rng.nextInt(rows.length))
        Row(key, t.get(1), statuses(rng.nextInt(3)),
          math.round(rng.nextDouble() * 1e7) / 100.0, t.get(4), t.get(5),
          version)
      }
      val keys = state.keys.toIndexedSeq
      val picked = rng.shuffle(keys).take(Updated + Stale)
      val fresh = (0 until NewKeys).map { _ => nextKey += 1; row(nextKey, k + 1L) }
      val updated = picked.take(Updated).map(row(_, k + 1L))
      val stale = picked.drop(Updated).map(row(_, -1L))
      upRows ++= rng.shuffle(fresh ++ updated ++ stale)
        .map(r => Row.fromSeq(r.toSeq :+ k))
      (fresh ++ updated).foreach(r =>
        state(r.getLong(0)) = (r.getString(2), r.getDouble(3)))
      expUpsert += ((NewKeys.toLong, Updated.toLong))

      val failed = rng.shuffle(state.keys.toIndexedSeq).take(Failed)
      failedRows ++= failed.map(Row(_, k))
      failed.foreach(state.remove)
      expPurged += Failed.toLong
      expAgg += state.values.groupBy(_._1).map { case (s, v) =>
        s -> (v.size.toLong, v.map(_._2).sum) }

      // documents: fresh vocabulary (always admitted), verbatim re-sends
      // of corpus docs under new ids (always rejected) and copies with
      // one word in eight mutated (admitted or not by similarity)
      val src = rng.shuffle(docTexts.toIndexedSeq).take(VerbatimDocs + NearDocs)
      val freshD = (0 until FreshDocs).map { i =>
        (10000000L + k * 1000L + i,
          (0 until 24).map(j => s"s${seed}r${k}d${i}w$j").mkString(" "))
      }
      val verb = src.take(VerbatimDocs).zipWithIndex.map { case (t, i) =>
        (20000000L + k * 1000L + i, t) }
      val near = src.drop(VerbatimDocs).zipWithIndex.map { case (t, i) =>
        val ws = t.split("\\s+").zipWithIndex.map { case (w, j) =>
          if (j % 8 == (i % 8)) w.reverse + "x" else w }
        (30000000L + k * 1000L + i, ws.mkString(" "))
      }
      docRows ++= rng.shuffle(freshD ++ verb ++ near).map(d => (k, d._1, d._2))
      freshIds += freshD.map(_._1).toSet
      verbatimIds += verb.map(_._1).toSet
    }
    // one write per batch kind, one directory (and file) per round
    def write(df: org.apache.spark.sql.DataFrame, t: String): Unit =
      df.repartition(col("r")).write.partitionBy("r")
        .parquet(s"$base/batches/$t")
    write(spark.createDataFrame(upRows.asJava,
      orders.schema.add("r", IntegerType)), "upsert")
    write(spark.createDataFrame(failedRows.asJava, StructType(Seq(
      StructField("o_orderkey", LongType), StructField("r", IntegerType)))),
      "failed")
    write(spark.createDataFrame(docRows.toSeq).toDF("r", "doc_id", "text"),
      "docs")
    batchBytes = IncrementalLoad.bytesUnder(Paths.get(s"$base/batches"))
  }

  override def beforePass(c: Ctx): Unit = {
    IncrementalLoad.deleteTree(Paths.get(s"$base/live"))
    IncrementalLoad.copyTree(Paths.get(s"$base/init"), Paths.get(s"$base/live"))
  }

  override def inputMix: Map[String, Any] = {
    val upRows = NewKeys + Updated + Stale
    val docRows = FreshDocs + VerbatimDocs + NearDocs
    Map("rounds" -> Rounds,
      "orders_rows_per_round" -> upRows,
      "new_share" -> NewKeys.toDouble / upRows,
      "updated_share" -> Updated.toDouble / upRows,
      "stale_share" -> Stale.toDouble / upRows,
      "purged_keys_per_round" -> Failed,
      "docs_per_round" -> docRows,
      "fresh_doc_share" -> FreshDocs.toDouble / docRows,
      "verbatim_dup_share" -> VerbatimDocs.toDouble / docRows,
      "near_dup_share" -> NearDocs.toDouble / docRows,
      "near_dup_admitted" -> nearAdmitted,
      "batch_bytes" -> batchBytes)
  }

  /** write_amp from the check pass: bytes of the snapshots the sink
    * calls wrote per byte of generated batch data.
    */
  override def extraMetrics: Map[String, Double] =
    if (batchBytes == 0L) Map.empty
    else Map("write_amp" -> writtenBytes.toDouble / batchBytes)

  private def rowCount(spark: SparkSession, t: String): Long =
    graft.sources.TableStatistics.parquetRowCount(spark, s"${live(t)}/data")

  private def bytesOf(tables: Seq[String]): Long = tables.map(t =>
    IncrementalLoad.bytesUnder(Paths.get(s"${live(t)}/data"))).sum

  /** Bytes of the snapshots a sink call just wrote, counted into write_amp
    * in the check pass; in a traced pass also their bytes, rows and files
    * on the call's span. Timed untraced passes skip both.
    */
  private def recordWrite(c: Ctx, check: Boolean, span: Option[Span],
      tables: Seq[String], changed: Long): Unit = {
    if (check) writtenBytes += bytesOf(tables)
    span.foreach { s =>
      s.attrs("bytes_written") = bytesOf(tables)
      s.attrs("rows_written") = tables.map(rowCount(c.spark, _)).sum
      s.attrs("rows_changed") = changed
      s.attrs("table_files") = IncrementalLoad.filesUnder(
        Paths.get(s"${live("orders")}/data"))
    }
  }

  private def mismatch(what: String, got: Any, exp: Any): Option[String] =
    if (got == exp) None else Some(s"$what: got $got, expected $exp")

  final class UpsertOp(k: Int) extends Op {
    val name = "upsert"
    private def exec(c: Ctx, check: Boolean) = {
      val (st, span) = c.tracer.spanned("sink.upsert")(
        ParquetUpsertSink.upsert(c.spark, live("orders"),
          c.spark.read.parquet(batch(k, "upsert")), Seq("o_orderkey"),
          "version"))
      recordWrite(c, check, span, Seq("orders"), st.inserted + st.updated)
      st
    }
    def run(c: Ctx): Unit = exec(c, check = false)
    def check(c: Ctx): Check = {
      val st = exec(c, check = true)
      Checked(mismatch(s"round $k upsert (inserted, updated)",
        (st.inserted, st.updated), expUpsert(k)))
    }
  }

  final class BlocklistOp(k: Int) extends Op {
    val name = "blocklist"
    private def exec(c: Ctx, check: Boolean) = {
      val (r, span) = c.tracer.spanned("sink.blocklist")(
        ParquetUpsertSink.blocklistFeedback(c.spark, live("orders"),
          live("blocklist"), c.spark.read.parquet(batch(k, "failed")),
          "o_orderkey"))
      recordWrite(c, check, span, Seq("orders", "blocklist"),
        r._1.deleted + r._2.inserted)
      r
    }
    def run(c: Ctx): Unit = exec(c, check = false)
    def check(c: Ctx): Check = {
      val (purged, appended) = exec(c, check = true)
      Checked(mismatch(s"round $k blocklist (purged, appended)",
        (purged.deleted, appended.inserted), (expPurged(k), expPurged(k))))
    }
  }

  final class ReadOrdersOp(k: Int) extends Op {
    val name = "read_orders"
    override val isRead = true
    private def exec(c: Ctx) = c.tracer.span("read")(
      ParquetUpsertSink.read(c.spark, live("orders"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)), sum("o_totalprice")).collect())
    def run(c: Ctx): Unit = exec(c)
    def check(c: Ctx): Check = {
      val got = exec(c).map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val exp = expAgg(k)
      val ok = got.keySet == exp.keySet && got.forall { case (s, (n, p)) =>
        n == exp(s)._1 && math.abs(p - exp(s)._2) <= 1e-6 * math.max(1.0, math.abs(p))
      }
      Checked(if (ok) None else Some(s"round $k aggregate: got $got, expected $exp"))
    }
  }

  final class IngestOp(k: Int) extends Op {
    val name = "ingest"
    private def exec(c: Ctx, check: Boolean): Unit = {
      val before = if (c.tracer.recording) rowCount(c.spark, "corpus") else 0L
      val (q, span) = c.tracer.spanned("ingest.batch") {
        val q = CorpusIngest.dedupedIngest(c.spark.readStream
          .schema("doc_id LONG, text STRING").parquet(batch(k, "docs")),
          live("corpus"))
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        q
      }
      span.foreach { s =>
        val ps = q.recentProgress
        def total(key: String) = ps.map(p =>
          Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1000.0
        s.attrs("streaming.batch_s") = total("triggerExecution")
        s.attrs("streaming.planning_s") = total("queryPlanning")
        s.attrs("streaming.admitted") = rowCount(c.spark, "corpus") - before
      }
      if (check) writtenBytes += bytesOf(Seq("corpus"))
    }
    def run(c: Ctx): Unit = exec(c, check = false)
    def check(c: Ctx): Check = {
      def ids() = ParquetUpsertSink.read(c.spark, live("corpus"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val before = ids()
      exec(c, check = true)
      val after = ids()
      val admitted = after -- before
      nearAdmitted += admitted.count(_ >= 30000000L)
      val problems = Seq(
        if (before.subsetOf(after)) None else Some("existing docs lost"),
        Some(freshIds(k) -- admitted).filter(_.nonEmpty)
          .map(m => s"fresh docs rejected: ${m.toSeq.sorted.mkString(",")}"),
        Some(verbatimIds(k).intersect(admitted)).filter(_.nonEmpty)
          .map(m => s"verbatim dups admitted: ${m.toSeq.sorted.mkString(",")}")
      ).flatten
      Checked(if (problems.isEmpty) None
        else Some(s"round $k ingest: ${problems.mkString("; ")}"))
    }
  }

  final class ReadCorpusOp(k: Int) extends Op {
    val name = "read_corpus"
    override val isRead = true
    private def exec(c: Ctx) = c.tracer.span("read")(
      ParquetUpsertSink.read(c.spark, live("corpus"))
        .agg(count(lit(1)), countDistinct("doc_id"), sum(length(col("text"))))
        .first())
    def run(c: Ctx): Unit = exec(c)
    def check(c: Ctx): Check = {
      val r = exec(c)
      Checked(mismatch(s"round $k corpus rows vs distinct keys",
        r.getLong(0), r.getLong(1)))
    }
  }
}

object IncrementalLoad {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  def deleteTree(p: Path): Unit =
    walk(p).reverse.foreach(Files.deleteIfExists)

  def copyTree(from: Path, to: Path): Unit =
    walk(from).foreach(f => Files.copy(f, to.resolve(from.relativize(f))))

  /** Bytes of the data files under `p` (checksum and marker files
    * excluded).
    */
  def bytesUnder(p: Path): Long = dataFiles(p).map(Files.size).sum

  def filesUnder(p: Path): Long = dataFiles(p).size.toLong

  private def dataFiles(p: Path): Seq[Path] = walk(p).filter { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
  }
}
