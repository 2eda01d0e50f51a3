package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.pipeline.CorpusPipeline

/** What an operation has to know about the run it is part of. */
final case class Ctx(spark: SparkSession, fixture: String, work: String,
    tracer: Tracer)

/** Outcome of an operation in the untimed check pass. */
sealed trait Check
/** A result digest, compared with the digest pinned under `key`. */
final case class Digested(key: String, digest: String) extends Check
/** A result checked inside the benchmark against a reference model. */
final case class Checked(problem: Option[String]) extends Check

/** One operation of a workload, issued by the closed-loop client. */
trait Op {
  def name: String
  /** Counted in read_p50_s. */
  def isRead: Boolean = false
  /** The timed call. */
  def run(c: Ctx): Unit
  /** The same call in the untimed check pass, with its result check. */
  def check(c: Ctx): Check
}

/** A `SparkEntry` query: the build (the `queries(name)` call, which
  * includes eager collects, checkpoints and footer probes) and the noop
  * write that executes the returned plan.
  */
final class QueryOp(val name: String) extends Op {
  private def build(c: Ctx): DataFrame =
    c.tracer.span("build")(SparkEntry.queries(name)(c.spark, c.fixture))

  def run(c: Ctx): Unit = {
    val df = build(c)
    c.tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
  }

  def check(c: Ctx): Check = Digested(name, Digest.of(build(c)))
}

/** One `CorpusPipeline.run` over `input(ctx)` = docs(doc_id, text, lang,
  * source). With `pinned` the report and corpus digests are compared with
  * the pinned ones; otherwise the run is checked for internal
  * consistency (stage counts only shrink, the written corpus holds
  * exactly the last stage's docs, each once, all from the input).
  */
final class PipelineOp(input: Ctx => DataFrame, pinned: Boolean) extends Op {
  val name = "corpus_pipeline"
  private val StepRe = """"step":"([^"]+)","millis":(\d+)""".r

  private def exec(c: Ctx): (DataFrame, CorpusPipeline.Result) = {
    val docs = input(c)
    val (r, span) = c.tracer.spanned("pipeline")(
      CorpusPipeline.run(c.spark, docs, s"${c.work}/pipeline"))
    span.foreach { s =>
      val log = scala.io.Source.fromFile(new java.net.URI(
        if (r.runLogPath.contains(":")) r.runLogPath
        else "file:" + r.runLogPath))
      try StepRe.findAllMatchIn(log.mkString).foreach(m =>
        s.attrs(s"pipeline.${m.group(1)}_s") = m.group(2).toLong / 1000.0)
      finally log.close()
    }
    (docs, r)
  }

  def run(c: Ctx): Unit = exec(c)

  def check(c: Ctx): Check = {
    val (docs, r) = exec(c)
    val corpus = c.spark.read.parquet(r.corpusDir)
      .select("doc_id", "text", "lang", "source", "split")
    if (pinned) Digested(name, Digest.of(r.report) + "|" + Digest.of(corpus))
    else {
      val stages = r.report.collect().map(x => (x.getString(0), x.getLong(1),
        x.getLong(2)))
      val inIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
      val outIds = corpus.select("doc_id").collect().map(_.getLong(0))
      val problems = Seq(
        Option.when(stages.isEmpty || stages.head._2 != inIds.size)(
          s"first stage read ${stages.headOption.map(_._2)} of ${inIds.size} docs"),
        Option.when(stages.exists(s => s._3 > s._2) ||
          stages.sliding(2).exists(p => p.size == 2 && p(1)._2 != p(0)._3))(
          s"stage counts inconsistent: ${stages.mkString(",")}"),
        Option.when(stages.nonEmpty && outIds.length != stages.last._3)(
          s"wrote ${outIds.length} docs, last stage kept ${stages.last._3}"),
        Option.when(outIds.distinct.length != outIds.length ||
          !outIds.forall(inIds))("written docs duplicated or not from the input")
      ).flatten
      Checked(if (problems.isEmpty) None
        else Some("pipeline: " + problems.mkString("; ")))
    }
  }
}

/** A workload: its operations (one pass), the session settings it runs
  * under, the inputs it generates in set-up and the state it resets
  * before each pass.
  */
trait Workload {
  def name: String
  def ops: Seq[Op]
  /** Whether passes issue the operations in a seeded random order. */
  def shuffled: Boolean = true
  def confs: Map[String, String] = Map.empty
  /** Generate this run's inputs (counted in setup_s). */
  def prepare(c: Ctx, seed: Long): Unit = ()
  /** Untimed reset of persisted state before every pass. */
  def beforePass(c: Ctx): Unit = ()
  /** Shares and counts describing the generated inputs. */
  def inputMix: Map[String, Any] = Map.empty
  /** Extra metrics measured by the workload's own operations. */
  def extraMetrics: Map[String, Double] = Map.empty
}

object Workloads {
  /** q01–q22: the reference ETL's analytics surface. */
  val Reference: Seq[String] = Seq(
    "q01_scan_project", "q02_filter", "q03_derived_flag", "q04_concat_key",
    "q05_ts_parse", "q06_season_assign", "q07_union_dedup",
    "q08_insert_new_only", "q09_semi_join", "q10_blocklist",
    "q11_inner_join", "q12_upsert_last_wins", "q13_purge_keys",
    "q14_distinct", "q15_json_flatten", "q16_array_guard", "q17_explode",
    "q18_cast_null", "q19_recent_topk", "q20_dim_join", "q21_win_rate",
    "q22_usage_rate")

  /** Queries whose path is chosen by a size gate; at their default gates
    * they run the driver kernels.
    */
  val Gated: Seq[String] = Seq(
    "q105_pagerank", "q126_label_prop", "q157_incr_cc", "q214_hits",
    "q266_als_rank1", "q83_outliers", "q153_theil_sen")

  /** Executor-heavy LLM-data queries (shingling, MinHash, SimHash,
    * embeddings, fuzzy matching).
    */
  val Corpus: Seq[String] = Seq(
    "q29_minhash_lsh", "q36_embed_neardup", "q51_simhash_neardup",
    "q96_setsim_join", "q108_containment", "q118_incr_index",
    "q121_ivfpq", "q136_winnow_repeats", "q170_cosine_allpairs",
    "q186_mutual_nn", "q187_knn_purity", "q91_fuzzy_join")

  /** Every driver-kernel gate `graft.FallbackSmoke` forces off. */
  val DriverGates: Seq[String] = Seq(
    "spark.graft.copurchase.driverMaxRows",
    "spark.graft.pagerank.driverMaxEdges",
    "spark.graft.ppr.driverMaxEdges",
    "spark.graft.kcore.driverMaxEdges",
    "spark.graft.bfs.driverMaxEdges",
    "spark.graft.sssp.driverMaxEdges",
    "spark.graft.lpa.driverMaxEdges",
    "spark.graft.hits.driverMaxEdges",
    "spark.graft.scan.driverMaxEdges",
    "spark.graft.triangles.driverMaxEdges",
    "spark.graft.copurchase.driverMaxEdges",
    "spark.graft.cc.driverMaxNodes",
    "spark.graft.ktruss.driverPeelMaxEdges",
    "spark.graft.als.driverMaxCells",
    "spark.graft.theilsen.driverMaxPoints",
    "spark.graft.outliers.driverMaxHist")

  private def queries(n: String, qs: Seq[String],
      gates: Map[String, String] = Map.empty): Workload = new Workload {
    val name = n
    val ops: Seq[Op] = qs.map(new QueryOp(_))
    override val confs = gates
  }

  def apply(name: String): Workload = name match {
    case "etl_driver" => queries(name, Reference ++ Gated)
    case "corpus_heavy" => new Workload {
      val name = "corpus_heavy"
      val ops: Seq[Op] = Corpus.map(new QueryOp(_)) :+ new PipelineOp(
        c => Tables.documents(c.spark, c.fixture), pinned = true)
    }
    case "past_gate" =>
      queries(name, Gated, DriverGates.map(_ -> "0").toMap)
    case "incremental_load" => new IncrementalLoad
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (etl_driver, corpus_heavy, past_gate, " +
        "incremental_load)")
  }
}
