package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import graft.GraftSession

/** Closed-loop benchmark driver: one client issues a workload's
  * operations one after another into one session at `local[nproc]`.
  *
  * A run sets up once, cold: session start, input generation and one
  * untimed check pass that compares every operation's result with its
  * pinned digest or reference model and is also the warm-up. setup_s is
  * that whole span, counted from JVM start. The run then times whole
  * passes, at least two, until `--seconds` have elapsed. A traced run alternates
  * untraced and traced passes (at least three, starting and ending
  * untraced) and reports the per-layer metrics of its traced passes, plus
  * the difference of the pass medians as tracing overhead.
  *
  * The last stdout line starting with `RESULT ` is the run's result; the
  * line starting with `RECORD ` carries every metric, the failures, the
  * run's conditions and the input mix.
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false, fixture: String = "",
      work: String = "", expected: String = "", pin: String = "",
      perturb: String = "")

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--fixture" :: v :: t => parse(t, o.copy(fixture = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--expected" :: v :: t => parse(t, o.copy(expected = v))
    case "--pin" :: v :: t => parse(t, o.copy(pin = v))
    case "--perturb" :: v :: t => parse(t, o.copy(perturb = v))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  private val DigestRe = """"([A-Za-z0-9_]+)"\s*:\s*"([0-9a-f:|]+)"""".r

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and the
    * latency there: the eleventh-largest sample. With 20 samples or fewer
    * that percentile would not lie above the median, so the largest
    * sample is reported instead.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 20) (100.0, s.lastOption.getOrElse(0.0))
    else (100.0 * (s.size - 10) / s.size, s(s.size - 11))
  }

  /** Heap still in use after full collections: the least of three, each
    * after a pause that lets Spark's context cleaner release what the one
    * before found unreachable (broadcasts, shuffle and checkpoint blocks).
    */
  private def heapUsedMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def main(args: Array[String]): Unit = {
    val runT0 = now()
    val jvmToMainS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val o = parse(args.toList)
    val w = Workloads(o.workload)
    val nproc = Runtime.getRuntime.availableProcessors
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val pinning = o.pin.nonEmpty
    // the "digests" object of the expected file: operation -> digest
    val expected: Map[String, String] =
      if (pinning) Map.empty
      else {
        val text = new String(Files.readAllBytes(Paths.get(o.expected)), UTF_8)
        val from = text.indexOf('{', text.indexOf("\"digests\""))
        DigestRe.findAllMatchIn(text.substring(from, text.indexOf('}', from)))
          .map(m => m.group(1) -> m.group(2)).toMap
          .map { case (k, v) => k -> (if (k == o.perturb) v + "0" else v) }
      }

    // ---- set-up: session and inputs, then the check pass
    val sessionT0 = now()
    val spark = GraftSession.get(nproc.toString)
    val sessionStartS = secs(sessionT0)
    w.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, o.fixture, o.work, tracer)
    val prepareT0 = now()
    w.prepare(ctx, o.seed)
    val prepareS = secs(prepareT0)
    val rng = new Random(o.seed)
    def order(): Seq[Op] = if (w.shuffled) rng.shuffle(w.ops) else w.ops

    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    def fail(op: Op, phase: String, cls: String, msg: String): Unit = {
      failed += 1
      if (failures.size < 50) failures += Map("op" -> op.name,
        "phase" -> phase, "class" -> cls, "message" -> String.valueOf(msg).take(500))
    }

    // ---- untimed check pass (also the JIT and codegen warm-up)
    val pins = mutable.LinkedHashMap.empty[String, String]
    val checkT0 = now()
    w.beforePass(ctx)
    val checkLat = mutable.LinkedHashMap.empty[String, Double]
    order().foreach { op =>
      attempted += 1
      val t0 = now()
      try op.check(ctx) match {
        case Digested(key, d) =>
          if (pinning) pins(key) = d
          else expected.get(key) match {
            case Some(e) if e == d =>
            case Some(e) => fail(op, "check", "ResultMismatch",
              s"digest $d, expected $e")
            case None => fail(op, "check", "NoExpectedDigest", s"digest $d")
          }
        case Checked(None) =>
        case Checked(Some(p)) => fail(op, "check", "ResultMismatch", p)
      } catch {
        case NonFatal(e) => fail(op, "check", e.getClass.getName, e.getMessage)
      }
      checkLat(op.name) = checkLat.getOrElse(op.name, 0.0) + secs(t0)
    }
    val checkS = secs(checkT0)
    val setupS = jvmToMainS + secs(runT0)
    val extra = w.extraMetrics

    // ---- timed passes
    final case class Pass(traced: Boolean, wall: Double, cpu: Double,
        heapMb: Double, lat: Seq[(Op, Double)], firstOp: Int, lastOp: Int)
    val passes = mutable.ArrayBuffer.empty[Pass]
    def procCpu(): Long = os match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }
    def runPass(traced: Boolean): Pass = {
      w.beforePass(ctx)
      val ops = order()
      val first = tracer.ops.size
      val lat = mutable.ArrayBuffer.empty[(Op, Double)]
      val p0 = now()
      val cpu0 = procCpu()
      ops.foreach { op =>
        attempted += 1
        val t0 = now()
        try {
          tracer.op(op.name)(op.run(ctx))
          lat += ((op, secs(t0)))
        } catch {
          case NonFatal(e) => fail(op, "timed", e.getClass.getName, e.getMessage)
        }
      }
      Pass(traced, secs(p0), (procCpu() - cpu0) / 1e9, heapUsedMb(),
        lat.toSeq, first, tracer.ops.size)
    }
    val timedT0 = now()
    if (!o.trace) {
      while (passes.size < 2 || secs(timedT0) < o.seconds)
        passes += runPass(traced = false)
    } else {
      // untraced and traced passes alternate, starting and ending
      // untraced, so that linear warm-up drift cancels out of the overhead
      while (passes.size < 3 || passes.size % 2 == 0 ||
          secs(timedT0) < o.seconds) {
        val traced = passes.size % 2 == 1
        tracer.setRecording(traced)
        passes += runPass(traced)
      }
      tracer.setRecording(false)
    }
    val loadEnd = os.getSystemLoadAverage

    // ---- end-to-end metrics, from untraced passes
    val plain = passes.filterNot(_.traced)
    val lats = plain.flatMap(_.lat.map(_._2)).toSeq
    val (tailPct, tailS) = tail(lats)
    val readLats = plain.flatMap(_.lat.filter(_._1.isRead).map(_._2)).toSeq
    val passS = median(plain.map(_.wall).toSeq)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (passS, "s"),
      "op_p50_s" -> (median(lats), "s"),
      "op_tail_s" -> (tailS, "s"),
      "heap_peak_mb" -> (plain.map(_.heapMb).max, "MB"))
    val errorRate = failed.toDouble / attempted
    val allE2e = e2e ++ Seq("error_rate" -> (errorRate, "fraction")) ++
      extra.get("write_amp").map(v => "write_amp" -> (v, "ratio")) ++
      (if (readLats.nonEmpty) Seq("read_p50_s" -> (median(readLats), "s")) else Nil)

    // ---- per-layer metrics, from traced passes
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (o.trace) {
      val traced = passes.filter(_.traced).toSeq
      def perPass(unit: String)(f: Seq[OpRecord] => Double): (Double, String) =
        (median(traced.map(p => f(tracer.ops.slice(p.firstOp, p.lastOp).toSeq))), unit)
      def spansNamed(recs: Seq[OpRecord], n: String): Seq[Span] = {
        val ids = recs.map(_.span.id).toSet
        tracer.spans.filter(s => s.name == n && ids.contains(tracer.rootOf(s))).toSeq
      }
      def sumAttr(recs: Seq[OpRecord], span: String, a: String): Double =
        spansNamed(recs, span).flatMap(_.attrs.get(a)).map {
          case x: Long => x.toDouble; case x: Double => x; case x: Int => x.toDouble
          case _ => 0.0 }.sum
      def sums(recs: Seq[OpRecord]): TaskSums = {
        val t = new TaskSums; recs.foreach(r => t.add(r.sums)); t
      }
      def jobSpanNs(j: JobRec) = (tracer.nsOfMs(j.startMs), tracer.nsOfMs(j.endMs))
      val allTraced = traced.flatMap(p => tracer.ops.slice(p.firstOp, p.lastOp))
      def perCall(n: String)(f: Span => Double): (Double, String) =
        (median(spansNamed(allTraced, n).map(f)), "s")
      // blocklistFeedback purges the target table first; its split point
      // is the end of the SQL execution that wrote the target's snapshot
      def purgeEndNs(r: OpRecord): Option[Long] =
        r.sqlEnds.filter(_._1.contains("/live/orders/tmp-")).map(_._2)
          .maxOption.map(tracer.nsOfMs)
      val blocklists = allTraced.filter(_.span.name == "blocklist")

      layer ++= Seq(
        "session.start_s" -> (sessionStartS, "s"),
        "sources.scan_bytes" -> perPass("B")(r => sums(r).inBytes.toDouble),
        "sources.scan_rows" -> perPass("rows")(r => sums(r).inRows.toDouble),
        "sources.sink.upsert_s" -> perCall("sink.upsert")(_.seconds),
        "sources.sink.purge_s" -> (median(blocklists.flatMap(r =>
          purgeEndNs(r).map(e => (e - r.span.startNs) / 1e9))), "s"),
        "sources.sink.insert_new_s" -> (median(blocklists.flatMap(r =>
          purgeEndNs(r).map(e => (r.span.endNs - e) / 1e9))), "s"),
        "sources.sink.bytes_written" -> perPass("B")(r =>
          sumAttr(r, "sink.upsert", "bytes_written") +
            sumAttr(r, "sink.blocklist", "bytes_written")),
        "sources.sink.rows_written_per_row_changed" -> perPass("ratio") { r =>
          val sinks = Seq("sink.upsert", "sink.blocklist")
          val changed = sinks.map(sumAttr(r, _, "rows_changed")).sum
          if (changed == 0) 0.0
          else sinks.map(sumAttr(r, _, "rows_written")).sum / changed
        },
        "sources.table_files" -> perPass("count")(r =>
          (spansNamed(r, "sink.upsert") ++ spansNamed(r, "sink.blocklist"))
            .lastOption.flatMap(_.attrs.get("table_files"))
            .map(_.asInstanceOf[Long].toDouble).getOrElse(0.0)),
        "plans.analysis_s" -> perPass("s")(_.map(_.phasesMs("analysis")).sum / 1e3),
        "plans.optimization_s" -> perPass("s")(_.map(_.phasesMs("optimization")).sum / 1e3),
        "plans.planning_s" -> perPass("s")(_.map(_.phasesMs("planning")).sum / 1e3),
        "operators.build_s" -> perPass("s")(spansNamed(_, "build").map(_.seconds).sum),
        "operators.build_jobs" -> perPass("count") { r =>
          val b = spansNamed(r, "build").map(_.id).toSet
          r.flatMap(_.jobs).count(j => tracer.spanOfJob(j).exists(s => b(s.id))).toDouble
        },
        "operators.exec_s" -> perPass("s")(spansNamed(_, "exec").map(_.seconds).sum),
        "sched.jobs" -> perPass("count")(_.map(_.jobs.size).sum.toDouble),
        "sched.stages" -> perPass("count")(_.map(_.stages.size).sum.toDouble),
        "sched.tasks" -> perPass("count")(r => sums(r).tasks.toDouble),
        "sched.driver_only_s" -> perPass("s")(_.map { r =>
          (r.span.endNs - r.span.startNs -
            Tracer.unionNs(r.jobs.map(jobSpanNs))) / 1e9 }.sum),
        "sched.core_util" -> (median(traced.map { p =>
          sums(tracer.ops.slice(p.firstOp, p.lastOp).toSeq).runMs / 1e3 /
            (p.wall * nproc) }), "fraction"),
        "exec.run_s" -> perPass("s")(r => sums(r).runMs / 1e3),
        "exec.cpu_s" -> perPass("s")(r => sums(r).cpuNs / 1e9),
        "exec.gc_s" -> perPass("s")(r => sums(r).gcMs / 1e3),
        "shuffle.write_bytes" -> perPass("B")(r => sums(r).shWrite.toDouble),
        "shuffle.read_bytes" -> perPass("B")(r => sums(r).shRead.toDouble),
        "shuffle.fetch_wait_s" -> perPass("s")(r => sums(r).fetchWaitMs / 1e3),
        "spill.bytes" -> perPass("B")(r => sums(r).spill.toDouble))
      Functions.nsPerRow(spark, o.fixture, reps = 3).foreach { case (n, v) =>
        layer(s"functions.$n.ns_per_row") = (v, "ns") }
      Seq("clean_scrub", "quality_filter", "exact_dedup", "neardup_dedup",
        "split", "write").foreach(st => layer(s"pipeline.${st}_s") =
        perPass("s")(sumAttr(_, "pipeline", s"pipeline.${st}_s")))
      layer ++= Seq(
        "streaming.batch_s" -> perPass("s")(sumAttr(_, "ingest.batch", "streaming.batch_s")),
        "streaming.planning_s" -> perPass("s")(sumAttr(_, "ingest.batch", "streaming.planning_s")),
        "streaming.admitted" -> perPass("count")(sumAttr(_, "ingest.batch", "streaming.admitted")),
        "write_amp" -> (extra.getOrElse("write_amp", 0.0), "ratio"),
        "read_p50_s" -> (median(readLats), "s"),
        "trace.overhead_s" -> (median(traced.map(_.wall)) - passS, "s"))
      val exprs = allTraced.flatMap(_.exprs).distinct.sorted
      val trace = Map("workload" -> w.name, "seed" -> o.seed,
        "native_expressions" -> exprs,
        "ops" -> allTraced.groupBy(_.span.name).map { case (n, rs) =>
          n -> rs.flatMap(_.exprs).distinct.sorted },
        "spans" -> tracer.treeJson())
      val tracePath = Paths.get(o.work, s"trace-${w.name}-${o.seed}.json")
      Files.write(tracePath, Json(trace).getBytes(UTF_8))
      println(s"trace written to $tracePath")
    }

    if (pinning) Files.write(Paths.get(o.pin), Json(pins).getBytes(UTF_8))

    val opJobs = tracer.ops.groupBy(_.span.name).map { case (n, rs) =>
      n -> median(rs.map(_.jobs.size.toDouble).toSeq) }
    val versions = Map("spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"))
    val contended = loadStart > nproc
    val metrics = if (o.trace) layer else e2e
    def metricJson(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val record = Map(
      "workload" -> w.name, "seed" -> o.seed, "traced" -> o.trace,
      "nproc" -> nproc, "load_start" -> loadStart, "load_end" -> loadEnd,
      "contended" -> contended, "versions" -> versions,
      "passes" -> plain.size, "traced_passes" -> passes.count(_.traced),
      "samples" -> lats.size, "op_tail_percentile" -> tailPct,
      "setup_parts_s" -> Map("jvm_to_main" -> jvmToMainS,
        "session_start" -> sessionStartS, "prepare_inputs" -> prepareS,
        "check_pass" -> checkS),
      "run_s" -> (jvmToMainS + secs(runT0)),
      "pass_cpu_s" -> passes.map(_.cpu).toSeq,
      "pass_walls_s" -> passes.map(_.wall).toSeq,
      "pass_heap_mb" -> passes.map(_.heapMb).toSeq, "check_op_s" -> checkLat,
      "op_median_s" -> plain.flatMap(_.lat).groupBy(_._1.name)
        .map { case (n, xs) => n -> median(xs.map(_._2).toSeq) },
      "attempted" -> attempted, "failed" -> failed,
      "op_jobs" -> opJobs, "failures" -> failures.toSeq, "input_mix" -> w.inputMix,
      "end_to_end" -> metricJson(allE2e),
      "per_layer" -> metricJson(layer))
    if (contended)
      System.err.println(f"WARNING: load average $loadStart%.2f at start " +
        s"exceeds nproc $nproc; this run is flagged contended")
    println("RECORD " + Json(record))
    println("RESULT " + Json(Map("correct" -> (failed == 0L),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricJson(metrics))))
    spark.stop()
  }
}
