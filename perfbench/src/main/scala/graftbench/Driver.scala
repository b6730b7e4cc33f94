package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{HarnessLock, Session, SparkEntry}

/** Settings of one benchmark run, parsed from `--key value` pairs. */
final case class Config(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    cpus: Int, setups: Int, warmup: Boolean, maxPasses: Int, work: String,
    record: String, plant: String,
    corpus: String, queries: String, expected: String, etlIn: String)

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String = null) = kv.getOrElse(k, Option(d)
      .getOrElse(throw new IllegalArgumentException(s"missing --$k")))
    Config(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace", "0") == "1", get("cpus").toInt, get("setups", "3").toInt,
      get("warmup", "1") == "1", get("max-passes", "1000").toInt, get("work"), get("record"), get("plant", "none"), get("corpus", ""),
      get("queries", ""), get("expected", ""), get("etl-in", ""))
  }
}

/** A failed output check; counted as a failed operation. */
final class CheckFailed(msg: String) extends Exception(msg)

/** One timed operation. */
final case class OpSample(name: String, pass: Int, secs: Double,
                          ok: Boolean)

/** One timed pass over a workload's operations. */
final case class Pass(startMs: Double, endMs: Double, cpuS: Double,
                      gcS: Double, layers: Map[String, Double])

/** The benchmark's JVM side: runs one workload as a single closed-loop
  * client (one driver thread issuing operations back to back) on
  * `local[cpus]`, times each call into the engine's layers from outside,
  * checks every output, and writes a JSON record for `run.py`.
  *
  * Layout of a run:
  *  1. set-up, repeated `setups` times in fresh sessions (the last one is
  *     kept): `Session.local`, the stale-artifact sweep, table
  *     registration, and the warm artifact tier where the workload uses it;
  *  2. with `--warmup 1` (the default), one untimed warm-up pass, so that
  *     JIT and generated-code compilation are done before timing; its
  *     operations are checked too;
  *  3. timed passes over the workload's operations until `seconds` have
  *     passed: at least one, at most `max-passes`;
  *  4. with `--trace 1`, the timed passes (and the last set-up) are traced
  *     and give the per-layer numbers; tracing overhead is the difference
  *     from an untraced run of the same seed.
  */
object Driver {
  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val cfg = Config.parse(args)
    HarnessLock.acquireOrDie("perfbench")
    val run = new Run(cfg, entry)
    val workload: Workload = cfg.workload match {
      case "corpus_scan" => new QueryWorkload(run, artifacts = false)
      case "artifact_kernels" => new QueryWorkload(run, artifacts = true)
      case "etl" => new EtlWorkload(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val record = run.execute(workload)
    Files.writeString(Paths.get(cfg.record), Json.render(record) + "\n")
    run.spark.stop()
  }
}

/** What a workload supplies to [[Run]]. */
trait Workload {
  /** Work done after the session is up, inside each timed set-up. */
  def setup(spark: SparkSession): Unit
  /** One pass over the workload's operations. */
  def pass(spark: SparkSession): Unit
  /** Extra fields for the record (query list, input sizes). */
  def describe: Map[String, Any]
}

/** Shared machinery: sessions, set-ups, passes, operations, tracing and the
  * record. */
final class Run(val cfg: Config, entryNs: Long) {
  val tracer = new Tracer(enabled = false)
  val random = new scala.util.Random(cfg.seed)
  var spark: SparkSession = _

  private val attempts = mutable.ArrayBuffer.empty[OpSample]
  private def samples = attempts.filter(_.pass >= 0)
  private val failures = mutable.ArrayBuffer.empty[String]
  private val opKinds = mutable.Map.empty[Int, String]
  private var nextOp = 0
  /** -2 during set-up, -1 during the warm-up pass, then the pass index. */
  private var passIndex = -2
  /** Layer totals of the current pass (or set-up), timed from outside. */
  private var layerAcc = mutable.LinkedHashMap.empty[String, Double]
  private val setupLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val counters = mutable.Map.empty[String, Double]
    .withDefaultValue(0.0)

  private val sparkTrace = new SparkTrace
  private val catalyst = mutable.Map.empty[String, Double]
    .withDefaultValue(0.0)
  private val exchangeCounts = mutable.ArrayBuffer.empty[Int]
  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = note(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      note(qe)
    private def note(qe: QueryExecution): Unit = catalyst.synchronized {
      qe.tracker.phases.foreach { case (p, s) =>
        catalyst(p) += s.durationMs / 1000.0 }
    }
  }

  /** Adds `secs` to a layer total of the current pass or set-up. */
  private def addLayer(name: String, secs: Double): Unit =
    layerAcc(name) = layerAcc.getOrElse(name, 0.0) + secs

  /** Adds to a per-pass count (rows, files, bytes). */
  def count(name: String, v: Double): Unit =
    if (tracer.enabled) counters(name) += v

  /** Times `body` from outside as layer `name` and, when tracing, as a
    * span of that layer. */
  def timed[T](name: String, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name, layer)(body)
    finally addLayer(name, (System.nanoTime() - t0) / 1e9)
  }

  /** One operation: a failure is an exception or a failed check. In the
    * warm-up and timed passes a failure is counted (and a timed operation's
    * latency sampled); during set-up a failure ends the run. */
  def op[T](name: String, kind: String)(body: => T): Option[T] = {
    nextOp += 1
    tracer.currentOp = nextOp
    opKinds(nextOp) = kind
    val sc = spark.sparkContext
    sc.setJobDescription(name)
    sc.setLocalProperty(SparkTrace.OpProperty, nextOp.toString)
    val t0 = System.nanoTime()
    val result =
      try Right(tracer.span(name, "bench")(body))
      catch {
        case e: Throwable if passIndex > -2 =>
          Left(s"${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
      } finally {
        sc.setJobDescription(null)
        sc.setLocalProperty(SparkTrace.OpProperty, null)
      }
    val secs = (System.nanoTime() - t0) / 1e9
    if (passIndex > -2) attempts += OpSample(name, passIndex, secs,
      result.isRight)
    result.left.foreach { e =>
      failures += s"pass $passIndex $name: $e"
      System.err.println(s"[perfbench] FAILED $name: $e")
    }
    result.toOption
  }

  /** Materializes a frame the benchmark itself plans, counting the
    * exchanges of its final plan when tracing. */
  def planAndRun[T](df: DataFrame)(action: DataFrame => T): T = {
    tracer.span("plan", "catalyst")(df.queryExecution.executedPlan)
    val out = tracer.span("exec", "exec")(action(df))
    if (tracer.enabled) exchangeCounts += Exchanges.count(df)
    out
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  /** Peak resident set of this JVM (Linux VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def execute(w: Workload): scala.collection.Map[String, Any] = {
    // --- set-up, repeated in fresh sessions ------------------------------
    val setupSecs = (1 to cfg.setups).map { rep =>
      val t0 = if (rep == 1) entryNs else System.nanoTime()
      layerAcc = mutable.LinkedHashMap.empty
      val last = rep == cfg.setups
      if (last && cfg.trace) tracer.enabled = true
      spark = timed("session.start_s", "session")(Session.local(cfg.cpus))
      if (last && cfg.trace) spark.sparkContext.addSparkListener(sparkTrace)
      spark.sparkContext.setLogLevel("ERROR")
      timed("session.sweep_s", "session")(SparkEntry.dropStaleArtifacts(
        spark, Seq(cfg.corpus).filter(_.nonEmpty), includeExports = false))
      w.setup(spark)
      if (!layerAcc.contains("artifact.warm_s"))
        timed("artifact.warm_s", "artifact")(())
      val secs = (System.nanoTime() - t0) / 1e9
      setupLayers += layerAcc.toMap
      if (!last) {
        SparkEntry.clearSessionSweeps()
        SparkEntry.clearSessionArtifacts()
        spark.catalog.clearCache()
        spark.stop()
      }
      secs
    }
    if (cfg.trace) {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkTrace)
      tracer.enabled = false
    }

    // --- one untimed warm-up pass, then timed passes ---------------------
    passIndex = -1
    val w0 = System.nanoTime()
    if (cfg.warmup) w.pass(spark)
    val warmupSecs = (System.nanoTime() - w0) / 1e9
    heapPools.foreach(_.resetPeakUsage())
    if (cfg.trace) {
      tracer.enabled = true
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.listenerManager.register(qeListener)
    }
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.isEmpty ||
        (elapsed < cfg.seconds && passes.size < cfg.maxPasses)) {
      passIndex = passes.size
      layerAcc = mutable.LinkedHashMap.empty
      val c0 = cpuNs()
      val g0 = gcMs()
      val start = tracer.nowMs
      tracer.span(s"pass $passIndex", "bench")(w.pass(spark))
      val end = tracer.nowMs
      passes += Pass(start, end, (cpuNs() - c0) / 1e9,
        (gcMs() - g0) / 1e3, layerAcc.toMap)
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    // --- metrics ---------------------------------------------------------
    val walls = passes.map(p => (p.endMs - p.startMs) / 1000.0).toSeq
    val opSecs = samples.map(_.secs).toSeq
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> Stats.median(setupSecs),
      "run_s" -> Stats.median(walls),
      "op_p50_s" -> Stats.median(opSecs),
      "cpu_s" -> Stats.median(passes.map(_.cpuS).toSeq),
      "peak_rss_mb" -> peakRssMb())
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed,
      "seconds" -> cfg.seconds, "trace" -> cfg.trace, "cpus" -> cfg.cpus,
      "attempted" -> attempts.size, "failed" -> attempts.count(!_.ok),
      "failures" -> failures.toSeq,
      "end_to_end" -> e2e,
      "op_samples" -> opSecs.size,
      "op_p90_s" -> (if (opSecs.size >= 100) Some(Stats.quantile(opSecs, 0.9))
                     else None),
      "setup_reps_s" -> setupSecs,
      "warmup_s" -> warmupSecs,
      "pass_s" -> walls,
      "passes" -> passes.size,
      "heap_peak_mb" -> heapPeakMb) ++ w.describe
    if (cfg.trace) record("per_layer") = perLayer(passes.toSeq, heapPeakMb)
    record("ops") = attempts.map(s => Seq(s.name, s.pass, s.secs, s.ok))
    record
  }

  /** Per-layer numbers from the traced passes: outside-timed layer totals,
    * listener counts and self times, each per pass. */
  private def perLayer(passes: Seq[Pass],
                       heapPeakMb: Double): scala.collection.Map[String, Any] = {
    PerfbenchBus.drain(spark.sparkContext)
    val n = passes.size.toDouble
    val regions = passes.map(p => (p.startMs, p.endMs))
    def inPasses(ms: Double) = regions.exists(r => r._1 <= ms && ms <= r._2)
    val out = mutable.LinkedHashMap.empty[String, Any]

    // Outside-timed layer totals.
    val layerNames = passes.flatMap(_.layers.keys).distinct
    layerNames.foreach(k => out(k) = passes.map(_.layers.getOrElse(k, 0.0))
      .sum / n)
    val setup = setupLayers.last
    out("session.start_s") = Stats.median(setupLayers.map(
      _.getOrElse("session.start_s", 0.0)).toSeq)
    setup.foreach { case (k, v) if k.startsWith("artifact.warm") =>
      out(k) = v case _ => () }
    PassLayers.counters.foreach(k => out(k) = counters(k) / n)

    // Spans, jobs and stages.
    val spans = tracer.spans.toSeq
    val sparkJobs = sparkTrace.synchronized(sparkTrace.jobs.toSeq)
    val stageAggs = sparkTrace.synchronized(sparkTrace.stages.values.toSeq)
    val jobsIn = sparkJobs.filter(j => j.end >= 0 && inPasses(j.start))
    val stageOfJob = sparkJobs.flatMap(j => j.stages.map(_ -> j)).toMap
    val stagesIn = stageAggs.filter(s => s.submit >= 0 && s.complete >= 0 &&
      inPasses(s.submit))
    def kind(op: Int) = opKinds.getOrElse(op, "")
    def sum(xs: Seq[Double]) = xs.sum / n

    val construct = spans.filter(s => s.layer == "entry" && inPasses(s.start))
    out("entry.construct_jobs") = jobsIn.count(j => construct.exists(s =>
      s.op == j.op && s.start <= j.start && j.start <= s.end)) / n

    // Corpus scans: input-reading stages of the query operations.
    val scanStages = stagesIn.filter(s => s.inRecords > 0 &&
      stageOfJob.get(s.id).exists(j => Set("query", "artifact.sweep")(
        kind(j.op))))
    out("tables.scan_bytes") = sum(scanStages.map(_.inBytes.toDouble))
    out("tables.scan_records") = sum(scanStages.map(_.inRecords.toDouble))
    out("tables.scan_tasks") = sum(scanStages.map(_.tasks.toDouble))
    def maxShare(ss: Seq[sparkTrace.StageAgg]) = {
      val shares = ss.filter(_.runMs > 0).map(s => s.maxRunMs.toDouble / s.runMs)
      if (shares.isEmpty) 0.0 else Stats.median(shares)
    }
    out("tables.scan_max_task_share") = maxShare(scanStages)

    out("catalyst.analysis_s") = catalyst("analysis") / n
    out("catalyst.optimization_s") = catalyst("optimization") / n
    out("catalyst.planning_s") = catalyst("planning") / n
    out("catalyst.exchanges") = exchangeCounts.sum / n

    val runWall = passes.map(p => (p.endMs - p.startMs) / 1000.0).sum
    val cpuTasks = stagesIn.map(_.cpuNs / 1e9).sum
    out("exec.s") = sum(jobsIn.map(j => (j.end - j.start) / 1000.0))
    out("exec.jobs") = jobsIn.size / n
    out("exec.stages") = stagesIn.size / n
    out("exec.tasks") = sum(stagesIn.map(_.tasks.toDouble))
    out("exec.task_run_s") = sum(stagesIn.map(_.runMs / 1000.0))
    out("exec.task_cpu_s") = cpuTasks / n
    out("exec.gc_s") = sum(stagesIn.map(_.gcMs / 1000.0))
    out("exec.spill_bytes") = sum(stagesIn.map(_.spill.toDouble))
    out("exec.max_task_share") = maxShare(stagesIn)
    out("exec.core_util") = cpuTasks / (runWall * cfg.cpus)
    out("shuffle.read_bytes") = sum(stagesIn.map(_.shuffleRead.toDouble))
    out("shuffle.write_bytes") = sum(stagesIn.map(_.shuffleWrite.toDouble))
    out("shuffle.fetch_wait_s") = sum(stagesIn.map(_.fetchWaitMs / 1000.0))

    // Artifact builds: warm tier in the kept set-up, sweeps per pass.
    val artJobs = sparkJobs.filter(j => j.end >= 0 &&
      kind(j.op).startsWith("artifact"))
    val warmJobs = artJobs.filter(j => kind(j.op) == "artifact.warm")
    val sweepJobs = artJobs.filter(j => kind(j.op) == "artifact.sweep" &&
      inPasses(j.start))
    def outBytes(js: Seq[sparkTrace.Job]) = js.flatMap(_.stages)
      .flatMap(id => stageAggs.find(_.id == id)).map(_.outBytes.toDouble).sum
    out("artifact.jobs") = warmJobs.size + sweepJobs.size / n
    out("artifact.write_bytes") = outBytes(warmJobs) + outBytes(sweepJobs) / n

    // Self time per layer over the traced passes.
    val depth = mutable.Map.empty[Int, Int]
    def depthOf(s: Tracer.Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else depthOf(spans(s.parent)) + 1)
    val driverIv = spans.filter(s => !s.end.isNaN).map(s =>
      Tracer.Interval(s.start, s.end, depthOf(s), s.layer))
    def parentDepth(ms: Double): Int = driverIv
      .filter(i => i.start <= ms && ms <= i.end).map(_.depth)
      .foldLeft(-1)(math.max)
    val jobIv = jobsIn.map { j =>
      j.id -> Tracer.Interval(j.start, j.end, parentDepth(j.start) + 1,
        "exec") }.toMap
    val stageIv = stagesIn.flatMap { s =>
      stageOfJob.get(s.id).flatMap(j => jobIv.get(j.id)).map(p =>
        Tracer.Interval(s.submit, s.complete, p.depth + 1,
          if (s.inRecords > 0) "scan" else "exec"))
    }
    val self = Tracer.selfTimes(driverIv ++ jobIv.values ++ stageIv,
      regions).map { case (k, v) => k -> v / 1000.0 / n }
    val moduleLayers = Set("entry", "artifact", "sources", "etlflow",
      "sinkops", "catalogops", "report", "session")
    out("self.bench_s") = self.getOrElse("bench", 0.0)
    out("self.module_s") = self.collect {
      case (k, v) if moduleLayers(k) => v }.sum
    out("self.catalyst_s") = self.getOrElse("catalyst", 0.0)
    out("self.scan_s") = self.getOrElse("scan", 0.0)
    out("self.exec_s") = self.getOrElse("exec", 0.0)
    out("self_by_layer_s") = self
    out("trace.covered_share") = self.values.sum / (runWall / n)

    out("jvm.gc_s") = passes.map(_.gcS).sum / n
    out("jvm.heap_peak_mb") = heapPeakMb
    out("trace.spans") = spans.size
    out("trace.jobs") = sparkJobs.size
    out
  }
}

/** Exchanges in a frame's final physical plan, through AQE query stages. */
object Exchanges extends AdaptiveSparkPlanHelper {
  def count(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }.size
}
