package liftbench

import java.io.File
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One traced cycle split by layer (see [[Attribution]]). */
final case class Parts(cycle: CycleObs, jobS: Map[String, Double],
                       selfS: Map[String, Double], unattributedS: Double,
                       jobUnionS: Double, jobs: Seq[JobRec], spans: Seq[Span])

/** Splits each traced cycle's wall time over layers on one timeline: an
  * instant inside a Spark job belongs to the job's layer (shared evenly
  * between concurrent jobs); an instant outside every job belongs to the
  * innermost open span's layer as self time; what remains of the cycle is
  * unattributed. The parts of a cycle sum to its wall time. */
final class Attribution(val tracer: Tracer, pass: Pass) {

  private val spansByCycle = tracer.allSpans.groupBy(_.cycle)
  private val jobsByCycle = tracer.allJobs.groupBy(_.cycle)

  val cycles: Seq[Parts] = pass.cycles.map { c =>
    val spans = spansByCycle.getOrElse(c.idx, Nil).filter(_.layer != "cycle")
    val jobs = jobsByCycle.getOrElse(c.idx, Nil).map(j => if (j.end < 0) j.copy(end = j.start) else j)
    def clip(t: Long) = math.max(c.start, math.min(c.end, t))
    val points = (Seq(c.start, c.end) ++ jobs.flatMap(j => Seq(clip(j.start), clip(j.end))) ++
      spans.flatMap(s => Seq(clip(s.start), clip(s.end)))).distinct.sorted
    val jobS = mutable.Map[String, Double]().withDefaultValue(0.0)
    val selfS = mutable.Map[String, Double]().withDefaultValue(0.0)
    var unattributed = 0.0
    var union = 0.0
    points.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val d = (b - a) / 1e9
        val active = jobs.filter(j => j.start <= a && j.end >= b)
        if (active.nonEmpty) {
          union += d
          active.foreach(j => jobS(j.layer) += d / active.length)
        } else spans.filter(s => s.start <= a && s.end >= b)
          .maxByOption(s => (s.start, s.id)) match {
          case Some(s) => selfS(s.layer) += d
          case None => unattributed += d
        }
      case _ => ()
    }
    Parts(c, jobS.toMap, selfS.toMap, unattributed, union, jobs, spans)
  }

  private def perCycle(f: Parts => Double): Double = Stats.mean(cycles.map(f))

  def job(layer: String): Double = perCycle(_.jobS.getOrElse(layer, 0.0))
  def self(layer: String): Double = perCycle(_.selfS.getOrElse(layer, 0.0))
  def jobsOf(layer: String): Double = perCycle(_.jobs.count(_.layer == layer).toDouble)
  def spanS(layer: String): Double =
    perCycle(_.spans.filter(_.layer == layer).map(s => (s.end - s.start) / 1e9).sum)

  val JobLayers = Seq("registry", "blocks", "table", "streaming", "ops")
  def otherJob: Double = perCycle(_.jobS.filter { case (l, _) => !JobLayers.contains(l) }.values.sum)

  /** The layer split of a typical cycle: the mean parts of the middle half
    * of the cycles by wall time (all of them when there are two or fewer). */
  def typicalCycle: ListMap[String, Any] = {
    val n = cycles.length
    val mid = cycles.sortBy(_.cycle.wallS).slice(n / 4, n - n / 4)
    def m(f: Parts => Double) = Stats.mean(mid.map(f))
    val layers = mid.flatMap(p => p.jobS.keys ++ p.selfS.keys).distinct.sorted
    ListMap("cycles" -> mid.length, "wall_s" -> m(_.cycle.wallS)) ++
      layers.flatMap { l =>
        Seq(s"$l.job_s" -> m(_.jobS.getOrElse(l, 0.0)), s"$l.self_s" -> m(_.selfS.getOrElse(l, 0.0)))
          .filter(_._2 > 0)
      } ++ ListMap("unattributed_s" -> m(_.unattributedS))
  }
}

object Report {
  type Metrics = ListMap[String, (Double, String)]

  /** The ten end-to-end metrics except `error_rate`, which the result line
    * carries as `failed` / `attempted`. */
  def endToEnd(p: Pass, sessionS: Double, census: Census, heapMb: Double): Metrics = {
    val walls = p.cycles.map(_.wallS)
    val (cycleTail, _, _) = Stats.tail(walls)
    val (lookupTail, _, _) = Stats.tail(p.lookupS)
    ListMap(
      "setup_s" -> (sessionS + Stats.median(p.setupS), "s"),
      "rows_per_s" -> (p.rows / p.regionS, "rows/s"),
      "cycle_p50_s" -> (Stats.median(walls), "s"),
      "cycle_tail_s" -> (cycleTail, "s"),
      "lookup_p50_s" -> (Stats.median(p.lookupS), "s"),
      "lookup_tail_s" -> (lookupTail, "s"),
      "cpu_us_per_row" -> (p.cpuNs / 1000.0 / math.max(1L, p.rows), "us/row"),
      "stored_bytes_per_input_byte" ->
        (census.totalBytes.toDouble / math.max(1L, p.wl.inputBytes), "B/B"),
      "heap_live_mb" -> (heapMb, "MB"))
  }

  def passDetail(p: Pass, census: Census): ListMap[String, Any] = {
    val (ct, ctPct, ctN) = Stats.tail(p.cycles.map(_.wallS))
    val (lt, ltPct, ltN) = Stats.tail(p.lookupS)
    ListMap(
      "setup_runs_s" -> p.setupS, "cycles" -> p.cycles.length,
      "cycle_walls_s" -> p.cycles.map(c => math.rint(c.wallS * 1e4) / 1e4),
      "cycle_cpu_s" -> p.cycles.map(c => math.rint(c.ctr.cpuNs / 1e5) / 1e4),
      "cycle_jit_s" -> p.cycles.map(c => c.ctr.jitMs / 1e3),
      "cycle_gc_s" -> p.cycles.map(c => c.ctr.gcMs / 1e3),
      "timed_region_s" -> p.regionS, "rows" -> p.rows,
      "cycle_tail" -> ListMap("value_s" -> ct, "percentile" -> ctPct, "samples" -> ctN),
      "lookup_tail" -> ListMap("value_s" -> lt, "percentile" -> ltPct, "samples" -> ltN),
      "input_bytes" -> p.wl.inputBytes,
      "census" -> ListMap("data_bytes" -> census.dataBytes, "log_bytes" -> census.logBytes,
        "sidecar_bytes" -> census.sidecarBytes, "data_files" -> census.dataFiles,
        "log_files" -> census.logFiles, "sidecar_files" -> census.sidecarFiles,
        "versions" -> census.versions))
  }

  def perLayer(at: Attribution, traced: Pass, plain: Pass, census: Census,
               prune: Seq[(Long, Long)]): Metrics = {
    val cs = at.cycles
    val t = at.tracer
    val n = math.max(1, cs.length).toDouble
    def perCycle(f: Parts => Double) = Stats.mean(cs.map(f))
    def ctr(f: Counters => Long) = perCycle(p => f(p.cycle.ctr).toDouble)
    def stageSum(f: StageAgg => Long) = perCycle(p =>
      p.jobs.flatMap(_.stages).distinct.flatMap(t.stageAgg).map(f).sum.toDouble)
    val blocks = traced.wl.ctx.liftBlocks
    val progress = t.allProgress
    def inCycle(pr: Progress, c: CycleObs) = pr.tsMs * 1000000L >= c.start && pr.tsMs * 1000000L <= c.end
    def streamS(key: String) = perCycle(p =>
      progress.filter(inCycle(_, p.cycle)).map(_.durations.getOrElse(key, 0L)).sum / 1000.0)
    val batches = progress.filter(pr => cs.exists(p => inCycle(pr, p.cycle)) && pr.rows > 0)
    val opsSpans = cs.flatMap(p => p.spans.filter(_.layer == "ops").map(s => (p, s)))
    val hidden = opsSpans.map { case (p, s) =>
      p.jobs.count(j => j.start >= s.start && j.start <= s.end) }.sum / n
    ListMap(
      "dsl.parse_bind_s" -> (at.spanS("dsl"), "s"),
      "runtime.execute_s" -> (at.spanS("runtime"), "s"),
      "runtime.blocks_per_lift" -> (Stats.mean(blocks.map(_.toDouble).toSeq), "count"),
      "runtime.self_s" -> (at.self("runtime"), "s"),
      "registry.jobs_per_cycle" -> (at.jobsOf("registry"), "count"),
      "registry.job_s" -> (at.job("registry"), "s"),
      "registry.self_s" -> (at.self("registry"), "s"),
      "registry.rows" -> (traced.wl.registryRows.toDouble, "count"),
      "common.listing_ops_per_cycle" -> (ctr(_.listingOps), "count"),
      "blocks.jobs_per_cycle" -> (at.jobsOf("blocks"), "count"),
      "blocks.job_s" -> (at.job("blocks"), "s"),
      "table.jobs_per_cycle" -> (at.jobsOf("table"), "count"),
      "table.job_s" -> (at.job("table"), "s"),
      "table.self_s" -> (at.self("table"), "s"),
      "table.bytes_written_per_cycle" ->
        ((census.totalBytes - traced.censusStart.totalBytes) / n, "B"),
      "table.commits" -> (census.versions.toDouble, "count"),
      "table.log_bytes_per_commit" -> (census.logBytes.toDouble / math.max(1L, census.versions), "B"),
      "table.data_files" -> (census.dataFiles.toDouble, "count"),
      "table.compact_s" -> (perCycle(p => p.jobs.filter(_.details.contains("compactSmall"))
        .map(j => (math.min(j.end, p.cycle.end) - math.max(j.start, p.cycle.start)) / 1e9).sum), "s"),
      "table.files_read_per_lookup" -> (Stats.mean(prune.map(_._1.toDouble)), "count"),
      "streaming.trigger_s" -> (streamS("triggerExecution"), "s"),
      "streaming.add_batch_s" -> (streamS("addBatch"), "s"),
      "streaming.query_planning_s" -> (streamS("queryPlanning"), "s"),
      "streaming.wal_commit_s" -> (streamS("walCommit"), "s"),
      "streaming.latest_offset_s" -> (streamS("latestOffset"), "s"),
      "streaming.rows_per_batch" -> (Stats.mean(batches.map(_.rows.toDouble)), "count"),
      "streaming.job_s" -> (at.job("streaming"), "s"),
      "streaming.self_s" -> (at.self("streaming"), "s"),
      "ops.plan_s" -> (at.spanS("ops"), "s"),
      "ops.hidden_jobs" -> (hidden, "count"),
      "ops.jobs_per_cycle" -> (at.jobsOf("ops"), "count"),
      "ops.job_s" -> (at.job("ops"), "s"),
      "ops.self_s" -> (at.self("ops"), "s"),
      "other.job_s" -> (at.otherJob, "s"),
      "spark.jobs_per_cycle" -> (perCycle(_.jobs.length.toDouble), "count"),
      "spark.stages_per_cycle" -> (perCycle(p =>
        p.jobs.flatMap(_.stages).distinct.count(t.stageAgg(_).isDefined).toDouble), "count"),
      "spark.tasks_per_cycle" -> (stageSum(_.tasks), "count"),
      "spark.executor_cpu_s" -> (stageSum(_.cpuNs) / 1e9, "s"),
      "spark.executor_run_s" -> (stageSum(_.runMs) / 1e3, "s"),
      "spark.shuffle_read_bytes" -> (stageSum(_.shuffleRead), "B"),
      "spark.shuffle_write_bytes" -> (stageSum(_.shuffleWrite), "B"),
      "spark.spill_bytes" -> (stageSum(_.spill), "B"),
      "spark.peak_exec_mem_mb" -> (cs.flatMap(_.jobs.flatMap(_.stages)).distinct
        .flatMap(t.stageAgg).map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0, "MB"),
      "spark.driver_gap_s" -> (perCycle(p => p.cycle.wallS - p.jobUnionS), "s"),
      "fs.read_ops_per_cycle" -> (ctr(_.fsReadOps), "count"),
      "fs.write_ops_per_cycle" -> (ctr(_.fsWriteOps), "count"),
      "fs.bytes_read_per_cycle" -> (ctr(_.fsBytesRead), "B"),
      "fs.bytes_written_per_cycle" -> (ctr(_.fsBytesWritten), "B"),
      "jvm.gc_s" -> (ctr(_.gcMs) / 1e3, "s"),
      "jvm.jit_s" -> (ctr(_.jitMs) / 1e3, "s"),
      "unattributed_s" -> (perCycle(_.unattributedS), "s"),
      "trace.cycle_p50_s" -> (traced.cycleP50, "s"),
      "trace.overhead_pct" -> (100.0 * (traced.cycleP50 / plain.cycleP50 - 1), "%"))
  }

  def printTable(a: Main.Args, m: Metrics, errorRate: Double,
                 checks: Seq[(String, Option[String])], detail: Map[String, Any]): Unit = {
    println(s"== liftbench ${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    m.foreach { case (k, (v, u)) => println(f"  $k%-32s $v%16.6f  $u") }
    if (!a.trace) println(f"  ${"error_rate"}%-32s $errorRate%16.6f  failed/attempted")
    detail.get("attribution_of_cycle_p50").collect { case at: Map[_, _] =>
      println("  attribution of a typical cycle (s):")
      at.foreach { case (k, v) => println(s"    $k = $v") }
    }
    checks.foreach { case (n, why) => println(s"  check $n: ${why.fold("ok")("FAILED: " + _)}") }
  }

  def writeFile(path: String, text: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes("UTF-8"))
  }

  /** Spans, jobs and streaming progress of the traced pass, as JSON. */
  def writeTrace(path: String, a: Main.Args, t: Tracer, at: Attribution): Unit =
    writeFile(path, Json(ListMap(
      "workload" -> a.workload, "seed" -> a.seed,
      "spans" -> t.allSpans.map(s => ListMap("id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "parent" -> s.parent, "cycle" -> s.cycle,
        "start_ns" -> s.start, "end_ns" -> s.end)),
      "jobs" -> t.allJobs.map(j => ListMap("id" -> j.id, "cycle" -> j.cycle,
        "layer" -> j.layer, "start_ns" -> j.start, "end_ns" -> j.end,
        "stages" -> j.stages, "callsite" -> j.details.linesIterator.take(3).toSeq)),
      "progress" -> t.allProgress.map(p => ListMap("ts_ms" -> p.tsMs, "rows" -> p.rows,
        "duration_ms" -> p.durations)),
      "cycles" -> at.cycles.map(p => ListMap("cycle" -> p.cycle.idx,
        "wall_s" -> p.cycle.wallS, "job_s" -> p.jobS, "self_s" -> p.selfS,
        "unattributed_s" -> p.unattributedS)))))
}
