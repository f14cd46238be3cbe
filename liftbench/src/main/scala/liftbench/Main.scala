package liftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.table.ManagedTable

/** One timed cycle as observed by the benchmark. */
final case class CycleObs(idx: Int, start: Long, end: Long, rows: Long, ctr: Counters) {
  def wallS: Double = (end - start) / 1e9
}

/** Bytes and files under a workload's table paths, split by role. */
final case class Census(dataBytes: Long, logBytes: Long, sidecarBytes: Long,
                        dataFiles: Long, logFiles: Long, sidecarFiles: Long,
                        versions: Long) {
  def totalBytes: Long = dataBytes + logBytes + sidecarBytes
}

object Census {
  /** Walk each table root: `_graft_log` is the log, other `_`/`.` entries
    * (stats, blooms, checkpoints, checksums) are sidecars, the rest data. */
  def apply(spark: SparkSession, roots: Seq[String]): Census = {
    var c = Census(0, 0, 0, 0, 0, 0, 0)
    def walk(f: File, role: String): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach { k =>
        val n = k.getName
        val r =
          if (role != "data") role
          else if (n == "_graft_log") "log"
          else if (n.startsWith("_") || n.startsWith(".") || n.endsWith(".crc")) "sidecar"
          else "data"
        walk(k, r)
      } else {
        val len = f.length
        c = role match {
          case "data" => c.copy(dataBytes = c.dataBytes + len, dataFiles = c.dataFiles + 1)
          case "log" => c.copy(logBytes = c.logBytes + len, logFiles = c.logFiles + 1)
          case _ => c.copy(sidecarBytes = c.sidecarBytes + len, sidecarFiles = c.sidecarFiles + 1)
        }
      }
    roots.foreach(r => walk(new File(r), "data"))
    val versions = roots.map { r =>
      val t = ManagedTable(spark, r)
      if (t.exists) t.history().size.toLong else 0L
    }.sum
    c.copy(versions = versions)
  }
}

/** Outcome of one measured pass over a workload. */
final case class Pass(wl: Workload, setupS: Seq[Double], cycles: Seq[CycleObs],
                      lookupS: Seq[Double], lookupConds: Seq[String],
                      regionS: Double, rows: Long, cpuNs: Long,
                      censusStart: Census) {
  def cycleP50: Double = Stats.median(cycles.map(_.wallS))
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, results: String, scale: Scale,
                        gitHead: String, sourceHash: String)


  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("results"),
      if (m.get("scale").contains("tiny")) Scale.tiny else Scale.standard,
      m.getOrElse("git-head", "unknown"), m.getOrElse("source-hash", "unknown"))
  }

  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    // the configuration graft.Bench measures under, with every scratch
    // location inside the benchmark's work dir
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"liftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark)
    val runner = new Runner(spark, a, tracer)

    val (metrics, detail, checkResults) =
      if (!a.trace) {
        val (wl, setupS) = runner.setUp("run", a.scale.setups)
        val p = runner.measure(Seq((wl, setupS, false)), a.scale.minCycles).head
        val heapMb = runner.liveHeapMb()
        val census = Census(spark, p.wl.tablePaths)
        val checks = runner.check(p.wl)
        (Report.endToEnd(p, sessionS, census, heapMb), Report.passDetail(p, census), checks)
      } else {
        val (plainWl, plainSetup) = runner.setUp("plain", 1)
        val (tracedWl, tracedSetup) = runner.setUp("traced", 1)
        tracer.start()
        val Seq(plain, traced) = runner.measure(
          Seq((plainWl, plainSetup, false), (tracedWl, tracedSetup, true)), a.scale.minCycles)
        tracer.stop()
        val census = Census(spark, traced.wl.tablePaths)
        val prune = runner.pruneInfo(traced)
        val checks = runner.check(traced.wl)
        val attr = new Attribution(tracer, traced)
        Report.writeTrace(s"${a.results}/${a.workload}-seed${a.seed}-spans.json", a, tracer, attr)
        (Report.perLayer(attr, traced, plain, census, prune),
          Report.passDetail(traced, census) ++ Map(
            "attribution_of_cycle_p50" -> attr.typicalCycle,
            "untraced_cycle_p50_s" -> plain.cycleP50),
          checks)
      }
    val (attempted, failed) = (runner.attempted, runner.failed)

    val env = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "scale" -> (if (a.scale == Scale.tiny) "tiny" else "standard"),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_start" -> loadStart, "loadavg_end" -> os.getSystemLoadAverage,
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
      "git_head" -> a.gitHead, "source_sha256" -> a.sourceHash,
      "spark_version" -> spark.version,
      "spark_conf" -> scala.collection.immutable.TreeMap(spark.conf.getAll.toSeq: _*))
    val correct = failed == 0
    val errorRate = failed.toDouble / math.max(1, attempted)

    Report.printTable(a, metrics, errorRate, checkResults, detail)
    val result = Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Report.writeFile(s"${a.results}/${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json",
      Json(Map("env" -> env, "detail" -> detail, "error_rate" -> errorRate,
        "errors" -> runner.errors, "result" -> result)))
    println(Json(Map("env" -> env)))
    println(Json(Map("detail" -> detail, "error_rate" -> errorRate)))
    println(Json(result))
    Console.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Drives set-up, the timed loop, lookups and checks for one workload. */
final class Runner(spark: SparkSession, a: Main.Args, tracer: Tracer) {
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()
  var attempted = 0
  var failed = 0

  /** One operation: a thrown call or a failed check counts as failed. */
  private def op(what: String)(body: => Option[String]): Boolean = {
    attempted += 1
    val why = try body catch {
      case e: Throwable =>
        e.printStackTrace()
        Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
    }
    why.foreach { w =>
      failed += 1
      errors += s"$what: $w".take(2000)
      System.err.println(s"[liftbench] $what failed: ${w.take(500)}")
    }
    why.isEmpty
  }

  /** Land, run and read back cycle `i`. Returns the cycle if it ran. */
  private def runCycle(wl: Workload, i: Int, maxLookups: Int, lookupS: mutable.Buffer[Double],
                       conds: mutable.Buffer[String]): Option[CycleObs] = {
    var obs: Option[CycleObs] = None
    op(s"cycle $i") {
      wl.beforeCycle(i)
      tracer.setCycle(i)
      try {
        val c0 = Counters.sample()
        val start = Clock.nowNs
        val rows = tracer.span("cycle", "cycle")(wl.cycle(i))
        val end = Clock.nowNs
        obs = Some(CycleObs(i, start, end, rows, Counters.sample() - c0))
      } finally tracer.setCycle(-1)
      wl.afterCycle(i)
      None
    }
    if (obs.isDefined) wl.lookups(i).take(maxLookups).foreach { lk =>
      op(s"lookup ${lk.condition}") {
        val t0 = Clock.nowNs
        val got = tracer.span("ManagedTable.readWhere", "table")(
          wl.lookupTable.readWhere(lk.condition).collect())
        lookupS += (Clock.nowNs - t0) / 1e9
        conds += lk.condition
        lk.verify(got)
      }
    }
    obs
  }

  /** Set up `setups` fresh instances of the workload (generate inputs,
    * seed tables, warm-up cycles) and return the last with each set-up's
    * seconds. */
  def setUp(name: String, setups: Int): (Workload, Seq[Double]) = {
    var wl: Workload = null
    val secs = (0 until setups).map { k =>
      val t0 = Clock.nowNs
      wl = Workloads(a.workload, new Ctx(spark, a.seed, s"${a.work}/$name-$k", a.scale, tracer))
      op(s"prepare $name-$k") { wl.prepare(); None }
      (0 until a.scale.warmup).foreach(i => runCycle(wl, i, 0, mutable.Buffer(), mutable.Buffer()))
      (Clock.nowNs - t0) / 1e9
    }
    (wl, secs)
  }

  /** Timed cycles for at least the configured seconds and `minCycles`
    * cycles each, in whole cadence periods, alternating between the
    * instances; tracing is on for the cycles of instances marked traced. */
  def measure(instances: Seq[(Workload, Seq[Double], Boolean)], minCycles: Int): Seq[Pass] = {
    final class Acc {
      val cycles = mutable.ArrayBuffer[CycleObs]()
      val lookupS = mutable.ArrayBuffer[Double]()
      val conds = mutable.ArrayBuffer[String]()
      var cpuNs = 0L
    }
    val accs = instances.map(_ => new Acc)
    val census = instances.map { case (wl, _, _) => Census(spark, wl.tablePaths) }
    val t0 = Clock.nowNs
    def elapsed = (Clock.nowNs - t0) / 1e9
    var i = a.scale.warmup
    def done = elapsed >= a.seconds && instances.zip(accs).forall { case ((wl, _, _), acc) =>
      acc.cycles.size >= minCycles && acc.cycles.size % wl.cadence == 0 }
    while (!done) {
      instances.zip(accs).foreach { case ((wl, _, traced), acc) =>
        tracer.active = traced
        val cpu0 = Counters.processCpuNs
        runCycle(wl, i, a.scale.maxLookups, acc.lookupS, acc.conds).foreach(acc.cycles += _)
        acc.cpuNs += Counters.processCpuNs - cpu0
        tracer.active = false
      }
      i += 1
    }
    val regionS = elapsed
    instances.zip(accs).zip(census).map { case (((wl, setupS, _), acc), c0) =>
      // instances share the wall clock: each owns its share of the region
      Pass(wl, setupS, acc.cycles.toSeq, acc.lookupS.toSeq, acc.conds.toSeq,
        regionS / instances.length, acc.cycles.map(_.rows).sum, acc.cpuNs, c0)
    }
  }

  /** Heap in use after full GCs; the pauses between them let Spark's
    * context cleaner drop the unpersisted blocks and broadcasts the first
    * collection made unreachable. */
  def liveHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Run every end-of-run check; returns (name, failure) pairs. */
  def check(wl: Workload): Seq[(String, Option[String])] =
    wl.checks().map { case (name, fn) =>
      var why: Option[String] = Some("threw")
      val ok = op(s"check $name") { why = fn(); why }
      name -> (if (ok) None else why)
    }

  /** `pruneInfo` (files read, files in snapshot) for an even sample of the
    * pass's lookups, against the final snapshot. */
  def pruneInfo(p: Pass): Seq[(Long, Long)] = {
    val conds = p.lookupConds.distinct
    val step = math.max(1, conds.length / 24)
    conds.indices.by(step).map(conds).flatMap { c =>
      try Some(p.wl.lookupTable.pruneInfo(c)) catch { case _: Throwable => None }
    }
  }
}
