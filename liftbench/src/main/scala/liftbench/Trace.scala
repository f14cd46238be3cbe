package liftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch nanoseconds, monotone within the process: spans use
  * it, and Spark's listener events (epoch milliseconds) line up with it. */
object Clock {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowNs: Long = epochMs0 * 1000000L + (System.nanoTime() - nano0)
}

/** Process counters sampled at cycle boundaries. */
final case class Counters(cpuNs: Long, gcMs: Long, jitMs: Long, listingOps: Long,
                          fsReadOps: Long, fsWriteOps: Long, fsBytesRead: Long,
                          fsBytesWritten: Long) {
  def -(o: Counters): Counters = Counters(cpuNs - o.cpuNs, gcMs - o.gcMs,
    jitMs - o.jitMs, listingOps - o.listingOps, fsReadOps - o.fsReadOps,
    fsWriteOps - o.fsWriteOps, fsBytesRead - o.fsBytesRead,
    fsBytesWritten - o.fsBytesWritten)
}

object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  @annotation.nowarn("cat=deprecation")
  def sample(): Counters = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Counters(
      processCpuNs,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L),
      graft.common.FsUtils.listingOps.get(),
      fs.map(s => s.getReadOps + s.getLargeReadOps).sum.toLong,
      fs.map(_.getWriteOps).sum.toLong,
      fs.map(_.getBytesRead).sum,
      fs.map(_.getBytesWritten).sum)
  }
}

/** One span: a benchmark call into a layer's public function. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      cycle: Int, start: Long, end: Long)

/** One Spark job, attributed to the innermost `graft.<module>` frame of its
  * result stage's call site (or, without one, to the enclosing span).
  * `end` stays -1 until the job's end event arrives. */
final case class JobRec(id: Int, cycle: Int, layer: String, details: String,
                        start: Long, var end: Long, stages: Seq[Int])

/** Task metrics rolled up per stage. */
final class StageAgg {
  var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var shuffleRead = 0L
  var shuffleWrite = 0L; var spill = 0L; var peakMem = 0L
}

/** Streaming query progress of one micro-batch. */
final case class Progress(tsMs: Long, rows: Long, durations: Map[String, Long])

/** The benchmark's tracer. Spans live in memory and are written as JSON
  * when the run ends; Spark and streaming listeners record jobs, stages and
  * progress from outside the program. Inactive, a span is a plain call and
  * the cycle's jobs carry no mark, so the listeners skip them. */
final class Tracer(spark: SparkSession) {
  @volatile var active = false
  private var cycle = -1
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, String, Long)] // id, name, layer, start
  private var nextId = 0

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  private val sc = spark.sparkContext

  /** Mark the calling thread's next jobs as cycle `c` when tracing is on;
    * jobs of untraced cycles carry no mark and are not recorded. */
  def setCycle(c: Int): Unit = {
    cycle = c
    sc.setLocalProperty(Tracer.CycleProp, if (active && c >= 0) c.toString else null)
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      val prevLayer = sc.getLocalProperty(Tracer.LayerProp)
      open = (id, name, layer, Clock.nowNs) :: open
      sc.setLocalProperty(Tracer.LayerProp, layer)
      try body
      finally {
        val (_, _, _, start) = open.head
        open = open.tail
        sc.setLocalProperty(Tracer.LayerProp, prevLayer)
        spans += Span(id, name, layer, parent, cycle, start, Clock.nowNs)
      }
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Tracer.CycleProp))).map(_.toInt)
        .foreach(c => recordJob(e, props, c))
    }
    private def recordJob(e: SparkListenerJobStart, props: Option[java.util.Properties],
                          c: Int): Unit = {
      val spanLayer = props.flatMap(p => Option(p.getProperty(Tracer.LayerProp)))
      val details =
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val layer = Tracer.moduleOf(details).orElse(spanLayer).getOrElse("bench")
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      jobs.put(e.jobId, JobRec(e.jobId, c, layer, details, e.time * 1000000L, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && stageToJob.containsKey(e.stageId)) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.runMs += m.executorRunTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Register the listeners; spans and job marks follow `active`. */
  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Stop recording; waits (bounded) until every recorded job has ended so
    * the asynchronous listener bus has delivered the run's events. */
  def stop(): Unit = {
    active = false
    val deadline = System.currentTimeMillis() + 10000
    def pending = jobs.values.asScala.exists(_.end < 0)
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // trailing task-end and progress events
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    sc.setLocalProperty(Tracer.CycleProp, null)
    sc.setLocalProperty(Tracer.LayerProp, null)
  }

  def allSpans: Seq[Span] = spans.toSeq
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def stageAgg(id: Int): Option[StageAgg] = Option(stages.get(id))
  def allProgress: Seq[Progress] = progress.asScala.toSeq
}

object Tracer {
  val CycleProp = "liftbench.cycle"
  val LayerProp = "liftbench.layer"

  private val GraftFrame = """graft\.([a-z]\w*)\..*""".r

  /** The module of the innermost `graft.<module>` frame in a call site
    * (`graft` for top-level objects such as `graft.Tables`). */
  def moduleOf(details: String): Option[String] =
    details.linesIterator.map(_.trim.stripPrefix("at ")).collectFirst {
      case GraftFrame(module) => module
      case l if l.startsWith("graft.") => "graft"
    }
}
