package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness spans line up with the epoch-ms times Spark puts on jobs.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Process CPU and cumulative GC time of this JVM (driver and local
  * executors share it).
  */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum

  /** (steal, total) jiffies of the host's CPUs so far, from /proc/stat;
    * (0, 0) where it cannot be read. */
  def hostJiffies: (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Exception => (0L, 0L) }
}

/** Highest heap occupancy right after a collection, from the JVM's GC
  * notifications. `reset()` starts a new window; `peakMb` reads it.
  */
object HeapAfterGc {
  @volatile private var peak = 0L
  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / (1024.0 * 1024.0)

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
      }, null, null)
    case _ =>
  }
}

/** Always-on task counter (timed and traced runs alike): the attempted
  * and failed Spark tasks that feed `failed_share`.
  */
final class TaskCounter extends SparkListener {
  val launched = new java.util.concurrent.atomic.AtomicLong
  val failedTasks = new java.util.concurrent.atomic.AtomicLong
  override def onTaskStart(e: SparkListenerTaskStart): Unit = launched.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
}

/** One Spark job as the tracing listener saw it. */
final class JobRec(val id: Int, val group: String, val callSite: String, val start: Double) {
  @volatile var end: Double = Double.NaN
  var taskMs = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Benchmark-owned listener for traced passes: one record per job with
  * its job-group label, its call site (the long form Spark stores on
  * the job's final stage) and the summed metrics of its tasks.
  */
final class JobRecorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs.put(e.jobId, new JobRec(e.jobId, group, site, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    rec.foreach { r =>
      r.synchronized {
        r.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          r.recordsRead += m.inputMetrics.recordsRead
          r.bytesWritten += m.outputMetrics.bytesWritten
          r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  def clear(): Unit = { jobs.clear(); stageJob.clear() }
}

final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)

/** Spans recorded by the harness around each call into a layer. A
  * disabled tracer runs the body and records nothing, so timed passes
  * carry no tracing cost beyond one branch per call.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = mutable.Stack.empty[(Int, String, Double)]
  // process CPU and GC time sampled every few ms while tracing, so the
  // CPU of a span derived later from job records can be read off too
  private val samples = mutable.ArrayBuffer.empty[(Double, Long, Long)]
  @volatile private var sampling = false
  private var sampler: Thread = _

  def startSampling(): Unit = if (enabled) {
    sampling = true
    sampler = new Thread(() => {
      while (sampling) {
        val s = (Clock.nowMs, Proc.cpuNs, Proc.gcMs)
        samples.synchronized(samples += s)
        Thread.sleep(2)
      }
    }, "graftbench-cpu-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  def stopSampling(): Unit = if (enabled && sampler != null) {
    sampling = false
    sampler.join()
    sampler = null
    val s = (Clock.nowMs, Proc.cpuNs, Proc.gcMs)
    samples.synchronized(samples += s)
  }

  private def label(id: Int, name: String) = s"graftbench:$id:$name"

  def open(name: String): Int = {
    if (!enabled) return -1
    val id = nextId
    nextId += 1
    stack.push((id, name, Clock.nowMs))
    sc.setJobGroup(label(id, name), name, interruptOnCancel = false)
    id
  }

  def close(id: Int): Unit = if (enabled) {
    val (sid, name, start) = stack.pop()
    require(sid == id, s"span $name closed out of order")
    val parent = if (stack.isEmpty) -1 else stack.top._1
    spans += Span(sid, name, parent, start, Clock.nowMs)
    if (stack.isEmpty) sc.clearJobGroup()
    else { val (pid, pname, _) = stack.top; sc.setJobGroup(label(pid, pname), pname, interruptOnCancel = false) }
  }

  def span[A](name: String)(body: => A): A = {
    val id = open(name)
    try body finally close(id)
  }

  /** Adds a span derived after the fact (from job records). */
  def derived(name: String, parent: Int, start: Double, end: Double): Unit = if (enabled) {
    spans += Span(nextId, name, parent, start, end)
    nextId += 1
  }

  private def interp(t: Double, pick: ((Double, Long, Long)) => Long): Double = samples.synchronized {
    if (samples.isEmpty) return 0.0
    val i = samples.indexWhere(_._1 >= t)
    if (i <= 0) return pick(samples(if (i == 0) 0 else samples.size - 1)).toDouble
    val (t0, t1) = (samples(i - 1)._1, samples(i)._1)
    val (v0, v1) = (pick(samples(i - 1)).toDouble, pick(samples(i)).toDouble)
    if (t1 <= t0) v1 else v0 + (v1 - v0) * (t - t0) / (t1 - t0)
  }
  def cpuSeconds(start: Double, end: Double): Double = (interp(end, _._2) - interp(start, _._2)) / 1e9
  def gcSeconds(start: Double, end: Double): Double = (interp(end, _._3) - interp(start, _._3)) / 1e3

  def groupOf(s: Span): String = label(s.id, s.name)
}

/** Per-span metrics of one traced pass, computed from the spans and the
  * job records.
  */
object SpanMetrics {

  final case class Totals(var wall: Double = 0, var driver: Double = 0, var cpu: Double = 0,
                          var gc: Double = 0, var slotIdle: Double = 0, var rowsRead: Double = 0,
                          var bytesWritten: Double = 0, var shuffle: Double = 0,
                          var spill: Double = 0, var jobs: Double = 0)

  val fields: Seq[(String, Totals => Double)] = Seq(
    "wall_s" -> (_.wall), "driver_s" -> (_.driver), "cpu_s" -> (_.cpu), "gc_s" -> (_.gc),
    "slot_idle_s" -> (_.slotIdle), "rows_read" -> (_.rowsRead),
    "bytes_written" -> (_.bytesWritten), "shuffle_bytes" -> (_.shuffle),
    "spill_bytes" -> (_.spill), "jobs" -> (_.jobs))

  /** Jobs of each span: a job belongs to the span whose job-group label
    * it carries, or failing that to the innermost span open when it
    * started; a span also owns its descendants' jobs.
    */
  def jobsBySpan(spans: Seq[Span], jobs: Seq[JobRec], groupOf: Span => String): Map[Int, Seq[JobRec]] = {
    val byGroup = spans.map(s => groupOf(s) -> s).toMap
    val byId = spans.map(s => s.id -> s).toMap
    def innermost(t: Double, ok: Span => Boolean): Option[Span] =
      spans.filter(s => s.start <= t && t <= s.end && ok(s)).sortBy(s => s.end - s.start).headOption
    def within(s: Span, root: Span): Boolean =
      s.id == root.id || byId.get(s.parent).exists(within(_, root))
    val leaf: Seq[(Int, JobRec)] = jobs.flatMap { j =>
      val span = byGroup.get(j.group) match {
        // a labelled job may still fall in a span derived beneath its own
        case Some(g) => innermost(j.start, within(_, g)).orElse(Some(g))
        case None => innermost(j.start, _ => true)
      }
      span.map(s => s.id -> j)
    }
    val out = mutable.Map.empty[Int, mutable.ArrayBuffer[JobRec]]
    leaf.foreach { case (sid, j) =>
      var cur: Option[Span] = byId.get(sid)
      while (cur.isDefined) {
        out.getOrElseUpdate(cur.get.id, mutable.ArrayBuffer.empty) += j
        cur = byId.get(cur.get.parent)
      }
    }
    out.view.mapValues(_.toSeq).toMap
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) { if (!curA.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def of(span: Span, jobs: Seq[JobRec], allJobs: Seq[JobRec], tracer: Tracer, cores: Int): Totals = {
    val t = Totals()
    t.wall = (span.end - span.start) / 1e3
    val running = allJobs.filter(j => !j.end.isNaN).map(j => (j.start, j.end))
    t.driver = t.wall - covered(running, span.start, span.end) / 1e3
    t.cpu = tracer.cpuSeconds(span.start, span.end)
    t.gc = tracer.gcSeconds(span.start, span.end)
    jobs.foreach { j =>
      val wall = if (j.end.isNaN) 0.0 else (j.end - j.start) / 1e3
      t.slotIdle += math.max(0.0, cores * wall - j.taskMs / 1e3)
      t.rowsRead += j.recordsRead
      t.bytesWritten += j.bytesWritten
      t.shuffle += j.shuffleBytes
      t.spill += j.spillBytes
      t.jobs += 1
    }
    t
  }
}
