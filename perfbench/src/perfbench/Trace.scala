package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call of a span: a named interval on the driver thread. */
final case class SpanCall(id: String, name: String, parent: Option[String],
                          startMs: Long) {
  var endMs: Long = -1L
  def wallMs: Long = endMs - startMs
}

/** A Spark job as the listener saw it, with the metrics of its tasks. */
final class JobRec(val id: Int, val group: Option[String], val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

/** Span tracer. Disabled, `span` only runs its body. Enabled, it registers
  * a `SparkListener` and a `StreamingQueryListener`, tags the Spark jobs of
  * each span with the span id through `setJobGroup`, and keeps every span
  * call, job and streaming trigger in memory until [[report]]. A job whose
  * group is not a span id (a streaming micro-batch runs on the query's own
  * thread, under the query's group) goes to the innermost span open at the
  * job's start. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val calls = mutable.ArrayBuffer[SpanCall]()
  private var stack: List[SpanCall] = Nil
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val triggerPhases = mutable.ArrayBuffer[Map[String, Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val j = new JobRec(e.jobId, group, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) triggerPhases.synchronized {
        triggerPhases += e.progress.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap
      }
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val c = SpanCall(s"perfbench-span-${calls.size}", name,
        stack.headOption.map(_.id), System.currentTimeMillis())
      calls += c
      stack = c :: stack
      sc.setJobGroup(c.id, name)
      try body
      finally {
        c.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  private var finished: Option[TraceReport] = None

  /** Per-span numbers, the job list and the trigger phases, once every
    * event posted so far has been delivered. The first call also removes
    * the listeners, so nothing after it counts. */
  def report(): TraceReport = finished.getOrElse {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    val byId = calls.map(c => c.id -> c).toMap
    def innermostAt(t: Long): Option[SpanCall] =
      calls.filter(c => c.startMs <= t && t <= c.endMs)
        .maxByOption(c => depth(c, byId))
    val allJobs = jobs.values.asScala.toSeq.sortBy(_.id)
    val jobSpan: Map[Int, Option[SpanCall]] = allJobs.map { j =>
      j.id -> j.group.flatMap(byId.get).orElse(innermostAt(j.startMs))
    }.toMap
    val r = TraceReport(calls.toSeq, allJobs, jobSpan,
      triggerPhases.synchronized(triggerPhases.toSeq), byId)
    finished = Some(r)
    r
  }

  private def depth(c: SpanCall, byId: Map[String, SpanCall]): Int =
    c.parent.flatMap(byId.get).map(depth(_, byId) + 1).getOrElse(0)
}

/** Aggregated per-span numbers of one traced pass. */
final case class SpanStats(calls: Int, wallS: Double, selfS: Double,
                           driverS: Double, jobs: Int, tasks: Long,
                           shuffleWriteBytes: Long, spillBytes: Long,
                           inputBytes: Long)

final case class TraceReport(calls: Seq[SpanCall], jobs: Seq[JobRec],
                             jobSpan: Map[Int, Option[SpanCall]],
                             triggers: Seq[Map[String, Long]],
                             byId: Map[String, SpanCall]) {

  private def under(c: SpanCall, ancestor: SpanCall): Boolean =
    c.id == ancestor.id ||
      c.parent.flatMap(byId.get).exists(under(_, ancestor))

  /** Jobs attributed to `c` or to a span nested in it. */
  def jobsOf(c: SpanCall): Seq[JobRec] =
    jobs.filter(j => jobSpan(j.id).exists(under(_, c)))

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var total = 0L
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def stats(name: String): SpanStats = {
    val cs = calls.filter(_.name == name)
    val js = cs.flatMap(jobsOf).distinct
    val driverMs = cs.map { c =>
      val busy = covered(jobsOf(c).map(j =>
        (j.startMs, if (j.endMs < 0) c.endMs else j.endMs)), c.startMs, c.endMs)
      c.wallMs - busy
    }.sum
    val childMs = cs.map { c =>
      covered(calls.filter(_.parent.contains(c.id)).map(k => (k.startMs, k.endMs)),
        c.startMs, c.endMs)
    }.sum
    SpanStats(cs.size, cs.map(_.wallMs).sum / 1e3,
      (cs.map(_.wallMs).sum - childMs) / 1e3, driverMs / 1e3, js.size,
      js.map(_.tasks).sum, js.map(_.shuffleWriteBytes).sum,
      js.map(_.spillBytes).sum, js.map(_.inputBytes).sum)
  }

  /** Time within [lo, hi] covered by top-level calls other than `skip`. */
  def topLevelCoveredS(lo: Long, hi: Long, skip: Set[String]): Double =
    covered(calls.filter(c => c.parent.isEmpty && !skip(c.name))
      .map(c => (c.startMs, c.endMs)), lo, hi) / 1e3

  def taskRunS: Double = jobs.map(_.runMs).sum / 1e3

  /** Median of one trigger phase over the triggers that read data, in s. */
  def triggerMedianS(phase: String): Double =
    Stats.median(triggers.flatMap(_.get(phase)).map(_ / 1e3))

  def toJson: String = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val cs = calls.map(c =>
      s"""{"id":${str(c.id)},"name":${str(c.name)},"parent":${c.parent.map(str).getOrElse("null")},"start_ms":${c.startMs},"end_ms":${c.endMs}}""")
    val js = jobs.map(j =>
      s"""{"job":${j.id},"span":${jobSpan(j.id).map(c => str(c.id)).getOrElse("null")},"start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},"run_ms":${j.runMs},"shuffle_write_bytes":${j.shuffleWriteBytes},"spill_bytes":${j.spillBytes},"input_bytes":${j.inputBytes}}""")
    val ts = triggers.map(t =>
      t.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
    val summary = calls.map(_.name).distinct.map { n =>
      val st = stats(n)
      s"""${str(n)}:{"calls":${st.calls},"wall_s":${st.wallS},"self_s":${st.selfS},"driver_s":${st.driverS},"jobs":${st.jobs},"tasks":${st.tasks}}"""
    }
    s"""{"summary":{${summary.mkString(",")}},"spans":[${cs.mkString(",")}],"jobs":[${js.mkString(",")}],"triggers":[${ts.mkString(",")}]}"""
  }
}

/** Heap numbers from the JVM's management beans. */
object HeapWatch {

  private def isOld(pool: String): Boolean =
    pool.contains("Old Gen") || pool.contains("Tenured")

  @volatile private var peak = 0L
  @volatile private var collections = 0

  /** Every collection reports the old generation's occupancy after it;
    * the largest since [[start]] is the peak. */
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if isOld(pool) => u.getUsed }
        synchronized {
          collections += 1
          peak = (old ++ Some(peak)).max
        }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  private def oldUsed: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))
      .map(_.getUsage.getUsed).maxOption.getOrElse(0L)

  /** Start a timed part: one full collection, so every pass starts from the
    * same heap, then the peak restarts at the live heap it leaves. */
  def start(): Unit = {
    System.gc()
    synchronized { peak = oldUsed; collections = 0 }
  }

  /** Peak old-generation occupancy after GC since [[start]], and the
    * number of collections that reported it. */
  def peakSinceStart: (Long, Int) = synchronized((peak, collections))

  /** Total collection time of every collector so far, in seconds. */
  def gcTimeS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
}
