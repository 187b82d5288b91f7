package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Small numeric helpers. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Least-squares slope of `ys` over their indices. */
  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val xs = ys.indices.map(_.toDouble)
      val mx = xs.sum / xs.size; val my = ys.sum / ys.size
      xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        xs.map(x => (x - mx) * (x - mx)).sum
    }

  /** The highest whole percentile with at least 10 samples above it, and
    * the nearest-rank value there; `None` below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val p = ((s.size - 10) * 100) / s.size
      val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
      Some((p, s(rank - 1)))
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Fsx {
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length
    walk(new File(path))
  }

  def delete(path: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new File(path))
  }
}

/** One timed pass of a workload: its wall time, the latencies of its
  * repeated operation, and the operations attempted and failed. An
  * operation fails when it throws or when an output check on it fails. */
final class Pass(val dir: String) {
  var wallS = 0.0
  val opS = mutable.ArrayBuffer[Double]()
  private var attempted = 0
  val failures = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
  var heapPeakBytes = 0L
  var collections = 0
  var storedBytes = 0L
  /** Per-layer numbers that only the workload knows (named extras). */
  val extras = mutable.LinkedHashMap[String, Double]()
  /** Traced-only work inside the pass, left out of its wall. */
  var excludedS = 0.0
  /** JVM garbage-collection time during the pass. */
  var gcS = 0.0
  var startMs = 0L
  var endMs = 0L

  def ops: Int = attempted
  def failed: Int = failures.size

  def fail(op: String, msg: String): Unit =
    failures.getOrElseUpdate(op, mutable.ArrayBuffer()) += msg

  def check(op: String, ok: Boolean, msg: => String): Unit =
    if (!ok) fail(op, msg)

  /** Run one operation; a throw is recorded against it and rethrown. A
    * `repeated` operation's latency joins `opS`. */
  def op[A](name: String, repeated: Boolean = false)(body: => A): A = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try body
      catch { case e: Throwable => fail(name, s"threw $e"); throw e }
    if (repeated) opS += Stats.secondsSince(t0)
    r
  }

  /** Wall time since `t0` without the excluded time. */
  def finish(t0: Long): Unit = wallS = Stats.secondsSince(t0) - excludedS
}

/** A workload: seeded inputs, a warm-up, timed passes and output checks. */
trait Workload {
  def name: String
  /** Items one pass handles: psets offered or docs ingested. */
  def items: Long
  /** Generate the inputs from the seed (set-up). */
  def generate(): Unit
  /** The first steps of a pass, at a small size, in `dir` (set-up). */
  def warmUp(dir: String): Unit
  /** One pass in `dir`; sets `wallS` and the operation latencies. */
  def pass(p: Pass, tr: Tracer): Unit
  /** Output checks of a finished pass, outside the timed part; also fills
    * `storedBytes` and the named extras. */
  def check(p: Pass): Unit
  /** Input sizes and generator facts for the report. */
  def facts: Seq[(String, String)]
}

final case class Args(workload: String, seed: Long, trace: Boolean,
                      work: String, traceOut: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("trace-out", m("work") + "/traces"))
  }
}

object Main {

  val generateReps = 3

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, args.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val inputs = s"${args.work}/inputs"
    val w: Workload = args.workload match {
      case "sweep" => new Sweep(spark, args.seed)
      case "curate" => new Curate(spark, args.seed, inputs)
      case other => sys.error(s"unknown workload $other")
    }
    val out = new Report(w, args, cores, spark)
    try {
      // set-up: generation three times (the median counts), then one
      // warm-up: the first steps of a pass at a small size
      val gens = (1 to generateReps).map { _ =>
        val t0 = System.nanoTime()
        w.generate()
        Stats.secondsSince(t0)
      }
      val t0 = System.nanoTime()
      val warm = s"${args.work}/warmup"
      w.warmUp(warm)
      Fsx.delete(warm)
      out.sessionS = sessionS
      out.generateS = gens
      out.warmUpS = Stats.secondsSince(t0)
      out.setupS = sessionS + Stats.median(gens) + out.warmUpS

      if (!args.trace)
        out.passes += runPass(w, s"${args.work}/pass-0", new Tracer(spark, false))
      else {
        // traced first, so its numbers describe the same pass an untraced
        // run times; the untraced pass after it is warmer, which makes the
        // overhead ratio read high rather than low
        val tr = new Tracer(spark, true)
        out.tracedPass = Some(runPass(w, s"${args.work}/pass-0", tr))
        out.passes += runPass(w, s"${args.work}/pass-1", new Tracer(spark, false))
        out.trace = Some(tr.report())
      }
    } catch {
      case e: Throwable =>
        out.aborted = Some(e.toString)
        e.printStackTrace()
    } finally {
      out.print()
      spark.stop()
    }
  }

  def runPass(w: Workload, dir: String, tr: Tracer): Pass = {
    val p = new Pass(dir)
    new File(dir).mkdirs()
    HeapWatch.start()
    val gc0 = HeapWatch.gcTimeS
    try {
      p.startMs = System.currentTimeMillis()
      w.pass(p, tr)
      p.endMs = System.currentTimeMillis()
      // collector times are whole milliseconds
      p.gcS = math.rint((HeapWatch.gcTimeS - gc0) * 1e3) / 1e3
      val (peak, n) = HeapWatch.peakSinceStart
      p.heapPeakBytes = peak
      p.collections = n
      if (tr.enabled) tr.report() // the checks below are not traced
    } catch {
      case e: Throwable =>
        if (p.failed == 0) p.fail("pass", s"threw $e")
        e.printStackTrace()
    }
    if (p.wallS > 0) {
      try w.check(p)
      catch { case e: Throwable => p.fail("check", s"threw $e"); e.printStackTrace() }
    }
    Fsx.delete(dir)
    p
  }
}
