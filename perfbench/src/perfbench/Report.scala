package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The layers' spans and named extras, in report order. Every workload
  * reports all of them in a traced run; a span the workload never opens
  * reads 0, which is what "stays flat" means for it. */
object Layers {
  val spans: Seq[String] = Seq(
    "core.Grid.pgrid",
    "core.PsetHash.wash_hash",
    "core.Study.run.bulk",
    "core.Database.rebuildSkipManifest",
    "core.Study.run.extend",
    "core.Study.run.grow",
    "core.Database.reads",
    "ops.Text.gate",
    "ops.Classifier.train",
    "ops.Classifier.score",
    "ops.Dedup.nearDup",
    "ops.Dedup.ngramVerify",
    "ops.Sampling.mixtureByTokens",
    "ops.Packing.concatChunks",
    "ops.Tokenize.trainBpe",
    "ops.Tokenize.encode",
    "streaming.Monitor.drain")

  /** Spans called more than once per pass; they also report `.calls`. */
  val repeated: Set[String] = Set("core.Study.run.extend", "streaming.Monitor.drain")

  /** Traced-only span, left out of the traced wall. */
  val traceOnly: Set[String] = Set("core.PsetHash.wash_hash")

  val spanFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "shuffle_write_bytes" -> "B", "spill_bytes" -> "B")

  val triggerPhases: Seq[String] =
    Seq("addBatch", "walCommit", "queryPlanning", "latestOffset", "commitOffsets")

  /** Named extras a workload fills in its checks: name -> unit. */
  val extras: Seq[(String, String)] = Seq(
    "core.Study.run.extend.skip_ratio" -> "ratio",
    "core.Study.run.extend.slope_ms_per_run" -> "ms/run",
    "core.Database.reads.input_bytes" -> "B",
    "core.Database.run_dirs" -> "count",
    "ops.Dedup.verify_yield" -> "ratio",
    "ops.Tokenize.trainBpe.rounds" -> "count",
    "ops.Dedup.index_bytes_per_doc" -> "B/doc")
}

/** Collects a run's results and prints the report: one line per metric
  * with its unit, then the result JSON as the last line of stdout. */
final class Report(w: Workload, args: Args, cores: Int, spark: SparkSession) {
  var sessionS = 0.0
  var setupS = 0.0
  var generateS: Seq[Double] = Nil
  var warmUpS = 0.0
  val passes = mutable.ArrayBuffer[Pass]()
  var tracedPass: Option[Pass] = None
  var trace: Option[TraceReport] = None
  var aborted: Option[String] = None

  private type Metric = (String, Double, String)

  def hostFacts: Seq[(String, String)] = Seq(
    "workload" -> w.name,
    "seed" -> args.seed.toString,
    "trace" -> (if (args.trace) "1" else "0"),
    "nproc" -> cores.toString,
    "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "master" -> spark.sparkContext.master) ++ w.facts

  /** End-to-end metrics over the untraced passes. */
  def endToEnd: Seq[Metric] = {
    val ps = passes.filter(_.wallS > 0).toSeq
    if (ps.isEmpty) return Seq("setup_s" -> setupS).map { case (k, v) => (k, v, "s") }
    val wall = Stats.median(ps.map(_.wallS))
    val opLat = ps.flatMap(_.opS)
    Seq(
      ("wall_s", wall, "s"),
      ("items_per_s", w.items / wall, "items/s"),
      ("op_p50_s", Stats.median(opLat), "s"),
      ("setup_s", setupS, "s"),
      ("heap_live_peak_mb", ps.map(_.heapPeakBytes).max / 1048576.0, "MB"),
      ("stored_bytes_per_item", Stats.median(ps.map(_.storedBytes.toDouble)) / w.items, "B"))
  }

  /** Per-layer metrics of the traced pass. */
  def perLayer(p: Pass, t: TraceReport): Seq[Metric] = {
    val untracedWall = Stats.median(passes.filter(_.wallS > 0).map(_.wallS).toSeq)
    val spanMetrics = Layers.spans.flatMap { s =>
      val st = t.stats(s)
      val vals = Seq(st.wallS, st.driverS, st.jobs.toDouble, st.tasks.toDouble,
        st.shuffleWriteBytes.toDouble, st.spillBytes.toDouble)
      Layers.spanFields.zip(vals).map { case ((f, u), v) => (s"$s.$f", v, u) } ++
        (if (Layers.repeated(s)) Seq((s"$s.calls", st.calls.toDouble, "count")) else Nil)
    }
    val extras = Layers.extras.map {
      case (k @ "core.Database.reads.input_bytes", u) =>
        (k, t.stats("core.Database.reads").inputBytes.toDouble, u)
      case (k, u) => (k, p.extras.getOrElse(k, 0.0), u)
    }
    val triggers = Layers.triggerPhases.map { ph =>
      val v = if (t.triggers.isEmpty) 0.0 else t.triggerMedianS(ph)
      (s"streaming.trigger.${ph}_s", v, "s")
    } :+ (("streaming.triggers", t.triggers.size.toDouble, "count"))
    val covered = t.topLevelCoveredS(p.startMs, p.endMs, Layers.traceOnly)
    val tracedWall = p.wallS
    Seq.concat(spanMetrics, extras, triggers, Seq(
      ("spark.task_busy_ratio", t.taskRunS / (tracedWall * cores), "ratio"),
      ("spark.gc_s", p.gcS, "s"),
      ("trace.overhead_ratio", tracedWall / untracedWall, "ratio"),
      ("trace.uncovered_ratio", math.max(0.0, 1.0 - covered / tracedWall), "ratio")))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def print(): Unit = {
    val all = passes.toSeq ++ tracedPass.toSeq
    val attempted = math.max(1, all.map(_.ops).sum)
    val failed = all.map(_.failed).sum + aborted.size
    val out = new StringBuilder
    def line(s: String): Unit = out ++= s ++= "\n"
    line(s"== perfbench ${w.name} ==")
    line("facts: " + hostFacts.map { case (k, v) => s"${str(k)}: ${str(v)}" }
      .mkString("{", ", ", "}"))
    line(f"set-up: session $sessionS%.3f s, generate " +
      generateS.map(r => f"$r%.3f").mkString("[", ", ", "] s") + f", warm-up $warmUpS%.3f s")
    passes.zipWithIndex.foreach { case (p, i) =>
      line(f"pass $i: wall ${p.wallS}%.3f s, ${p.ops} ops, ${p.failed} failed, ${p.collections} GCs" +
        (if (p.opS.nonEmpty) p.opS.map(x => f"$x%.3f").mkString(", op latencies [", ", ", "] s") else ""))
    }
    all.flatMap(_.failures).foreach { case (op, msgs) =>
      line(s"FAILED $op: ${msgs.mkString("; ")}")
    }
    aborted.foreach(e => line(s"ABORTED: $e"))
    val e2e = endToEnd
    line("end-to-end (untraced):")
    e2e.foreach { case (k, v, u) => line(f"  $k%-22s ${num(v)}%s $u") }
    val lat = passes.toSeq.flatMap(_.opS)
    Stats.tail(lat) match {
      case Some((pct, v)) =>
        line(f"  ${"op_tail_s"}%-22s ${num(v)} s (p$pct of ${lat.size} samples, ${lat.size - math.ceil(pct / 100.0 * lat.size).toInt} beyond)")
      case None =>
        line(f"  ${"op_tail_s"}%-22s ${num(if (lat.isEmpty) 0.0 else lat.max)} s (max of ${lat.size} samples: fewer than 11, no percentile has 10 beyond it)")
    }
    line(f"  ${"fail_ratio"}%-22s ${num(failed.toDouble / attempted)} (${failed} of $attempted operations)")
    val metrics: Seq[Metric] = (tracedPass, trace) match {
      case (Some(p), Some(t)) =>
        val pl = perLayer(p, t)
        line(s"per-layer (traced pass, ${pl.size} metrics):")
        pl.foreach { case (k, v, u) => line(f"  $k%-48s ${num(v)} $u") }
        writeTrace(t)
        pl
      case _ => e2e
    }
    val json = metrics.map { case (k, v, u) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}" }
      .mkString("{", ", ", "}")
    line(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    System.out.print(out.toString)
    System.out.flush()
  }

  private def writeTrace(t: TraceReport): Unit = {
    new File(args.traceOut).mkdirs()
    val f = new File(args.traceOut, s"${w.name}-seed${args.seed}.json")
    val pw = new PrintWriter(f, "UTF-8")
    try pw.write(s"""{"facts": ${hostFacts.map { case (k, v) => s"${str(k)}: ${str(v)}" }
      .mkString("{", ", ", "}")}, "trace": ${t.toJson}}""")
    finally pw.close()
    System.err.println(s"[perfbench] spans written to $f")
  }
}
