package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Grid, PsetHash, Study, StudyConfig, ValueSchema}

/** The paper's own path: one bulk `Study.run` over a generated grid, the
  * skip manifest, `extRuns` skip-dups extension runs, one run that adds a
  * pset column (the schema-evolution rehash), then a fixed read mix. */
final class Sweep(spark: SparkSession, seed: Long,
                  val size: Gen.SweepSize = Sweep.size) extends Workload {
  import Gen.Pset

  val name = "sweep"
  def items: Long = size.offered

  private[perfbench] var exts: Vector[Gen.Extension] = Vector.empty
  private var grow: Vector[Pset] = Vector.empty
  private var inputDigest = ""

  def generate(): Unit = {
    val (e, g) = Gen.sweepInputs(seed, size)
    exts = e; grow = g
    inputDigest = Gen.digest((e.flatMap(_.params) ++ g).iterator.map(
      _.toSeq.sortBy(_._1).mkString(",")))
  }

  def facts: Seq[(String, String)] = Seq(
    "bulk_psets" -> size.bulk.toString,
    "extension_runs" -> size.extRuns.toString,
    "extension_psets" -> size.extSize.toString,
    "extension_new_psets" -> exts.map(_.fresh).mkString(","),
    "grow_psets" -> size.growSize.toString,
    "psets_offered" -> items.toString,
    "input_sha256" -> inputDigest)

  /** The pass's first steps (bulk run, manifest, one extension) at the
    * small size. */
  def warmUp(dir: String): Unit = {
    val small = new Sweep(spark, seed, Sweep.warmSize)
    small.generate()
    val study = Study(spark, StudyConfig(calcDir = s"$dir/calc", skipDups = true))
    study.run(Sweep.func, Grid.pgrid(Grid.plist("a", Gen.axisA(small.size)),
      Grid.plist("b", Gen.axisB(small.size)), Grid.plist("c", Gen.axisC(small.size))))
    study.database.rebuildSkipManifest()
    small.exts.foreach(e => study.run(Sweep.func, e.params))
  }

  /** What the read mix returned, checked after the pass. */
  private final case class Reads(byC: Map[String, (Long, Long)], changed: Long,
                                 asOfBulk: Long, recent: Map[String, Seq[Any]],
                                 looked: Map[String, Seq[Any]])
  private var reads: Option[Reads] = None
  private var calcDir = ""
  private var extExecuted: Vector[Long] = Vector.empty

  def pass(p: Pass, tr: Tracer): Unit = {
    calcDir = s"${p.dir}/calc"
    val study = Study(spark, StudyConfig(calcDir = calcDir, skipDups = true))
    val db = study.database
    val t0 = System.nanoTime()
    val grid = tr.span("core.Grid.pgrid") {
      Grid.pgrid(Grid.plist("a", Gen.axisA(size)), Grid.plist("b", Gen.axisB(size)),
        Grid.plist("c", Gen.axisC(size)))
    }
    if (tr.enabled) {
      // the serial driver share of the bulk run: wash and hash on the driver
      val t = System.nanoTime()
      tr.span("core.PsetHash.wash_hash") {
        val schema = ValueSchema.infer(grid)
        grid.foreach(g => PsetHash.hash(Study.normalizeFull(g, schema)))
      }
      p.excludedS += Stats.secondsSince(t)
    }
    val bulk = p.op("bulk") {
      tr.span("core.Study.run.bulk")(study.run(Sweep.func, grid))
    }
    p.check("bulk", bulk.executed == grid.size,
      s"bulk executed ${bulk.executed}, expected ${grid.size}")
    p.op("manifest") {
      tr.span("core.Database.rebuildSkipManifest")(db.rebuildSkipManifest())
    }
    extExecuted = exts.zipWithIndex.map { case (e, k) =>
      val out = p.op(s"extend-$k", repeated = true) {
        tr.span("core.Study.run.extend")(study.run(Sweep.func, e.params))
      }
      p.check(s"extend-$k", out.executed == e.fresh,
        s"executed ${out.executed}, expected ${e.fresh} new psets")
      out.executed
    }
    val grown = p.op("grow") {
      tr.span("core.Study.run.grow")(study.run(Sweep.func, grow))
    }
    p.check("grow", grown.executed == grow.size,
      s"grow executed ${grown.executed}, expected ${grow.size}")
    reads = Some(p.op("reads") {
      tr.span("core.Database.reads") {
        val byC = db.read().filter(col("b") < Sweep.bCut).groupBy("c")
          .agg(count(lit(1)), sum("y")).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        val changed = db.changes(afterRun = 0L).count()
        val asOfBulk = db.asOf(0L).count()
        val recent = db.changes(afterRun = size.extRuns.toLong)
          .select("_pset_id", "a", "b", "c", "d").collect()
          .map(r => r.getString(0) -> r.toSeq.tail).toMap
        val probe = recent.keys.toSeq.sorted.take(Sweep.lookups)
        val looked = db.lookupAll(probe).select("_pset_id", "a", "b", "c", "d")
          .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
        Reads(byC, changed, asOfBulk, recent, looked)
      }
    })
    p.finish(t0)
  }

  def check(p: Pass): Unit = {
    val db = Study(spark, StudyConfig(calcDir = calcDir)).database
    val fresh = exts.map(_.fresh.toLong).sum
    val rows = size.bulk + fresh + grow.size
    val df = db.read()
    val r = df.agg(count(lit(1)), countDistinct("_pset_hash"), min("_pset_seq"),
      max("_pset_seq"), countDistinct("_pset_seq")).head()
    p.check("reads", r.getLong(0) == rows, s"row count ${r.getLong(0)}, expected $rows")
    p.check("grow", r.getLong(1) == rows,
      s"${r.getLong(1)} distinct _pset_hash after the rehash, expected $rows")
    p.check("bulk", r.getAs[Number](2).longValue == 0L &&
      r.getAs[Number](3).longValue == rows - 1 && r.getLong(4) == rows,
      s"_pset_seq not contiguous: min ${r.get(2)} max ${r.get(3)} distinct ${r.get(4)}")
    // the read mix against values computed on the driver from the grids
    val all: Seq[Pset] = (for (a <- Gen.axisA(size); b <- Gen.axisB(size);
                               c <- Gen.axisC(size)) yield Map[String, Any]("a" -> a, "b" -> b, "c" -> c)) ++
      exts.flatMap(_.params.filter(_("a").asInstanceOf[Int] >= size.na)) ++ grow
    val want = all.filter(_("b").asInstanceOf[Double] < Sweep.bCut)
      .groupBy(_("c").asInstanceOf[String]).map { case (c, ps) =>
        c -> (ps.size.toLong, ps.map(Sweep.y).sum)
      }
    reads.foreach { rd =>
      p.check("reads", rd.byC == want, s"filter/groupBy differs from the driver's values")
      p.check("reads", rd.changed == fresh + grow.size,
        s"changes(0) has ${rd.changed} rows, expected ${fresh + grow.size}")
      p.check("reads", rd.asOfBulk == size.bulk,
        s"asOf(0) has ${rd.asOfBulk} rows, expected ${size.bulk}")
      p.check("reads", rd.recent.size == grow.size &&
        rd.recent.values.map(_.take(3)).toSet ==
          grow.map(g => Seq(g("a").asInstanceOf[Int].toLong, g("b"), g("c"))).toSet,
        "changes after the extensions differ from the growth run's psets")
      p.check("reads", rd.looked.nonEmpty &&
        rd.looked.forall { case (id, v) => rd.recent.get(id).contains(v) },
        "lookup rows differ from the rows changes() returned")
    }
    p.storedBytes = Fsx.bytes(db.dbPath)
    val offered = exts.map(_.params.size).sum
    p.extras("core.Study.run.extend.skip_ratio") =
      (offered - extExecuted.sum).toDouble / offered
    p.extras("core.Study.run.extend.slope_ms_per_run") = Stats.slope(p.opS.toSeq) * 1e3
    p.extras("core.Database.run_dirs") = Option(new File(db.dbPath).list())
      .map(_.count(_.startsWith("_run_id="))).getOrElse(0).toDouble
  }
}

object Sweep {
  val size: Gen.SweepSize = Gen.SweepSize(na = 12, nb = 25, nc = 20,
    extRuns = 3, extSize = 200, growSize = 30)
  val warmSize: Gen.SweepSize = Gen.SweepSize(na = 4, nb = 4, nc = 4,
    extRuns = 1, extSize = 8, growSize = 0)
  val bCut = 3.0
  val lookups = 20

  def y(p: Map[String, Any]): Long =
    p("a").asInstanceOf[Number].longValue * 31L + p("c").asInstanceOf[String].length

  /** The study's function: trivial, so the run pipeline is what is timed. */
  val func: Map[String, Any] => Map[String, Any] = p => Map("y" -> y(p))
}
