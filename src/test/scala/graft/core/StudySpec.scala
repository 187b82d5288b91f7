package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end sweep pipeline invariants, mirroring ref
  * tests/test_all.py:170-315 (test_run, test_run_skip_dups, test_simulate)
  * and the incremental-extension semantics of 1440-1524 (F5).
  */
class StudySpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tmpDir}

  private val f1: Map[String, Any] => Map[String, Any] =
    p => Map("result_" -> p("a").asInstanceOf[Long] * 10.0)

  test("F1: minimal sweep — schema, counts, ids, seq order, round-trip") {
    val calc = tmpDir("graft-f1-")
    val params = Grid.plist("a", Seq(1, 2, 3, 4))
    val out = Study(spark, calc).run(f1, params)
    val db = out.db
    assert(db.count() == 4)
    // full bookkeeping column set (ref tests/test_all.py:200-214)
    val expected = Set("a", "result_", "_calc_dir", "_pset_id", "_run_id",
      "_pset_seq", "_run_seq", "_pset_hash", "_time_utc", "_pset_runtime",
      "_exec_host")
    assert(db.columns.toSet == expected)
    val rows = db.orderBy("_pset_seq").collect()
    assert(rows.map(_.getAs[Long]("_pset_seq")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.map(_.getAs[Long]("a")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.map(_.getAs[Double]("result_")).toSeq ==
      Seq(10.0, 20.0, 30.0, 40.0))
    assert(rows.map(_.getAs[String]("_pset_id")).distinct.length == 4)
    assert(rows.map(_.getAs[String]("_run_id")).distinct.length == 1)
    assert(rows.forall(_.getAs[Long]("_run_seq") == 0L))
    assert(rows.forall(_.getAs[Double]("_pset_runtime") >= 0.0))
    // hashes recomputable from stored rows (ref tests/test_all.py:688-704)
    val stored = db.select((Seq(col("_pset_hash").as("h")) :+
      PsetHash.expr(db.columns.toSeq).as("re")): _*).collect()
    assert(stored.forall(r => r.getString(0) == r.getString(1)))
    // params round-trip (ref tests/test_all.py:1448,1473)
    val extracted = Database.extractParams(db.orderBy("_pset_seq"))
    assert(extracted.map(_("a")) == Seq(1L, 2L, 3L, 4L))
  }

  test("second run appends and continues counters") {
    val calc = tmpDir("graft-seq-")
    val study = Study(spark, calc)
    study.run(f1, Grid.plist("a", Seq(1, 2)))
    val out2 = study.run(f1, Grid.plist("a", Seq(3, 4)))
    val db = out2.db
    assert(db.count() == 4)
    assert(db.select("_run_id").distinct().count() == 2)
    val seqs = db.orderBy("_pset_seq").collect()
      .map(_.getAs[Long]("_pset_seq")).toSeq
    assert(seqs == Seq(0L, 1L, 2L, 3L))
    assert(db.agg(max("_run_seq")).head().getLong(0) == 1L)
  }

  test("skip_dups: repeated psets are not re-executed (ref 234-283)") {
    val calc = tmpDir("graft-dup-")
    val cfg = StudyConfig(calcDir = calc, skipDups = true)
    val study = Study(spark, cfg)
    val out1 = study.run(f1, Grid.plist("a", Seq(1, 2, 3)))
    assert(out1.executed == 3)
    val out2 = study.run(f1, Grid.plist("a", Seq(2, 3, 4)))
    assert(out2.executed == 1)
    assert(out2.db.count() == 4)
    assert(out2.db.select("_pset_hash").distinct().count() == 4)
  }

  test("F5: incremental extension with new column rehashes the db") {
    val calc = tmpDir("graft-f5-")
    val cfg = StudyConfig(calcDir = calc, skipDups = true)
    val study = Study(spark, cfg)
    study.run(f1, Grid.plist("a", Seq(1, 2)))
    val hashesBefore = study.database.read()
      .select("_pset_hash").collect().map(_.getString(0)).toSet

    val params2 = Grid.pgrid(Grid.plist("a", Seq(1, 2)),
      Grid.plist("b", Seq(10L)))
    val out2 = study.run(f1, params2)
    assert(out2.executed == 2)
    val db = out2.db
    assert(db.count() == 4)
    // old rows are null-filled in b and REHASHED over {a, b}
    val old = db.filter(col("b").isNull)
    assert(old.count() == 2)
    val oldHashes = old.select("_pset_hash").collect().map(_.getString(0)).toSet
    assert(oldHashes.intersect(hashesBefore).isEmpty)
    // recomputed hash matches driver-side hash of {a, b:null}
    val expect = PsetHash.hash(Map[String, Any]("a" -> 1L, "b" -> null))
    assert(oldHashes.contains(expect))
    // a rerun over the union column set dedups against BOTH the rehashed
    // old rows ({a:1,b:null}) and run-2 rows ({a:2,b:10}) — nothing runs
    val out3 = study.run(f1,
      Seq(Map[String, Any]("a" -> 1L, "b" -> null),
        Map[String, Any]("a" -> 2L, "b" -> 10L)))
    assert(out3.executed == 0)
    assert(out3.db.count() == 4)
  }

  test("simulate: pipeline runs, func skipped, sandboxed (ref 286-315)") {
    val calc = tmpDir("graft-sim-")
    val study = Study(spark, calc)
    study.run(f1, Grid.plist("a", Seq(1, 2)))
    val sim = Study(spark, StudyConfig(calcDir = calc, simulate = true))
    val out = sim.run(f1, Grid.plist("a", Seq(3, 4)))
    assert(out.db.count() == 4)
    // result col of simulated rows is null
    assert(out.db.filter(col("result_").isNull).count() == 2)
    // real db untouched
    assert(Study(spark, calc).database.read().count() == 2)
    assert(Fs.exists(calc + ".simulate"))
  }

  test("failSafe: failures become _failed/_exc_txt rows (F6)") {
    val calc = tmpDir("graft-fail-")
    val fails: Map[String, Any] => Map[String, Any] = p => {
      val a = p("a").asInstanceOf[Long]
      if (a % 2 == 0) throw new RuntimeException(s"boom $a")
      Map("result_" -> a * 10.0)
    }
    val cfg = StudyConfig(calcDir = calc, failSafe = true)
    val out = Study(spark, cfg).run(fails, Grid.plist("a", Seq(0, 1, 2, 3)))
    val db = out.db
    assert(db.filter(col("_failed")).count() == 2)
    assert(db.filter(col("_failed") === false && col("result_").isNotNull)
      .count() == 2)
    assert(db.filter(col("_failed")).select("_exc_txt").collect()
      .forall(_.getString(0).contains("boom")))
    // repeat-failed pattern: extract failed psets, hashes must equal
    val failedParams = Database.extractParams(db.filter(col("_failed")))
    val failedHashes = failedParams.map(PsetHash.hash(_)).toSet
    val storedFailed = db.filter(col("_failed")).select("_pset_hash")
      .collect().map(_.getString(0)).toSet
    assert(failedHashes == storedFailed)
  }

  test("capture_logs db mode (F7, ref tests/test_all.py:1104-1261)") {
    val calc = tmpDir("graft-logs-")
    val loud: Map[String, Any] => Map[String, Any] = p => {
      println(s"hello from a=${p("a")}")
      Console.err.println("and stderr")
      Map("result_" -> 1.0)
    }
    val cfg = StudyConfig(calcDir = calc, captureLogs = "db+file")
    val out = Study(spark, cfg).run(loud, Grid.plist("a", Seq(1, 2)))
    val rows = out.db.orderBy("_pset_seq").collect()
    rows.foreach { r =>
      val logs = r.getAs[String]("_logs")
      assert(logs.contains(s"hello from a=${r.getAs[Long]("a")}"))
      assert(logs.contains("and stderr"))
      val onDisk = Fs.readString(s"$calc/${r.getAs[String]("_pset_id")}/logs.txt")
      assert(onDisk == logs)
    }
  }

  test("tmpsave writes per-pset checkpoints (S6, ref psweep.py:1230-1237)") {
    val calc = tmpDir("graft-tmpsave-")
    val cfg = StudyConfig(calcDir = calc, tmpsave = true)
    val out = Study(spark, cfg).run(f1, Grid.plist("a", Seq(1, 2, 3)))
    val files = Fs.listNames(s"$calc/tmpsave/${out.runId}")
    assert(files.size == 3)
    assert(files.forall(_.endsWith(".json")))
  }

  test("backup copies calc dir before run (S12, ref psweep.py:1417-1427)") {
    val calc = tmpDir("graft-bak-") + "/calc"
    val study = Study(spark, calc)
    study.run(f1, Grid.plist("a", Seq(1)))
    val cfg = StudyConfig(calcDir = calc, backup = true)
    Study(spark, cfg).run(f1, Grid.plist("a", Seq(2)))
    val parent = new java.io.File(calc).getParentFile
    val baks = parent.listFiles.map(_.getName).filter(_.startsWith("calc.bak_"))
    assert(baks.length == 1)
    // the backup contains only run 1
    val bakDb = spark.read.option("mergeSchema", "true")
      .parquet(s"$parent/${baks.head}/database")
    assert(bakDb.count() == 1)
  }

  test("interactive df mode (ref tests/test_all.py:496-531)") {
    val calc = tmpDir("graft-interactive-")
    val study = Study(spark, StudyConfig(calcDir = calc, save = false))
    val params = Grid.plist("a", Seq(1, 2, 3, 4))
    // save=false: nothing on disk
    val df1 = study.run(f1, params).db
    assert(!Fs.exists(s"$calc/database"))
    assert(df1.count() == 4)
    // empty df counts as "no base"
    val df1b = study.run(f1, params, Some(spark.emptyDataFrame)).db
    assert(df1b.count() == 4)
    assert(df1b.agg(org.apache.spark.sql.functions.max("_run_seq"))
      .head().getLong(0) == 0L)
    // extend in memory: counters continue from the base, hashes repeat
    val df2 = study.run(f1, params, Some(df1)).db
    assert(!Fs.exists(s"$calc/database"))
    assert(df2.count() == 8)
    assert(df2.select("_pset_hash").distinct().count() == 4)
    assert(df2.agg(org.apache.spark.sql.functions.max("_pset_seq"))
      .head().getLong(0) == 7L)
    assert(df2.agg(org.apache.spark.sql.functions.max("_run_seq"))
      .head().getLong(0) == 1L)
    // now save: disk content == base ∪ new
    val saver = Study(spark, StudyConfig(calcDir = calc))
    val df2disk = saver.run(f1, params, Some(df1)).db
    assert(df2disk.count() == 8)
    assert(Study(spark, calc).database.read().count() == 8)
  }

  test("type conflict on shared column is rejected") {
    val calc = tmpDir("graft-typeconflict-")
    val study = Study(spark, calc)
    study.run(f1, Grid.plist("a", Seq(1, 2)))
    intercept[IllegalArgumentException] {
      study.run(p => Map("result_" -> 0.0), Grid.plist("a", Seq(1.5)))
    }
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def countJobs[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some(g) if g == s"$group-end" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      // listeners see events in post order: once the sentinel job,
      // started after `body` returned, is seen, every job of `body` is
      // counted
      sc.setJobGroup(s"$group-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("skipDups extension against a fresh manifest runs in at most 8 " +
    "Spark jobs — no per-call schema inference, no manifest re-read, no " +
    "broadcast probe") {
    val calc = tmpDir("graft-jobpin-")
    val cfg = StudyConfig(calcDir = calc, skipDups = true)
    val grid = (a: Range) => Grid.pgrid(Grid.plist("a", a),
      Grid.plist("b", Seq(0.5, 1.5)))
    Study(spark, cfg).run(f1, grid(0 until 40))
    Study(spark, cfg).database.rebuildSkipManifest()
    // a fresh handle: the manifest is read once, nothing is carried
    val study = Study(spark, cfg)
    val (out, fresh) = countJobs(study.run(f1, grid(30 until 50)))
    assert(out.executed == 20L)
    assert(fresh <= 8, s"extension run took $fresh Spark jobs")
    // the same handle again: the append carried the manifest forward
    val (out2, carried) = countJobs(study.run(f1, grid(45 until 60)))
    assert(out2.executed == 20L && out2.db.count() == 120L)
    assert(carried < fresh, s"$carried jobs with the snapshot carried, " +
      s"$fresh without")
  }

  test("params must not carry bookkeeping columns") {
    val calc = tmpDir("graft-bad-")
    intercept[IllegalArgumentException] {
      Study(spark, calc).run(f1, Seq(Map("a" -> 1, "_run_id" -> "x")))
    }
  }
}
