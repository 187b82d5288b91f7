package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DatabaseSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tmpDir}

  private def mkDb(): (Database, String) = {
    val calc = tmpDir("graft-dbspec-")
    Study(spark, calc).run(
      p => Map("r_" -> p("a").asInstanceOf[Long] * 2.0),
      Grid.plist("a", Seq(1, 2, 3)))
    (Database(spark, calc), calc)
  }

  test("printableDF: sorted columns, prefix hidden by default (P3)") {
    val (db, _) = mkDb()
    val p = Database.printableDF(db.read())
    assert(p.columns.toSeq == Seq("a", "r_"))
    val withPrefix = Database.printableDF(db.read(), prefixCols = true)
    assert(withPrefix.columns.toSeq == withPrefix.columns.toSeq.sorted)
    assert(withPrefix.columns.contains("_pset_hash"))
    val skip = Database.printableDF(db.read(), skipCols = Seq("r_"))
    assert(skip.columns.toSeq == Seq("a"))
    // ref df_print matrix (psweep.py:560-601): cols + prefixCols unions
    // the prefix set; cols and skipCols are mutually exclusive; index
    // prepends a display ordinal in current order
    val colsPlus = Database.printableDF(db.read(), prefixCols = true,
      cols = Seq("a"))
    assert(colsPlus.columns.contains("a") &&
      colsPlus.columns.contains("_pset_hash") &&
      !colsPlus.columns.contains("r_"))
    intercept[IllegalArgumentException] {
      Database.printableDF(db.read(), cols = Seq("a"), skipCols = Seq("r_"))
    }
    val idx = Database.printableDF(db.read().orderBy("a"), index = true)
    assert(idx.columns.head == "index")
    val rows = idx.collect()
    assert(rows.map(_.getLong(0)).toSeq == rows.indices.map(_.toLong))
  }

  test("extractRow/extractPset: point lookup asserts uniqueness (P6)") {
    val (db, _) = mkDb()
    val id = db.read().filter(col("a") === 2).select("_pset_id")
      .head().getString(0)
    val row = Database.extractRow(db.read(), id)
    assert(row.getAs[Long]("a") == 2L)
    val pset = Database.extractPset(db.read(), id)
    assert(pset == Map("a" -> 2L))
    intercept[IllegalArgumentException] {
      Database.extractRow(db.read(), "no-such-id")
    }
  }

  test("optimizeLayout + skip manifest: a point lookup reads 1 of 16 " +
    "files; appends maintain the manifest; unmanifested files degrade " +
    "pruning, never correctness") {
    val calc = tmpDir("graft-dblayout-")
    val db = Database(spark, calc)
    def runDf(runSeq: Int, n: Int) =
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        col("id").as("_pset_seq"),
        lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        (col("id") * 2).cast("double").as("x"))
    db.append(runDf(0, 4000))
    assert(!db.hasSkipManifest) // opt-in: nothing until asked

    db.optimizeLayout(numFiles = 16)
    assert(db.hasSkipManifest)
    val total = db.read().inputFiles.length
    assert(total == 16, s"expected 16 files, got $total")
    val probe = db.lookup("p0-1234")
    assert(probe.inputFiles.length == 1,
      s"lookup read ${probe.inputFiles.length} of $total files")
    assert(db.extractRow("p0-1234").getAs[Double]("x") == 2468.0)
    assert(db.extractPset("p0-1234") == Map("x" -> 2468.0))
    // a missing id prunes to zero rows, and uniqueness still asserts
    intercept[IllegalArgumentException](db.extractRow("p0-9999999"))

    // append with a live manifest: only the NEW files are statted
    db.append(runDf(1, 500).coalesce(2))
    val total2 = db.read().inputFiles.length
    assert(spark.read.parquet(s"${db.dbPath}/_graft_skip").count()
      == total2.toLong)
    val probe2 = db.lookup("p1-77")
    assert(probe2.inputFiles.length <= 3, // run2's 2 wide files + <=1 of run1
      s"lookup read ${probe2.inputFiles.length} of $total2 files")
    assert(db.extractRow("p1-77").getAs[Double]("x") == 154.0)

    // with the commit marker attesting completeness, lookups are
    // served PURELY from manifest rows — no per-call full listing, so
    // a file smuggled in behind the protocol's back is not seen...
    assert(db.manifestFresh)
    runDf(2, 10).coalesce(1).write.mode("append")
      .partitionBy("_run_id").parquet(db.dbPath)
    assert(db.lookupAll(Seq("p2-3")).count() == 0L)
    // ...but a REAL crashed append deletes the marker before any data
    // lands, so the crash state is (unmanifested files, no marker):
    // simulate it — the unknown file is then ALWAYS scanned
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    assert(!db.manifestFresh)
    assert(db.extractRow("p2-3").getAs[Double]("x") == 6.0)

    // compact keeps (rebuilds) the manifest; compaction destroys hash
    // clustering, so the contract here is correctness, and a fresh
    // optimizeLayout restores pruning (<=1 file per run)
    db.rebuildSkipManifest()
    db.compact()
    assert(db.hasSkipManifest)
    assert(db.extractRow("p0-1234").getAs[Double]("x") == 2468.0)
    db.optimizeLayout(numFiles = 8)
    assert(db.lookup("p0-1234").inputFiles.length <= 3, // <=1 per run
      db.lookup("p0-1234").inputFiles.length.toString)

    // batch lookup: m probes read ~m files, not m scans
    val batch = db.lookupAll(Seq("p0-1234", "p0-42", "p1-77"))
    assert(batch.select("_pset_id").collect().map(_.getString(0)).toSet
      == Set("p0-1234", "p0-42", "p1-77"))
    assert(batch.inputFiles.length <= 6, // <= ~2 files per probe
      batch.inputFiles.length.toString)
    assert(db.lookupAll(Seq("absent-id")).count() == 0L)

    // no manifest -> plain full-scan fallback, same answers
    Fs.delete(s"${db.dbPath}/_graft_skip")
    assert(db.extractRow("p1-77").getAs[Double]("x") == 154.0)
    assert(db.lookupAll(Seq("p0-1234", "p1-77")).count() == 2L)
  }

  test("metadata-served reads: counters and the ranged existingAmong " +
    "come from the manifest when the marker attests completeness — " +
    "zero data files touched; marker gone -> scan fallback sees " +
    "everything") {
    val calc = tmpDir("graft-dbmeta-")
    val db = Database(spark, calc)
    def runDf(runSeq: Int, n: Int) =
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        concat(lit(s"h$runSeq-"), col("id")).as("_pset_hash"),
        (col("id") + runSeq * 1000).as("_pset_seq"),
        lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        col("id").cast("double").as("x"))
    db.append(runDf(0, 200))
    db.rebuildSkipManifest()
    db.append(runDf(1, 100)) // incremental manifest rows carry the maxima
    assert(db.manifestFresh)
    assert(db.counters() == (1099L, 1L))

    // the zero-data-files pin: smuggle a foreign partition with huge
    // seqs in behind the protocol's back; manifest-served counters and
    // membership checks do not see it (no listing, no data read) —
    // under the single-writer contract such a file cannot exist except
    // in a crash window, which always removes the marker first
    runDf(7, 5).coalesce(1).write.mode("append")
      .partitionBy("_run_id").parquet(db.dbPath)
    assert(db.counters() == (1099L, 1L))
    assert(db.existingAmong("_pset_hash", Seq("h7-1", "h1-5")) ==
      Set("h1-5"))
    assert(db.existingAmong("_pset_id", Seq("p7-1", "p0-3")) ==
      Set("p0-3"))
    // ranged membership reads only covering files, not the corpus
    assert(db.manifestFresh)

    // crash state (no marker): fallback scan sees the foreign rows
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    assert(db.counters() == (7004L, 7L))
    assert(db.existingAmong("_pset_hash", Seq("h7-1")) == Set("h7-1"))
    // maintenance re-attests and folds the stray files in
    db.rebuildSkipManifest()
    assert(db.manifestFresh)
    assert(db.counters() == (7004L, 7L))
    assert(db.existingAmong("_pset_id", Seq("p7-1")) == Set("p7-1"))

    // a column the manifest has no ranges for still works (full scan)
    assert(db.existingAmong("_run_id", Seq("run1", "zzz")) == Set("run1"))
    // and a db without _pset_hash history: missing column -> empty
    assert(db.existingAmong("no_such_col", Seq("v")) == Set.empty)
  }

  test("incremental manifest equals a rebuild: a bulk run, a rebuild and " +
    "three extension appends keep the same per-file rows a fresh " +
    "rebuildSkipManifest writes; the carried snapshot equals a re-read, " +
    "and another handle's commit invalidates it") {
    val calc = tmpDir("graft-dbequiv-")
    val study = Study(spark, StudyConfig(calcDir = calc, skipDups = true))
    val grid = (a: Range) => Grid.pgrid(Grid.plist("a", a),
      Grid.plist("b", Seq("x", "y")))
    study.run(p => Map("r_" -> 1.0), grid(0 until 50))
    val db = study.database
    db.rebuildSkipManifest()
    Seq(40 until 60, 55 until 70, 0 until 80).foreach(a =>
      study.run(p => Map("r_" -> 2.0), grid(a)))
    def persisted(): Map[String, FileStat] =
      spark.read.parquet(s"${db.dbPath}/_graft_skip").as(FileStat.enc)
        .collect().map(s => s.file -> s).toMap
    val incremental = persisted()
    assert(incremental.size == db.read().inputFiles.length)
    assert(incremental.values.map(_.rows).sum == 160L)
    // the snapshot the appends carried equals what a new handle reads
    assert(db.manifest().map(_.toSet) ==
      Database(spark, calc).manifest().map(_.toSet))
    assert(db.manifest().map(_.toSet) == Some(incremental.values.toSet))
    Database(spark, calc).rebuildSkipManifest()
    val rebuilt = persisted()
    assert(rebuilt.keySet == incremental.keySet)
    rebuilt.foreach { case (f, s) =>
      assert(incremental(f) == s, s"manifest row of $f differs") }
    // another handle's append commits a new marker: this handle re-reads
    Study(spark, StudyConfig(calcDir = calc))
      .run(p => Map("r_" -> 3.0), grid(100 until 101))
    assert(db.counters() == Database.seqMaxima(db.read()))
    assert(db.manifest().map(_.map(_.rows).sum) == Some(162L))
  }

  test("a pre-marker manifest missing the newer columns is never served: " +
    "reads fall back to scans and the next append rebuilds it") {
    val calc = tmpDir("graft-dbold-")
    val study = Study(spark, calc)
    study.run(p => Map("r_" -> 1.0), Grid.plist("a", 0 until 20))
    val db = Database(spark, calc)
    db.rebuildSkipManifest()
    // rewrite the manifest as an old version kept it: file and _pset_id
    // ranges only, no commit marker
    val skip = s"${db.dbPath}/_graft_skip"
    val old = spark.read.parquet(skip)
      .select("file", "rows", "pid_hmin", "pid_hmax").collect()
    Fs.delete(skip)
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    spark.createDataFrame(java.util.Arrays.asList(old: _*),
      new org.apache.spark.sql.types.StructType().add("file", "string")
        .add("rows", "long").add("pid_hmin", "long").add("pid_hmax", "long"))
      .write.parquet(skip)
    assert(db.hasSkipManifest && !db.manifestFresh)
    assert(db.manifest().isEmpty)
    assert(db.counters() == (19L, 0L))
    assert(db.asOf(0L).count() == 20L && db.changes(0L).count() == 0L)
    val id = db.read().select("_pset_id").head().getString(0)
    assert(db.lookupAll(Seq(id)).count() == 1L)
    // the next run appends; with no attested manifest to extend, the
    // manifest is rebuilt with every column and attested again
    Study(spark, StudyConfig(calcDir = calc, skipDups = true))
      .run(p => Map("r_" -> 2.0), Grid.plist("a", 15 until 25))
    assert(db.manifestFresh)
    assert(spark.read.parquet(skip).columns.toSet ==
      FileStat.enc.schema.fieldNames.toSet)
    assert(db.counters() == (24L, 1L))
    assert(db.manifest().map(_.map(_.rows).sum) == Some(25L))
  }

  test("driver-side probe hash equals Spark's xxhash64 column bit for bit") {
    import spark.implicits._
    val psetHashes = Seq(Map[String, Any]("a" -> 1L),
      Map[String, Any]("a" -> 2.5, "b" -> "x"), Map[String, Any]("c" -> null))
      .map(PsetHash.hash(_))
    assert(psetHashes.forall(_.matches("[0-9a-f]{40}")))
    val probes = Seq("", "a", "p0-1234", "plain ascii text 0123456789",
      "é", "Grüße", "日本語テキスト", "emoji 🙂 and 𝄞", "mixed é 日 🙂 z") ++
      psetHashes
    val spark64 = probes.toDF("v").select(col("v"), xxhash64(col("v")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    probes.foreach(v => assert(Database.probeHash(v) == spark64(v), v))
  }

  test("asOf: time travel over the run log — history is exact, future " +
    "partitions' files are never read with a fresh manifest, and the " +
    "crash window falls back to the filter scan") {
    val calc = tmpDir("graft-dbasof-")
    val db = Database(spark, calc)
    def runDf(runSeq: Int, n: Int) =
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        col("id").as("_pset_seq"), lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        col("id").cast("double").as("x"))
    db.append(runDf(0, 300))
    db.rebuildSkipManifest()
    db.append(runDf(1, 200))
    db.append(runDf(2, 100))
    assert(db.manifestFresh)
    // exact history at every epoch
    assert(db.asOf(-1L).count() == 0L)
    assert(db.asOf(0L).count() == 300L)
    assert(db.asOf(1L).count() == 500L)
    assert(db.asOf(99L).count() == 600L)
    // manifest-pruned: the asOf(0) frame holds ONLY run0's files
    val h = db.asOf(0L)
    val run0Files = db.read().inputFiles.filter(_.contains("_run_id=run0"))
    assert(h.inputFiles.sorted.toSeq == run0Files.sorted.toSeq,
      s"asOf read ${h.inputFiles.length} files, " +
        s"expected ${run0Files.length} (run0 only)")
    assert(h.select(sum(col("_run_seq"))).head().getLong(0) == 0L)
    // crash window (no marker): fallback filter scan, same answer
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    assert(db.asOf(0L).count() == 300L && db.asOf(1L).count() == 500L)
  }

  test("asOfTime: wall-clock addressing resolves to the latest run " +
    "committed by ts — exact at the commit instant, between runs, and " +
    "loud before the first run; manifest-served resolution reads no " +
    "data files") {
    val calc = tmpDir("graft-dbasoftime-")
    val db = Database(spark, calc)
    // three runs committed a minute apart
    val t0 = java.time.Instant.parse("2026-08-15T10:00:00Z")
    def runDf(runSeq: Int, n: Int) = {
      val commit = t0.plusSeconds(runSeq * 60L)
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        col("id").as("_pset_seq"), lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        // rows carry timestamps up to the run's commit instant
        timestamp_seconds(lit(commit.minusSeconds(30).getEpochSecond)
          + col("id") % 31).as("_time_utc"),
        col("id").cast("double").as("x"))
    }
    db.append(runDf(0, 60))
    db.rebuildSkipManifest()
    db.append(runDf(1, 40))
    db.append(runDf(2, 20))
    assert(db.manifestFresh)
    // exactly AT run 1's commit instant: runs 0 and 1
    assert(db.asOfTime(t0.plusSeconds(60)).count() == 100L)
    // between run 1 and run 2: still runs 0 and 1
    assert(db.asOfTime(t0.plusSeconds(90)).count() == 100L)
    // far future: everything
    assert(db.asOfTime(t0.plusSeconds(3600)).count() == 120L)
    // one instant BEFORE run 0's commit: run 0 not yet attested
    val e = intercept[IllegalArgumentException](
      db.asOfTime(t0.minusSeconds(31)))
    assert(e.getMessage.contains("no run"))
    // manifest-served: the resolved frame reads only the history's
    // files (run 0 at t0 = run 0's commit instant)
    val h = db.asOfTime(t0)
    val run0Files = db.read().inputFiles.filter(_.contains("_run_id=run0"))
    assert(h.inputFiles.sorted.toSeq == run0Files.sorted.toSeq)
    // crash window (no marker): the scan fallback resolves identically
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    assert(db.asOfTime(t0.plusSeconds(60)).count() == 100L)
  }

  test("changes: incremental read between run commits — exact delta, " +
    "range-overlap file pruning, crash-window fallback") {
    val calc = tmpDir("graft-dbchanges-")
    val db = Database(spark, calc)
    def runDf(runSeq: Int, n: Int) =
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        col("id").as("_pset_seq"), lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        col("id").cast("double").as("x"))
    db.append(runDf(0, 300))
    db.rebuildSkipManifest()
    db.append(runDf(1, 200))
    db.append(runDf(2, 100))
    assert(db.manifestFresh)
    // exact deltas at every interval
    assert(db.changes(-1L).count() == 600L)       // everything
    assert(db.changes(0L).count() == 300L)        // runs 1..
    assert(db.changes(0L, 1L).count() == 200L)    // run 1 only
    assert(db.changes(1L, 2L).count() == 100L)    // run 2 only
    assert(db.changes(2L).count() == 0L)          // nothing new
    assert(db.changes(0L, 0L).count() == 0L)      // empty interval
    intercept[IllegalArgumentException](db.changes(3L, 1L))
    // manifest-pruned: the (0,1] delta holds ONLY run1's files
    val d = db.changes(0L, 1L)
    val run1Files = db.read().inputFiles.filter(_.contains("_run_id=run1"))
    assert(d.inputFiles.sorted.toSeq == run1Files.sorted.toSeq,
      s"changes read ${d.inputFiles.length} files, " +
        s"expected ${run1Files.length} (run1 only)")
    assert(d.select(sum(col("_run_seq"))).head().getLong(0) == 200L)
    // crash window (no marker): fallback filter scan, same answer
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    assert(db.changes(0L, 1L).count() == 200L && db.changes(1L).count() == 100L)
  }

  test("existingAmong: dedup membership via semi-join (J1)") {
    val (db, _) = mkDb()
    val hashes = db.read().select("_pset_hash").collect().map(_.getString(0))
    val found = db.existingAmong("_pset_hash", hashes.take(2).toSeq :+ "nope")
    assert(found == hashes.take(2).toSet)
    assert(db.existingAmong("no_such_col", Seq("x")).isEmpty)
  }

  test("dfFilterConds: and/or/xor fusion (P1)") {
    val (db, _) = mkDb()
    val d = db.read()
    assert(Database.dfFilterConds(d,
      Seq(col("a") > 1, col("a") < 3), "and").count() == 1)
    assert(Database.dfFilterConds(d,
      Seq(col("a") === 1, col("a") === 3), "or").count() == 2)
    assert(Database.dfFilterConds(d,
      Seq(col("a") > 1, col("a") < 3), "xor").count() == 2)
    intercept[IllegalArgumentException] {
      Database.dfFilterConds(d, Seq(col("a") > 1), "nand")
    }
  }

  test("compact: fewer files, identical content, hashes intact") {
    val calc = tmpDir("graft-compact-")
    val study = Study(spark, StudyConfig(calcDir = calc, poolsize = Some(4)))
    (1 to 4).foreach(i =>
      study.run(p => Map("r_" -> 1.0),
        Grid.plist("a", (i * 10) until (i * 10 + 8))))
    val db = Database(spark, calc)
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(db.dbPath))
        .count(_.getName.endsWith(".parquet"))
    }
    val before = db.read().orderBy("_pset_seq").collect()
    val filesBefore = parquetFiles()
    db.compact()
    val after = db.read().orderBy("_pset_seq").collect()
    assert(parquetFiles() < filesBefore)
    assert(parquetFiles() == 4) // one per run
    assert(before.map(_.toString).toSeq == after.map(_.toString).toSeq)
  }

  test("driver contract: entry() smoke (rows > 0)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("source breadth: db round-trips through ORC and CSV") {
    val (db, calc) = mkDb()
    val full = db.read()
    // ORC: full-fidelity columnar alternative
    full.write.mode("overwrite").orc(s"$calc/db_orc")
    val orc = spark.read.orc(s"$calc/db_orc")
    assert(orc.orderBy("_pset_seq").collect().map(_.toString).toSeq ==
      full.orderBy("_pset_seq").collect().map(_.toString).toSeq)
    // CSV: lossy text format — needs explicit schema + timestamp format
    val csvCols = full.select("a", "r_", "_pset_hash", "_pset_seq")
    csvCols.write.mode("overwrite").option("header", "true")
      .csv(s"$calc/db_csv")
    val csv = spark.read.option("header", "true")
      .schema(csvCols.schema).csv(s"$calc/db_csv")
    assert(csv.orderBy("_pset_seq").collect().map(_.toString).toSeq ==
      csvCols.orderBy("_pset_seq").collect().map(_.toString).toSeq)
  }

  test("counters on empty database") {
    val db = Database(spark, tmpDir("graft-empty-"))
    assert(!db.exists)
    assert(db.counters() == (-1L, -1L))
    assert(db.existingAmong("_pset_hash", Seq("x")).isEmpty)
  }

  test("git integration: auto-commit before, run-id commit after (E10)") {
    val root = tmpDir("graft-git-")
    import scala.sys.process._
    Process(Seq("git", "init", "-q"), new java.io.File(root)).!
    Process(Seq("git", "config", "user.email", "t@t"), new java.io.File(root)).!
    Process(Seq("git", "config", "user.name", "t"), new java.io.File(root)).!
    Fs.writeString(s"$root/untracked.txt", "dirty")
    Study(spark, StudyConfig(calcDir = root, git = true))
      .run(p => Map("r_" -> 1.0), Grid.plist("a", Seq(1)))
    val log = Process(Seq("git", "log", "--oneline"),
      new java.io.File(root)).!!
    assert(log.contains("graft: auto commit"))
    assert(log.contains("graft: run_id="))
    val status = Process(Seq("git", "status", "--porcelain"),
      new java.io.File(root)).!!
    assert(status.trim.isEmpty, s"work tree should be clean: $status")
  }
}
