package graft.core

import java.io.ByteArrayOutputStream
import java.util.UUID

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.types._

import scala.util.{Failure, Success, Try}

/** Sweep configuration (the keyword surface of the reference's `run()`,
  * ref psweep.py:1295-1378). `poolsize` ≡ local parallelism hint and
  * `daskClient` ≡ the Spark master/cluster config itself — the reference's
  * serial / multiprocessing / dask backends all collapse into Spark task
  * scheduling (documented deviation, SURVEY §7.5e).
  */
final case class StudyConfig(
    calcDir: String = "calc",
    databaseBasename: String = "database",
    skipDups: Boolean = false,
    simulate: Boolean = false,
    backup: Boolean = false,
    save: Boolean = true,
    tmpsave: Boolean = false,
    verbose: Boolean = false,
    captureLogs: String = "none", // none | db | file | db+file
    failSafe: Boolean = false,
    poolsize: Option[Int] = None,
    git: Boolean = false) {
  require(Set("none", "db", "file", "db+file").contains(captureLogs),
    s"captureLogs must be none|db|file|db+file, got $captureLogs")
}

/** One sweep's outcome: the updated database view, this run's id, and how
  * many psets actually executed (after dedup). */
final case class RunOutput(db: DataFrame, runId: String, executed: Long)

/** Serializable per-task context for the map closure. */
private[core] final case class TaskCtx(
    calcDir: String, runId: String, simulate: Boolean, tmpsave: Boolean,
    verbose: Boolean, captureLogs: String, failSafe: Boolean)

/** The sweep driver: `Study(calcDir).run(func, params)` executes a user
  * function over a parameter grid and appends `pset ∪ func(pset)` rows plus
  * bookkeeping lineage to the Parquet database — the reference's `ps.run`
  * pipeline (ref psweep.py:1295-1492, lifecycle SURVEY §3.1) re-expressed
  * on Spark:
  *
  *   - params are driver-built (they enumerate the experiment design),
  *     normalized through the inferred union schema *before hashing*
  *     (ref psweep.py:1380-1392 — types must equal what the database holds
  *     or hashes diverge);
  *   - dedup/incremental-resume and the `_pset_id` collision check are
  *     one filter scan of the database (membership in the incoming
  *     hash and id sets);
  *   - execution is one `mapPartitions` pass over the rows — Spark's
  *     executor pool replaces both `multiprocessing.Pool` and the dask
  *     cluster (ref psweep.py:1465-1476);
  *   - the result schema is dynamic (the user function may return any new
  *     columns), so the engine runs a distributed schema-inference
  *     aggregate over the persisted result RDD rather than re-running the
  *     (possibly expensive) function;
  *   - `_pset_seq` is assigned *before* execution, so input order survives
  *     any partition-level reordering (ref psweep.py:1448,
  *     tests/test_all.py:185-188).
  */
final class Study(val spark: SparkSession, val cfg: StudyConfig) {

  type Pset = Map[String, Any]

  private def effCalcDir: String =
    if (cfg.simulate) cfg.calcDir + ".simulate" else cfg.calcDir

  /** One handle per study, so a run reuses the manifest snapshot the
    * previous run's append carried forward. */
  lazy val database: Database =
    Database(spark, effCalcDir, cfg.databaseBasename)

  /** The repeat-failed pattern as first-class API (ref manual.md:891-944,
    * examples/repeat_failed.py): extract the psets of failed rows and
    * re-run them — their hashes equal the failed originals, so with
    * `skipDups` the successful rows are never recomputed. */
  def repeatFailed(func: Pset => Pset): RunOutput = {
    val db = database.read()
    require(db.columns.contains("_failed"),
      "no _failed column — run with failSafe=true first")
    val failed = Database.extractParams(
      db.filter(org.apache.spark.sql.functions.col("_failed")))
    // the failed rows' hashes are already in the database, so the rerun
    // must not dedup against them — recomputation is the point
    new Study(spark, cfg.copy(skipDups = false)).run(func, failed)
  }

  /** Run `func` over `params`; returns the updated database. */
  def run(func: Pset => Pset, params: Seq[Pset]): RunOutput =
    run(func, params, None)

  /** Interactive form (ref psweep.py `run(df=...)`,
    * tests/test_all.py:496-531): when `baseDf` is given, it replaces the
    * on-disk database as the base relation — counters, dedup, schema
    * evolution, and the returned union all derive from it, and a `save`
    * overwrites the database with base ∪ new (the disk content is
    * ignored, as in the reference). An empty DataFrame counts as "no
    * base". */
  def run(func: Pset => Pset, params: Seq[Pset],
          baseDf: Option[DataFrame]): RunOutput = {
    // 3.1-3: simulate sandbox — copy the database (only) aside and work
    // there (ref psweep.py:1279-1292,1396-1400).
    if (cfg.simulate) {
      val src = s"${cfg.calcDir}/${cfg.databaseBasename}"
      val dstRoot = effCalcDir
      Fs.delete(dstRoot)
      Fs.mkdirs(dstRoot)
      if (Fs.exists(src)) Fs.copyDir(src, s"$dstRoot/${cfg.databaseBasename}")
    }
    if (cfg.git) Git.enter(cfg.calcDir)
    val db = database
    val effBase = baseDf.filter(_.columns.nonEmpty)
    val out =
      try {
        if (cfg.save && effBase.isEmpty)
          // hold the single-writer lock across the WHOLE disk-backed
          // mutation pipeline, not just the final append: two
          // concurrent runs would otherwise both read max(_run_seq),
          // both dedup against the pre-append base, and commit
          // duplicate sequence numbers / psets — now the second
          // fails fast at start (the nested rehash/append
          // acquisitions pass through, withWriteLock is reentrant
          // per handle)
          db.withWriteLock(runInner(func, params, db, None))
        else runInner(func, params, db, effBase)
      } finally if (cfg.git) Git.exit(cfg.calcDir)
    out
  }

  private def runInner(func: Pset => Pset, params: Seq[Pset],
                       db: Database, baseDf: Option[DataFrame]): RunOutput = {
    // 3.1-1: param normalization ("wash") + hashing over the washed values.
    val paramSchema = ValueSchema.infer(params)
    val badBook = paramSchema.fieldNames.filter(n =>
      Study.bookkeepingCols.contains(n))
    require(badBook.isEmpty,
      s"params must not contain bookkeeping columns: ${badBook.mkString(", ")}")
    // Vectors: the work-builder below indexes positionally, which is
    // O(n^2) on a List at large sweep sizes
    val norm = params.toVector.map(p => Study.normalizeFull(p, paramSchema))
    val hashes = norm.map(PsetHash.hash(_))

    // 3.1-4/5: load-or-create + counter recovery (from the in-memory base
    // when one is given, else from disk).
    var base: Option[DataFrame] = baseDf.orElse(db.readOpt())
    // disk-backed: the manifest's per-file maxima when attested (zero
    // data files), else one aggregate over the ALREADY-BUILT base frame
    val (maxPsetSeq, maxRunSeq) =
      baseDf.fold(db.counters(base))(Database.seqMaxima)

    // 3.1-6: backup before mutating (ref psweep.py:1417-1427).
    if (cfg.backup) db.backup()

    // 3.1-8a: pset-schema evolution — if the pset column set grows, the
    // whole database is rehashed over the union set (null-filled new cols
    // participate in the hash; ref psweep.py:690-710, F5 semantics).
    base.foreach { bdf =>
      val dbSchema = bdf.schema
      val dbPsetCols = ColKind.filterCols(dbSchema.fieldNames.toSeq, ColKind.Pset)
      val newPsetFields = paramSchema.fields.toSeq
        .filter(f => ColKind.isPset(f.name))
      for (f <- newPsetFields; dbf <- dbSchema.fields.find(_.name == f.name)) {
        require(dbf.dataType == f.dataType,
          s"type conflict on column '${f.name}': database has " +
            s"${dbf.dataType}, incoming params have ${f.dataType}; " +
            "cast params explicitly (hash identity is type-sensitive)")
      }
      val extra = newPsetFields.filterNot(f => dbPsetCols.contains(f.name))
      if (extra.nonEmpty) {
        if (baseDf.isEmpty) {
          // disk-backed: one distributed rewrite, then re-read
          db.rehashWith(extra.map(f => f.name -> f.dataType).toMap, Map.empty)
          base = Some(db.read())
        } else {
          // in-memory: add null columns + recompute the hash column
          import org.apache.spark.sql.functions.{col, lit}
          var g = bdf
          extra.foreach(f =>
            g = g.withColumn(f.name, lit(null).cast(f.dataType)))
          base = Some(g.withColumn("_pset_hash",
            PsetHash.expr(g.columns.toSeq)))
        }
      }
    }

    // 3.1-8b/9: skip_dups and identity assignment — drop incoming psets
    // whose hash already exists (ref psweep.py:1432-1439); fresh run id,
    // collision-checked pset ids (ref psweep.py:1441-1450). One filter
    // scan answers both probes; disk-backed, a fresh manifest prunes it
    // to the files whose hash ranges cover a probe, otherwise the
    // already-built base frame serves it (no per-call re-listing).
    def existing(probes: Map[String, Seq[String]]): Map[String, Set[String]] =
      if (baseDf.isEmpty) db.existingAmong(probes, base)
      else Database.existingAmong(base.get, probes)
    val candidateIds = norm.map(_ => UUID.randomUUID().toString)
    val found = existing(Map("_pset_id" -> candidateIds) ++
      (if (cfg.skipDups) Map("_pset_hash" -> hashes) else Map.empty))
    val dupHashes = found.getOrElse("_pset_hash", Set.empty)
    val keptIdx = norm.indices.filter(i => !dupHashes.contains(hashes(i)))
    if (keptIdx.isEmpty)
      return RunOutput(base.getOrElse(ValueSchema.toDF(spark, Seq.empty)),
        "none", 0L)

    val runId = UUID.randomUUID().toString
    if (cfg.git) Git.noteRun(runId)
    var psetIds = keptIdx.map(candidateIds)
    var colliding = found("_pset_id")
    while (colliding.nonEmpty) {
      psetIds = psetIds.map(id =>
        if (colliding.contains(id)) UUID.randomUUID().toString else id)
      colliding = existing(Map("_pset_id" -> psetIds))("_pset_id")
    }
    val runSeq = maxRunSeq + 1
    val work: Seq[Map[String, Any]] = keptIdx.zipWithIndex.map {
      case (i, k) =>
        norm(i) ++ Map[String, Any](
          "_run_id" -> runId,
          "_pset_id" -> psetIds(k),
          "_run_seq" -> runSeq,
          "_pset_seq" -> (maxPsetSeq + 1 + k),
          "_pset_hash" -> hashes(i),
          "_calc_dir" -> effCalcDir)
    }

    // 3.1-10: wrapper composition + distributed execution.
    val ctx = TaskCtx(effCalcDir, runId, cfg.simulate, cfg.tmpsave,
      cfg.verbose, cfg.captureLogs, cfg.failSafe)
    val nParts = math.max(1, math.min(work.size,
      cfg.poolsize.getOrElse(spark.sparkContext.defaultParallelism)))
    val rdd: RDD[Map[String, Any]] =
      spark.sparkContext.parallelize(work, nParts)
        .map(p => Study.executeOne(p, func, ctx))
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Distributed result-schema inference (one aggregate over the
      // persisted results — the function never runs twice).
      val keyTypes = rdd.aggregate(Map.empty[String, DataType])(
        (acc, m) => Study.mergeKeyTypes(acc,
          m.map { case (k, v) => k -> ValueSchema.inferType(v) }),
        Study.mergeKeyTypes)
      val schema = Study.orderedSchema(paramSchema, keyTypes)
      val rowRdd = rdd.map(m => Row.fromSeq(schema.fields.toSeq.map(f =>
        m.get(f.name).map(ValueSchema.normalize(_, f.dataType)).orNull)))
      val newDF = spark.createDataFrame(rowRdd, schema)

      // 3.1-11/12: persist. Disk-backed: append only the new run's
      // partition (replaces the reference's read-modify-rewrite of the
      // whole pickle). In-memory base: the union overwrites the database
      // (the reference ignores disk content when df is passed).
      if (cfg.save) {
        baseDf match {
          case None =>
            db.append(newDF)
            RunOutput(db.read(), runId, keptIdx.size.toLong)
          case Some(_) =>
            val union = base match {
              case Some(old) => old.unionByName(newDF, allowMissingColumns = true)
              case None => newDF
            }
            db.withWriteLock {
              val tmp = s"${db.dbPath}.__interactive_tmp"
              Fs.delete(tmp)
              union.write.mode("overwrite").partitionBy("_run_id").parquet(tmp)
              // crash-safe swap (never delete-then-rename the live path)
              db.swapIn(tmp)
            }
            RunOutput(db.read(), runId, keptIdx.size.toLong)
        }
      } else {
        val merged = base match {
          case Some(old) => old.unionByName(newDF, allowMissingColumns = true)
          case None => newDF
        }
        RunOutput(merged, runId, keptIdx.size.toLong)
      }
    } finally {
      rdd.unpersist(blocking = false)
      ()
    }
  }
}

object Study {

  def apply(spark: SparkSession, calcDir: String): Study =
    new Study(spark, StudyConfig(calcDir = calcDir))

  def apply(spark: SparkSession, cfg: StudyConfig): Study =
    new Study(spark, cfg)

  /** The fixed bookkeeping column set (SURVEY §1.4,
    * ref tests/test_all.py:200-214). */
  val bookkeepingCols: Set[String] = Set(
    "_run_id", "_pset_id", "_run_seq", "_pset_seq", "_pset_hash",
    "_calc_dir", "_time_utc", "_pset_runtime", "_exec_host", "_logs")

  /** Normalize a pset against the union schema, including explicit nulls
    * for missing keys — the washed form both the database and the hash see
    * (ref psweep.py:1380-1392). */
  def normalizeFull(pset: Map[String, Any],
                    schema: StructType): Map[String, Any] =
    schema.fields.toSeq.map { f =>
      f.name -> pset.get(f.name).map(ValueSchema.normalize(_, f.dataType)).orNull
    }.toMap

  /** Hostname resolved once per executor JVM — `InetAddress.getLocalHost`
    * can hit the resolver and must not run per row. */
  @transient private lazy val cachedHostName: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Throwable => "unknown" }

  private[core] def mergeKeyTypes(a: Map[String, DataType],
                                  b: Map[String, DataType]): Map[String, DataType] =
    (a.keySet ++ b.keySet).map { k =>
      k -> ValueSchema.merge(a.getOrElse(k, NullType), b.getOrElse(k, NullType))
    }.toMap

  /** Stable column order: param columns first (input order), then the
    * bookkeeping columns, then any new result columns sorted by name. */
  private[core] def orderedSchema(paramSchema: StructType,
                                  keyTypes: Map[String, DataType]): StructType = {
    val paramNames = paramSchema.fieldNames.toSeq
    val bookOrder = Seq("_run_id", "_pset_id", "_run_seq", "_pset_seq",
      "_pset_hash", "_calc_dir", "_time_utc", "_pset_runtime", "_exec_host",
      "_logs", "_failed", "_exc_txt").filter(keyTypes.contains)
    val rest = (keyTypes.keySet -- paramNames -- bookOrder).toSeq.sorted
    val names = paramNames ++ bookOrder ++ rest
    StructType(names.map { n =>
      val t = keyTypes.getOrElse(n,
        paramSchema.find(_.name == n).map(_.dataType).getOrElse(NullType))
      StructField(n, if (t == NullType) StringType else t, nullable = true)
    })
  }

  /** Per-row execution wrapper — the reference's `func_wrapper` +
    * `capture_logs_wrapper` stack (ref psweep.py:1197-1276): stamp start
    * time and host, optionally capture stdout/stderr (JVM `Console`
    * redirection is thread-local, safe under concurrent tasks), skip the
    * function when simulating, time it, `Try`-wrap failures into
    * `_failed`/`_exc_txt` columns (the blessed pattern of
    * ref manual.md:891-944 promoted to first-class config), and optionally
    * write a per-pset tmpsave checkpoint (ref psweep.py:1230-1237). */
  private[core] def executeOne(pset: Map[String, Any],
                               func: Map[String, Any] => Map[String, Any],
                               ctx: TaskCtx): Map[String, Any] = {
    val psetId = pset("_pset_id").toString
    val started = java.sql.Timestamp.from(java.time.Instant.now())
    val host = cachedHostName
    if (ctx.verbose) println(s"[graft] pset $psetId: $pset")
    val t0 = System.nanoTime()

    def call(): Map[String, Any] =
      if (ctx.simulate) Map.empty
      else if (ctx.failSafe) Try(func(pset)) match {
        case Success(r) => r + ("_failed" -> false)
        case Failure(e) =>
          val sw = new java.io.StringWriter()
          e.printStackTrace(new java.io.PrintWriter(sw))
          Map("_failed" -> true, "_exc_txt" -> sw.toString)
      }
      else func(pset)

    val (result, logs) =
      if (ctx.captureLogs == "none") (call(), None)
      else {
        val buf = new ByteArrayOutputStream()
        val r = Console.withOut(buf) { Console.withErr(buf) { call() } }
        (r, Some(buf.toString("UTF-8")))
      }
    val runtime = (System.nanoTime() - t0) / 1e9

    var row = pset ++ result ++ Map[String, Any](
      "_time_utc" -> started,
      "_exec_host" -> host,
      "_pset_runtime" -> runtime)
    logs.foreach { l =>
      if (ctx.captureLogs == "db" || ctx.captureLogs == "db+file")
        row += ("_logs" -> l)
      if (ctx.captureLogs == "file" || ctx.captureLogs == "db+file")
        Fs.writeString(s"${ctx.calcDir}/$psetId/logs.txt", l)
    }
    if (ctx.tmpsave)
      Fs.writeString(s"${ctx.calcDir}/tmpsave/${ctx.runId}/$psetId.json",
        Fs.toJson(row))
    row
  }
}
