package graft.core

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The results database: an append-only, Parquet-backed, `_run_id`-
  * partitioned table replacing the reference's single rewritten pickle
  * (ref psweep.py:36,1401-1407,1487-1488; deliberate deviation SURVEY §4.3
  * — the representation changes, the semantics don't).
  *
  * Scale design:
  *   - appends write only the new run's partition; old data is never
  *     touched except on pset-schema growth, where the hash column must be
  *     recomputed (ref psweep.py:690-710) — a single distributed rewrite;
  *   - counters come from a column-pruned `agg(max)` scan (Parquet footer
  *     stats, no data read), or from the skip manifest when one is kept;
  *   - dedup against the database is one column-pruned filter scan
  *     testing membership in the incoming hash set — the set is
  *     driver-built params, so no join and no broadcast, and no
  *     driver-side materialization of database hashes.
  */
class Database(val spark: SparkSession, val calcDir: String,
               val basename: String = "database") {

  val dbPath: String = s"$calcDir/$basename"

  // this db is an ENGINE-OWNED store: sizing probes over frames read
  // from it persist under `$dbPath/_graft_stats` by default (the
  // underscore dir is invisible to the parquet reader, like
  // `_graft_skip`), so a fresh process serves them without re-probing;
  // read-only inputs stay opt-in via Stats.enablePersistence. The
  // fingerprint (path + len + mtime of every input file) makes a stale
  // serve impossible across appends/rewrites. Construction registers
  // the tier READ-ONLY (a purely read-only consumer serves persisted
  // entries but never writes into a directory it does not own); the
  // first write-lock acquisition — the single-writer claim every
  // mutation passes through — upgrades it writable. [[close]]
  // unregisters, so long-lived sessions over many transient dbs do
  // not accumulate registry entries.
  graft.ops.Stats.registerStore(dbPath, s"$dbPath/_graft_stats",
    writable = false)

  /** Release this handle's process-global side effects (the stats-
    * store registration). Idempotent; the handle stays usable for
    * reads afterwards, just without the persisted stats tier. */
  def close(): Unit = graft.ops.Stats.unregisterStore(dbPath)

  /** Single-writer lock file. The database supports ONE writer at a time
    * (same contract as the reference's pickle database); the lock turns a
    * silent race into a loud error. */
  val lockPath: String = s"$dbPath.__lock"

  private val oldPath: String = s"$dbPath.__old"

  def exists: Boolean = {
    recover()
    Fs.exists(dbPath) && Fs.listNames(dbPath).nonEmpty
  }

  /** Recover from a crash mid-swap ([[swapIn]] windows): a crash between
    * the two renames leaves the data under `.__old` — restore it; a crash
    * after the second rename leaves a stale `.__old` next to a complete
    * db — drop it. Idempotent and cheap (two existence checks), called on
    * every read path.
    *
    * A LIVE lock suppresses recovery: `.__old` + lock means a writer is
    * mid-swap right now, and a concurrent reader restoring `.__old`
    * between the writer's two renames would make the writer's final
    * rename land on an occupied path. After a CRASH the lock is stale by
    * definition — delete it (per [[withWriteLock]]'s error message) and
    * the next read restores the parked state. */
  def recover(): Unit = {
    if (Fs.exists(oldPath) && !Fs.exists(lockPath)) {
      if (!Fs.exists(dbPath)) Fs.rename(oldPath, dbPath)
      else Fs.delete(oldPath)
    }
  }

  /** Run `f` holding the database's single-writer lock. Concurrent
    * mutators fail fast with the holder's identity instead of corrupting
    * the store. A crashed holder leaves a stale lock: remove `lockPath`
    * manually after confirming the writer is gone (recovery of a crashed
    * SWAP itself is automatic via [[recover]]).
    *
    * Reentrant WITHIN one Database handle FOR THE OWNING THREAD only:
    * [[graft.core.Study]] holds the lock across its whole disk-backed
    * mutation pipeline — counter read, rehash, append — so the nested
    * per-operation acquisitions on that thread must pass through
    * instead of self-deadlocking. A DIFFERENT thread of the same
    * process falls through to the lock-file acquisition and fails fast
    * there (a handle-wide boolean would silently admit it — silent
    * concurrent mutation, the exact corruption the lock exists to
    * prevent). Cross-process and cross-handle exclusion rides the lock
    * FILE. */
  def withWriteLock[A](f: => A): A = {
    val me = Thread.currentThread().getId
    if (lockOwner.get() == me) return f
    val info = s"pid=${ProcessHandle.current().pid()} " +
      s"thread=$me acquired=${java.time.Instant.now()}"
    if (!Fs.createExclusive(lockPath, info)) {
      val holder =
        try Fs.readString(lockPath) catch { case _: Exception => "unknown" }
      throw new IllegalStateException(
        s"database $dbPath is locked by another writer ($holder); " +
          "the store is single-writer. If that process crashed, delete " +
          s"$lockPath and re-run.")
    }
    lockOwner.set(me)
    // write intent proven: this handle owns the store — its stats tier
    // may now write (lazily created under the existing db dir)
    graft.ops.Stats.registerStore(dbPath, s"$dbPath/_graft_stats")
    try f finally { lockOwner.set(-1L); Fs.delete(lockPath) }
  }

  /** Thread id of the in-process lock holder, -1 when unheld. */
  private val lockOwner = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Swap a fully-written replacement directory into place. Never
    * delete-then-rename on the live path: the previous state is parked at
    * `.__old` until the new data is in place, so every crash point leaves
    * either the old or the new complete state recoverable ([[recover]]).
    */
  private[core] def swapIn(tmp: String): Unit = {
    recover()
    Fs.delete(oldPath)
    if (Fs.exists(dbPath)) Fs.rename(dbPath, oldPath)
    Fs.rename(tmp, dbPath)
    Fs.delete(oldPath)
  }

  /** Read the database; schemas of all appended runs are unioned
    * (missing columns read as null — the Parquet analog of the
    * reference's NA-fill on append, ref psweep.py:707-709). */
  def read(): DataFrame = {
    recover()
    spark.read.option("mergeSchema", "true").parquet(dbPath)
  }

  def readOpt(): Option[DataFrame] = if (exists) Some(read()) else None

  /** `(max _pset_seq, max _run_seq)`, or (-1, -1) on an empty database
    * (ref psweep.py:1409-1415). Served from the skip manifest's
    * per-file seq maxima when the commit marker attests completeness —
    * SURVEY §4.3(c)'s "counters from a lightweight metadata read",
    * zero data files touched (DatabaseSpec pins it); full column-pruned
    * scan otherwise. */
  def counters(): (Long, Long) = counters(readOpt())

  /** [[counters]] with `frame` (the caller's already-read database)
    * as the scan fallback. */
  private[core] def counters(frame: => Option[DataFrame]): (Long, Long) =
    manifest() match {
      case Some(m) => (m.flatMap(_.pset_seq_max).maxOption.getOrElse(-1L),
        m.flatMap(_.run_seq_max).maxOption.getOrElse(-1L))
      case None => frame.fold((-1L, -1L))(Database.seqMaxima)
    }

  /** Which of `values` already exist in database column `colName`?
    * One column-pruned filter scan (the J1 dedup anti-join and the
    * `_pset_id` collision re-check, ref psweep.py:1068-1081,1442-1446).
    * For the two manifest-ranged columns (`_pset_id`, `_pset_hash`) a
    * fresh manifest prunes the scan to files whose hash range covers
    * some probe — the per-run skip_dups pre-check reads touched files,
    * not the corpus. */
  def existingAmong(colName: String, values: Seq[String]): Set[String] =
    if (values.isEmpty) Set.empty
    else existingAmong(Map(colName -> values), readOpt())(colName)

  /** Several [[existingAmong]] probes answered by ONE filter scan: over
    * the files an attested manifest keeps for any probe when every
    * probed column is hash-ranged, else over `frame` (the caller's
    * already-read database). */
  private[core] def existingAmong(probes: Map[String, Seq[String]],
                                  frame: => Option[DataFrame])
      : Map[String, Set[String]] =
  {
    val none = probes.map { case (c, _) => c -> Set.empty[String] }
    manifest().filter(_ => probes.keys.forall(hashRange.contains)) match {
      case Some(m) =>
        val hs = probes.toSeq.map { case (c, vs) =>
          hashRange(c) -> Database.sortedHashes(vs) }
        val files = m.filter(s => hs.exists { case (range, h) =>
          Database.covers(h, range(s)) }).map(_.file)
        if (files.isEmpty) none
        else Database.existingAmong(readFiles(files, Some(StructType(
          probes.keys.toSeq.map(StructField(_, StringType))))), probes)
      case None => frame.fold(none)(Database.existingAmong(_, probes))
    }
  }

  /** Append new rows (one run) as a new `_run_id` partition. When the
    * opt-in skip manifest exists ([[optimizeLayout]] /
    * [[rebuildSkipManifest]]), the new files' stats are appended
    * incrementally — one scan of the NEW files only, never the db. */
  def append(df: DataFrame): Unit = withWriteLock {
    // the manifest this append extends, taken while the marker still
    // attests it. The marker must not attest completeness while the new
    // partition's files exist without manifest rows — drop it BEFORE the
    // data lands and re-write it after the fresh stats commit (a crash
    // in between degrades reads to plain scans, never to wrong answers)
    val kept = Fs.exists(manifestDir)
    val prior = manifest()
    if (kept) Fs.delete(commitMarker)
    df.write.mode("append").partitionBy("_run_id").parquet(dbPath)
    if (kept) prior match {
      // nothing attested to extend (a crash window, or a pre-marker
      // manifest that may lack columns): rebuild
      case None => rebuildSkipManifestUnlocked()
      case Some(m) =>
        // stat only the files `m` lacks, read with the appended frame's
        // schema — no inference
        val fresh = spark.read.schema(df.schema).parquet(dbPath).inputFiles
          .map(normalizePath).filterNot(m.map(_.file).toSet)
        val stats =
          if (fresh.isEmpty) Seq.empty
          else fileStats(spark.read.schema(df.schema)
            .option("basePath", dbPath).parquet(fresh.toIndexedSeq: _*))
        if (stats.nonEmpty) writeStats(stats, manifestDir, "append")
        attest(m ++ stats)
    }
  }

  // ---------------------------------------------------------------- //
  // physical layout: clustering + file-level skip manifest
  // ---------------------------------------------------------------- //

  /** The db's file-level skip manifest (`_graft_skip` inside the db
    * dir, so crash-swap parking moves data and manifest atomically):
    * one row per data file with min/max of `xxhash64(_pset_id)`. With
    * the db clustered on that hash ([[optimizeLayout]]), a point
    * lookup ([[lookup]] / [[extractRow]]) prunes to the one file whose
    * hash range covers the probe — the reference's `_pset_id` row
    * extraction (ref psweep.py:798-831) served as a manifest-prunable
    * scan instead of a full pass, which is exactly what it must be at
    * 100 TB. Underscore-prefixed, so plain readers and [[read]] never
    * see it. */
  private val manifestDir: String = s"$dbPath/_graft_skip"

  /** Completeness marker (`_graft_skip_commit` inside the db dir, so
    * crash-swap parking moves data, manifest, and marker atomically):
    * present ⇒ every data file is covered by manifest rows, because
    * every mutation deletes it BEFORE data lands and re-writes it only
    * AFTER the manifest caught up, all under the single-writer lock.
    * With the marker, point lookups and the metadata-served reads are
    * served from manifest rows without listing the data files; without
    * it (a crash window, or a pre-marker manifest) they fall back to
    * plain scans — pruning degrades, never correctness. */
  private val commitMarker: String = s"$dbPath/_graft_skip_commit"

  private def normalizePath(p: String): String =
    p.replaceFirst("^file:/+", "/")

  def hasSkipManifest: Boolean = { recover(); Fs.exists(manifestDir) }

  /** Manifest present AND attested complete by the commit marker. */
  def manifestFresh: Boolean =
    { recover(); Fs.exists(manifestDir) && Fs.exists(commitMarker) }

  /** The last attested manifest: the marker content it was read or
    * written under, and its rows. */
  @volatile private var snapshot: Option[(String, Seq[FileStat])] = None

  /** The manifest rows when the commit marker attests they cover every
    * data file, else None — what every manifest consumer reads. Read at
    * most once per marker state: the marker holds its commit instant,
    * so a later commit by any handle never matches the snapshot, and
    * this handle's appends and rebuilds carry it forward. The marker is
    * only written over a manifest with every [[FileStat]] column. */
  private[core] def manifest(): Option[Seq[FileStat]] = {
    if (!manifestFresh) return None
    val marker =
      try Fs.readString(commitMarker) catch { case _: Exception => return None }
    snapshot.collect { case (`marker`, m) => m }.orElse {
      val m = spark.read.schema(FileStat.enc.schema).parquet(manifestDir)
        .as(FileStat.enc).collect().toSeq
        .map(s => s.copy(file = normalizePath(s.file)))
      snapshot = Some(marker -> m)
      Some(m)
    }
  }

  /** Per-file stats of `src`: one pass, no shuffle — each partition
    * folds its rows per file and the driver merges the partials. */
  private def fileStats(src: DataFrame): Seq[FileStat] = {
    def opt(name: String, c: Column, t: DataType = LongType): Column =
      if (src.columns.contains(name)) c else lit(null).cast(t)
    val h = xxhash64(col("_pset_id"))
    val ph = opt("_pset_hash", xxhash64(col("_pset_hash")))
    val rs = opt("_run_seq", col("_run_seq").cast(LongType))
    FileStat.byFile(src.select(
        regexp_replace(input_file_name(), "^file:/+", "/").as("file"),
        lit(1L).as("rows"), h.as("pid_hmin"), h.as("pid_hmax"),
        ph.as("psh_hmin"), ph.as("psh_hmax"),
        opt("_pset_seq", col("_pset_seq").cast(LongType)).as("pset_seq_max"),
        rs.as("run_seq_min"), rs.as("run_seq_max"),
        opt("_time_utc", col("_time_utc").cast(TimestampType), TimestampType)
          .as("time_utc_max"))
      .as(FileStat.enc).mapPartitions(FileStat.byFile)(FileStat.enc)
      .collect().iterator).toSeq
  }

  private def writeStats(stats: Seq[FileStat], dir: String,
                         mode: String): Unit =
    spark.createDataset(stats)(FileStat.enc).coalesce(1)
      .write.mode(mode).parquet(dir)

  /** Attest manifest rows `m` with a fresh marker and keep them as this
    * handle's snapshot. */
  private def attest(m: Seq[FileStat]): Unit = {
    val marker = s"committed=${java.time.Instant.now()}"
    Fs.writeString(commitMarker, marker)
    snapshot = Some(marker -> m)
  }

  /** Full manifest rebuild: one column-pruned scan of the db. */
  def rebuildSkipManifest(): Unit = withWriteLock {
    require(exists, s"no database at $dbPath")
    rebuildSkipManifestUnlocked()
  }

  private def rebuildSkipManifestUnlocked(): Unit = {
    Fs.delete(commitMarker)
    val tmp = s"$dbPath/_graft_skip_tmp"
    Fs.delete(tmp)
    val stats = fileStats(read())
    writeStats(stats, tmp, "overwrite")
    Fs.delete(manifestDir)
    Fs.rename(tmp, manifestDir)
    attest(stats)
  }

  /** Manifest hash range of each hash-ranged column. */
  private val hashRange: Map[String, FileStat => Option[(Long, Long)]] = Map(
    "_pset_id" -> (s => s.pid_hmin.zip(s.pid_hmax)),
    "_pset_hash" -> (s => s.psh_hmin.zip(s.psh_hmax)))

  /** `files` as one frame: with a fixed `schema` when the caller reads
    * known columns, else with their merged schema. */
  private def readFiles(files: Seq[String],
                        schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("basePath", dbPath)
    schema.fold(r.option("mergeSchema", "true"))(r.schema)
      .parquet(files.toIndexedSeq: _*)
  }

  /** [[readFiles]] filtered by `probe`; an empty file list is the empty
    * frame with the database's schema. */
  private def readPruned(files: Seq[String], probe: Column): DataFrame =
    if (files.isEmpty) read().filter(probe).limit(0)
    else readFiles(files).filter(probe)

  /** Opt-in clustered rewrite of the whole db into ~`numFiles` files,
    * plus a fresh skip manifest. Default clustering key is
    * `xxhash64(_pset_id)` — each file covers a narrow hash range, so
    * a point lookup touches ONE file per run. Pass numeric `zCols` to
    * Z-order instead (multi-column box locality, [[graft.ops.Layout]]),
    * trading point-lookup pruning for range pruning. One range shuffle
    * (a global sort's cost), paid once at layout time — the
    * `OPTIMIZE`/`ZORDER` maintenance action of a lakehouse table,
    * expressed on the plain-parquet db. Values, schema, and the
    * `_run_id` partitioning are unchanged (DatabaseSpec pins it). */
  def optimizeLayout(numFiles: Int, zCols: Seq[String] = Seq.empty,
                     bits: Int = 12): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    if (!exists) return
    val df = read()
    val key: Column =
      if (zCols.isEmpty) xxhash64(col("_pset_id"))
      else if (zCols.size == 1) col(zCols.head).cast("long")
      else {
        val r = df.select(zCols.flatMap(c =>
          Seq(min(col(c).cast("long")), max(col(c).cast("long")))): _*)
          .head()
        val grids = zCols.zipWithIndex.map { case (c, i) =>
          graft.ops.Layout.gridCoord(col(c).cast("long"),
            r.getLong(2 * i), r.getLong(2 * i + 1), bits)
        }
        graft.ops.Layout.zValue(grids, bits)
      }
    val clustered = df.withColumn("__graft_ck", key)
      .repartitionByRange(numFiles, col("_run_id"), col("__graft_ck"))
      .sortWithinPartitions(col("_run_id"), col("__graft_ck"))
      .drop("__graft_ck")
    rewrite(clustered, "layout", manifest = true)
  }

  /** Replace the database with `df`: written aside, then swapped in
    * ([[swapIn]]). The rewrite produces fresh files, so a kept skip
    * manifest (or any, with `manifest`) is rebuilt over them. */
  private def rewrite(df: DataFrame, tag: String,
                      manifest: Boolean = false): Unit = withWriteLock {
    val keep = manifest || Fs.exists(manifestDir)
    val tmp = s"$dbPath.__${tag}_tmp"
    Fs.delete(tmp)
    df.write.mode("overwrite").partitionBy("_run_id").parquet(tmp)
    swapIn(tmp)
    if (keep) rebuildSkipManifestUnlocked()
  }

  /** Point lookup by `_pset_id`, served through the skip manifest when
    * the commit marker attests it: keep files whose hash range covers
    * the probe, re-apply the exact predicate. Falls back to a full
    * filter scan without an attested manifest (none kept, or a crash
    * window between a data append and its manifest rows) — pruning is
    * an optimization, never a filter. */
  def lookup(psetId: String): DataFrame = lookupAll(Seq(psetId))

  /** Batch form of [[lookup]]: rows for ANY of `psetIds`, pruned to
    * the union of each probe's manifest-matching files. With a
    * clustered layout, m probes read ~m files of a million-file table
    * instead of scanning it m times — the shape of a training-run's
    * "fetch these specific psets" follow-up at 100 TB. */
  def lookupAll(psetIds: Seq[String]): DataFrame = {
    recover()
    require(psetIds.nonEmpty, "need at least one _pset_id")
    val probe = col("_pset_id").isin(psetIds: _*)
    val hs = Database.sortedHashes(psetIds)
    manifest().fold(read().filter(probe))(m => readPruned(
      m.filter(s => Database.covers(hs, hashRange("_pset_id")(s)))
        .map(_.file), probe))
  }

  /** Time travel: the database as of run `runSeq` — every row with
    * `_run_seq <= runSeq`, i.e. exactly the frame a reader saw after
    * that run committed (the append-only run log never rewrites
    * history, so every past state is addressable by the reference's
    * own run counter, ref psweep.py:1409-1415 — the lakehouse
    * `VERSION AS OF`, for free). Scale path: each `_run_id` partition
    * carries ONE `_run_seq`, so a fresh manifest resolves the
    * qualifying files from its per-file `run_seq_min` (a file whose
    * EARLIEST row is already past `runSeq` holds no history; min, not
    * max, so a file holding ANY qualifying row is always kept and the
    * re-applied predicate trims the rest) — zero data
    * files touched beyond the ones the historical frame actually
    * holds, and a 10-run read of a 10,000-run db lists nothing.
    * Fallback without an attested manifest is the plain filter, which
    * still partition-prunes at execution (per-file constant
    * `_run_seq` ⇒ row-group stats skip whole files). The predicate is
    * always re-applied — pruning is an optimization, never a
    * filter. */
  def asOf(runSeq: Long): DataFrame = {
    recover()
    val probe = col("_run_seq") <= runSeq
    manifest().fold(read().filter(probe))(m => readPruned(
      // a null per-file min cannot attest the file is all-future —
      // keep it (pruning degrades, the re-applied predicate corrects)
      m.filter(_.run_seq_min.forall(_ <= runSeq)).map(_.file), probe))
  }

  /** Time travel by WALL CLOCK: the database as of instant `ts` —
    * [[asOf]] of the latest run whose COMMIT TIME (the max `_time_utc`
    * across its rows, the reference's own per-run bookkeeping,
    * ref psweep.py:1216-1217) is ≤ `ts`. Operators think in
    * timestamps ("the db as of last night's snapshot"), the run log in
    * run numbers; this is the resolver between them. Scale path: with
    * a fresh manifest the per-run commit times come from the per-file
    * `time_utc_max` column — a driver-side fold over manifest rows,
    * zero data files touched; the fallback is one column-pruned
    * `groupBy(_run_seq).max(_time_utc)` scan. A run whose commit time
    * is unknown (null `_time_utc` throughout) cannot be ATTESTED ≤ ts
    * and never resolves as the boundary run — but it is still
    * INCLUDED whenever a later attested run resolves (asOf is a prefix
    * of the run log). Fails loudly when NO run committed by `ts`
    * (asking for history before the database existed is a caller bug,
    * not an empty frame). */
  def asOfTime(ts: java.time.Instant): DataFrame = {
    recover()
    val commits: Seq[(Long, java.sql.Timestamp)] = manifest() match {
      case Some(m) => m.flatMap(s => s.run_seq_max.zip(s.time_utc_max))
      case None => readOpt() match {
        case Some(df) if df.columns.contains("_time_utc") =>
          df.groupBy(col("_run_seq").cast(LongType).as("__r"))
            .agg(max(col("_time_utc").cast(TimestampType)).as("__t"))
            .collect()
            .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
            .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
        case _ => Seq.empty
      }
    }
    // per-run commit time = max over that run's files/rows
    val byRun = commits.groupBy(_._1)
      .map { case (r, ts) => r -> ts.map(_._2.toInstant).max }
    val resolved = byRun.filter { case (_, t) => !t.isAfter(ts) }.keys
    require(resolved.nonEmpty,
      s"no run in $dbPath had committed by $ts — earliest commit is " +
        byRun.values.minOption.map(_.toString).getOrElse("unknown") +
        " (or the db records no _time_utc)")
    asOf(resolved.max)
  }

  /** Incremental read (change data feed): every row appended strictly
    * AFTER run `afterRun` committed and no later than run `untilRun` —
    * `afterRun < _run_seq <= untilRun`. The delta between two
    * [[asOf]] frames without materializing either: the consumer shape
    * at 100 TB is "I processed through run n last night; give me only
    * what landed since", and reading the delta instead of diffing two
    * full frames is the whole point of the append-only run log.
    * Pruning mirrors [[asOf]]: with a fresh manifest, keep only files
    * whose per-file `[run_seq_min, run_seq_max]` range OVERLAPS the
    * requested interval (a null bound cannot attest non-overlap —
    * keep, and the re-applied predicate corrects); so a one-run delta
    * of a 10,000-run db touches one run's files and lists nothing.
    * Fallback without an attested manifest is the plain filter scan,
    * which still skips whole files via per-file-constant `_run_seq`
    * row-group stats. Predicate always re-applied — pruning is an
    * optimization, never a filter. */
  def changes(afterRun: Long, untilRun: Long = Long.MaxValue): DataFrame = {
    recover()
    require(afterRun <= untilRun,
      s"empty change interval: afterRun=$afterRun > untilRun=$untilRun")
    val probe = col("_run_seq") > afterRun && col("_run_seq") <= untilRun
    manifest().fold(read().filter(probe))(m => readPruned(
      // keep a file iff [min, max] OVERLAPS (afterRun, untilRun]: its
      // latest row is past afterRun AND its earliest row is within
      // untilRun (a null bound cannot attest non-overlap)
      m.filter(s => s.run_seq_max.forall(_ > afterRun) &&
        s.run_seq_min.forall(_ <= untilRun)).map(_.file), probe))
  }

  /** Manifest-served variants of the point extractors (the static
    * [[Database.extractRow]]/[[Database.extractPset]] operate on an
    * arbitrary frame and cannot prune). */
  def extractRow(psetId: String): Row =
    Database.extractRow(lookup(psetId), psetId)

  def extractPset(psetId: String): Map[String, Any] =
    Database.extractPset(lookup(psetId), psetId)

  /** Distributed rewrite recomputing `_pset_hash` over the grown pset
    * column set — triggered only when the pset schema actually grows,
    * same condition as the reference (ref psweep.py:690-710), where it is
    * an O(N) driver-side Python loop; here one `withColumn` pass. New
    * columns appear as nulls via mergeSchema; shared columns whose type
    * widened are cast. */
  def rehashWith(extraPsetCols: Map[String, DataType],
                 casts: Map[String, DataType]): Unit = {
    var df = read()
    casts.foreach { case (c, t) => df = df.withColumn(c, col(c).cast(t)) }
    extraPsetCols.foreach { case (c, t) =>
      if (!df.columns.contains(c)) df = df.withColumn(c, lit(null).cast(t))
    }
    rewrite(df.withColumn("_pset_hash", PsetHash.expr(df.columns.toSeq)),
      "rewrite")
  }

  /** Backup the whole calc dir to `calc.bak_<stamp>_run_id_<id>` before a
    * mutating run (ref psweep.py:1417-1427). */
  def backup(): Option[String] = {
    if (!exists) return None
    val stampRow = read().agg(max(col("_time_utc")), first(col("_run_id")))
      .head()
    val stamp =
      if (stampRow.isNullAt(0)) "empty"
      else stampRow.getTimestamp(0).toInstant.toString.replace(":", "-")
    val lastRun = if (stampRow.isNullAt(1)) "none" else stampRow.getString(1)
    val dst = s"$calcDir.bak_${stamp}_run_id_$lastRun"
    require(!Fs.exists(dst), s"backup destination exists: $dst")
    Fs.copyDir(calcDir, dst)
    // the backup may have been taken under the run pipeline's live
    // write lock — a copied lock file would block writes on a restored
    // backup with a stale-holder message; drop it from the copy
    Fs.delete(s"$dst/$basename.__lock")
    Some(dst)
  }

  /** JSON export of the database (the `psweep-db2json` sink, ref
    * bin/psweep-db2json:48-51): records orient, ISO timestamps. */
  def writeJson(outPath: String): Unit = writeJson(outPath, read())

  /** [[writeJson]] over an explicit frame — the seam the CLI's
    * `--as-of` / `--changes` flags use to export a historical or
    * delta view with the same formatting contract. */
  def writeJson(outPath: String, frame: DataFrame): Unit =
    frame.coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
      .write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .json(outPath)

  /** pandas-orient JSON DOCUMENT export (ref psweep.py:454-474
    * `df_to_json` with pandas `orient` kwarg; default "records" =
    * PANDAS_DEFAULT_ORIENT, ref psweep.py:31). All five orients are
    * single-document formats — the whole table is one JSON value — so
    * they are inherently driver-materialized; the explicit `maxRows`
    * guard turns a misuse at scale into a loud error. The 100 TB path
    * stays [[writeJson]]'s distributed line-delimited records. Values
    * follow [[Fs.toJson]]'s rules (ISO instants, null for NaN/Inf — the
    * analog of the reference's `double_precision=15, date_format="iso"`
    * defaults). */
  def writeJsonDoc(outPath: String, orient: String = "records",
                   maxRows: Long = 1L << 20): Unit = {
    val df = read()
    val n = df.count()
    require(n <= maxRows,
      s"writeJsonDoc is a driver-side document export: $n rows > maxRows=" +
        s"$maxRows; use writeJson (distributed records) for large tables")
    val names = df.columns.toSeq
    val rows = df.collect().toSeq
    def cell(r: Row, i: Int): String = Fs.toJson(r.get(i))
    def rowObj(r: Row): String =
      names.indices.map(i => Fs.jsonString(names(i)) + ":" + cell(r, i))
        .mkString("{", ",", "}")
    def rowArr(r: Row): String =
      names.indices.map(cell(r, _)).mkString("[", ",", "]")
    val doc = orient match {
      case "records" => rows.map(rowObj).mkString("[", ",", "]")
      case "values" => rows.map(rowArr).mkString("[", ",", "]")
      case "split" =>
        "{\"columns\":" + names.map(Fs.jsonString).mkString("[", ",", "]") +
          ",\"index\":" + rows.indices.map(_.toString)
            .mkString("[", ",", "]") +
          ",\"data\":" + rows.map(rowArr).mkString("[", ",", "]") + "}"
      case "index" =>
        rows.zipWithIndex
          .map { case (r, i) => Fs.jsonString(i.toString) + ":" + rowObj(r) }
          .mkString("{", ",", "}")
      case "columns" =>
        names.indices.map { i =>
          Fs.jsonString(names(i)) + ":" + rows.zipWithIndex
            .map { case (r, j) => Fs.jsonString(j.toString) + ":" + cell(r, i) }
            .mkString("{", ",", "}")
        }.mkString("{", ",", "}")
      case other => throw new IllegalArgumentException(
        s"unknown orient: $other (records|split|index|columns|values)")
    }
    Fs.writeString(outPath, doc)
  }

  /** Read back any [[writeJsonDoc]] orient (ref psweep.py:494-512
    * `df_read` fmt="json" with orient). The document is re-shaped
    * driver-side into record objects and parsed by Spark's JSON reader,
    * so the type-loss matrix — ints widen to long, timestamps need
    * `schema` to round-trip — is identical for every orient
    * (JsonRoundTripSpec / JsonDocOrientSpec pin it). `values` orient has
    * no column names; pandas-style positional names "0".."N" apply. */
  def readJsonDoc(path: String, orient: String = "records",
                  schema: Option[StructType] = None): DataFrame = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val root = new ObjectMapper().readTree(Fs.readString(path))
    def obj(fields: Seq[(String, JsonNode)]): String =
      fields.map { case (k, v) => Fs.jsonString(k) + ":" + v.toString }
        .mkString("{", ",", "}")
    val records: Seq[String] = orient match {
      case "records" => root.elements().asScala.map(_.toString).toSeq
      case "values" =>
        // no names in the document: take them positionally from `schema`
        // when given, else pandas-style positional labels "0".."N"
        val colNames = schema.map(_.fieldNames.toSeq)
        root.elements().asScala.map { arr =>
          val vals = arr.elements().asScala.toSeq
          obj(colNames match {
            case Some(ns) => ns.zip(vals)
            case None => vals.zipWithIndex
              .map { case (v, i) => i.toString -> v }
          })
        }.toSeq
      case "split" =>
        val cols = root.get("columns").elements().asScala
          .map(_.asText).toSeq
        root.get("data").elements().asScala.map(arr =>
          obj(cols.zip(arr.elements().asScala.toSeq))).toSeq
      case "index" =>
        root.properties().asScala.toSeq.map(e => e.getValue.toString)
      case "columns" =>
        // transpose {col -> {label -> v}} back to one object per label,
        // preserving first-seen label order
        val byLabel =
          new java.util.LinkedHashMap[String, List[(String, JsonNode)]]()
        root.properties().asScala.foreach { colEntry =>
          colEntry.getValue.properties().asScala.foreach { cellEntry =>
            val prev = byLabel.getOrDefault(cellEntry.getKey, Nil)
            byLabel.put(cellEntry.getKey,
              prev :+ (colEntry.getKey -> cellEntry.getValue))
          }
        }
        byLabel.values().asScala.map(obj).toSeq
      case other => throw new IllegalArgumentException(
        s"unknown orient: $other (records|split|index|columns|values)")
    }
    import spark.implicits._
    val ds = spark.createDataset(records)
    schema.fold(spark.read.json(ds))(s => spark.read.schema(s).json(ds))
  }

  /** Compact the database's many small append files (an append-only store
    * accumulates one file set per run; at high run counts the scan's
    * file-listing and task-launch overhead dominates) down to ~one file
    * per `_run_id` partition. Atomic: rewrite to a temp dir, then swap.
    * Values, schema, and partitioning are unchanged. */
  def compact(numPartitions: Int = 0): Unit = {
    if (!exists) return
    val runs = read().select("_run_id").distinct().count().toInt
    val n = if (numPartitions > 0) numPartitions else math.max(1, runs)
    rewrite(read().repartition(n, col("_run_id")), "compact")
  }

  /** Read a JSON-format database back (the S3 alternate format,
    * ref psweep.py:454-512). JSON is the lossy format — ints widen to
    * long, timestamps need the schema to round-trip (mirrors the
    * reference's documented JSON type-loss caveats,
    * ref tests/test_all.py:357-363). */
  def readJson(path: String,
               schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    schema.fold(r)(s => r.schema(s)).json(path)
  }
}

object Database {

  def apply(spark: SparkSession, calcDir: String,
            basename: String = "database"): Database =
    new Database(spark, calcDir, basename)

  /** `(max _pset_seq, max _run_seq)` of `df`, -1 where there is none —
    * one column-pruned aggregate. */
  def seqMaxima(df: DataFrame): (Long, Long) = {
    val r = df.agg(max(col("_pset_seq")).cast(LongType),
      max(col("_run_seq")).cast(LongType)).head()
    (if (r.isNullAt(0)) -1L else r.getLong(0),
     if (r.isNullAt(1)) -1L else r.getLong(1))
  }

  /** Which probe values already exist in `df`, per probed column: ONE
    * filter scan testing set membership per column. The sets ship in
    * the predicates' closures — no broadcast hash relation (a memory
    * page each), no literal list for the optimizer to walk. A column
    * `df` lacks matches nothing. */
  def existingAmong(df: DataFrame, probes: Map[String, Seq[String]])
      : Map[String, Set[String]] = {
    val sets = probes.map { case (c, vs) => c -> vs.toSet }
    val cols = sets.keys.toSeq
      .filter(c => sets(c).nonEmpty && df.columns.contains(c))
    val hits =
      if (cols.isEmpty) Array.empty[Row]
      else df.select(cols.map(col): _*).filter(cols.map { c =>
        val in = sets(c); udf((v: String) => in.contains(v)).apply(col(c))
      }.reduce(_ || _)).collect()
    sets.map { case (c, in) =>
      val i = cols.indexOf(c)
      c -> (if (i < 0) Set.empty[String]
        else hits.map(_.getString(i)).filter(in).toSet)
    }
  }

  /** Spark's `xxhash64` of one string (seed 42, the SQL function's),
    * computed on the driver — bit-equal to the hash the manifest
    * ranges were built with. */
  private[core] def probeHash(s: String): Long =
    XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L)

  private[core] def sortedHashes(vs: Seq[String]): Array[Long] =
    vs.distinct.map(probeHash).toArray.sorted

  /** Does sorted `hs` hold a value inside `range`? */
  private[core] def covers(hs: Array[Long],
                           range: Option[(Long, Long)]): Boolean =
    range.exists { case (lo, hi) =>
      val i = java.util.Arrays.binarySearch(hs, lo)
      val at = if (i >= 0) i else -i - 1
      at < hs.length && hs(at) <= hi
    }

  /** Fuse boolean filter columns with and/or/xor and apply
    * (ref psweep.py:622-679 `df_filter_conds`). */
  def dfFilterConds(df: DataFrame, conds: Seq[Column],
                    op: String = "and"): DataFrame = {
    if (conds.isEmpty) return df
    val fused = op match {
      case "and" => conds.reduce(_ && _)
      case "or" => conds.reduce(_ || _)
      case "xor" => conds.reduce(_ =!= _)
      case other => throw new IllegalArgumentException(
        s"op must be and|or|xor, got $other")
    }
    df.filter(fused)
  }

  /** Kind-projection of a DataFrame (ref psweep.py:877-898). */
  def selectKind(df: DataFrame, kind: ColKind.Value): DataFrame = {
    val cols = ColKind.filterCols(df.columns.toSeq, kind)
    df.select(cols.map(col): _*)
  }

  /** Extract psets (pset-kind columns, nulls preserved) from a database
    * slice, such that re-running them reproduces the stored hashes
    * (ref psweep.py:755-795 `df_extract_params`; round-trip invariant of
    * tests/test_all.py:1440-1473). Driver-side by design: extracted params
    * seed a new sweep, which is driver-built. */
  def extractParams(df: DataFrame): Seq[Map[String, Any]] = {
    val slice = selectKind(df, ColKind.Pset)
    val names = slice.columns
    slice.collect().toSeq.map { r =>
      names.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
    }
  }

  /** Single row for a `_pset_id`; asserts uniqueness
    * (ref psweep.py:798-850). */
  def extractRow(df: DataFrame, psetId: String): Row = {
    val rows = df.filter(col("_pset_id") === psetId).collect()
    require(rows.length == 1,
      s"expected exactly 1 row for _pset_id=$psetId, got ${rows.length}")
    rows(0)
  }

  /** The pset (parameter map) of one stored row. */
  def extractPset(df: DataFrame, psetId: String): Map[String, Any] = {
    val slice = df.filter(col("_pset_id") === psetId)
    val params = extractParams(slice)
    require(params.size == 1,
      s"expected exactly 1 row for _pset_id=$psetId, got ${params.size}")
    params.head
  }

  /** Consistency check between the database's `_pset_id`s and the per-pset
    * artifact dirs on disk (ref psweep.py:273-297): two anti-joins, fully
    * distributed (artifact listings can be large at scale). */
  def checkCalcDir(spark: SparkSession, calcDir: String, df: DataFrame,
                   basename: String = "database")
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val uuidRe = "^([0-9a-f]+-){4}[0-9a-f]+$"
    val disk = Fs.listNames(calcDir)
      .filter(_.matches(uuidRe)).toDF("_pset_id")
    val dbIds = df.select("_pset_id")
    val dbNotDisk = dbIds.join(disk, Seq("_pset_id"), "left_anti").distinct()
    val diskNotDb = disk.join(dbIds, Seq("_pset_id"), "left_anti").distinct()
    (dbNotDisk, diskNotDb)
  }

  /** Sorted-column display projection with the full `df_print` option
    * matrix (ref psweep.py:515-619): column names always sorted, prefix
    * cols hidden by default; `cols` selects explicitly and unions the
    * prefix set when `prefixCols` is also given; `skipCols` subtracts
    * (mutually exclusive with `cols`, like the reference); `index`
    * prepends a display ordinal in the frame's current order (an extra
    * zipWithIndex pass — display helper, not a pipeline operator). */
  def printableDF(df: DataFrame, prefixCols: Boolean = false,
                  cols: Seq[String] = Seq.empty,
                  skipCols: Seq[String] = Seq.empty,
                  index: Boolean = false): DataFrame = {
    require(cols.isEmpty || skipCols.isEmpty, "Use either skipCols or cols")
    val prefixSet = df.columns.filter(ColKind.isPrefix).toSet
    val disp =
      if (cols.nonEmpty)
        cols.toSet | (if (prefixCols) prefixSet else Set.empty[String])
      else
        (df.columns.toSet --
          (if (prefixCols) Set.empty[String] else prefixSet)) -- skipCols.toSet
    val chosen = disp.toSeq.sorted
    val proj = df.select(chosen.map(col): _*)
    if (!index) proj
    else {
      val schema = StructType(
        StructField("index", LongType, nullable = false) +:
          proj.schema.fields)
      val rdd = proj.rdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(i +: r.toSeq)
      }
      proj.sparkSession.createDataFrame(rdd, schema)
    }
  }
}

/** One skip-manifest row: a data file's row count, the `xxhash64`
  * ranges of its `_pset_id` and `_pset_hash`, its seq bounds and latest
  * `_time_utc`; a bound is None where the file holds no value for it.
  * Field names are the manifest's column names. */
private[core] final case class FileStat(
    file: String, rows: Long,
    pid_hmin: Option[Long], pid_hmax: Option[Long],
    psh_hmin: Option[Long], psh_hmax: Option[Long],
    pset_seq_max: Option[Long],
    run_seq_min: Option[Long], run_seq_max: Option[Long],
    time_utc_max: Option[java.sql.Timestamp]) {

  /** The stats of both row sets of the same file together. */
  def merge(o: FileStat): FileStat = {
    def lo(a: Option[Long], b: Option[Long]) = (a ++ b).minOption
    def hi(a: Option[Long], b: Option[Long]) = (a ++ b).maxOption
    FileStat(file, rows + o.rows,
      lo(pid_hmin, o.pid_hmin), hi(pid_hmax, o.pid_hmax),
      lo(psh_hmin, o.psh_hmin), hi(psh_hmax, o.psh_hmax),
      hi(pset_seq_max, o.pset_seq_max),
      lo(run_seq_min, o.run_seq_min), hi(run_seq_max, o.run_seq_max),
      (time_utc_max ++ o.time_utc_max).maxByOption(_.toInstant))
  }
}

private[core] object FileStat {
  val enc: Encoder[FileStat] = Encoders.product[FileStat]

  /** Partial stats merged per file. */
  def byFile(it: Iterator[FileStat]): Iterator[FileStat] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, FileStat]
    it.foreach(s => m.updateWith(s.file)(o => Some(o.fold(s)(_.merge(s)))))
    m.valuesIterator
  }
}
