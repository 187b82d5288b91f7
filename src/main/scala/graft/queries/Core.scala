package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/** The reference's own operator surface (SURVEY §2 [core] rows) exposed as
  * driver-verifiable queries: grid constructors, canonical hash, kind
  * projection, and the full sweep pipeline (run / incremental+dedup /
  * simulate / failure capture / log capture). Each query's DuckDB oracle
  * reconstructs the same relation in ANSI SQL (VALUES / range), so the
  * correctness gate covers the [core] operators too, not only the
  * delegated relational surface.
  *
  * Sweep queries execute in a fresh temp calcDir on every call — results
  * depend only on params + function, never on prior state; the
  * non-deterministic bookkeeping (uuids, timestamps, host) is projected
  * away, exactly the deterministic slice the reference's own tests assert
  * (ref tests/test_all.py:170-231).
  */
object Core {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-q-").toString

  private val f10: Map[String, Any] => Map[String, Any] =
    p => Map("result_" -> p("a").asInstanceOf[Long] * 10.0)

  /** The 3-run manifested db the history queries (asOf / changes) read,
    * built once per process: their steady state is READING the run log,
    * not re-running studies (the bm25/pq index-memo discipline), and
    * both queries only read. A fresh process — the correctness run —
    * always rebuilds. */
  private val historyDbs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def historyDb(s: SparkSession): Database = {
    val calc = historyDbs.getOrElseUpdate("db", {
      val c = freshDir()
      val study = Study(s, StudyConfig(calcDir = c))
      study.run(f10, Grid.plist("a", Seq(1, 2)))
      new Database(s, c).rebuildSkipManifest() // opt into layout metadata
      study.run(f10, Grid.plist("a", Seq(3, 4)))
      study.run(f10, Grid.plist("a", Seq(5)))
      c
    })
    new Database(s, calc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G1: plist
    "q_plist" -> ((s, _) =>
      ValueSchema.toDF(s, Grid.plist("a", 1 to 4)).orderBy(col("a"))),

    // G2: pgrid cross product (F2)
    "q_pgrid" -> ((s, _) =>
      ValueSchema.toDF(s, Grid.pgrid(
        Grid.plist("param_a", Seq(1, 2, 3)),
        Grid.plist("param_b", Seq("xx", "yy"))))
        .orderBy(col("param_a"), col("param_b"))),

    // G3/G4/J3: zip-linked plists crossed with a third (F3)
    "q_pgrid_zip" -> ((s, _) =>
      ValueSchema.toDF(s, Grid.pgridZ(
        Seq(Grid.plist("a", Seq(1, 2)), Grid.plist("c", Seq(11, 22))),
        Seq(Grid.plist("d", Seq(66, 77, 88, 99)))))
        .orderBy(col("a"), col("d"))),

    // G5: stargrid with center dedup (F4)
    "q_stargrid" -> ((s, _) =>
      ValueSchema.toDF(s, Grid.stargrid(
        Map[String, Any]("a" -> 1, "b" -> 77),
        Seq(Grid.plist("a", Seq(1, 2, 3)), Grid.plist("b", Seq(77, 88, 99)))))
        .orderBy(col("a"), col("b"))),

    // G7: generalized logspace
    "q_logspace" -> ((s, _) =>
      ValueSchema.toDF(s,
        Grid.logspace(1.0, 100.0, 5).map(v => Map[String, Any]("x" -> v)))
        .orderBy(col("x"))),

    // G8: intspace
    "q_intspace" -> ((s, _) =>
      ValueSchema.toDF(s,
        Grid.intspace(1, 20, 5).map(v => Map[String, Any]("n" -> v)))
        .orderBy(col("n"))),

    // G10: flatten_dict
    "q_flatten_dict" -> ((s, _) =>
      ValueSchema.toDF(s, Seq(Grid.flattenDict(Map[String, Any]("a" -> 1,
        "b" -> Map("c" -> 2, "d" -> Map("e" -> 3))))))
        .select(col("a"), col("b_c"), col("b_d_e"))),

    // §2.9: canonical hash via the Catalyst expression (golden-pinned)
    "q_pset_hash" -> ((s, _) => {
      val df = ValueSchema.toDF(s, Seq(
        Map[String, Any]("case" -> "t1", "a" -> 1L, "b" -> "xx"),
        Map[String, Any]("case" -> "t2", "a" -> 2L, "b" -> "yy")))
      // "case" is pset-kind but must not join the hashed set here; hash
      // exactly {a, b} by passing the columns explicitly.
      val base = df.select(col("case"),
        PsetHashExpressionHelper.hashOf(Seq("a", "b")).as("h"))
      // complex params store as struct(re, im) (SURVEY §1.2) and hash
      // through the same canonical struct encoding — golden-pinned
      val cdf = ValueSchema.toDF(s, Seq(
        Map[String, Any]("case" -> "t3", "c" -> Complex(1.0, 3.0))))
      val complexRow = cdf.select(col("case"),
        PsetHashExpressionHelper.hashOf(Seq("c")).as("h"))
      base.unionByName(complexRow).orderBy(col("case"))
    }),

    // P2: column-kind projection
    "q_filter_cols" -> ((s, _) => {
      val df = ValueSchema.toDF(s, Seq(
        Map[String, Any]("_p" -> 1, "a" -> 2, "r_" -> 3),
        Map[String, Any]("_p" -> 4, "a" -> 5, "r_" -> 6)))
      Database.selectKind(df, ColKind.Pset).orderBy(col("a"))
    }),

    // E1-E9: one full sweep with failure capture (F1+F6)
    "q_run_sweep" -> ((s, _) => {
      val calc = freshDir()
      val fn: Map[String, Any] => Map[String, Any] = p => {
        val a = p("a").asInstanceOf[Long]
        if (a % 3 == 0) throw new RuntimeException(s"boom $a")
        Map("result_" -> a * 10.0)
      }
      val out = Study(s, StudyConfig(calcDir = calc, failSafe = true))
        .run(fn, Grid.plist("a", 0 until 10))
      out.db.select(col("a"), col("result_"), col("_failed"),
        col("_pset_seq"), col("_run_seq"))
        .orderBy(col("a"))
    }),

    // incremental extension + skip_dups + schema-evolution rehash (F5)
    "q_run_incremental" -> ((s, _) => {
      val calc = freshDir()
      val study = Study(s, StudyConfig(calcDir = calc, skipDups = true))
      study.run(f10, Grid.plist("a", Seq(1, 2)))
      val out2 = study.run(f10, Grid.pgrid(
        Grid.plist("a", Seq(1, 2, 3)), Grid.plist("b", Seq(10))))
      out2.db.select(col("a"), col("b"), col("result_"), col("_run_seq"))
        .orderBy(col("a"), asc_nulls_first("b"))
    }),

    // time travel over the append-only run log: after three runs,
    // read the db AS OF run 1 — exactly the frame a reader saw before
    // run 2 committed. Manifest-served file pruning (run_seq_min
    // ranges; DatabaseSpec pins zero future files read), predicate
    // re-applied
    "q_run_asof" -> ((s, _) => {
      historyDb(s).asOf(1L)
        .select(col("a"), col("result_"), col("_run_seq"))
        .orderBy(col("a"))
    }),

    // time travel by WALL CLOCK: a 3-run db with pinned per-run commit
    // instants (direct appends — Study's _time_utc is the actual run
    // moment, which no oracle can replay), read AS OF one second after
    // run 1's commit — asOfTime resolves the timestamp to run 1
    // against the manifest's per-file time_utc_max (zero data files
    // touched by the resolution; DatabaseSpec pins the file set and
    // the boundary cases) and serves the asOf(1) frame
    "q_run_asof_time" -> ((s, _) => {
      val calc = freshDir()
      val db = new Database(s, calc)
      val t0 = java.time.Instant.parse("2026-08-15T10:00:00Z")
      def runDf(runSeq: Int, as: Seq[Int]) = {
        import s.implicits._
        as.toDF("a").select(
          concat(lit("p"), col("a")).as("_pset_id"),
          (col("a") - 1).cast("long").as("_pset_seq"),
          lit(runSeq.toLong).as("_run_seq"),
          lit(s"run$runSeq").as("_run_id"),
          timestamp_seconds(
            lit(t0.plusSeconds(runSeq * 60L).getEpochSecond))
            .as("_time_utc"),
          (col("a") * 10.0).as("result_"))
      }
      db.append(runDf(0, Seq(1, 2)))
      db.rebuildSkipManifest()
      db.append(runDf(1, Seq(3, 4)))
      db.append(runDf(2, Seq(5)))
      db.asOfTime(t0.plusSeconds(61))
        .select(col("_pset_seq").cast("long").as("a_seq"),
          col("result_"), col("_run_seq"))
        .orderBy(col("a_seq"))
    }),

    // change data feed over the same log: the rows runs 1..2 appended
    // — the delta an incremental consumer reads after having processed
    // through run 0, without touching run 0's partitions (manifest
    // range-overlap pruning on [run_seq_min, run_seq_max]; DatabaseSpec
    // pins the file set), predicate re-applied
    "q_run_changes" -> ((s, _) => {
      historyDb(s).changes(0L, 2L)
        .select(col("a"), col("result_"), col("_run_seq"))
        .orderBy(col("a"))
    }),

    // the run log AS A STREAM: tailDatabase delivers every run
    // partition as file-stream micro-batches (the changes() feed,
    // continuously); a full drain of the 3-run history db must
    // reproduce the whole log exactly once — the incremental
    // drain-append-drain contract is pinned in MonitorSpec
    "q_stream_run_tail" -> ((s, _) => {
      val db = historyDb(s)
      // this query ignores `dir`: its drain is sized from the history db
      graft.streaming.Monitor.withDrainPartitions(s, db.dbPath) {
        graft.streaming.Monitor.drainToMemory(
          graft.streaming.Monitor.tailDatabase(db)
            .select(col("a"), col("result_"), col("_run_seq")), "append")
      }.orderBy(col("a"))
    }),

    // E6: log capture into the _logs column (F7)
    "q_run_logs" -> ((s, _) => {
      val calc = freshDir()
      val loud: Map[String, Any] => Map[String, Any] = p => {
        println(s"pset a=${p("a")}")
        Map("result_" -> 1.0)
      }
      val out = Study(s, StudyConfig(calcDir = calc, captureLogs = "db"))
        .run(loud, Grid.plist("a", Seq(1, 2, 3)))
      out.db.select(col("a"), col("_logs")).orderBy(col("a"))
    }),

    // S13: simulate — pipeline runs, function skipped
    "q_run_simulate" -> ((s, _) => {
      val calc = freshDir()
      val out = Study(s, StudyConfig(calcDir = calc, simulate = true))
        .run(f10, Grid.plist("a", Seq(1, 2)))
      out.db.select(col("a"), col("_run_seq"), col("_pset_seq"))
        .orderBy(col("a"))
    }),

    // A7: repeat-same-params pattern — run the same grid twice (no
    // skip_dups), then aggregate per _pset_hash ("sample more data for
    // the same psets", ref manual.md:473-495)
    "q_run_repeat" -> ((s, _) => {
      val calc = freshDir()
      val study = Study(s, StudyConfig(calcDir = calc))
      study.run(f10, Grid.plist("a", Seq(1, 2, 3)))
      val out = study.run(f10, Grid.plist("a", Seq(1, 2, 3)))
      out.db.groupBy(col("_pset_hash"))
        .agg(min(col("a")).as("a"), count(lit(1)).as("n_samples"),
          avg(col("result_")).as("avg_result"))
        .select(col("a"), col("n_samples"), col("avg_result"))
        .orderBy(col("a"))
    }),

    // B1: template rendering (jinja + dollar modes) over a grid
    "q_template_render" -> ((s, _) => {
      val params = Grid.pgrid(Grid.plist("param_a", Seq(1, 2, 3)),
        Grid.plist("param_b", Seq("xx", "yy")))
      val rows = params.map { p =>
        p ++ Map[String, Any](
          "jinja_" -> graft.batch.Batch.FileTemplate.render(
            "a={{ param_a }} b={{ param_b }}", p, "jinja"),
          "dollar_" -> graft.batch.Batch.FileTemplate.render(
            "a=$param_a b=${param_b}", p, "dollar"))
      }
      ValueSchema.toDF(s, rows).orderBy(col("param_a"), col("param_b"))
    }),

    // S11/J4: calc-dir consistency scan as two anti-joins
    "q_check_calc_dir" -> ((s, _) => {
      val calc = freshDir()
      val idOnDisk = "00000000-0000-4000-8000-000000000001"
      val idBoth = "00000000-0000-4000-8000-000000000002"
      val idDbOnly = "00000000-0000-4000-8000-000000000003"
      Fs.mkdirs(s"$calc/$idOnDisk")
      Fs.mkdirs(s"$calc/$idBoth")
      val db = ValueSchema.toDF(s, Seq(
        Map[String, Any]("_pset_id" -> idBoth),
        Map[String, Any]("_pset_id" -> idDbOnly)))
      val (dbNotDisk, diskNotDb) = Database.checkCalcDir(s, calc, db)
      dbNotDisk.withColumn("side", lit("db_not_disk"))
        .unionByName(diskNotDb.withColumn("side", lit("disk_not_db")))
        .orderBy(col("side"), col("_pset_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_plist" ->
      "SELECT CAST(a AS BIGINT) AS a FROM range(1, 5) t(a) ORDER BY a",

    "q_pgrid" ->
      """SELECT CAST(a AS BIGINT) AS param_a, b AS param_b
        |FROM range(1, 4) t(a)
        |CROSS JOIN (VALUES ('xx'), ('yy')) u(b)
        |ORDER BY param_a, param_b""".stripMargin,

    "q_pgrid_zip" ->
      """SELECT CAST(a AS BIGINT) AS a, CAST(c AS BIGINT) AS c,
        |       CAST(d AS BIGINT) AS d
        |FROM (VALUES (1, 11), (2, 22)) t(a, c)
        |CROSS JOIN (VALUES (66), (77), (88), (99)) u(d)
        |ORDER BY a, d""".stripMargin,

    "q_stargrid" ->
      """SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
        |FROM (VALUES (1, 77), (2, 77), (3, 77), (1, 88), (1, 99)) t(a, b)
        |ORDER BY a, b""".stripMargin,

    "q_logspace" ->
      """SELECT CAST(x AS DOUBLE) AS x FROM (VALUES
        |  (CAST(1.0 AS DOUBLE)), (CAST(3.1622776601683795 AS DOUBLE)),
        |  (CAST(10.0 AS DOUBLE)), (CAST(31.622776601683793 AS DOUBLE)),
        |  (CAST(100.0 AS DOUBLE))) t(x)
        |ORDER BY x""".stripMargin,

    "q_intspace" ->
      """SELECT CAST(n AS BIGINT) AS n
        |FROM (VALUES (1), (6), (10), (15), (20)) t(n) ORDER BY n""".stripMargin,

    "q_flatten_dict" ->
      """SELECT CAST(1 AS BIGINT) AS a, CAST(2 AS BIGINT) AS b_c,
        |       CAST(3 AS BIGINT) AS b_d_e""".stripMargin,

    "q_pset_hash" ->
      """SELECT * FROM (VALUES
        |  ('t1', '7aa972c7d703b159df332e05a51e5a45060ccffd'),
        |  ('t2', 'c80d285ec311e3a09d76b88e26cf57070c0ce2ec'),
        |  ('t3', '28ef50f25f7cf1226c89bc36b4343e8cc4b659fd')) t("case", h)
        |ORDER BY "case"""".stripMargin,

    "q_filter_cols" ->
      """SELECT CAST(a AS BIGINT) AS a FROM (VALUES (2), (5)) t(a)
        |ORDER BY a""".stripMargin,

    "q_run_sweep" ->
      """SELECT CAST(a AS BIGINT) AS a,
        |  CASE WHEN a % 3 <> 0 THEN CAST(a * 10.0 AS DOUBLE) END AS result_,
        |  a % 3 = 0 AS "_failed",
        |  CAST(a AS BIGINT) AS "_pset_seq",
        |  CAST(0 AS BIGINT) AS "_run_seq"
        |FROM range(0, 10) t(a) ORDER BY a""".stripMargin,

    "q_run_incremental" ->
      """SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  CAST(a * 10.0 AS DOUBLE) AS result_,
        |  CAST(r AS BIGINT) AS "_run_seq"
        |FROM (VALUES (1, NULL, 0), (2, NULL, 0),
        |             (1, 10, 1), (2, 10, 1), (3, 10, 1)) t(a, b, r)
        |ORDER BY a, b NULLS FIRST""".stripMargin,

    "q_run_asof" ->
      """SELECT CAST(a AS BIGINT) AS a,
        |  CAST(a * 10.0 AS DOUBLE) AS result_,
        |  CAST(r AS BIGINT) AS "_run_seq"
        |FROM (VALUES (1, 0), (2, 0), (3, 1), (4, 1)) t(a, r)
        |ORDER BY a""".stripMargin,

    "q_run_asof_time" ->
      """SELECT CAST(sq AS BIGINT) AS a_seq,
        |  CAST((sq + 1) * 10.0 AS DOUBLE) AS result_,
        |  CAST(r AS BIGINT) AS "_run_seq"
        |FROM (VALUES (0, 0), (1, 0), (2, 1), (3, 1)) t(sq, r)
        |ORDER BY a_seq""".stripMargin,

    "q_run_changes" ->
      """SELECT CAST(a AS BIGINT) AS a,
        |  CAST(a * 10.0 AS DOUBLE) AS result_,
        |  CAST(r AS BIGINT) AS "_run_seq"
        |FROM (VALUES (3, 1), (4, 1), (5, 2)) t(a, r)
        |ORDER BY a""".stripMargin,

    "q_stream_run_tail" ->
      """SELECT CAST(a AS BIGINT) AS a,
        |  CAST(a * 10.0 AS DOUBLE) AS result_,
        |  CAST(r AS BIGINT) AS "_run_seq"
        |FROM (VALUES (1, 0), (2, 0), (3, 1), (4, 1), (5, 2)) t(a, r)
        |ORDER BY a""".stripMargin,

    "q_run_logs" ->
      """SELECT CAST(a AS BIGINT) AS a,
        |  'pset a=' || a || chr(10) AS "_logs"
        |FROM range(1, 4) t(a) ORDER BY a""".stripMargin,

    "q_run_simulate" ->
      """SELECT CAST(a AS BIGINT) AS a, CAST(0 AS BIGINT) AS "_run_seq",
        |  CAST(a - 1 AS BIGINT) AS "_pset_seq"
        |FROM range(1, 3) t(a) ORDER BY a""".stripMargin,

    "q_run_repeat" ->
      """SELECT CAST(a AS BIGINT) AS a, CAST(2 AS BIGINT) AS n_samples,
        |  CAST(a * 10.0 AS DOUBLE) AS avg_result
        |FROM range(1, 4) t(a) ORDER BY a""".stripMargin,

    "q_template_render" ->
      """SELECT CAST(a AS BIGINT) AS param_a, b AS param_b,
        |  'a=' || a || ' b=' || b AS jinja_,
        |  'a=' || a || ' b=' || b AS dollar_
        |FROM range(1, 4) t(a)
        |CROSS JOIN (VALUES ('xx'), ('yy')) u(b)
        |ORDER BY param_a, param_b""".stripMargin,

    "q_check_calc_dir" ->
      """SELECT id AS "_pset_id", side FROM (VALUES
        |  ('00000000-0000-4000-8000-000000000003', 'db_not_disk'),
        |  ('00000000-0000-4000-8000-000000000001', 'disk_not_db')) t(id, side)
        |ORDER BY side, id""".stripMargin
  )
}

/** Small helper so queries can hash an explicit column subset. */
object PsetHashExpressionHelper {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.shim

  def hashOf(cols: Seq[String]): Column =
    shim.column(PsetHashExpression(
      shim.expression(struct(cols.sorted.map(col): _*))))
}
