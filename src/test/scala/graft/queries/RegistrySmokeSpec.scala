package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Whole-registry smoke: every `SparkEntry.queries` entry is built AND
  * executed against the driver's smallest fixture (sf0.001).
  *
  * Why this suite exists: the driver regenerates `/root/testdata`
  * between rounds and its physical schemas can drift (round 7: the
  * events `ts` column moved from nanosecond-INT64 parquet to native
  * `timestamp[us]`, and 16 queries threw `ExtendedAnalysisException`
  * at bench time because only the plan-gated queries ever touched the
  * real testdata in CI). Running the full registry here means a
  * driver-side data change is caught by `sbt test` within minutes,
  * not by the bench report at round end.
  *
  * `count()` rather than plan-forcing: analysis errors surface either
  * way, but execution also catches runtime shape breaks (codegen,
  * corrupt-file, schema-on-read mismatches) at negligible sf0.001 cost.
  * Entries with a golden digest in `output_digests.tsv` are checked for
  * unchanged values too (see [[OutputDigest]]).
  */
class RegistrySmokeSpec extends AnyFunSuite {
  import graft.SparkSpec.spark

  private val sf = "/root/testdata/sf0.001"

  // Queries whose result is legitimately empty at sf0.001 (their
  // semantics are "violations found" / "set difference" style) — the
  // smoke gate for those is "executes without error", not rows > 0.
  private val mayBeEmpty: Set[String] = Set(
    "q_dedup_exact", "q_join_anti", "q_except_years")

  // Golden digests (OutputDigest): an entry listed there is collected
  // instead of counted, and its rows must hash to the committed digest.
  private val digests = OutputDigest.committed

  for (name <- SparkEntry.queries.keys.toSeq.sorted)
    test(s"smoke: $name") {
      val df = SparkEntry.queries(name)(spark, sf)
      val n = digests.get(name) match {
        case Some((wantRows, wantDigest)) =>
          val rows = df.collect()
          assert(rows.length == wantRows, s"$name row count changed")
          assert(OutputDigest.of(df.schema, rows) == wantDigest,
            s"$name output differs from its golden digest")
          rows.length.toLong
        case None => df.count()
      }
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows at sf0.001")
    }
}
