package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.ops.Dedup
import graft.streaming.Monitor

/** Streaming ingest, the tail of the `curate` workload: the corpus, split
  * by the seed into `files` parquet files that land one at a time in a
  * watched directory. One long-lived `Monitor.minhashDedupSink` query
  * drains them into a persisted MinHash index; the next file lands only
  * after `processAllAvailable()` returns. */
final class IngestStream(spark: SparkSession, seed: Long, inputs: String,
                         label: String, files: Int) {
  import IngestStream._

  private var docs: Vector[Gen.Doc] = Vector.empty
  private var batches: Vector[Vector[Gen.Doc]] = Vector.empty
  private var replayed = false
  private def staged(i: Int): String = s"$inputs/$label-file-$i"

  def generate(corpus: Vector[Gen.Doc]): Unit = {
    docs = corpus
    batches = Gen.split(seed, corpus, files)
    batches.zipWithIndex.foreach { case (b, i) => Curate.write(spark, b, staged(i), 1) }
  }

  def facts: Seq[(String, String)] = Seq(
    "stream_files" -> batches.size.toString,
    "stream_docs_per_file" -> batches.map(_.size).mkString(","),
    "stream_input_sha256" -> Gen.digest(batches.iterator.zipWithIndex.flatMap { case (b, i) =>
      b.iterator.map(d => s"$i\t${Curate.render(d)}") }))

  /** The one parquet part file Spark wrote for staged file `i`. */
  private def stagedPart(i: Int): File =
    new File(staged(i)).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head

  /** Land staged file `i` in `in`: copy under a hidden name, which the
    * file source ignores, then rename into place atomically. */
  private def land(i: Int, in: String): Unit = {
    val tmp = new File(in, f".landing-$i%05d.parquet").toPath
    Files.copy(stagedPart(i).toPath, tmp)
    Files.move(tmp, new File(in, f"file-$i%05d.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Start the query in `dir`, land and drain every file, stop. */
  def run(p: Pass, dir: String, tr: Tracer): Unit = {
    val in = s"$dir/in"
    new File(in).mkdirs()
    val q = p.op("stream.start") {
      Monitor.minhashDedupSink(spark.readStream.schema(Curate.schema).parquet(in),
        s"$dir/index", s"$dir/out", s"$dir/checkpoint",
        n = Curate.shingle, numHashes = Curate.numHashes, bands = Curate.bands,
        threshold = Curate.threshold)
    }
    try {
      batches.indices.foreach { i =>
        p.op(s"stream.drain-$i", repeated = true) {
          tr.span("streaming.Monitor.drain") {
            land(i, in)
            q.processAllAvailable()
          }
        }
      }
    } finally q.stop()
  }

  def check(p: Pass, dir: String): Unit = {
    val out = spark.read.parquet(s"$dir/out").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val kept = out.toSet
    p.check("stream.drain-0", out.size == kept.size,
      s"${out.size - kept.size} doc ids emitted twice")
    val groups = docs.groupBy(_.group)
    val bad = groups.count { case (_, members) => members.count(d => kept(d.id)) != 1 }
    p.check("stream.drain-0", bad == 0,
      s"$bad groups do not keep exactly one document (a near-duplicate of a kept doc was emitted, or a group was lost)")
    if (seed == defaultSeed && !replayed) {
      // replay, once per run: the batch incremental dedup over the same
      // files, in order
      replayed = true
      val idx = s"$dir/replay-index"
      val replay = batches.indices.flatMap { i =>
        Dedup.incrementalMinhashDedup(spark.read.parquet(staged(i)), idx,
          Curate.shingle, Curate.numHashes, Curate.bands, Curate.threshold)
          .select("doc_id").collect().map(_.getLong(0))
      }.toSet
      p.check("stream.drain-0", replay == kept,
        s"stream survivors differ from the batch replay in ${(replay diff kept).size + (kept diff replay).size} docs")
    }
    val indexBytes = Fsx.bytes(s"$dir/index")
    p.storedBytes += indexBytes + Fsx.bytes(s"$dir/out")
    p.extras("ops.Dedup.index_bytes_per_doc") = indexBytes.toDouble / math.max(1, kept.size)
  }
}

object IngestStream {
  /** The seed whose run also replays the files through the batch dedup. */
  val defaultSeed = 1L
}
