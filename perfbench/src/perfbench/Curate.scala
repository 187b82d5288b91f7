package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Classifier, Dedup, Packing, Sampling, Text, Tokenize}

/** Curation of a generated corpus, batch then streaming. The batch
  * stages each read the previous stage's parquet and write their own, the
  * way a restartable pipeline runs: heuristic gate, quality classifier
  * (train, score), MinHash near-duplicate removal, exact n-gram verify of
  * the survivors, token mixture, concat-and-chunk packing, BPE training
  * and encoding. Then the same corpus arrives as files into a streaming
  * dedup sink ([[IngestStream]]); its drains are the repeated operation. */
final class Curate(spark: SparkSession, seed: Long, inputs: String,
                   size: Curate.Size = Curate.size) extends Workload {
  import Curate._

  val name = "curate"
  def items: Long = size.nBase.toLong * size.copies

  private var corpus: Gen.Corpus = Gen.Corpus(Vector.empty, 0.0)
  private def inputPath = s"$inputs/${size.label}-corpus"
  private val stream = new IngestStream(spark, seed, inputs, size.label, size.files)

  def generate(): Unit = {
    corpus = Gen.corpus(seed, size.nBase, size.copies, size.nearDupShare)
    Curate.write(spark, corpus.docs, inputPath, spark.sparkContext.defaultParallelism)
    stream.generate(corpus.docs)
  }

  def facts: Seq[(String, String)] = Seq(
    "docs" -> items.toString,
    "base_docs" -> size.nBase.toString,
    "copies" -> size.copies.toString,
    "near_dup_share_stated" -> size.nearDupShare.toString,
    "near_dup_share_realized" -> f"${corpus.realizedShare(size.copies, size.nBase)}%.4f",
    "input_sha256" -> Gen.digest(corpus.docs.iterator.map(Curate.render))) ++
    stream.facts

  /** The batch stages up to near-duplicate removal and the streaming
    * ingest, at the small size. */
  def warmUp(dir: String): Unit = {
    val small = new Curate(spark, seed, inputs, warmSize)
    small.generate()
    small.stages(dir).take(warmStages).foreach(_._2())
    small.stream.run(new Pass(dir), s"$dir/stream", new Tracer(spark, false))
  }

  private var bpeRounds = 0
  private var merges: Seq[(String, String)] = Nil
  private var model: Option[Classifier.LogisticModel] = None

  def pass(p: Pass, tr: Tracer): Unit = {
    val t0 = System.nanoTime()
    stages(p.dir).foreach { case (span, run) => p.op(span)(tr.span(span)(run())) }
    stream.run(p, s"${p.dir}/stream", tr)
    p.finish(t0)
  }

  /** The pipeline: (span, stage) in order. Each stage reads the previous
    * stage's parquet under `d` and writes its own. */
  private def stages(d: String): Seq[(String, () => Unit)] = {
    def read(stage: String): DataFrame = spark.read.parquet(s"$d/$stage")
    def write(df: DataFrame, stage: String): Unit = df.write.parquet(s"$d/$stage")
    import spark.implicits._
    Seq(
      "ops.Text.gate" -> { () =>
        write(spark.read.parquet(inputPath).filter(gate(col("text"))), "gated")
      },
      "ops.Classifier.train" -> { () =>
        val train = read("gated").filter(col("doc_id") % trainEvery === 0)
          .select(features, col("label"))
        val m = Classifier.trainLogisticSparse(train, "idx", "label", featureDim,
          iters = size.trainIters, lr = 0.5)
        write((m.weights.toSeq.zipWithIndex.map { case (w, i) => (i, w) } :+ ((-1, m.bias)))
          .toDF("i", "w"), "model")
        model = Some(m)
      },
      "ops.Classifier.score" -> { () =>
        val g = read("gated")
        val scored = Classifier.scoreSparse(g.select(col("doc_id"), features),
          "doc_id", "idx", model.get)
        write(g.join(scored, "doc_id").filter(col("margin") >= 0.0), "scored")
      },
      "ops.Dedup.nearDup" -> { () =>
        write(Dedup.minhashLshPairs(read("scored"), shingle, numHashes, bands, threshold),
          "minhash_pairs")
        write(Dedup.keepClusterCanonical(read("scored"), read("minhash_pairs")), "deduped")
      },
      "ops.Dedup.ngramVerify" -> { () =>
        write(Dedup.ngramJaccardPairs(read("deduped"), shingle, threshold), "exact_pairs")
        write(Dedup.keepClusterCanonical(read("deduped"), read("exact_pairs")), "clean")
      },
      "ops.Sampling.mixtureByTokens" -> { () =>
        write(Sampling.mixtureByTokens(read("clean"), col("lang"), col("doc_id"),
          Text.tokenCount(col("text")), mixWeights), "mixture")
      },
      "ops.Packing.concatChunks" -> { () =>
        write(Packing.concatChunks(read("mixture"), seqTokens,
          Sampling.shufflePosition(col("doc_id"), 0)), "packed")
      },
      "ops.Tokenize.trainBpe" -> { () =>
        bpeRounds = 0
        merges = Tokenize.trainBpeDistributed(read("mixture"), size.merges,
          onRound = (_, _) => bpeRounds += 1)
        write(merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
          .toDF("rank", "left", "right"), "merges")
      },
      "ops.Tokenize.encode" -> { () =>
        write(read("mixture").select(col("doc_id"),
          Tokenize.bpeCountExpr(col("text"), merges).as("n_bpe")), "encoded")
      })
  }

  def check(p: Pass): Unit = {
    val d = p.dir
    def read(stage: String): DataFrame = spark.read.parquet(s"$d/$stage")
    def ids(stage: String): Set[Long] =
      read(stage).select("doc_id").collect().map(_.getLong(0)).toSet
    val byId = corpus.docs.map(x => x.id -> x).toMap

    val gatedIds = ids("gated")
    val wantGated = corpus.docs.filter(x => gateOnDriver(x.tokens)).map(_.id).toSet
    p.check("ops.Text.gate", gatedIds == wantGated,
      s"gate kept ${gatedIds.size} docs, the rules say ${wantGated.size}")

    val scoredIds = ids("scored")
    val goodGated = gatedIds.count(byId(_).good)
    val keptGood = scoredIds.count(byId(_).good)
    val precision = keptGood.toDouble / math.max(1, scoredIds.size)
    val recall = keptGood.toDouble / math.max(1, goodGated)
    p.check("ops.Classifier.train", model.exists(_.dim == featureDim), "no model")
    p.check("ops.Classifier.score", scoredIds.subsetOf(gatedIds) &&
      precision >= 0.9 && recall >= 0.8,
      f"quality gate precision $precision%.3f recall $recall%.3f (want >= 0.9 / 0.8)")

    // near-duplicate removal: a subset, one survivor per near-duplicate
    // group, every other document kept, and no pairs left
    val dedupedIds = ids("deduped")
    val cleanIds = ids("clean")
    val groups = scoredIds.groupBy(byId(_).group)
    p.check("ops.Dedup.nearDup", dedupedIds.subsetOf(scoredIds),
      "near-dup output is not a subset of its input")
    p.check("ops.Dedup.ngramVerify", cleanIds.subsetOf(dedupedIds) &&
      groups.forall { case (_, members) => members.count(cleanIds) == 1 },
      s"${groups.count(_._2.count(cleanIds) != 1)} groups do not keep exactly one document")
    val mhPairs = read("minhash_pairs").count()
    val exactPairs = read("exact_pairs").count()
    val again = Dedup.minhashLshPairs(read("clean"), shingle, numHashes, bands,
      threshold).count()
    p.check("ops.Dedup.ngramVerify", again == 0L,
      s"a second dedup pass over the output finds $again pairs")
    p.extras("ops.Dedup.verify_yield") = exactPairs.toDouble / math.max(1L, mhPairs)

    // mixture: each language's tokens fill its weighted budget, short by
    // less than one document
    val tok = Text.tokenCount(col("text")).cast("long")
    val supply = read("clean").groupBy("lang").agg(sum(tok), max(tok)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = read("mixture").groupBy("lang").agg(sum(tok)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalW = mixWeights.values.sum
    val t = mixWeights.map { case (s, w) => supply.get(s).map(_._1).getOrElse(0L) * totalW / w }.min
    mixWeights.foreach { case (s, w) =>
      val lim = w * t / totalW
      val g = got.getOrElse(s, 0L)
      val maxDoc = supply.get(s).map(_._2).getOrElse(0L)
      p.check("ops.Sampling.mixtureByTokens", g <= lim && lim - g < maxDoc,
        s"mixture stratum $s has $g tokens, budget $lim")
    }

    val mixRows = read("mixture").count()
    val mixTokens = got.values.sum
    // the docs tile the token stream: the last one ends at the total
    val packed = read("packed").agg(count(lit(1)), sum("n_tok"),
      max(col("seq_id") * seqTokens + col("seq_off") + col("n_tok"))).head()
    p.check("ops.Packing.concatChunks", packed.getLong(0) == mixRows &&
      packed.getLong(1) == mixTokens && packed.getLong(2) == mixTokens,
      s"packed ${packed.getLong(0)} docs / ${packed.getLong(1)} tokens, " +
        s"input $mixRows docs / $mixTokens tokens")

    p.check("ops.Tokenize.trainBpe", bpeRounds >= 1 && merges.nonEmpty &&
      merges.size <= size.merges, s"$bpeRounds rounds, ${merges.size} merges")
    p.extras("ops.Tokenize.trainBpe.rounds") = bpeRounds.toDouble
    val enc = read("encoded").agg(count(lit(1)), sum("n_bpe")).head()
    val chars = read("mixture").agg(sum(length(regexp_replace(col("text"), " ", ""))))
      .head().getLong(0)
    p.check("ops.Tokenize.encode", enc.getLong(0) == mixRows &&
      enc.getLong(1) >= mixTokens && enc.getLong(1) < chars,
      s"encoded ${enc.getLong(0)} docs into ${enc.getLong(1)} tokens " +
        s"($mixTokens words, $chars letters)")

    p.storedBytes = Seq("gated", "model", "scored", "minhash_pairs", "deduped",
      "exact_pairs", "clean", "mixture", "packed", "merges", "encoded")
      .map(s => Fsx.bytes(s"$d/$s")).sum
    stream.check(p, s"$d/stream")
  }
}

object Curate {

  final case class Size(label: String, nBase: Int, copies: Int,
                        nearDupShare: Double, trainIters: Int, merges: Int,
                        files: Int)

  val size = Size("main", nBase = 500, copies = 3, nearDupShare = 0.3,
    trainIters = 6, merges = 8, files = 4)
  val warmSize = Size("warm", nBase = 40, copies = 3, nearDupShare = 0.3,
    trainIters = 2, merges = 2, files = 2)

  /** Stages the warm-up runs: up to near-duplicate removal. */
  val warmStages = 4
  val shingle = 3
  val numHashes = 64
  val bands = 16
  val threshold = 0.5
  val featureDim = 256
  val trainEvery = 4
  val minWords = 20
  val seqTokens = 512L
  val mixWeights: Map[String, Long] =
    Map("en" -> 4L, "de" -> 1L, "es" -> 1L, "fr" -> 1L, "zh" -> 1L)

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("label", DoubleType)))

  def render(d: Gen.Doc): String =
    s"${d.id}\t${d.text}\t${d.lang}\t${d.source}\t${d.good}"

  def write(spark: SparkSession, docs: Seq[Gen.Doc], path: String, parts: Int): Unit = {
    val rows = docs.map(x =>
      Row(x.id, x.text, x.lang, x.source, if (x.good) 1.0 else 0.0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .write.mode("overwrite").parquet(path)
  }

  /** The heuristic gate: the Gopher rules without the stopword rule (this
    * vocabulary holds a single Gopher stopword), at `minWords` words. */
  def gate(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Text.gopherRules(text, minWords).filterNot(_._1 == "rule_stop")
      .map(_._2).reduce(_ && _)

  /** The same gate evaluated on the driver from the generated tokens. */
  def gateOnDriver(tokens: Seq[String]): Boolean = {
    val n = tokens.size
    val chars = tokens.map(_.length).sum
    n >= minWords && chars >= 3 * n && chars <= 10 * n
  }

  def features: org.apache.spark.sql.Column =
    Classifier.hashedIndices(Text.tokens(col("text")), featureDim).as("idx")
}
