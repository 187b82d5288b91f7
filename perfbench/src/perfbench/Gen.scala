package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generator: everything a workload hands the library comes
  * from here, and the same seed gives the same inputs byte for byte
  * ([[digest]] fingerprints them in the report).
  *
  * Documents follow the `documents` table of the sf0.1 test data: its
  * 30-word vocabulary at uniform frequency, 10 to 99 tokens per document,
  * its language counts and its 20 sources (measured from that file; the
  * README gives the numbers and queries). A run reads only inside its
  * checkout, which does not hold the test data, so documents are
  * synthesised from those facts. */
object Gen {

  type Pset = Map[String, Any]

  val vocab: Vector[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  /** Words a low-quality document over-uses: the signal the quality
    * classifier has to learn. */
  val spamWords: Vector[String] =
    Vector("big", "fast", "slow", "data", "hash", "key")

  /** Language shares of the sf0.1 documents (counts out of 5000). */
  val langs: Vector[(String, Int)] =
    Vector("en" -> 2059, "de" -> 702, "es" -> 744, "zh" -> 753, "fr" -> 742)

  val goodShare = 0.75
  val spamTokenShare = 0.6
  val heavyEditShare = 0.7

  /** A generated document. `group` is the id of the original for the
    * original and its near-duplicate copies, and the doc's own id for
    * every other document. */
  final case class Doc(id: Long, tokens: Vector[String], lang: String,
                       source: String, good: Boolean, group: Long) {
    def text: String = tokens.mkString(" ")
  }

  /** Generated documents and the near-duplicate share they were made with. */
  final case class Corpus(docs: Vector[Doc], nearDupShare: Double) {
    def nearDupCopies: Int = docs.count(d => d.group != d.id)
    def realizedShare(copies: Int, nBase: Int): Double =
      if (copies <= 1) 0.0 else nearDupCopies.toDouble / ((copies - 1) * nBase)
  }

  private def draw(rnd: SplittableRandom, good: Boolean): String =
    if (!good && rnd.nextDouble() < spamTokenShare)
      spamWords(rnd.nextInt(spamWords.size))
    else vocab(rnd.nextInt(vocab.size))

  private def pickLang(rnd: SplittableRandom): String = {
    var k = rnd.nextInt(langs.map(_._2).sum)
    langs.find { case (_, n) => k -= n; k < 0 }.get._1
  }

  /** `nBase` originals plus `copies - 1` edited copies of each. A copy is
    * a near-duplicate with probability `nearDupShare`: one token appended,
    * which keeps the Jaccard of word 3-shingles at about 0.8 or more to the
    * original and to the other near-duplicate copies. Every other copy has
    * 70% of its tokens redrawn and its length jittered, which puts it far
    * below 0.5. Copy `r` of original `i` has id `i + r * nBase`, so the
    * original holds the smallest id of its group. */
  def corpus(seed: Long, nBase: Int, copies: Int,
             nearDupShare: Double): Corpus = {
    val rnd = new SplittableRandom(seed)
    val base = Vector.tabulate(nBase) { i =>
      val good = rnd.nextDouble() < goodShare
      val len = 10 + rnd.nextInt(90)
      Doc(i.toLong, Vector.fill(len)(draw(rnd, good)), pickLang(rnd),
        s"src${rnd.nextInt(20)}", good, i.toLong)
    }
    val edited = for (r <- 1 until copies; b <- base) yield {
      val id = b.id + r.toLong * nBase
      if (rnd.nextDouble() < nearDupShare)
        b.copy(id = id, tokens = b.tokens :+ vocab(rnd.nextInt(vocab.size)))
      else {
        val redrawn = b.tokens.map(t =>
          if (rnd.nextDouble() < heavyEditShare) draw(rnd, b.good) else t)
        val len = math.max(10, math.min(99,
          redrawn.size + rnd.nextInt(21) - 10))
        val sized =
          if (len <= redrawn.size) redrawn.take(len)
          else redrawn ++ Vector.fill(len - redrawn.size)(draw(rnd, b.good))
        b.copy(id = id, tokens = sized, group = id)
      }
    }
    Corpus(base ++ edited, nearDupShare)
  }

  /** The seed's arrival order of `docs`, cut into `files` slices. */
  def split(seed: Long, docs: Vector[Doc], files: Int): Vector[Vector[Doc]] = {
    val order = shuffle(new SplittableRandom(seed ^ 0x5eedL), docs)
    val per = math.ceil(order.size.toDouble / files).toInt
    order.grouped(per).toVector
  }

  def shuffle[A](rnd: SplittableRandom, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  // ------------------------------------------------------------------ //
  // sweep
  // ------------------------------------------------------------------ //

  /** The sweep's sizes: a bulk grid of `na * nb * nc` psets, `extRuns`
    * extension runs of `extSize` psets each (half of them new), and a
    * growth run of `growSize` new psets that adds a pset column. */
  final case class SweepSize(na: Int, nb: Int, nc: Int, extRuns: Int,
                             extSize: Int, growSize: Int) {
    def bulk: Int = na * nb * nc
    def offered: Long = bulk.toLong + extRuns.toLong * extSize + growSize
  }

  def axisA(s: SweepSize): Seq[Int] = 0 until s.na
  def axisB(s: SweepSize): Seq[Double] = (0 until s.nb).map(_ * 0.25)
  def axisC(s: SweepSize): Seq[String] = (0 until s.nc).map(i => f"c$i%03d")

  /** One extension run's params and how many of them are new. */
  final case class Extension(params: Vector[Pset], fresh: Int)

  /** Extension run `k` offers `extSize / 2` psets of the bulk grid and the
    * rest new (`a = na + k`); the seed picks both halves and their order.
    * The growth run adds column `d` to `growSize` new psets
    * (`a = na + extRuns`). */
  def sweepInputs(seed: Long, s: SweepSize): (Vector[Extension], Vector[Pset]) = {
    val rnd = new SplittableRandom(seed)
    val bs = axisB(s); val cs = axisC(s)
    def distinctPicks(n: Int, space: Int): Vector[Int] = {
      val seen = scala.collection.mutable.LinkedHashSet[Int]()
      while (seen.size < n) seen += rnd.nextInt(space)
      seen.toVector
    }
    def bc(i: Int): (Double, String) = (bs(i / s.nc), cs(i % s.nc))
    val exts = Vector.tabulate(s.extRuns) { k =>
      val old = distinctPicks(s.extSize / 2, s.bulk).map { i =>
        val (b, c) = bc(i % (s.nb * s.nc))
        Map[String, Any]("a" -> i / (s.nb * s.nc), "b" -> b, "c" -> c)
      }
      val fresh = distinctPicks(s.extSize - old.size, s.nb * s.nc).map { i =>
        val (b, c) = bc(i)
        Map[String, Any]("a" -> (s.na + k), "b" -> b, "c" -> c)
      }
      Extension(shuffle(rnd, old ++ fresh), fresh.size)
    }
    val grow = distinctPicks(s.growSize, s.nb * s.nc).map { i =>
      val (b, c) = bc(i)
      Map[String, Any]("a" -> (s.na + s.extRuns), "b" -> b, "c" -> c, "d" -> "grown")
    }
    (exts, grow)
  }

  /** SHA-256 over a canonical rendering of generated records. */
  def digest(records: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    records.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
