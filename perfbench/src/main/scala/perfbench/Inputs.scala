package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.core.Config

/** Seeded input generators. Each takes the workload seed and returns
  * plain Scala data, so the same seed always yields the same inputs and
  * the engine sees only the generated rows. Sizes are fixed per
  * workload (see perfbench/README.md); the seed varies content only. */
object Inputs {

  private def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  // ------------------------------------------------------------------
  // curate: text corpus with planted duplicate families

  /** `docs` are (doc_id, text). Every planted doc copies an earlier
    * original: an exact copy, or a copy with one token replaced.
    * `family(doc)` is the original's id (originals map to themselves). */
  final case class Corpus(docs: Seq[(Long, String)],
      exactPairs: Seq[(Long, Long)], nearPairs: Seq[(Long, Long)],
      family: Map[Long, Long]) {
    def bytes: Long = docs.iterator.map(_._2.length.toLong).sum
  }

  val Stopwords: Seq[String] = Seq("the", "of", "and", "to", "a", "in")

  /** Zipf(s) over `v` ranks; rank 0 is the most frequent word. */
  final class Zipf(v: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(v)(r => 1.0 / math.pow(r + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, v - 1)
    }
  }

  private def word(rank: Int): String =
    if (rank < Stopwords.length) Stopwords(rank)
    else "w" + Integer.toString(rank * 7919 + 1013, 36)

  def corpus(seed: Long, nDocs: Int, exactRate: Double,
      nearRate: Double, vocab: Int = 20000): Corpus = {
    val r = rng(seed, "corpus")
    val zipf = new Zipf(vocab, 1.05)
    val texts = new Array[Array[String]](nDocs)
    val originals = mutable.ArrayBuffer[Int]()
    val exact = mutable.ArrayBuffer[(Long, Long)]()
    val near = mutable.ArrayBuffer[(Long, Long)]()
    val family = mutable.HashMap[Long, Long]()
    for (i <- 0 until nDocs) {
      val u = r.nextDouble()
      if (originals.nonEmpty && u < exactRate + nearRate) {
        val o = originals(r.nextInt(originals.length))
        val t = texts(o).clone()
        if (u < exactRate) exact += ((o.toLong, i.toLong))
        else {
          val pos = r.nextInt(t.length)
          var w = word(zipf.draw(r))
          while (w == t(pos)) w = word(zipf.draw(r))
          t(pos) = w
          near += ((o.toLong, i.toLong))
        }
        texts(i) = t
        family(i.toLong) = o.toLong
      } else {
        texts(i) = Array.fill(40 + r.nextInt(161))(word(zipf.draw(r)))
        originals += i
        family(i.toLong) = i.toLong
      }
    }
    Corpus(texts.indices.map(i => (i.toLong, texts(i).mkString(" "))),
      exact.toSeq, near.toSeq, family.toMap)
  }

  // ------------------------------------------------------------------
  // materials: fcc supercell seeds

  private val Supercells = Seq(Seq(2, 1, 1), Seq(1, 2, 1), Seq(2, 2, 1),
    Seq(1, 1, 2), Seq(2, 1, 2))

  /** `n` all-Ag fcc supercells (8–16 atoms) with seeded lattice
    * constants around 4.05 Å. */
  def supercellSeeds(seed: Long, n: Int): Seq[Config] = {
    val r = rng(seed, "materials")
    val basis = Seq(Seq(0.0, 0.0, 0.0), Seq(0.0, 0.5, 0.5),
      Seq(0.5, 0.0, 0.5), Seq(0.5, 0.5, 0.0))
    (0 until n).map { _ =>
      val a = 4.0 + r.nextDouble() * 0.1
      val m = Supercells(r.nextInt(Supercells.length))
      val cell = (0 until 3).map(ax =>
        (0 until 3).map(j => if (j == ax) a * m(ax) else 0.0))
      val pos = for {
        i <- 0 until m(0); j <- 0 until m(1); k <- 0 until m(2)
        b <- basis
      } yield Seq((i + b(0)) * a, (j + b(1)) * a, (k + b(2)) * a)
      Config.of(Seq.fill(pos.length)("Ag"), cell, pos,
        configType = Some("seed"))
    }
  }

  // ------------------------------------------------------------------
  // lake: versioned table rows and an upsert stream

  /** Table row: (key, grp, value, payload). */
  type Row4 = (Long, Int, Long, String)

  def rowBytes(r: Row4): Long = 8L + 4L + 8L + r._4.length

  private def payload(r: SplittableRandom): String = {
    val sb = new StringBuilder(24)
    var i = 0
    while (i < 24) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  def lakeRow(r: SplittableRandom, key: Long): Row4 =
    (key, r.nextInt(16), r.nextLong(1000000L), payload(r))

  def lakeBase(seed: Long, rows: Int): Seq[Row4] = {
    val r = rng(seed, "lake-base")
    (0 until rows).map(k => lakeRow(r, k.toLong))
  }

  /** The random stream behind op number `op` of a lake run. */
  def lakeOpRng(seed: Long, op: Int): SplittableRandom =
    rng(seed, s"lake-op-$op")

  // ------------------------------------------------------------------
  // curate: clustered vectors for the embedding kernels

  final case class Vectors(corpus: Seq[(Long, Array[Double])],
      queries: Seq[(Long, Array[Double])], clusters: Int)

  /** `n` corpus and `q` query vectors of dimension `dim` around
    * `clusters` random unit centres; every vector is normalized to
    * unit length (the integer kernels' input-scale precondition). */
  def vectors(seed: Long, n: Int, q: Int, dim: Int,
      clusters: Int): Vectors = {
    val r = rng(seed, "vectors")
    def gauss(): Double = {
      // Box-Muller keeps the generator self-contained and seeded
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val centres = Array.fill(clusters)(unit(Array.fill(dim)(gauss())))
    def around(): Array[Double] = {
      val c = centres(r.nextInt(clusters))
      unit(Array.tabulate(dim)(j => c(j) + 0.06 * gauss()))
    }
    Vectors((0 until n).map(i => (i.toLong, around())),
      (0 until q).map(i => (1000000000L + i, around())), clusters)
  }
}
