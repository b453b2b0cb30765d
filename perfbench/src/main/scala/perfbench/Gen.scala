package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Each draw keys its own random stream on
  * (run seed, stream tag, index), so a vector or a document is the same
  * whether it is made on the driver (for the brute-force checks) or
  * inside a Spark task (for bulk loads), and adding draws to one
  * stream never shifts another. */
object Gen {
  def rng(seed: Long, tag: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ (tag * 0x9E3779B97F4A7C15L)) + i))

  /** splitmix64 finalizer */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Cumulative Zipf(s=1) weights over `n` ranks. */
  def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }
}

/** A Gaussian mixture of `comps` components in `dim` dimensions.
  * Centers are N(0, 1) per coordinate and points lie within sigma
  * 0.5 of their center, so components are separated but IVF cells
  * (about sqrt(N) of them, more than the components) cut through
  * them. Corpus points pick a component uniformly; queries pick one
  * by Zipf(1) popularity over a seeded ranking of the components. */
final class Mixture(val seed: Long, val dim: Int = 64, val comps: Int = 64)
    extends Serializable {
  private val Sigma = 0.5
  val centers: Array[Array[Double]] = {
    val r = Gen.rng(seed, 1, 0)
    Array.fill(comps, dim)(r.nextGaussian())
  }
  private val popularity: Array[Int] = {
    val r = Gen.rng(seed, 2, 0)
    val p = Array.range(0, comps)
    for (i <- comps - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }
  private val zipf = Gen.zipfCdf(comps)

  private def point(r: SplittableRandom, c: Int): Array[Float] = {
    val ctr = centers(c)
    Array.tabulate(dim)(i => (ctr(i) + r.nextGaussian() * Sigma).toFloat)
  }

  /** Corpus point `i` of stream `tag` (uniform component). */
  def corpus(tag: Long, i: Long): Array[Float] = {
    val r = Gen.rng(seed, tag, i)
    point(r, r.nextInt(comps))
  }

  def component(tag: Long, i: Long): Int = Gen.rng(seed, tag, i).nextInt(comps)

  /** Query `i` of stream `tag` (Zipf-popular component). */
  def query(tag: Long, i: Long): Array[Float] = {
    val r = Gen.rng(seed, tag, i)
    point(r, popularity(Gen.draw(zipf, r.nextDouble())))
  }
}

/** Seeded text shards for the curation workload. Documents mix one
  * language's function words (the langid seed vocabulary) with a
  * shared filler vocabulary; lengths span 10 to 120 tokens so the
  * 20 to 90 token gate drops some. Each shard plants 10% exact
  * duplicates and 10% one-word-edit near duplicates of earlier
  * documents, and one template family (about 2% of the shard) whose
  * members share all but their last few words, which makes one large
  * LSH bucket. Duplicates always carry a higher id than their
  * original. */
object TextGen {
  case class Doc(id: Long, text: String)
  case class Shard(docs: Array[Doc],
      exactPairs: Array[(Long, Long)],   // (original, copy)
      template: Set[Long])

  private val langVocab: Array[Array[String]] = {
    val seed = graft.operators.TextAnalysis.LangIdSeedCorpus
    val profiles = graft.operators.TextAnalysis.LangProfiles.toMap
    graft.operators.Curation.SeedLangCodes.map(_._1).map { lang =>
      (seed.filter(_._1 == lang).flatMap(_._2.split(" ")) ++
        profiles(lang)).distinct.toArray
    }.toArray
  }

  /** About 2000 pronounceable filler words, the same for every seed
    * and language. */
  private val filler: Array[String] = {
    val cons = "bcdfghklmnprstvz"; val vow = "aeiou"
    val r = Gen.rng(7L, 3, 0)
    Array.fill(2000) {
      val syl = 2 + r.nextInt(3)
      (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }.distinct
  }

  private def words(r: SplittableRandom, lang: Int, n: Int): Array[String] = {
    val lv = langVocab(lang)
    Array.fill(n)(if (r.nextInt(10) < 4) lv(r.nextInt(lv.length))
      else filler(r.nextInt(filler.length)))
  }

  def shard(seed: Long, shardNo: Long, n: Int): Shard = {
    val r = Gen.rng(seed, 100 + shardNo, 0)
    val texts = new Array[String](n)
    val exact = Array.newBuilder[(Long, Long)]
    val template = Set.newBuilder[Long]
    val nTemplate = math.max(2, n / 50)
    val templateBase = words(r, r.nextInt(langVocab.length), 60)
    var i = 0
    while (i < n) {
      val kind = r.nextInt(100)
      texts(i) =
        if (i < nTemplate) {
          // template family: a shared 60-word body, 6 varying words
          template += i.toLong
          (templateBase ++ words(r, 0, 6)).mkString(" ")
        } else if (i > nTemplate + 10 && kind < 10) {
          val src = nTemplate + r.nextInt(i - nTemplate)
          exact += ((src.toLong, i.toLong))
          texts(src)
        } else if (i > nTemplate + 10 && kind < 20) {
          val src = nTemplate + r.nextInt(i - nTemplate)
          val ws = texts(src).split(" ")
          ws(r.nextInt(ws.length)) = filler(r.nextInt(filler.length))
          ws.mkString(" ")
        } else words(r, r.nextInt(langVocab.length), 10 + r.nextInt(111))
          .mkString(" ")
      i += 1
    }
    Shard(texts.zipWithIndex.map { case (t, j) => Doc(j.toLong, t) },
      exact.result(), template.result())
  }
}
