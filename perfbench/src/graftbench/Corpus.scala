package graftbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One generated document. `words` is the whitespace split of `text`;
  * `cluster` is the planted near-duplicate cluster (-1 for singletons). */
final case class Doc(
    id: Long,
    title: String,
    text: String,
    quality: String,
    cluster: Int
) {
  lazy val words: Array[String] = text.split(' ')
}

/** A seeded corpus plus its ground truth: the planted near-duplicate
  * pairs (id_a < id_b, same cluster) and a SHA-256 digest over every
  * document, so two runs can prove they saw identical inputs. */
final class Corpus(
    val seed: Long,
    val docs: Array[Doc],
    val plantedPairs: Array[(Long, Long)],
    val wordPieceVocab: IndexedSeq[String],
    val digest: String
)

/** The generated corpus. Its shape is fixed by design, the same for every
  * seed: every property the prep and dedup layers react to is one
  * constant here: document length (lognormal words), vocabulary skew
  * (Zipf exponent), near-duplicate share and cluster sizes, the one hot
  * cluster, and the share of documents that carry shared boilerplate
  * lines. Only the document count varies per workload. */
object Corpus {
  val VocabSeed = 0x6a09e667L
  val ShapeSeed = 0x3c6ef372L
  val VocabSize = 6000
  val ZipfS = 1.05
  val LenMu = 5.0
  val LenSigma = 0.6
  val MinWords = 24
  val MaxWords = 1200
  val NearDupShare = 0.11
  val ClusterMax = 6
  val HotCluster = 40
  val EditRate = 0.02
  val BoilerplateShare = 0.25
  val BoilerplateLines = 6
  val WordPieceWords = 2000

  /** The shape constants, for the methodology stamp. */
  def shape: String =
    s"vocab $VocabSize zipf $ZipfS len lognormal($LenMu, $LenSigma) in [$MinWords, $MaxWords] " +
      s"near-dup $NearDupShare clusters 2..$ClusterMax hot $HotCluster edit $EditRate " +
      s"boilerplate $BoilerplateShare of $BoilerplateLines lines"

  /** Fisher-Yates shuffle of a copy. */
  def shuffled[T](xs: Seq[T], rng: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toBuffer
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }
  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"

  /** Every syllable the word generator draws from: consonant + vowel,
    * optionally closed by a consonant. */
  val Syllables: IndexedSeq[String] = {
    val open = for (c <- Consonants; v <- Vowels) yield s"$c$v"
    val closed = for (c <- "bdklmnrst"; v <- Vowels; e <- "nrst") yield s"$c$v$e"
    (open ++ closed).toIndexedSeq
  }

  def generate(nDocs: Int, seed: Long): Corpus = {
    // the vocabulary is the language, fixed across seeds; the seed picks
    // the documents written in it
    val vocab = makeVocab(new SplittableRandom(VocabSeed), VocabSize)
    val rng = new SplittableRandom(seed)
    val cdf = zipfCdf(VocabSize, ZipfS)
    def word(): String = vocab(sample(cdf, rng.nextDouble()))
    def sentence(n: Int): String = {
      val ws = Array.fill(n)(word())
      if (n > 6 && rng.nextDouble() < 0.3) ws(n / 2) = ws(n / 2) + ","
      ws.mkString(" ") + "."
    }
    def body(nWords: Int): String = {
      val out = new StringBuilder
      var left = nWords
      while (left > 0) {
        val n = math.min(left, 6 + rng.nextInt(14))
        if (out.nonEmpty) out.append(' ')
        out.append(sentence(n))
        left -= n
      }
      out.toString
    }
    val boilerplate = IndexedSeq.fill(BoilerplateLines)(sentence(10 + rng.nextInt(6)))
    def edit(text: String): String =
      text.split(' ').map { w =>
        if (rng.nextDouble() >= EditRate) w
        else {
          val tail = w.reverse.takeWhile(c => c == '.' || c == ',').reverse
          word() + tail
        }
      }.mkString(" ")

    // The corpus shape is the same for every seed, so seeds vary the
    // content, not the amount of work: cluster sizes cycle 2..ClusterMax
    // after the hot cluster, base lengths are one fixed lognormal sample
    // dealt out in seed order, and exactly BoilerplateShare of the docs
    // get one or two boilerplate lines.
    val target = math.round(nDocs * NearDupShare).toInt
    val sizes = mutable.ArrayBuffer.empty[Int]
    if (HotCluster >= 2 && HotCluster <= target) sizes += HotCluster
    while (sizes.sum < target)
      sizes += math.max(2, math.min(2 + sizes.size % (ClusterMax - 1), target - sizes.sum))
    val weights = sizes.toSeq ++ Seq.fill(math.max(0, nDocs - sizes.sum))(1)
    val shape = new SplittableRandom(ShapeSeed)
    val drawn = shuffled(weights.map(_ => math.exp(LenMu + LenSigma * shape.nextGaussian())), rng)
    // scaled so the total word count is the same for every seed
    val scale = nDocs * math.exp(LenMu + LenSigma * LenSigma / 2) /
      weights.zip(drawn).map { case (w, l) => w * l }.sum
    val lengths = drawn.map(l =>
      math.max(MinWords, math.min(MaxWords, math.round(l * scale).toInt)))
    val raw = mutable.ArrayBuffer.empty[(String, String, Int)] // text, title, cluster
    sizes.zipWithIndex.foreach { case (sz, c) =>
      val base = body(lengths(c))
      val title = sentence(3 + rng.nextInt(4)).dropRight(1)
      raw += ((base, title, c))
      (1 until sz).foreach(_ => raw += ((edit(base), title, c)))
    }
    lengths.drop(sizes.size).foreach { n =>
      raw += ((body(n), sentence(3 + rng.nextInt(4)).dropRight(1), -1))
    }
    val withLines = math.round(nDocs * BoilerplateShare).toInt
    shuffled(raw.indices, rng).take(withLines).zipWithIndex.foreach { case (i, k) =>
      val lines = Seq.fill(1 + k % 2)(boilerplate(rng.nextInt(boilerplate.size)))
      raw(i) = raw(i).copy(_1 = (raw(i)._1 +: lines).mkString(" "))
    }
    // spread cluster members over the whole id range
    val order = shuffled(raw.indices, rng)
    // evenly spaced quality scores, so the Filter keeps the same count
    val quality = shuffled(raw.indices.map(i => (i + 0.5) / raw.size), rng)
    val docs = order.zipWithIndex.map { case (src, pos) =>
      val (text, title, cluster) = raw(src)
      Doc(pos + 1L, title, text, f"${quality(pos)}%.3f", cluster)
    }.toArray
    val planted = docs.filter(_.cluster >= 0).groupBy(_.cluster).values.flatMap { ms =>
      val ids = ms.map(_.id).sorted
      for (a <- ids.indices; b <- a + 1 until ids.length) yield (ids(a), ids(b))
    }.toArray.sorted

    val wpVocab =
      Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]", ".", ",") ++
        ('a' to 'z').map(_.toString) ++ ('a' to 'z').map(c => s"##$c") ++
        Syllables ++ Syllables.map(s => s"##$s") ++
        vocab.take(WordPieceWords).filterNot(Syllables.toSet)
    new Corpus(seed, docs, planted, wpVocab.distinct.toIndexedSeq, digestOf(docs))
  }

  def digestOf(docs: Array[Doc]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { d =>
      md.update(s"${d.id}\t${d.title}\t${d.quality}\t${d.text}\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def makeVocab(rng: SplittableRandom, n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val k = 1 + rng.nextInt(4)
      seen += (0 until k).map(_ => Syllables(rng.nextInt(Syllables.size))).mkString
    }
    seen.toArray
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def sample(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    val k = if (i >= 0) i else -i - 1
    math.min(k, cdf.length - 1)
  }

  // ---- independent reference computations used by the output checks ----

  /** WordPiece token count of `text` without special tokens, computed
    * independently of the engine's tokenizer: split on spaces, peel
    * trailing '.'/',' into their own tokens, then greedy longest-match
    * over the vocabulary with plain substring lookups. The generated
    * alphabet is lowercase ASCII, so no normalization is needed. */
  def refTokenCount(text: String, vocab: Set[String]): Int = {
    var n = 0
    text.split(' ').foreach { raw =>
      var w = raw
      while (w.nonEmpty && (w.last == '.' || w.last == ',')) { n += 1; w = w.dropRight(1) }
      if (w.nonEmpty) n += refPieces(w, vocab)
    }
    n
  }

  private def refPieces(w: String, vocab: Set[String]): Int = {
    var start = 0
    var pieces = 0
    while (start < w.length) {
      var end = w.length
      var found = false
      while (!found && end > start) {
        val sub = w.substring(start, end)
        if (vocab.contains(if (start == 0) sub else "##" + sub)) found = true
        else end -= 1
      }
      if (!found) return 1 // the whole word becomes [UNK]
      pieces += 1
      start = end
    }
    pieces
  }

  /** Distinct word n-gram shingles (whole text below n words), the
    * definition the dedup verify step uses. */
  def shingles(words: Array[String], n: Int): Set[String] =
    if (words.length < n) Set(words.mkString(" "))
    else words.sliding(n).map(_.mkString(" ")).toSet

  def jaccard[T](a: Set[T], b: Set[T]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }
}

/** `graftbench.CorpusDigest <seed> <docs>` prints the corpus digest, the
  * document count and the planted-pair count (no Spark involved). */
object CorpusDigest {
  def main(args: Array[String]): Unit = {
    val c = Corpus.generate(args(1).toInt, args(0).toLong)
    println(s"${c.digest} ${c.docs.length} ${c.plantedPairs.length}")
  }
}
