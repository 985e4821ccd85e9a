package graft.perfbench

import scala.util.Random

/** Seeded text generation shared by the workloads. Everything derives
  * from the run's seed, so one seed always yields the same rows. */
final class Gen(seed: Long, salt: String) {
  val rng = new Random(seed * 1000003L + salt.hashCode)

  private val syllables = Seq("ka", "to", "ri", "sen", "mo", "lu", "pra",
    "dex", "vo", "nal", "tir", "em", "os", "qua", "bel", "fi", "gor", "un",
    "zed", "ha", "pol", "cy", "ver", "ish")

  /** A seeded vocabulary of distinct pseudo-words. */
  val vocab: IndexedSeq[String] = {
    val r = new Random(seed * 7919L + 17)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 3000)
      out += (0 until 2 + r.nextInt(3))
        .map(_ => syllables(r.nextInt(syllables.size))).mkString
    out.toIndexedSeq
  }

  /** Words the enrichment rules and stopword filters look for. */
  private val flavour = Seq("regulation", "guidance", "safety", "the",
    "of", "and", "for", "filter", "join", "spark", "merge")

  def word(): String =
    if (rng.nextInt(8) == 0) flavour(rng.nextInt(flavour.size))
    else vocab(math.min(vocab.size - 1,
      (vocab.size * math.pow(rng.nextDouble(), 2.0)).toInt))

  /** A document body: its first words are drawn uniformly so two
    * generated bodies never share a MinHash signature. */
  def text(minWords: Int, maxWords: Int): String = {
    val n = minWords + rng.nextInt(maxWords - minWords + 1)
    (0 until n).map(i =>
      if (i < 12) vocab(rng.nextInt(vocab.size)) else word()).mkString(" ")
  }

  def meta(): String = f"m${rng.nextInt(1 << 30)}%09d"

  def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
}
