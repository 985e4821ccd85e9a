package graft.perfbench

import graft.plans.NativeImpl
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** No-Spark timing of the two signature kernels over a workload's own
  * documents, after a JIT warm-up loop: ns per document for
  * `NativeImpl.portableMinhashSig` and `NativeImpl.lshBands`. */
object Kernels {
  /** The text the signature pass hashes: cleaned, first 24 words (what
    * `MinHashPipeline.signatures` feeds the kernel for generated text,
    * which carries no tags or punctuation runs). */
  private def prepared(t: String): UTF8String = UTF8String.fromString(
    t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").take(24)
      .mkString(" "))

  private def prepared(texts: IndexedSeq[String]): IndexedSeq[UTF8String] =
    texts.map(prepared)

  /** The 16-permutation signature the pipeline computes for `text`. */
  def signature(text: String): Seq[Long] =
    NativeImpl.portableMinhashSig(prepared(text), 16).toLongArray().toSeq

  /** ns per item of `f` over `xs`: three warm-up passes, then whole
    * passes until at least `minSeconds` have been timed. */
  private def nsPer[A](xs: IndexedSeq[A], minSeconds: Double)(
      f: A => Any): Double = {
    // the results feed a counter that is read below, so the JIT cannot
    // drop the calls as dead code
    var sink = 0
    def pass(): Unit = xs.foreach(x => if (f(x) != null) sink += 1)
    (0 until 3).foreach(_ => pass())
    var n = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < minSeconds) { pass(); n += xs.size }
    val ns = (System.nanoTime() - t0).toDouble / n
    if (sink < 0) println(sink)
    ns
  }

  /** (minhash ns/doc, bands ns/doc). */
  def time(texts: IndexedSeq[String],
      minSeconds: Double = 0.5): (Double, Double) = {
    val docs = prepared(texts)
    val minhash = nsPer(docs, minSeconds)(NativeImpl.portableMinhashSig(_, 16))
    val sigs: IndexedSeq[ArrayData] =
      docs.map(NativeImpl.portableMinhashSig(_, 16))
    val bands = nsPer(sigs, minSeconds)(NativeImpl.lshBands(_, 4, 4))
    (minhash, bands)
  }
}
