package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the scale-synthesis transform (SCALE.md's harness). The
  * permutation generator must stay bit-identical to the vetting
  * tool's (tools/vet_rotations.py) — a drift here silently applies
  * UNVETTED transforms while the require() still passes.
  */
class ScaleSynthSpec extends AnyFunSuite {

  test("permAlpha matches tools/vet_rotations.py's perm_alpha " +
      "bit-for-bit on spot seeds") {
    // expected strings generated by the Python tool (same LCG
    // a=1103515245, c=12345, m=2^31; Fisher-Yates high-to-low)
    assert(ScaleSynth.permAlpha(0) == "abcdefghijklmnopqrstuvwxyz")
    assert(ScaleSynth.permAlpha(1) == "kjcsfqdzbgorhxltyvpumineaw")
    assert(ScaleSynth.permAlpha(6) == "aceiuwypbndsqlvxmztjgrkfoh")
    assert(ScaleSynth.permAlpha(7) == "njdfyhblpvgorusxqatcemwkzi")
    assert(ScaleSynth.permAlpha(100) == "awjhgocyebzmqvsrdxnlifutkp")
    assert(ScaleSynth.permAlpha(170) == "weuigmdpkortnflxqhszcvajyb")
  }

  test("every vetted seed yields a bijection, pairwise distinct, with " +
      "identity exactly at replica 0") {
    val perms = ScaleSynth.vettedPermSeeds.map(ScaleSynth.permAlpha)
    perms.foreach(p =>
      assert(p.sorted.mkString == "abcdefghijklmnopqrstuvwxyz",
        s"not a bijection: $p"))
    // distinct transforms — two replicas sharing one would band-collide
    // on every duplicate pair and re-create the quadratic ScaleSynth
    // exists to avoid
    assert(perms.distinct.size == perms.size)
    assert(ScaleSynth.vettedPermSeeds.head == 0 &&
      perms.head == "abcdefghijklmnopqrstuvwxyz")
    // enough vetted seeds for the measured decades: factor 10 (~sf1
    // all-tables) and factor 100 (~sf10 text mode)
    assert(ScaleSynth.vettedPermSeeds.size >= 100)
  }

  test("embg ghost-id geometry (r20): the plant's offsets compose with " +
    "the residue classes the fixtures and the probe key on") {
    import graft.ScaleSynth._
    // ghost ids live in the upper half of the replica's id range —
    // collision-free with source ids at any tested corpus size
    assert(GhostIdOffset * 2 == IdOffset)
    // a reader recovers tier as (vec_id − GhostIdOffset) % 3 = src % 3,
    // which requires the replica offset to vanish mod 3
    assert(IdOffset % 3 == 0,
      "tier = src % 3 must survive the replica id offset")
    // the ghost stride must not line up with the eval-set (%25) or
    // delta-tranche (%6) residue classes
    assert(BigInt(GhostEvery).gcd(BigInt(25)) == 1 &&
      BigInt(GhostEvery).gcd(BigInt(6)) == 1)
    assert(GhostNoise.size == 3 && GhostNoise == GhostNoise.sorted,
      "tiers are reported by index — keep them ordered")
  }

  test("signedPerm (mode=emb, r18): identity at seed 0, a signed " +
      "bijection at every seed, pairwise distinct across the third " +
      "sim decade's 1000 replicas, and orthogonal (norms exact)") {
    val dim = 64
    val (p0, s0) = ScaleSynth.signedPerm(0, dim)
    assert(p0.toSeq == (0 until dim) && s0.forall(_ == 1.0f),
      "replica 0 must be the untransformed source")
    val all = (0 until 1000).map(ScaleSynth.signedPerm(_, dim))
    all.foreach { case (p, s) =>
      assert(p.sorted.toSeq == (0 until dim), "position map not a bijection")
      assert(s.forall(x => x == 1.0f || x == -1.0f))
    }
    // distinct transforms: replicas sharing one would have chance-free
    // cross-replica cosine collisions (same failure class the perm
    // distinctness pin above guards for documents)
    assert(all.map { case (p, s) => (p.toSeq, s.toSeq) }.distinct.size
      == 1000)
    // orthogonality, concretely: applying the transform to a vector
    // permutes/negates components EXACTLY, so the squared norm is the
    // same multiset sum — check on a worst-case-ish irrational vector
    val v = Array.tabulate(dim)(i => math.sqrt(i + 0.37).toFloat)
    all.take(50).foreach { case (p, s) =>
      val w = Array.tabulate(dim)(i => s(i) * v(p(i)))
      assert(w.map(x => x.toDouble * x).sorted.sameElements(
        v.map(x => x.toDouble * x).sorted),
        "transform must move/negate components exactly")
    }
  }
}
