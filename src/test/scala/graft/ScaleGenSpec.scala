package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale generator's constant-dup-density claim rests on copies
  * being textually DISJOINT — pin the affine cipher's guarantees so a
  * future "simplification" back to a bare shift can't silently
  * reintroduce the k>26 text collision (measured round 10: identical
  * copies 26 apart grew cand_pairs 304× for 10× docs). */
class ScaleGenSpec extends AnyFunSuite {

  test("affineAlpha: copy 0 is the identity") {
    assert(ScaleGen.affineAlpha(0) === "abcdefghijklmnopqrstuvwxyz")
  }

  test("affineAlpha: every map up to 312 is a permutation (injective)") {
    for (i <- 0 until 312)
      assert(ScaleGen.affineAlpha(i).sorted === "abcdefghijklmnopqrstuvwxyz",
        s"copy $i is not a permutation")
  }

  test("affineAlpha: all 312 maps are pairwise distinct") {
    val maps = (0 until 312).map(ScaleGen.affineAlpha)
    assert(maps.distinct.size === 312)
  }

  test("MaxDocCopies is the cipher-times-reversal-group product") {
    assert(ScaleGen.MaxDocCopies === 312 * 4)
  }

  test("embedding (rotation, sign-pattern) pairs are distinct through the bound") {
    // the embedding transform for copy i is (cyclic rotation by i%64,
    // Rademacher signs signsOf(i)) — pairwise-distinct PAIRS mean no
    // two copies apply the same map, the claim every sim-spine
    // artifact's constant-density argument rests on. Pure Scala: no
    // Spark needed to prove it.
    val pairs = (0 until ScaleGen.MaxDocCopies)
      .map(i => (i % 64, ScaleGen.signsOf(i)))
    assert(pairs.distinct.size === ScaleGen.MaxDocCopies)
    // copy 0 is the identity transform
    assert(pairs.head === ((0, Seq.fill(64)(1f))))
  }
}
