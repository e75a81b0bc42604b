package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.hmm.{HmmAlgorithms, HmmModel}

class HarnessSpec extends AnyFunSuite {

  test("the sampler is a function of its seed") {
    val t1 = HmmSampler.truth(16, 256, 7L)
    val t2 = HmmSampler.truth(16, 256, 7L)
    assert(t1.pi.sameElements(t2.pi))
    assert(t1.a.indices.forall(i => t1.a(i).sameElements(t2.a(i))))
    assert(t1.b.indices.forall(i => t1.b(i).sameElements(t2.b(i))))
    t1.validate()
    val s1 = HmmSampler.sample(t1, 20, 50, 7L)
    val s2 = HmmSampler.sample(t2, 20, 50, 7L)
    assert(s1.indices.forall(i => s1(i).sameElements(s2(i))))
    assert(s1.forall(s => s.length == 50 && s.forall(o => o >= 0 && o < 256)))
    val other = HmmSampler.sample(HmmSampler.truth(16, 256, 8L), 20, 50, 8L)
    assert(!s1.indices.forall(i => s1(i).sameElements(other(i))))
  }

  test("the kernels agree with path enumeration on tiny models") {
    for (seed <- 1L to 5L) assert(Oracle.tinyCases(seed) == Nil, s"seed $seed")
  }

  test("enumeration matches a hand-computed two-state model") {
    val m = HmmModel.fromDistributions(
      Array(0.6, 0.4),
      Array(Array(0.7, 0.3), Array(0.4, 0.6)),
      Array(Array(0.9, 0.1), Array(0.2, 0.8)))
    val obs = Array(0, 1)
    // P(O) = Σ over the four paths of π·b·a·b
    val p = 0.6 * 0.9 * (0.7 * 0.1 + 0.3 * 0.8) + 0.4 * 0.2 * (0.4 * 0.1 + 0.6 * 0.8)
    val ex = Oracle.enumerate(m, obs)
    assert(math.abs(ex.logLik - math.log(p)) < 1e-12)
    assert(math.abs(ex.pathScores(0) - math.log(0.6 * 0.9 * 0.3 * 0.8)) < 1e-12)
    assert(Oracle.check(m, obs, nBest = 4) == Nil)
  }

  test("the oracle reports a wrong kernel result") {
    val m = HmmModel.random(2, 3, 11L)
    val obs = Array(0, 2, 1)
    val wrongPath = HmmAlgorithms.viterbi(m, obs).map(1 - _)
    assert(Oracle.pathLogProb(m, obs, wrongPath) < Oracle.enumerate(m, obs).pathScores(0))
  }

  test("soft-EM ascent allows rounding noise but not a real drop") {
    assert(Oracle.ascentViolation(Array(-100.0, -90.0, -90.0 - 1e-9, -89.0)).isEmpty)
    assert(Oracle.ascentViolation(Array(-100.0, -90.0, -91.0)).nonEmpty)
  }

  test("self time subtracts the union of the children, clipped to the span") {
    val parent = Span(1, 0, "op", "op", 0, 100)
    val kids = Seq((10L, 30L), (20L, 50L), (60L, 70L), (90L, 120L), (-5L, 0L))
      .zipWithIndex.map { case ((s, e), i) => Span(i + 2, 1, "job", "job", s, e) }
    assert(Spans.covered(0, 100, kids.map(k => (k.startUs, k.endUs))) == 60)
    assert(Spans.selfUs(parent, kids) == 40)
    assert(Spans.selfUs(parent, Nil) == 100)
    assert(Spans.selfUs(parent, Seq(Span(9, 1, "all", "job", -10, 200))) == 0)
  }
}
