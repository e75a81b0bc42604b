package graft.hmm

import org.scalatest.funsuite.AnyFunSuite

/** Defined behaviour of the per-sequence kernels on hostile input:
  * an empty sequence has empty results (log-likelihood 0, no EM
  * statistics), and a symbol outside [0, M) is an
  * IllegalArgumentException that names its position and value,
  * raised before any statistic is touched.
  */
class HmmInputSpec extends AnyFunSuite {

  private val m = HmmModel.random(3, 5, 11L)
  private val empty = Array.empty[Int]

  test("an empty sequence has empty results and adds nothing to EM statistics") {
    val (alpha, scale) = HmmAlgorithms.forwardScaled(m, empty)
    assert(alpha.isEmpty && scale.isEmpty)
    assert(HmmAlgorithms.backwardScaled(m, empty, scale).isEmpty)
    assert(HmmAlgorithms.gamma(m, empty).isEmpty)
    assert(HmmAlgorithms.logLikelihood(m, empty) == 0.0)
    assert(HmmAlgorithms.viterbi(m, empty).isEmpty)
    assert(HmmAlgorithms.nbestViterbi(m, empty, 3).isEmpty)
    val stats = new HmmSuffStats(3, 5)
    HmmAlgorithms.accumulate(m, empty, stats)
    HmmAlgorithms.accumulateViterbi(m, empty, stats)
    assert(stats.nSeq == 0 && stats.logLik == 0.0)
    assert(stats.pi.forall(_ == 0) && stats.a.forall(_.forall(_ == 0)) && stats.b.forall(_.forall(_ == 0)))
  }

  test("a symbol outside the vocabulary is rejected with its position, before any work") {
    val kernels: Seq[(String, Array[Int] => Any)] = Seq(
      "forwardScaled" -> (o => HmmAlgorithms.forwardScaled(m, o)),
      "backwardScaled" -> (o => HmmAlgorithms.backwardScaled(m, o, Array.fill(o.length)(1.0))),
      "gamma" -> (o => HmmAlgorithms.gamma(m, o)),
      "logLikelihood" -> (o => HmmAlgorithms.logLikelihood(m, o)),
      "viterbi" -> (o => HmmAlgorithms.viterbi(m, o)),
      "nbestViterbi" -> (o => HmmAlgorithms.nbestViterbi(m, o, 3)),
      "accumulate" -> (o => HmmAlgorithms.accumulate(m, o, new HmmSuffStats(3, 5))),
      "accumulateViterbi" -> (o => HmmAlgorithms.accumulateViterbi(m, o, new HmmSuffStats(3, 5))))
    for ((name, run) <- kernels; (obs, pos, sym) <- Seq(
        (Array(0, 1, -1, 2), 2, -1), (Array(4, 5), 1, 5), (Array(7), 0, 7))) {
      val e = intercept[IllegalArgumentException](run(obs))
      assert(e.getMessage.contains(s"symbol $sym at position $pos"), s"$name: ${e.getMessage}")
    }
    val stats = new HmmSuffStats(3, 5)
    intercept[IllegalArgumentException](HmmAlgorithms.accumulate(m, Array(0, 1, 2, 9), stats))
    intercept[IllegalArgumentException](HmmAlgorithms.accumulateViterbi(m, Array(0, 9), stats))
    assert(stats.nSeq == 0 && stats.pi.forall(_ == 0) && stats.b.forall(_.forall(_ == 0)))
  }
}
