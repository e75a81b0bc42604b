package graft.hmm

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** The model-view kernels in [[HmmAlgorithms]] must return exactly the
  * bits of the scalar kernels they replaced ([[HmmAlgorithmsOracle]]):
  * paths, scores, α/β/γ, n-best lists, every fixed-point
  * [[HmmSuffStats]] cell and the log-likelihood. The grid covers
  * K ∈ {1,2,3,16}, M ∈ {1,5,256}, T ∈ {1,2,200} and n ∈ {1,3,5}
  * (plus n = Int.MaxValue where T ≤ 2), on
  * dense seeded models and on models with zero cells in π, A and B
  * (ln 0 = -∞, so Viterbi meets all-(-∞) ties and the soft kernels
  * meet impossible observations, where both sides must throw alike).
  */
class HmmKernelIdentitySpec extends AnyFunSuite {

  private val Ks = Seq(1, 2, 3, 16)
  private val Ms = Seq(1, 5, 256)
  private val Ts = Seq(1, 2, 200)
  private val Ns = Seq(1, 3, 5)

  /** Seeded model with about `zeroFrac` of each row's cells exactly 0
    * (every row keeps at least one non-zero cell).
    */
  private def model(k: Int, m: Int, seed: Long, zeroFrac: Double): HmmModel = {
    val rng = new java.util.Random(seed)
    def row(n: Int): Array[Double] = {
      val r = Array.fill(n)(if (rng.nextDouble() < zeroFrac) 0.0 else rng.nextDouble() + 1e-3)
      if (r.forall(_ == 0.0)) r(rng.nextInt(n)) = 1.0
      val s = r.sum
      r.map(_ / s)
    }
    HmmModel(k, m, row(k), Array.fill(k)(row(k)), Array.fill(k)(row(m)))
  }

  /** Index drawn from `dist` by inversion; never a zero-probability one. */
  private def draw(dist: Array[Double], rng: java.util.Random): Int = {
    val u = rng.nextDouble()
    var acc = 0.0
    var i = 0
    while (i < dist.length) {
      acc += dist(i)
      if (dist(i) > 0 && u < acc) return i
      i += 1
    }
    dist.lastIndexWhere(_ > 0)
  }

  /** A sequence of length `t` generated by `m` (possible under it). */
  private def sample(m: HmmModel, t: Int, rng: java.util.Random): Array[Int] = {
    var state = draw(m.pi, rng)
    Array.tabulate(t) { i =>
      if (i > 0) state = draw(m.a(state), rng)
      draw(m.b(state), rng)
    }
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)
  private def bitRows(rows: Array[Array[Double]]): Seq[Seq[Long]] = rows.toSeq.map(_.toSeq.map(bits))

  /** A kernel's result reduced to comparable values, or the class and
    * message of what it threw. */
  private def outcome[A](f: => A)(view: A => Any): Any =
    Try(f).fold(e => (e.getClass.getName, e.getMessage), a => view(a))

  private def statsView(s: HmmSuffStats): Any =
    (s.pi.toSeq, s.a.toSeq.map(_.toSeq), s.b.toSeq.map(_.toSeq), bits(s.logLik), s.nSeq)

  private def accumulated(acc: (HmmModel, Array[Int], HmmSuffStats) => Unit,
      m: HmmModel, seqs: Seq[Array[Int]]): Any =
    outcome {
      val s = new HmmSuffStats(m.numStates, m.numSymbols)
      seqs.foreach(acc(m, _, s))
      s
    }(statsView)

  private val O = HmmAlgorithmsOracle
  private val H = HmmAlgorithms

  /** Every (model, sequences) case of the grid: per shape, a dense and
    * a zero-celled model, each with sampled and uniform sequences. */
  private lazy val cases: Seq[(String, HmmModel, Seq[Array[Int]])] =
    for {
      k <- Ks; m <- Ms; t <- Ts; zeroFrac <- Seq(0.0, 0.4)
    } yield {
      val seed = k * 1000003L + m * 1009L + t * 7L + (if (zeroFrac > 0) 1 else 0)
      val mdl = model(k, m, seed, zeroFrac)
      val rng = new java.util.Random(seed ^ 0x5eedL)
      val seqs = Seq.fill(3)(sample(mdl, t, rng)) ++ Seq.fill(2)(Array.fill(t)(rng.nextInt(m)))
      (s"K=$k M=$m T=$t zeros=$zeroFrac", mdl, seqs)
    }

  test("forward, backward, gamma and log-likelihood are bit-identical") {
    for ((name, m, seqs) <- cases; (obs, i) <- seqs.zipWithIndex) {
      val clue = s"$name seq $i"
      val fo = Try(O.forwardScaled(m, obs))
      assert(outcome(H.forwardScaled(m, obs)) { case (a, s) => (bitRows(a), s.toSeq.map(bits)) } ==
        outcome(fo.get) { case (a, s) => (bitRows(a), s.toSeq.map(bits)) }, clue)
      fo.foreach { case (_, scale) =>
        assert(bitRows(H.backwardScaled(m, obs, scale)) == bitRows(O.backwardScaled(m, obs, scale)), clue)
      }
      assert(outcome(H.gamma(m, obs))(bitRows) == outcome(O.gamma(m, obs))(bitRows), clue)
      assert(outcome(H.logLikelihood(m, obs))(bits) == outcome(O.logLikelihood(m, obs))(bits), clue)
    }
  }

  test("viterbi paths and n-best lists are bit-identical, -inf ties included") {
    var negInfBest = 0
    for ((name, m, seqs) <- cases; (obs, i) <- seqs.zipWithIndex) {
      assert(H.viterbi(m, obs).toSeq == O.viterbi(m, obs).toSeq, s"$name seq $i")
      // n beyond K^T: every path, with buffers sized to K^T
      for (n <- if (obs.length <= 2) Ns :+ Int.MaxValue else Ns) {
        val want = O.nbestViterbi(m, obs, n)
        val got = H.nbestViterbi(m, obs, n)
        assert(got.map { case (s, p) => (bits(s), p.toSeq) } == want.map { case (s, p) => (bits(s), p.toSeq) },
          s"$name seq $i n=$n")
        if (want.head._1 == Double.NegativeInfinity) negInfBest += 1
      }
    }
    assert(negInfBest > 0, "no case reached an all-(-inf) tie")
  }

  test("soft and hard E-step statistics are bit-identical in every cell") {
    var threw = 0
    for ((name, m, seqs) <- cases; (obs, i) <- seqs.zipWithIndex) {
      val soft = accumulated(O.accumulate, m, Seq(obs))
      if (!soft.isInstanceOf[Tuple5[_, _, _, _, _]]) threw += 1
      assert(accumulated(H.accumulate, m, Seq(obs)) == soft, s"$name seq $i")
      assert(accumulated(H.accumulateViterbi, m, Seq(obs)) ==
        accumulated(O.accumulateViterbi, m, Seq(obs)), s"$name seq $i")
    }
    // and summed over every sequence the model generated itself
    for ((name, m, seqs) <- cases) {
      val own = seqs.take(3)
      assert(accumulated(H.accumulate, m, own) == accumulated(O.accumulate, m, own), name)
      assert(accumulated(H.accumulateViterbi, m, seqs) == accumulated(O.accumulateViterbi, m, seqs), name)
    }
    assert(threw > 0, "no case had an impossible observation")
  }
}
