package graftbench

import java.util.SplittableRandom

import graft.hmm.HmmModel

/** Seeded ground-truth HMM and sequence sampler for the synthetic EM
  * workload. The truth has structure EM can find — sticky transitions
  * (each state stays with probability ~0.6) and each state emitting
  * mostly from its own band of M/K symbols — so training moves the
  * model the whole way instead of sitting on a flat random start.
  */
object HmmSampler {

  def truth(k: Int, m: Int, seed: Long): HmmModel = {
    val r = new SplittableRandom(seed)
    def norm(x: Array[Double]): Array[Double] = { val s = x.sum; x.map(_ / s) }
    val pi = norm(Array.fill(k)(0.5 + r.nextDouble()))
    val a = Array.tabulate(k) { i =>
      norm(Array.tabulate(k)(j => if (i == j) 1.5 * k else 0.2 + r.nextDouble()))
    }
    val band = math.max(1, m / k)
    val b = Array.tabulate(k) { i =>
      norm(Array.tabulate(m) { s =>
        val own = s / band == i
        (if (own) 20.0 else 0.2) * (0.5 + r.nextDouble())
      })
    }
    HmmModel.fromDistributions(pi, a, b)
  }

  private def draw(p: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var acc = 0.0
    var i = 0
    while (i < p.length - 1) {
      acc += p(i)
      if (u < acc) return i
      i += 1
    }
    p.length - 1
  }

  /** `n` observation sequences of length `t` drawn from `model`. */
  def sample(model: HmmModel, n: Int, t: Int, seed: Long): Array[Array[Int]] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Array.fill(n) {
      val obs = new Array[Int](t)
      var state = draw(model.pi, r)
      var i = 0
      while (i < t) {
        obs(i) = draw(model.b(state), r)
        state = draw(model.a(state), r)
        i += 1
      }
      obs
    }
  }
}
