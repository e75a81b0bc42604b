package graftbench

import graft.hmm.{HmmAlgorithms, HmmModel}

/** Correctness checks the benchmark applies to the program's outputs.
  *
  * On short sequences (T ≤ 8, K ≤ 3) every one of the K^T state paths
  * is enumerated, which gives the exact likelihood, best-path score,
  * posteriors and n-best scores with no dynamic programming at all;
  * the kernels must match them to 1e-9. Full-size outputs are checked
  * by invariants instead.
  */
object Oracle {
  val Tol = 1e-9

  /** Relative slack for the soft-EM log-likelihood ascent: each E-step
    * statistic is rounded to 2^-36, so consecutive log-likelihoods may
    * dip by rounding noise, far below this, but never by a real step.
    */
  val AscentSlack = 1e-7

  private def ln(x: Double): Double = if (x <= 0) Double.NegativeInfinity else math.log(x)

  def pathLogProb(m: HmmModel, obs: Array[Int], path: Array[Int]): Double = {
    var s = ln(m.pi(path(0))) + ln(m.b(path(0))(obs(0)))
    var t = 1
    while (t < obs.length) {
      s += ln(m.a(path(t - 1))(path(t))) + ln(m.b(path(t))(obs(t)))
      t += 1
    }
    s
  }

  final case class Exact(logLik: Double, pathScores: Array[Double], gamma: Array[Array[Double]])

  def enumerate(m: HmmModel, obs: Array[Int]): Exact = {
    val k = m.numStates
    val t = obs.length
    val nPaths = math.pow(k, t).toInt
    val scores = new Array[Double](nPaths)
    val post = Array.ofDim[Double](t, k)
    val path = new Array[Int](t)
    for (p <- 0 until nPaths) {
      var code = p
      for (i <- 0 until t) { path(i) = code % k; code /= k }
      scores(p) = pathLogProb(m, obs, path)
      val w = math.exp(scores(p))
      for (i <- 0 until t) post(i)(path(i)) += w
    }
    val total = scores.map(math.exp).sum
    Exact(math.log(total), scores.sorted(Ordering[Double].reverse), post.map(_.map(_ / total)))
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= Tol * math.max(1.0, math.abs(b))

  /** Mismatches between the kernels and the enumeration on one input. */
  def check(m: HmmModel, obs: Array[Int], nBest: Int): Seq[String] = {
    val ex = enumerate(m, obs)
    val out = Seq.newBuilder[String]
    val ll = HmmAlgorithms.logLikelihood(m, obs)
    if (!close(ll, ex.logLik)) out += s"logLikelihood $ll != ${ex.logLik}"
    val vScore = pathLogProb(m, obs, HmmAlgorithms.viterbi(m, obs))
    if (!close(vScore, ex.pathScores(0))) out += s"viterbi path score $vScore != ${ex.pathScores(0)}"
    val g = HmmAlgorithms.gamma(m, obs)
    for (t <- obs.indices; i <- 0 until m.numStates if math.abs(g(t)(i) - ex.gamma(t)(i)) > Tol)
      out += s"gamma($t)($i) ${g(t)(i)} != ${ex.gamma(t)(i)}"
    val nb = HmmAlgorithms.nbestViterbi(m, obs, nBest)
    val want = ex.pathScores.take(nBest)
    if (nb.length != want.length) out += s"nbest returned ${nb.length} paths, want ${want.length}"
    nb.zip(want).zipWithIndex.foreach { case (((score, p), w), r) =>
      if (!close(score, w)) out += s"nbest rank $r score $score != $w"
      if (!close(pathLogProb(m, obs, p), score)) out += s"nbest rank $r path does not score $score"
    }
    out.result()
  }

  /** Random tiny models and sequences (K ≤ 3, T ≤ 8) through [[check]]. */
  def tinyCases(seed: Long, cases: Int = 24): Seq[String] = {
    val r = new java.util.SplittableRandom(seed)
    (0 until cases).flatMap { c =>
      val k = 1 + r.nextInt(3)
      val m = 1 + r.nextInt(4)
      val t = 1 + r.nextInt(8)
      val model = HmmModel.random(k, m, r.nextLong())
      val obs = Array.fill(t)(r.nextInt(m))
      check(model, obs, nBest = 3).map(e => s"case $c (K=$k M=$m T=$t): $e")
    }
  }

  /** The first iteration whose log-likelihood falls below its
    * predecessor by more than [[AscentSlack]], if any. */
  def ascentViolation(logLiks: Array[Double]): Option[String] =
    logLiks.indices.drop(1).collectFirst {
      case i if logLiks(i) < logLiks(i - 1) - AscentSlack * math.abs(logLiks(i - 1)) =>
        s"soft-EM log-likelihood fell at iteration $i: ${logLiks(i - 1)} -> ${logLiks(i)}"
    }
}
