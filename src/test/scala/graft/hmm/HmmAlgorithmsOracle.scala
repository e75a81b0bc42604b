package graft.hmm

/** Test-only oracle: the per-sequence HMM kernels exactly as they
  * were before the model-view rewrite of [[HmmAlgorithms]] (per-cell
  * `ln`, arrays of arrays, tuple-sorting n-best, separate forward /
  * backward / stripe passes). Kept verbatim so
  * `HmmKernelIdentitySpec` can demand bit-for-bit equal outputs from
  * the rewritten kernels. Not used outside tests.
  */
object HmmAlgorithmsOracle {

  /** Scaled forward. Returns (ᾱ rows t=0..T-1 each summing to 1,
    * normalizers s_t).
    */
  def forwardScaled(m: HmmModel, obs: Array[Int]): (Array[Array[Double]], Array[Double]) = {
    val k = m.numStates
    val timeLen = obs.length
    val alpha = Array.ofDim[Double](timeLen, k)
    val scale = new Array[Double](timeLen)
    // A zero normalizer means the observation has zero probability in
    // every state under this model (possible with unsmoothed models
    // from fromDistributions); dividing by it would silently flood
    // alpha / logLik / EM stats with NaN, so fail loudly instead.
    def checkScale(s: Double, t: Int): Double =
      if (s > 0) s
      else throw new IllegalArgumentException(
        s"impossible observation under model: P(o_$t=${obs(t)} | any state) = 0 " +
          "(zero forward normalizer; use a smoothed model or fix the vocabulary)")
    var i = 0
    var s = 0.0
    while (i < k) { alpha(0)(i) = m.pi(i) * m.b(i)(obs(0)); s += alpha(0)(i); i += 1 }
    scale(0) = checkScale(s, 0)
    i = 0
    while (i < k) { alpha(0)(i) /= scale(0); i += 1 }
    var t = 1
    while (t < timeLen) {
      var j = 0
      s = 0.0
      while (j < k) {
        var acc = 0.0
        var q = 0
        while (q < k) { acc += alpha(t - 1)(q) * m.a(q)(j); q += 1 }
        alpha(t)(j) = acc * m.b(j)(obs(t))
        s += alpha(t)(j)
        j += 1
      }
      scale(t) = checkScale(s, t)
      j = 0
      while (j < k) { alpha(t)(j) /= scale(t); j += 1 }
      t += 1
    }
    (alpha, scale)
  }

  /** Scaled backward using the forward pass's normalizers. */
  def backwardScaled(m: HmmModel, obs: Array[Int], scale: Array[Double]): Array[Array[Double]] = {
    val k = m.numStates
    val timeLen = obs.length
    val beta = Array.ofDim[Double](timeLen, k)
    var i = 0
    while (i < k) { beta(timeLen - 1)(i) = 1.0 / scale(timeLen - 1); i += 1 }
    var t = timeLen - 2
    while (t >= 0) {
      var q = 0
      while (q < k) {
        var acc = 0.0
        var r = 0
        while (r < k) { acc += m.a(q)(r) * m.b(r)(obs(t + 1)) * beta(t + 1)(r); r += 1 }
        beta(t)(q) = acc / scale(t)
        q += 1
      }
      t -= 1
    }
    beta
  }

  /** Per-position posterior state distribution γ_t(i) = P(q_t = i | O, λ):
    * scaled α·β re-normalized per position (the per-t normalization
    * cancels whatever scaling convention α/β carry, so this is exact
    * regardless of the scale vector).
    */
  def gamma(m: HmmModel, obs: Array[Int]): Array[Array[Double]] = {
    val (alpha, scale) = forwardScaled(m, obs)
    val beta = backwardScaled(m, obs, scale)
    val k = m.numStates
    Array.tabulate(obs.length) { t =>
      val row = Array.tabulate(k)(i => alpha(t)(i) * beta(t)(i))
      val s = row.sum
      row.map(_ / s)
    }
  }

  def logLikelihood(m: HmmModel, obs: Array[Int]): Double = {
    val (_, scale) = forwardScaled(m, obs)
    var s = 0.0
    var t = 0
    while (t < scale.length) { s += math.log(scale(t)); t += 1 }
    s
  }

  /** Log-space Viterbi: most likely hidden path (reference surface:
    * Mahout HmmAlgorithms.viterbiAlgorithm).
    */
  def viterbi(m: HmmModel, obs: Array[Int]): Array[Int] = {
    val k = m.numStates
    val timeLen = obs.length
    val delta = Array.ofDim[Double](timeLen, k)
    val psi = Array.ofDim[Int](timeLen, k)
    def ln(x: Double) = if (x <= 0) Double.NegativeInfinity else math.log(x)
    var i = 0
    while (i < k) { delta(0)(i) = ln(m.pi(i)) + ln(m.b(i)(obs(0))); i += 1 }
    var t = 1
    while (t < timeLen) {
      var j = 0
      while (j < k) {
        var best = Double.NegativeInfinity
        var arg = 0
        var q = 0
        while (q < k) {
          val v = delta(t - 1)(q) + ln(m.a(q)(j))
          if (v > best) { best = v; arg = q }
          q += 1
        }
        delta(t)(j) = best + ln(m.b(j)(obs(t)))
        psi(t)(j) = arg
        j += 1
      }
      t += 1
    }
    val path = new Array[Int](timeLen)
    var bestLast = 0
    var bestV = Double.NegativeInfinity
    i = 0
    while (i < k) { if (delta(timeLen - 1)(i) > bestV) { bestV = delta(timeLen - 1)(i); bestLast = i }; i += 1 }
    path(timeLen - 1) = bestLast
    t = timeLen - 1
    while (t > 0) { path(t - 1) = psi(t)(path(t)); t -= 1 }
    path
  }

  /** N-best (list) Viterbi: the `n` highest-probability state paths
    * with their log-probabilities, best first. Per (t, state) the DP
    * keeps the top-n (score, prevState, prevRank) entries instead of
    * one — O(T · K² · n log n) per sequence, still embarrassingly
    * parallel across sequences. Ties break deterministically
    * (score desc, predecessor state asc, predecessor rank asc).
    */
  def nbestViterbi(m: HmmModel, obs: Array[Int], n: Int): Seq[(Double, Array[Int])] = {
    val k = m.numStates
    val timeLen = obs.length
    def ln(x: Double) = if (x <= 0) Double.NegativeInfinity else math.log(x)
    // entries(t)(j) = top-n List of (score, prevState, prevRank)
    val entries = Array.ofDim[Array[(Double, Int, Int)]](timeLen, k)
    for (j <- 0 until k)
      entries(0)(j) = Array((ln(m.pi(j)) + ln(m.b(j)(obs(0))), -1, -1))
    for (t <- 1 until timeLen; j <- 0 until k) {
      val cand = for {
        q <- 0 until k
        r <- entries(t - 1)(q).indices
      } yield (entries(t - 1)(q)(r)._1 + ln(m.a(q)(j)) + ln(m.b(j)(obs(t))), q, r)
      entries(t)(j) = cand.sortBy { case (s, q, r) => (-s, q, r) }.take(n).toArray
    }
    // final candidates across states
    val finals = (for {
      j <- 0 until k
      r <- entries(timeLen - 1)(j).indices
    } yield (entries(timeLen - 1)(j)(r)._1, j, r))
      .sortBy { case (s, j, r) => (-s, j, r) }.take(n)
    finals.map { case (score, lastState, lastRank) =>
      val path = new Array[Int](timeLen)
      var (j, r) = (lastState, lastRank)
      var t = timeLen - 1
      while (t >= 0) {
        path(t) = j
        val (_, pq, pr) = entries(t)(j)(r)
        j = pq; r = pr
        t -= 1
      }
      (score, path)
    }
  }

  /** E-step for one sequence, accumulated in place into `stats`
    * (the Spark-side analogue of the mapper's three stripes,
    * BaumWelchMapper.java:156-241, with proper 1/P(O) weighting).
    */
  def accumulate(m: HmmModel, obs: Array[Int], stats: HmmSuffStats): Unit = {
    if (obs.isEmpty) return
    val k = m.numStates
    val timeLen = obs.length
    val (alpha, scale) = forwardScaled(m, obs)
    val beta = backwardScaled(m, obs, scale)
    // π stripe: γ_0
    var i = 0
    while (i < k) { stats.addPi(i, alpha(0)(i) * beta(0)(i) * scale(0)); i += 1 }
    // emission stripe: Σ_t γ_t(i) at symbol o_t
    var t = 0
    while (t < timeLen) {
      val sym = obs(t)
      i = 0
      while (i < k) { stats.addB(i, sym, alpha(t)(i) * beta(t)(i) * scale(t)); i += 1 }
      t += 1
    }
    // transition stripe: Σ_t ξ_t(q,r)
    t = 0
    while (t < timeLen - 1) {
      val symNext = obs(t + 1)
      var q = 0
      while (q < k) {
        val aq = alpha(t)(q)
        var r = 0
        while (r < k) {
          stats.addA(q, r, aq * m.a(q)(r) * m.b(r)(symNext) * beta(t + 1)(r))
          r += 1
        }
        q += 1
      }
      t += 1
    }
    // per-sequence log-likelihood in a sequence-local double sum
    // (deterministic: fixed left-to-right order), quantized once
    var ll = 0.0
    t = 0
    while (t < timeLen) { ll += math.log(scale(t)); t += 1 }
    stats.addLogLik(ll)
    stats.nSeq += 1
  }

  /** Hard-EM (Viterbi-training) E-step for one sequence: decode the
    * single best path under the current model and add HARD counts
    * (exactly 1.0 per event) into `stats`; `logLik` accumulates the
    * joint log-probability log P(O, path* | λ) — the objective
    * Viterbi training ascends. Counterpart of Mahout's
    * `HmmTrainer.trainViterbi` count collection (the public
    * companion surface of the reference trainer family,
    * BaumWelchDriver.java:53-69).
    *
    * Because the counts are integers, the summed statistics — and
    * hence the M-step model — are exact and FP-order-independent:
    * unlike soft EM, a Viterbi-trained model is bitwise reproducible
    * across partitionings and treeAggregate combine orders.
    */
  def accumulateViterbi(m: HmmModel, obs: Array[Int], stats: HmmSuffStats): Unit = {
    if (obs.isEmpty) return
    val path = viterbi(m, obs)
    def ln(x: Double) = if (x <= 0) Double.NegativeInfinity else math.log(x)
    stats.addPi(path(0), 1.0)
    stats.addB(path(0), obs(0), 1.0)
    // hard counts of 1.0 are exact in fixed point, so Viterbi
    // training keeps its integer-count determinism unchanged
    var ll = ln(m.pi(path(0))) + ln(m.b(path(0))(obs(0)))
    var t = 1
    while (t < obs.length) {
      stats.addA(path(t - 1), path(t), 1.0)
      stats.addB(path(t), obs(t), 1.0)
      ll += ln(m.a(path(t - 1))(path(t))) + ln(m.b(path(t))(obs(t)))
      t += 1
    }
    stats.addLogLik(ll)
    stats.nSeq += 1
  }
}
