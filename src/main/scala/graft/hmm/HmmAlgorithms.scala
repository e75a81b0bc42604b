package graft.hmm

/** Per-sequence HMM primitives: scaled forward/backward, Viterbi,
  * log-likelihood, and the E-step accumulation.
  *
  * The reference computes these through Mahout's HmmAlgorithms with
  * scaling off (BaumWelchMapper.java:143,151 — `forwardAlgorithm(...,
  * false)`), which underflows on long sequences. We use Rabiner-style
  * scaling: per-step normalizers s_t with
  *   γ_t(i) = ᾱ_t(i)·β̂_t(i)·s_t,
  *   ξ_t(i,j) = ᾱ_t(i)·A(i,j)·B(j,o_{t+1})·β̂_{t+1}(j),
  *   log P(O|λ) = Σ_t log s_t.
  * Same expected counts, stable at any sequence length.
  *
  * Model view: the kernels read `HmmModel.view`, not π/A/B cell by
  * cell. It is built once per model instance (so once per broadcast
  * per executor, and anew for each EM iteration's model) and holds
  * ln π, ln A transposed (the max/sum over predecessors q reads one
  * contiguous column), ln B and B by symbol (the K entries of o_t are
  * contiguous), and A flat in row-major and transposed layouts. DP
  * state is flat too: α and ψ are single T·K arrays, δ and β two
  * rolling rows, and the soft E-step adds its ξ and γ terms inside
  * the backward sweep. Every float expression keeps the operand
  * order of the per-cell scalar code these kernels replaced, so
  * paths, scores, γ and the fixed-point statistics are bit-for-bit
  * unchanged (HmmKernelIdentitySpec checks them against that code).
  *
  * Input contract: each kernel checks once, in O(T), that every
  * symbol lies in [0, M) and otherwise throws
  * IllegalArgumentException naming the first bad position and
  * symbol. An empty sequence has an empty path, γ, α and β, no
  * n-best entries, log-likelihood 0, and adds nothing to EM stats.
  *
  * Everything here is driver/executor-local per sequence; distribution
  * happens one level up (BaumWelch.treeAggregate over sequences).
  */
object HmmAlgorithms {
  import HmmSuffStats.fx

  private def checkSymbols(m: HmmModel, obs: Array[Int]): Unit = {
    val numSymbols = m.numSymbols
    var t = 0
    while (t < obs.length) {
      val o = obs(t)
      if (o < 0 || o >= numSymbols)
        throw new IllegalArgumentException(
          s"symbol $o at position $t is outside the model's vocabulary [0, $numSymbols)")
      t += 1
    }
  }

  /** Scaled forward into one flat array (ᾱ_t at t·K), with the
    * normalizers s_t.
    */
  private def forwardFlat(m: HmmModel, obs: Array[Int]): (Array[Double], Array[Double]) = {
    checkSymbols(m, obs)
    val k = m.numStates
    val timeLen = obs.length
    val alpha = new Array[Double](Math.multiplyExact(timeLen, k))
    val scale = new Array[Double](timeLen)
    if (timeLen == 0) return (alpha, scale)
    // A zero normalizer means the observation has zero probability in
    // every state under this model (possible with unsmoothed models
    // from fromDistributions); dividing by it would silently flood
    // alpha / logLik / EM stats with NaN, so fail loudly instead.
    def checkScale(s: Double, t: Int): Double =
      if (s > 0) s
      else throw new IllegalArgumentException(
        s"impossible observation under model: P(o_$t=${obs(t)} | any state) = 0 " +
          "(zero forward normalizer; use a smoothed model or fix the vocabulary)")
    val v = m.view
    val aT = v.aT
    val bT = v.bT
    var bo = obs(0) * k
    var i = 0
    var s = 0.0
    while (i < k) { alpha(i) = m.pi(i) * bT(bo + i); s += alpha(i); i += 1 }
    scale(0) = checkScale(s, 0)
    i = 0
    while (i < k) { alpha(i) /= scale(0); i += 1 }
    var t = 1
    while (t < timeLen) {
      val prev = (t - 1) * k
      val cur = t * k
      bo = obs(t) * k
      var j = 0
      s = 0.0
      while (j < k) {
        val col = j * k
        var acc = 0.0
        var q = 0
        while (q < k) { acc += alpha(prev + q) * aT(col + q); q += 1 }
        alpha(cur + j) = acc * bT(bo + j)
        s += alpha(cur + j)
        j += 1
      }
      scale(t) = checkScale(s, t)
      j = 0
      while (j < k) { alpha(cur + j) /= scale(t); j += 1 }
      t += 1
    }
    (alpha, scale)
  }

  /** Scaled forward. Returns (ᾱ rows t=0..T-1 each summing to 1,
    * normalizers s_t).
    */
  def forwardScaled(m: HmmModel, obs: Array[Int]): (Array[Array[Double]], Array[Double]) = {
    val (alpha, scale) = forwardFlat(m, obs)
    val k = m.numStates
    (Array.tabulate(obs.length)(t => java.util.Arrays.copyOfRange(alpha, t * k, t * k + k)), scale)
  }

  /** One backward step: β̂_t into `out` from β̂_{t+1} in `next`, where
    * `bo` = o_{t+1}·K and `s` = s_t.
    */
  private def backwardStep(
      v: HmmModel.View, k: Int, bo: Int, next: Array[Double], s: Double, out: Array[Double]): Unit = {
    val aFlat = v.aFlat
    val bT = v.bT
    var q = 0
    while (q < k) {
      val row = q * k
      var acc = 0.0
      var r = 0
      while (r < k) { acc += aFlat(row + r) * bT(bo + r) * next(r); r += 1 }
      out(q) = acc / s
      q += 1
    }
  }

  /** Scaled backward using the forward pass's normalizers. */
  def backwardScaled(m: HmmModel, obs: Array[Int], scale: Array[Double]): Array[Array[Double]] = {
    checkSymbols(m, obs)
    val k = m.numStates
    val timeLen = obs.length
    val beta = Array.ofDim[Double](timeLen, k)
    if (timeLen == 0) return beta
    java.util.Arrays.fill(beta(timeLen - 1), 1.0 / scale(timeLen - 1))
    var t = timeLen - 2
    while (t >= 0) { backwardStep(m.view, k, obs(t + 1) * k, beta(t + 1), scale(t), beta(t)); t -= 1 }
    beta
  }

  /** Per-position posterior state distribution γ_t(i) = P(q_t = i | O, λ):
    * scaled α·β re-normalized per position (the per-t normalization
    * cancels whatever scaling convention α/β carry, so this is exact
    * regardless of the scale vector). β runs in two rolling rows.
    */
  def gamma(m: HmmModel, obs: Array[Int]): Array[Array[Double]] = {
    val (alpha, scale) = forwardFlat(m, obs)
    val k = m.numStates
    val timeLen = obs.length
    val out = new Array[Array[Double]](timeLen)
    if (timeLen == 0) return out
    def row(t: Int, beta: Array[Double]): Array[Double] = {
      val g = new Array[Double](k)
      var s = 0.0
      var i = 0
      while (i < k) { g(i) = alpha(t * k + i) * beta(i); s += g(i); i += 1 }
      i = 0
      while (i < k) { g(i) /= s; i += 1 }
      g
    }
    var next = Array.fill(k)(1.0 / scale(timeLen - 1))
    var cur = new Array[Double](k)
    out(timeLen - 1) = row(timeLen - 1, next)
    var t = timeLen - 2
    while (t >= 0) {
      backwardStep(m.view, k, obs(t + 1) * k, next, scale(t), cur)
      out(t) = row(t, cur)
      val tmp = next; next = cur; cur = tmp
      t -= 1
    }
    out
  }

  /** Σ_t log s_t, left to right. */
  private def sumLog(scale: Array[Double]): Double = {
    var s = 0.0
    var t = 0
    while (t < scale.length) { s += math.log(scale(t)); t += 1 }
    s
  }

  def logLikelihood(m: HmmModel, obs: Array[Int]): Double = sumLog(forwardFlat(m, obs)._2)

  /** Log-space Viterbi: most likely hidden path (reference surface:
    * Mahout HmmAlgorithms.viterbiAlgorithm). δ_t(j) =
    * max_q (δ_{t-1}(q) + ln A(q,j)) + ln B(j,o_t); the first q with
    * the strictly greatest value wins.
    */
  def viterbi(m: HmmModel, obs: Array[Int]): Array[Int] = {
    checkSymbols(m, obs)
    val timeLen = obs.length
    val path = new Array[Int](timeLen)
    if (timeLen == 0) return path
    val k = m.numStates
    val v = m.view
    val logAT = v.logAT
    val logBT = v.logBT
    var prev = new Array[Double](k)
    var cur = new Array[Double](k)
    val psi = new Array[Int](Math.multiplyExact(timeLen, k))
    var bo = obs(0) * k
    var i = 0
    while (i < k) { prev(i) = v.logPi(i) + logBT(bo + i); i += 1 }
    var t = 1
    while (t < timeLen) {
      bo = obs(t) * k
      var j = 0
      while (j < k) {
        val col = j * k
        var best = Double.NegativeInfinity
        var arg = 0
        var q = 0
        while (q < k) {
          val x = prev(q) + logAT(col + q)
          if (x > best) { best = x; arg = q }
          q += 1
        }
        cur(j) = best + logBT(bo + j)
        psi(t * k + j) = arg
        j += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      t += 1
    }
    var bestLast = 0
    var bestV = Double.NegativeInfinity
    i = 0
    while (i < k) { if (prev(i) > bestV) { bestV = prev(i); bestLast = i }; i += 1 }
    path(timeLen - 1) = bestLast
    t = timeLen - 1
    while (t > 0) { path(t - 1) = psi(t * k + path(t)); t -= 1 }
    path
  }

  /** Inserts a candidate into the top-n buffer of `filled` entries at
    * `off` in (score, from), kept best first by (score desc, source
    * asc). Candidates arrive in ascending source order, so a candidate
    * goes before exactly those entries whose score it strictly beats.
    * Returns the new fill.
    */
  private def insertTop(
      score: Array[Double], from: Array[Int], off: Int, filled: Int, n: Int,
      s: Double, src: Int): Int = {
    var pos = filled
    while (pos > 0 && java.lang.Double.compare(-s, -score(off + pos - 1)) < 0) pos -= 1
    if (pos == n) return filled
    var i = math.min(filled, n - 1)
    while (i > pos) { score(off + i) = score(off + i - 1); from(off + i) = from(off + i - 1); i -= 1 }
    score(off + pos) = s
    from(off + pos) = src
    math.min(filled + 1, n)
  }

  /** N-best (list) Viterbi: the `n` highest-probability state paths
    * with their log-probabilities, best first. Per (t, state) the DP
    * keeps the top-n (score, prevState, prevRank) entries instead of
    * one: T · K² · n candidates per sequence, each offered to a
    * primitive top-n buffer, still embarrassingly parallel across
    * sequences. Ties break deterministically
    * (score desc, predecessor state asc, predecessor rank asc). Each
    * (t, state) keeps min(n, K · entries per state at t-1) entries,
    * -∞ scores included.
    */
  def nbestViterbi(m: HmmModel, obs: Array[Int], n: Int): Seq[(Double, Array[Int])] = {
    checkSymbols(m, obs)
    val timeLen = obs.length
    val k = m.numStates
    // no step keeps more entries than there are paths, K^T
    var paths = 1L
    var i = 0
    while (i < timeLen && paths < n) { paths *= k; i += 1 }
    val top = math.min(n.toLong, paths).toInt
    if (timeLen == 0 || top <= 0) return Seq.empty
    val v = m.view
    val logAT = v.logAT
    val logBT = v.logBT
    // entry r of state j at step t lives at (t·K + j)·top + r; `from`
    // holds its predecessor's q·top + r' within step t-1 (prevState q,
    // prevRank r'), which is also that entry's offset in step t-1
    val slab = Math.multiplyExact(k, top)
    val score = new Array[Double](Math.multiplyExact(timeLen, slab))
    val from = new Array[Int](score.length)
    var bo = obs(0) * k
    var j = 0
    while (j < k) { score(j * top) = v.logPi(j) + logBT(bo + j); from(j * top) = -1; j += 1 }
    var width = 1 // entries per state at step t-1
    var filled = 0
    var t = 1
    while (t < timeLen) {
      bo = obs(t) * k
      val prevBase = (t - 1) * slab
      j = 0
      while (j < k) {
        val col = j * k
        val lb = logBT(bo + j)
        val off = t * slab + j * top
        filled = 0
        var q = 0
        while (q < k) {
          val la = logAT(col + q)
          var r = 0
          while (r < width) {
            val src = q * top + r
            filled = insertTop(score, from, off, filled, top, score(prevBase + src) + la + lb, src)
            r += 1
          }
          q += 1
        }
        j += 1
      }
      width = filled
      t += 1
    }
    // final candidates across states
    val lastBase = (timeLen - 1) * slab
    val finScore = new Array[Double](top)
    val finFrom = new Array[Int](top)
    filled = 0
    j = 0
    while (j < k) {
      var r = 0
      while (r < width) {
        filled = insertTop(finScore, finFrom, 0, filled, top, score(lastBase + j * top + r), j * top + r)
        r += 1
      }
      j += 1
    }
    Vector.tabulate(filled) { f =>
      val path = new Array[Int](timeLen)
      var at = finFrom(f)
      var t = timeLen - 1
      while (t >= 0) {
        path(t) = at / top
        at = from(t * slab + at)
        t -= 1
      }
      (finScore(f), path)
    }
  }

  /** E-step for one sequence, accumulated in place into `stats`
    * (the Spark-side analogue of the mapper's three stripes,
    * BaumWelchMapper.java:156-241, with proper 1/P(O) weighting).
    * One backward sweep adds each step's ξ terms (from β̂_{t+1}) and
    * γ terms (from β̂_t); the fixed-point sums are exact, so the order
    * of terms across t changes no cell.
    */
  def accumulate(m: HmmModel, obs: Array[Int], stats: HmmSuffStats): Unit = {
    if (obs.isEmpty) return
    val (alpha, scale) = forwardFlat(m, obs)
    val k = m.numStates
    val timeLen = obs.length
    val v = m.view
    val aFlat = v.aFlat
    val bT = v.bT
    // emission stripe: γ_t(i) at symbol o_t
    def addGamma(t: Int, beta: Array[Double]): Unit = {
      val sym = obs(t)
      var i = 0
      while (i < k) { stats.addB(i, sym, alpha(t * k + i) * beta(i) * scale(t)); i += 1 }
    }
    var next = Array.fill(k)(1.0 / scale(timeLen - 1))
    var cur = new Array[Double](k)
    addGamma(timeLen - 1, next)
    var t = timeLen - 2
    while (t >= 0) {
      val bo = obs(t + 1) * k
      var q = 0
      while (q < k) {
        val aq = alpha(t * k + q)
        val xi = stats.a(q)
        val row = q * k
        var acc = 0.0
        var r = 0
        while (r < k) {
          val aqr = aFlat(row + r)
          val br = bT(bo + r)
          // transition stripe: ξ_t(q,r)
          xi(r) = Math.addExact(xi(r), fx(aq * aqr * br * next(r)))
          acc += aqr * br * next(r)
          r += 1
        }
        cur(q) = acc / scale(t)
        q += 1
      }
      addGamma(t, cur)
      val tmp = next; next = cur; cur = tmp
      t -= 1
    }
    // π stripe: γ_0 (`next` holds β̂_0 now)
    var i = 0
    while (i < k) { stats.addPi(i, alpha(i) * next(i) * scale(0)); i += 1 }
    // per-sequence log-likelihood in a sequence-local double sum
    // (deterministic: fixed left-to-right order), quantized once
    stats.addLogLik(sumLog(scale))
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
    val k = m.numStates
    val v = m.view
    stats.addPi(path(0), 1.0)
    stats.addB(path(0), obs(0), 1.0)
    // hard counts of 1.0 are exact in fixed point, so Viterbi
    // training keeps its integer-count determinism unchanged
    var ll = v.logPi(path(0)) + v.logBT(obs(0) * k + path(0))
    var t = 1
    while (t < obs.length) {
      stats.addA(path(t - 1), path(t), 1.0)
      stats.addB(path(t), obs(t), 1.0)
      ll += v.logAT(path(t) * k + path(t - 1)) + v.logBT(obs(t) * k + path(t))
      t += 1
    }
    stats.addLogLik(ll)
    stats.nSeq += 1
  }
}
