package graftbench

import graft.hmm.{HmmAlgorithms, HmmModel, HmmSuffStats}

/** Single-threaded timing of the per-sequence HMM kernels, as
  * nanoseconds per T·K² cell, on a workload's own sequences and model.
  */
object Kernels {
  val Names: Seq[String] =
    Seq("forward", "backward", "accumulate", "gamma", "viterbi", "accumulate_viterbi", "nbest")

  /** Each kernel sweeps `seqs` (after one untimed sweep) until it has
    * run for `budgetMs`; returns ns per T·K² cell by kernel name. */
  def nsPerCell(model: HmmModel, seqs: Array[Array[Int]], budgetMs: Long): Map[String, Double] = {
    val k = model.numStates
    val scales = seqs.map(s => HmmAlgorithms.forwardScaled(model, s)._2)
    var sink = 0.0
    def run(name: String, i: Int): Unit = {
      val obs = seqs(i)
      name match {
        case "forward" => sink += HmmAlgorithms.forwardScaled(model, obs)._2(0)
        case "backward" => sink += HmmAlgorithms.backwardScaled(model, obs, scales(i))(0)(0)
        case "accumulate" =>
          val st = new HmmSuffStats(k, model.numSymbols)
          HmmAlgorithms.accumulate(model, obs, st)
          sink += st.logLik
        case "gamma" => sink += HmmAlgorithms.gamma(model, obs)(0)(0)
        case "viterbi" => sink += HmmAlgorithms.viterbi(model, obs)(0)
        case "accumulate_viterbi" =>
          val st = new HmmSuffStats(k, model.numSymbols)
          HmmAlgorithms.accumulateViterbi(model, obs, st)
          sink += st.nSeq
        case "nbest" => sink += HmmAlgorithms.nbestViterbi(model, obs, 3).head._1
      }
    }
    val result = Names.map { name =>
      seqs.indices.take(8).foreach(run(name, _))
      val t0 = System.nanoTime()
      var cells = 0.0
      var i = 0
      while (System.nanoTime() - t0 < budgetMs * 1000000L) {
        run(name, i)
        cells += seqs(i).length.toDouble * k * k
        i = (i + 1) % seqs.length
      }
      name -> (System.nanoTime() - t0) / cells
    }.toMap
    blackhole = sink
    result
  }

  /** Keeps the kernels' results live so the JIT cannot drop the calls. */
  @volatile var blackhole = 0.0

  /** Computed (not measured) work per observation of each kernel:
    * arithmetic operations and bytes of model and DP state touched,
    * from the loop structure of `HmmAlgorithms` at K states. */
  def computed(k: Int): Map[String, (Double, Double)] = {
    val k2 = k.toDouble * k
    val fwd = (2 * k2 + 3.0 * k, 8 * k2 + 24.0 * k)
    val bwd = (3 * k2, 8 * k2 + 16.0 * k)
    val vit = (3 * k2, 8 * k2 + 12.0 * k)
    Map(
      "forward" -> fwd,
      "backward" -> bwd,
      "accumulate" -> (fwd._1 + bwd._1 + 5 * k2 + 4.0 * k, fwd._2 + bwd._2 + 24 * k2),
      "gamma" -> (fwd._1 + bwd._1 + 3.0 * k, fwd._2 + bwd._2 + 16.0 * k),
      "viterbi" -> vit,
      "accumulate_viterbi" -> (vit._1 + 6, vit._2 + 32),
      "nbest" -> (3 * k2 * 9, 3 * k2 * 40))
  }
}
