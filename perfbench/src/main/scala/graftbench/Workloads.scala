package graftbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.hmm.{BaumWelch, HmmAlgorithms, HmmModel, Sequencer}

/** One timed operation: a single call into the library plus the check
  * of its output. `role` (soft or hard training, decode, query) says
  * which per-call metric its time feeds. `body` returns a failure
  * message when the output is wrong.
  */
final case class Op(name: String, role: String, body: () => Option[String])

/** What a workload's training operations do, for the per-layer EM
  * metrics: K states, M symbols, soft-EM restart chains × iterations,
  * and hard-EM chains × iterations.
  */
final case class EmShape(k: Int, m: Int, restarts: Int, iterations: Int, hardRestarts: Int,
    hardIterations: Int)

abstract class Workload(val spark: SparkSession, val work: String) {
  /** Builds the inputs; run several times in set-up, the last build is kept. */
  def prepare(rep: Int): Unit
  /** Runs every operation once before timing; returns check failures. */
  def warmUp(): Seq[String]
  /** Cycles every untraced run completes, whatever its length. */
  def minCycles: Int = 1
  /** The operations of one cycle, in the order they run. */
  def ops: Seq[Op]
  def em: EmShape
  /** The sequences the EM operations train on. */
  def sequences: RDD[Array[Int]]
  /** Model and sequences for the single-threaded kernel timings. */
  def kernelModel: HmmModel

  /** (observations, sequences) of the training input. */
  lazy val sequenceCounts: (Long, Long) =
    sequences.map(s => (s.length.toLong, 1L)).reduce((x, y) => (x._1 + y._1, x._2 + y._2))

  protected def sc = spark.sparkContext
}

/** Repeat fits must be bit-identical (the fixed-point statistics make
  * training independent of partitioning and task order); the first
  * result of each kind is the reference for the rest of the run. */
final class FitChecks {
  private val first = scala.collection.mutable.Map.empty[String, BaumWelch.FitResult]

  def apply(kind: String, res: BaumWelch.FitResult, iterations: Int, soft: Boolean): Option[String] = {
    val problems = Seq.newBuilder[String]
    try res.model.validate() catch { case e: IllegalArgumentException => problems += e.getMessage }
    if (res.iterations != iterations) problems += s"ran ${res.iterations} iterations, want $iterations"
    if (soft) Oracle.ascentViolation(res.logLikPerIter).foreach(problems += _)
    first.get(kind) match {
      case None => first(kind) = res
      case Some(ref) =>
        val same = java.util.Arrays.equals(ref.logLikPerIter, res.logLikPerIter) &&
          java.util.Arrays.equals(ref.model.pi, res.model.pi) &&
          ref.model.a.indices.forall(i => java.util.Arrays.equals(ref.model.a(i), res.model.a(i))) &&
          ref.model.b.indices.forall(i => java.util.Arrays.equals(ref.model.b(i), res.model.b(i)))
        if (!same) problems += s"$kind fit is not bit-identical to the run's first $kind fit"
    }
    val p = problems.result()
    if (p.isEmpty) None else Some(p.mkString("; "))
  }
}

/** EM training straight through `BaumWelch.fitBest` / `fitViterbiBest`
  * on 500 sequences × T=200 sampled from a seeded ground-truth HMM
  * (K=16, M=256), with ε = 0 so every fit runs exactly `em.iterations`
  * iterations, plus a decode pass (Viterbi path and posteriors of every
  * sequence) under the model of a one-iteration set-up fit. The seed
  * seeds the ground truth, the sample and the restart inits.
  */
final class EmWorkload(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work) {
  val em: EmShape = EmShape(k = 16, m = 256, restarts = 3, iterations = 2, hardRestarts = 3,
    hardIterations = 2)
  val NumSeqs = 500
  val SeqLen = 200

  private var rdd: RDD[Array[Int]] = _
  private var decodeModel: HmmModel = _
  private val checks = new FitChecks
  private var decodeDigest: Option[(Long, Long)] = None

  def sequences: RDD[Array[Int]] = rdd
  def kernelModel: HmmModel = decodeModel

  def prepare(rep: Int): Unit = {
    if (rdd != null) rdd.unpersist(blocking = true)
    val truth = HmmSampler.truth(em.k, em.m, seed)
    rdd = sc.parallelize(HmmSampler.sample(truth, NumSeqs, SeqLen, seed).toSeq, sc.defaultParallelism * 2)
    rdd.cache().count()
  }

  /** One-iteration fits warm the kernels; their model is the decode model. */
  def warmUp(): Seq[String] = {
    decodeModel = BaumWelch.fitBest(rdd, em.k, em.m, em.restarts, seed, maxIterations = 1,
      epsilon = 0.0).model
    BaumWelch.fitViterbiBest(rdd, em.k, em.m, em.hardRestarts, seed, maxIterations = 1,
      epsilon = 0.0, pseudoCount = 0.1)
    decode().toSeq
  }

  private def decode(): Option[String] = {
    val bc = sc.broadcast(decodeModel)
    val (n, h) = rdd.map { obs =>
      val path = HmmAlgorithms.viterbi(bc.value, obs)
      val post = HmmAlgorithms.gamma(bc.value, obs)
      (1L, java.util.Arrays.hashCode(path).toLong * 31L +
        java.util.Arrays.deepHashCode(post.asInstanceOf[Array[AnyRef]]))
    }.reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    bc.destroy()
    decodeDigest match {
      case None => decodeDigest = Some((n, h)); None
      case Some(ref) if ref == (n, h) => None
      case Some(ref) => Some(s"decode digest ${(n, h)} differs from the run's first decode $ref")
    }
  }

  def ops: Seq[Op] = Seq(
    Op("fit_soft", "soft", () => checks("soft",
      BaumWelch.fitBest(rdd, em.k, em.m, em.restarts, seed, em.iterations, epsilon = 0.0),
      em.iterations, soft = true)),
    Op("fit_hard", "hard", () => checks("hard",
      BaumWelch.fitViterbiBest(rdd, em.k, em.m, em.hardRestarts, seed, em.hardIterations,
        epsilon = 0.0, pseudoCount = 0.1),
      em.hardIterations, soft = false)),
    Op("decode", "decode", () => decode()))
}

/** A fixed set of `SparkEntry.queries` over the generated corpus, one
  * query per operation, in an order drawn from the seed. Each query's
  * rows are forced and digested (row count plus an order-independent
  * sum of row hashes) and compared with the values recorded when the
  * benchmark was made.
  */
final class PipelineWorkload(spark: SparkSession, work: String, seed: Long, record: Boolean)
    extends Workload(spark, work) {
  import PipelineWorkload._

  /** hmm_baumwelch trains 3 restarts × 10 iterations; hmm_viterbi_train
    * one chain that converges after 9 of its 10 iterations on this
    * corpus (its recorded dump has 9 log-likelihood rows). */
  val em: EmShape = EmShape(k = 3, m = Corpus.EventTypes.length, restarts = 3, iterations = 10,
    hardRestarts = 1, hardIterations = 9)

  /** Each query runs once a cycle; two cycles give each one two samples. */
  override def minCycles: Int = 2

  var dir: String = _
  val recorded = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]

  def prepare(rep: Int): Unit = {
    dir = s"$work/corpus-$rep"
    Corpus.write(spark, dir, Scale)
  }

  private lazy val seqRdd: RDD[Array[Int]] = {
    import spark.implicits._
    Sequencer.sequenceDs(spark, dir).map(_._2.toArray).rdd
  }
  def sequences: RDD[Array[Int]] = seqRdd
  def kernelModel: HmmModel = HmmModel.random(em.k, em.m, 42L)

  def warmUp(): Seq[String] = ops.flatMap(_.body())

  private def runQuery(name: String): Option[String] = {
    val got = digest(SparkEntry.queries(name)(spark, dir))
    if (record) { recorded(name) = got; None }
    else Expected.get(name) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"$name: (rows, digest) $got != recorded $want")
      case None => Some(s"$name: no recorded digest")
    }
  }

  lazy val ops: Seq[Op] = new scala.util.Random(seed).shuffle(OperatorQueries ++ HmmEntries)
    .map(name => Op(name, roleOf(name), () => runQuery(name)))
}

object PipelineWorkload {
  /** TPC-H and documents row counts as a share of sf1 (events is fixed at sf0.1). */
  val Scale = 0.01

  /** One query per operator module: Graph + Lineage.Loop, streaming,
    * Dedup, RelationalTpch, and the parquet write path. stream_dedup
    * and sink_partitioned stand in for the costlier stream_doc_dedup
    * and compact_files, which do not fit two cycles in the run budget. */
  val OperatorQueries: Seq[String] =
    Seq("pagerank", "stream_dedup", "dedup_substring", "q21_waiting", "sink_partitioned")

  /** The HMM decode entries and the shipped training entries. */
  val HmmEntries: Seq[String] =
    Seq("hmm_viterbi", "hmm_nbest", "hmm_posterior", "hmm_baumwelch", "hmm_viterbi_train")

  def roleOf(name: String): String = name match {
    case "hmm_baumwelch" => "soft"
    case "hmm_viterbi_train" => "hard"
    case "hmm_viterbi" | "hmm_nbest" | "hmm_posterior" => "decode"
    case _ => "query"
  }

  /** (rows, digest) of every query on the corpus, recorded with `--record`. */
  lazy val Expected: Map[String, (Long, Long)] = {
    val in = getClass.getResourceAsStream("/graftbench/pipeline_expected.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split('\t'); f(0) -> (f(1).toLong, f(2).toLong) }.toMap
    finally in.close()
  }

  /** Forces every row and column of `df` through its physical plan
    * (sorts included) and returns (rows, order-independent digest). */
  def digest(df: DataFrame): (Long, Long) =
    df.rdd.mapPartitions { rows =>
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val x = r.hashCode.toLong
        n += 1
        h += x * 0x9E3779B97F4A7C15L + (x << 32)
      }
      Iterator((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
}
