package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}
import graft.hmm.{HmmModel, HmmQueries, Sequencer}
import graft.operators.Classifier
import graft.sources.Tables

/** The memo layer's own contract ([[Memo]]) and the scoping of the
  * call sites whose keys were wrong before it: content-keyed trained
  * models and session-scoped sequences.
  */
class MemoSpec extends AnyFunSuite {

  private def uniq(tag: String) = s"$tag-${System.nanoTime()}"

  test("a build may call other memos without a recursive-update failure") {
    val src = Some(uniq("nested"))
    (0 until 64).foreach { i =>
      val v = Memo.content("spec.outer", src, i) {
        Memo.content("spec.middle", src, i) {
          Memo.content("spec.inner", src, i)(Integer.valueOf(i))
        }
      }
      assert(v.intValue == i)
    }
  }

  test("racing first calls on one new key run its build once") {
    val src = Some(uniq("race"))
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val racer: Callable[AnyRef] = () => {
        start.await()
        Memo.content("spec.race", src) { builds.incrementAndGet(); Thread.sleep(50); new Object }
      }
      val futures = (0 until 8).map(_ => pool.submit(racer))
      start.countDown()
      val got = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1, s"build ran ${builds.get} times")
      assert(got.head != null && got.forall(_ eq got.head),
        "every racer must receive the one built value")
    } finally pool.shutdownNow()
  }

  test("a build that throws leaves no entry, and the next call builds again") {
    val src = Some(uniq("throw"))
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      Memo.content("spec.throw", src) { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    val v = Memo.content("spec.throw", src) { builds.incrementAndGet(); "built" }
    assert(v == "built" && builds.get == 2)
    assert((Memo.content("spec.throw", src) { builds.incrementAndGet(); "again" }) == "built")
    assert(builds.get == 2, "the successful build must now be memoized")
  }

  test("trained models follow a corpus rewritten in place under a live JVM") {
    def copyOf(tag: String) = {
      val d = Files.createTempDirectory(s"graft_memo_$tag").toString
      Seq("events", "documents").foreach(t =>
        Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$d/$t.parquet")))
      d
    }
    def writeSubset(d: String): Unit = {
      Tables.events(spark, sfDir).filter(col("user_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
    }
    def modelOf(d: String): (Int, Seq[Double], Seq[Seq[Double]], Seq[Seq[Double]]) = {
      val m: HmmModel = HmmQueries.trainSupervisedModel(spark, d)
      (m.numSymbols, m.pi.toSeq, m.a.map(_.toSeq).toSeq, m.b.map(_.toSeq).toSeq)
    }
    def scoresOf(d: String) = Classifier.qualityLr(spark, d).collect().toSeq

    val live = copyOf("live")
    val full = (modelOf(live), scoresOf(live))
    writeSubset(live)
    // Spark's own cached relations over the path follow the documented refresh
    spark.catalog.refreshByPath(live)
    val rewritten = (modelOf(live), scoresOf(live))

    val fresh = Files.createTempDirectory("graft_memo_fresh").toString
    writeSubset(fresh)
    val expected = (modelOf(fresh), scoresOf(fresh))
    assert(expected._1 != full._1 && expected._2.size != full._2.size,
      "the subset must train a different model than the full corpus")
    assert(rewritten._1 == expected._1, "HMM model is stale after the events rewrite")
    assert(rewritten._2 == expected._2, "quality LR is stale after the documents rewrite")
  }

  test("sequences are memoized per session, and a new session builds its own") {
    val a = Sequencer.sequenceDs(spark, sfDir)
    assert(Sequencer.sequenceDs(spark, sfDir) eq a, "second call must hit the session memo")
    assert(a.storageLevel.useMemory)
    val other = spark.newSession()
    val b = Sequencer.sequenceDs(other, sfDir)
    assert(!(b eq a), "a new session must not share another session's relation")
    assert(b.sparkSession eq other)
    assert(Sequencer.sequenceDs(other, sfDir) eq b)
  }

  test("content key is stable and changes when a part file is rewritten or added") {
    val d = Files.createTempDirectory("graft_memo_key").toString
    val t = Paths.get(s"$d/t.parquet")
    Files.createDirectories(t)
    Files.write(t.resolve("part-0"), Array.fill[Byte](10)(1))
    val k0 = Tables.contentKey(spark, d, "t")
    assert(Tables.contentKey(spark, d, "t") == k0)
    Files.write(t.resolve("part-0"), Array.fill[Byte](11)(1))
    val k1 = Tables.contentKey(spark, d, "t")
    assert(k1 != k0, "a part file rewritten with a different length must change the key")
    Files.write(t.resolve("part-1"), Array.fill[Byte](11)(1))
    assert(Tables.contentKey(spark, d, "t") != k1, "an added part file must change the key")
  }
}
