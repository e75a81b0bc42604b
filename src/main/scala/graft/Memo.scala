package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Dataset, SparkSession}

/** graft's one caching policy. Every memo in the library goes through
  * one of two scopes:
  *
  *  - [[session]], for persisted or [[Lineage.cut]] relations. Such a
  *    relation is bound to its SparkContext, so the key is (session id,
  *    params): a dir-only key would hand a later session a plan on a
  *    stopped context. Entries whose context has STOPPED are swept on
  *    every access to their memo — their blocks died with the context,
  *    and keeping them would leak plan trees for the JVM's lifetime in a
  *    session-cycling JVM.
  *  - [[content]], for pure driver-side data (trained models, centroids,
  *    codebooks, merge tables) that stays valid across sessions. The key
  *    is (content signature of the source table, params) — see
  *    [[graft.sources.Tables.contentKey]] — so a corpus rewritten under
  *    a live JVM is a miss, never a stale hit. A source of `None` (an
  *    in-memory input with no stable identity) builds uncached.
  *
  * Each memo name gets its own inner map: a build may call another memo
  * (repPairsFor → repShingled → textGroups → allTextGroups), and a
  * nested computeIfAbsent on ONE ConcurrentHashMap fails with a
  * recursive-update error. Within a map, computeIfAbsent runs a key's
  * build once when first calls race, and stores nothing when the build
  * throws, so the next call builds again.
  */
object Memo {
  private val sessionMemos = new ConcurrentHashMap[String, ConcurrentHashMap[String, Dataset[_]]]()
  private val contentMemos = new ConcurrentHashMap[String, ConcurrentHashMap[String, AnyRef]]()

  private def named[V](memos: ConcurrentHashMap[String, ConcurrentHashMap[String, V]],
      name: String): ConcurrentHashMap[String, V] =
    memos.computeIfAbsent(name, _ => new ConcurrentHashMap[String, V]())

  private val sessionIds = new java.util.WeakHashMap[SparkSession, java.lang.Long]()
  private val sessionIdGen = new java.util.concurrent.atomic.AtomicLong()

  /** Stable per-session id: a counter minted once per session OBJECT
    * (identity-keyed WeakHashMap — the boxed-Long value holds no
    * reference back to the session, so the entry is collectable).
    * Unique for the JVM's lifetime, unlike identityHashCode, which can
    * collide across sessions. Also names per-session scratch dirs.
    */
  private[graft] def sessionId(spark: SparkSession): String = sessionIds.synchronized {
    var id = sessionIds.get(spark)
    if (id == null) { id = sessionIdGen.incrementAndGet(); sessionIds.put(spark, id) }
    id.toString
  }

  /** The relation `build` returns, memoized per (session, params). */
  def session[T <: Dataset[_]](name: String, spark: SparkSession, params: Any*)(build: => T): T = {
    val memo = named(sessionMemos, name)
    memo.values().removeIf(_.sparkSession.sparkContext.isStopped)
    memo.computeIfAbsent((sessionId(spark) +: params).mkString("|"), _ => build).asInstanceOf[T]
  }

  /** The value `build` returns, memoized per (source signature, params);
    * built uncached when `source` is None. */
  def content[T <: AnyRef](name: String, source: Option[String], params: Any*)(build: => T): T =
    source match {
      case Some(src) =>
        named(contentMemos, name).computeIfAbsent((src +: params).mkString("|"), _ => build)
          .asInstanceOf[T]
      case None => build
    }
}
