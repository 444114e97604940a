package graft.util

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Registry of session-scoped caches (the Star/grams/pairs/components/
  * corpus materializations): entries are keyed by the session's UUID —
  * not the `SparkSession` object — and every cache registers here so ONE
  * context listener can evict all entries of a stopped context.
  *
  * Why this exists: a `(SparkSession, dir)`-keyed map holds a strong
  * reference to the session (and, through the cached frames, to its
  * blocks) FOREVER — fine for a bench/verify sweep whose release points
  * fire, but a long-lived JVM cycling through sessions (a notebook
  * server, a test harness, sequential contexts in one process)
  * accumulates dead entries no release point will ever clear. Here the
  * `onApplicationEnd` listener drops every entry whose owning context
  * just stopped (its blocks die with the context — the map entries are
  * what would leak), so session cycling is leak-free by construction.
  * SessionStopSpec drives the full cycle in a forked JVM: fill caches,
  * stop the context, assert the registry is empty and a fresh context
  * starts clean.
  *
  * A cache's handle is its one owner: the name it registers under, the
  * access record (every [[Cache.getOrElseUpdate]] logs the current
  * query and the cache name) and the release (`invalidate*`).
  * `QueryCatalog.sessionCaches` lists each handle with its consumers,
  * the queries whose declaration (`OracleCatalog.declarations`) names it,
  * and CacheLifecycleSpec checks those declarations against the access
  * log.
  */
object SessionScoped {

  private val registry = TrieMap.empty[String, Cache[_]]
  private val hookedContexts = TrieMap.empty[String, Unit]

  // ---- access log ----------------------------------------------------------

  private val accessLog = ArrayBuffer.empty[(String, String)]
  @volatile private var currentQuery: String = ""

  /** Set the query name that later cache accesses are recorded under
    * (sweep harness only; single-threaded by construction). Accesses
    * happen at DataFrame CONSTRUCTION time — the getters run inside the
    * query builder functions, not inside Spark jobs — so a sweep can
    * record the whole catalog's accesses without executing a query.
    */
  def setQuery(name: String): Unit = currentQuery = name

  /** All (query, cache name) accesses since the last [[clear]]. Only
    * accesses made while a query is set are recorded, so a JVM that
    * never runs a sweep keeps an empty log.
    */
  def accesses: Seq[(String, String)] =
    accessLog.synchronized { accessLog.toVector }

  def clear(): Unit = {
    accessLog.synchronized { accessLog.clear() }
    currentQuery = ""
  }

  private def record(cache: String): Unit = {
    val q = currentQuery
    if (q.nonEmpty) accessLog.synchronized { accessLog += ((q, cache)) }
  }

  // weak-keyed fallback UUIDs: never pins a session, one id per object
  private val fallbackIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** The session's stable UUID — `sessionUUID` on the classic runtime
    * (reflective: the member is private[sql] in source but public in
    * bytecode), a weak-map UUID otherwise.
    */
  private[util] def uuidOf(s: SparkSession): String =
    try s.getClass.getMethod("sessionUUID").invoke(s).asInstanceOf[String]
    catch {
      case _: ReflectiveOperationException =>
        fallbackIds.synchronized {
          Option(fallbackIds.get(s)).getOrElse {
            val id = java.util.UUID.randomUUID().toString
            fallbackIds.put(s, id)
            id
          }
        }
    }

  /** One session-scoped cache. `release` frees a live entry's resources
    * (unpersist/checkpoint-drop) — used by explicit invalidation only;
    * context-end eviction skips it (the context's BlockManager is already
    * gone, there is nothing to release).
    */
  final class Cache[V] private[SessionScoped] (val name: String, release: V => Unit) {
    private val entries = TrieMap.empty[(String, String), (SparkSession, V)]

    /** The entry for (session, key), built on first access. Every call,
      * hit or fill, is recorded in the access log. */
    def getOrElseUpdate(s: SparkSession, key: String)(build: => V): V = {
      record(name)
      hook(s)
      entries.getOrElseUpdate((SessionScoped.uuidOf(s), key), (s, build))._2
    }

    /** Remove and release the entry for (session, key), if present. */
    def invalidate(s: SparkSession, key: String): Unit =
      entries.remove((SessionScoped.uuidOf(s), key)).foreach { case (_, v) => release(v) }

    /** Remove and release every entry of session `s`, whatever its key
      * (the invalidation for caches not keyed by directory). */
    def invalidateSession(s: SparkSession): Unit = {
      val id = SessionScoped.uuidOf(s)
      entries.keys.filter(_._1 == id)
        .foreach(k => entries.remove(k).foreach { case (_, v) => release(v) })
    }

    def size: Int = entries.size

    private[SessionScoped] def dropContext(sc: SparkContext): Unit =
      entries.foreach { case (k, (sess, _)) =>
        if (sess.sparkContext eq sc) entries.remove(k)
      }
  }

  /** Create and register a cache. Call once per cache (object init). */
  def cache[V](name: String, release: V => Unit): Cache[V] = {
    val c = new Cache[V](name, release)
    registry.put(name, c)
    c
  }

  /** Names of every registered cache (spec surface). */
  def names: Set[String] = registry.keySet.toSet

  /** Total live entries across all registered caches (spec/probe surface). */
  def totalEntries: Int = registry.values.map(_.size).sum

  private def hook(s: SparkSession): Unit = {
    val sc = s.sparkContext
    hookedContexts.getOrElseUpdate(s"${sc.applicationId}@${sc.startTime}", {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          registry.values.foreach(_.dropContext(sc))
      })
      ()
    })
  }
}
