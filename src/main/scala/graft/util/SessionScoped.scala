package graft.util

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

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
  */
object SessionScoped {

  private val registry = TrieMap.empty[String, Cache[_]]
  private val hookedContexts = TrieMap.empty[String, Unit]

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

    def getOrElseUpdate(s: SparkSession, key: String)(build: => V): V = {
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
