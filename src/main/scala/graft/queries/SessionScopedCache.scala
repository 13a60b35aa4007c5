package graft.queries

import java.util.concurrent.CopyOnWriteArrayList

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

import graft.Sessions

/** One expensive per-(session, corpus) shared artifact (the star
  * schema, dedup cluster labels, basket pair counts — the
  * load-once/query-many warehouse contract), declared once with its
  * `name` and `build`; `apply(s, dir)` serves it.
  *
  * Every instance registers itself in the companion, so
  * [[SessionScopedCache.warmAll]] builds every declared artifact with
  * no list to keep by hand.
  *
  * A bare TrieMap keyed by (SparkSession, dir) retains stopped
  * sessions' checkpointed frames for process lifetime (round-3
  * ADVICE): long-lived JVMs hosting many short-lived sessions — a
  * notebook server, a test suite — would leak every session's
  * artifacts. Each session therefore registers ONE listener whose
  * applicationEnd evicts all of that session's entries; the
  * checkpoint blocks themselves are then GC-reclaimed with the
  * frames.
  *
  * Staleness (round-4 ADVICE): each entry stores a fingerprint of the
  * dir's file tree (paths, sizes, mtimes) taken at build time; a
  * lookup whose current fingerprint differs rebuilds instead of
  * serving the stale artifact. The walk is a few dozen stat calls on
  * a corpus dir — noise next to any query it fronts.
  */
final class SessionScopedCache[V](
    val name: String, build: (SparkSession, String) => V) {
  // entry = (dir fingerprint, artifact, own build seconds)
  private val entries = TrieMap.empty[(SparkSession, String), (Long, V, Double)]
  private val hooked = TrieMap.empty[SparkSession, Unit]
  // Per-key build guard (round-5 ADVICE): the fingerprint check made
  // the miss path a non-atomic get/build/put, so two concurrent
  // callers could both run an expensive star/corpus build. Builds for
  // a given (session, dir) now serialize on this lock; distinct keys
  // still build concurrently.
  private val buildLocks = TrieMap.empty[(SparkSession, String), Object]

  SessionScopedCache.registry.add(this)

  private def fingerprint(dir: String): Long = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val stream = Files.walk(root)
      try {
        var h = 1125899906842597L
        stream.sorted().forEach { p =>
          val f = p.toFile
          h = h * 31 + p.toString.hashCode
          h = h * 31 + f.length()
          h = h * 31 + f.lastModified()
        }
        h
      } finally stream.close()
    }
  }

  def apply(s: SparkSession, key: String): V = {
    hooked.getOrElseUpdate(s, {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          entries.filterInPlace { case ((sess, _), _) => sess ne s }
          buildLocks.filterInPlace { case ((sess, _), _) => sess ne s }
          hooked.remove(s)
          ()
        }
      })
    })
    val fp = fingerprint(key)
    entries.get((s, key)) match {
      case Some((cachedFp, v, _)) if cachedFp == fp => v
      case _ =>
        val lock = buildLocks.getOrElseUpdate((s, key), new Object)
        lock.synchronized {
          // Re-check under the lock (and re-fingerprint: the dir may
          // have changed while we waited on another caller's build).
          val fp2 = fingerprint(key)
          entries.get((s, key)) match {
            case Some((cachedFp, v, _)) if cachedFp == fp2 => v
            case _ =>
              val (v, sec) = SessionScopedCache.ownSeconds(build(s, key))
              entries.put((s, key), (fp2, v, sec))
              v
          }
        }
    }
  }

  /** Seconds the cached (s, dir) build spent outside the builds of
    * other artifacts it read; 0 if it is not cached. */
  private def buildSeconds(s: SparkSession, key: String): Double =
    entries.get((s, key)).fold(0.0)(_._3)
}

object SessionScopedCache {
  private val registry = new CopyOnWriteArrayList[SessionScopedCache[_]]()

  // Seconds of the artifact builds that ran inside the current build
  // on this thread, so each artifact is charged only its own work.
  private val nestedSeconds = ThreadLocal.withInitial[Double](() => 0.0)

  private def ownSeconds[V](body: => V): (V, Double) = {
    val outer = nestedSeconds.get
    nestedSeconds.set(0.0)
    var sec = 0.0
    try {
      val (t, v) = Sessions.elapsed(body)
      sec = t
      (v, sec - nestedSeconds.get)
    } finally nestedSeconds.set(outer + sec)
  }

  /** Builds every declared artifact for (s, dir) and returns each
    * one's (name, own build seconds), each once, in the order warmed.
    *
    * An artifact is declared when its owning object initializes: the
    * query modules do when `SparkEntry.queries` is evaluated, while an
    * object reached only from inside other artifacts' builders (such
    * as [[IvfArtifacts]]) registers during this warm-up. So the
    * warm-up repeats until a pass declares nothing new.
    */
  def warmAll(s: SparkSession, dir: String): Seq[(String, Double)] = {
    val warmed = mutable.LinkedHashSet.empty[SessionScopedCache[_]]
    var pending = registry.asScala.toSeq
    while (pending.nonEmpty) {
      pending.foreach { c => c(s, dir); warmed += c }
      pending = registry.asScala.toSeq.filterNot(warmed)
    }
    warmed.toSeq.map(c => c.name -> c.buildSeconds(s, dir))
  }
}
