package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge

/** The one owner of every cached frame in the engine.
  *
  * Two kinds of cache exist, and both are registered here per session:
  *   - stored artifacts ([[stored]]): derived frames that many registry
  *     entries read (hierarchy MVs, graph edges, dedup components, the
  *     s13 graph, the IVF-PQ index). Each is built once per
  *     (session, name, input), cached, forced, and re-rooted at its
  *     materialized `InMemoryRelation` leaf, so consumers analyze a
  *     one-node plan instead of the full build lineage. [[memo]] keeps
  *     non-frame values (dimension objects, counts, fixture dirs) under
  *     the same key space and lifecycle.
  *   - pins ([[pin]], [[leaf]]): caches taken inside an operator body
  *     for a frame read by two or more consumers. They are BOUNDED per
  *     session ([[MaxPins]], oldest released first), so a long-lived
  *     session cannot grow storage without limit; a released pin's
  *     consumers simply recompute.
  *
  * [[sessionDir]] hands out directories for the durable stream
  * sinks' output and the stream source fixtures, all under one
  * per-session directory in the JVM tmpdir.
  *
  * [[releaseAll]] (behind `Graft.releasePins`) unpersists everything a
  * session cached, forgets its memo entries and deletes its session
  * directory, so the next read rebuilds and registers the artifact
  * again. A leaf handed out before a release still reads correctly,
  * but its `InMemoryRelation` re-materializes outside the registry:
  * take artifacts from the registry again after a release rather than
  * reusing old frames.
  *
  * Sessions whose context stopped are released on access (their blocks
  * died with the context; their session directories are deleted), and
  * the JVM's exit deletes every session directory still live. At
  * most `MaxSessions` (16) sessions are tracked: sessions sharing a live context (`newSession`) cannot be
  * swept, so past the bound the oldest is released outright.
  *
  * Concurrency: each session's state sits in one `Store`, guarded by
  * its own lock. Builds run outside the lock; a registration that finds
  * its store released (`dead`) retries into a fresh one, so a cached
  * frame never ends up registered nowhere. Two racing builds of one key
  * both finish; the loser's cache is freed and the winner's value is
  * returned to both.
  */
object Artifacts {
  val MaxPins = 256
  private[graft] val MaxSessions = 16

  /** One cache: `df` is the frame cached, `leaf` its re-rooted frame
    * (null for a plain pin). */
  private final class Handle(val df: DataFrame) {
    df.cache()
    private val buffers = GraftColumnBridge.cacheBuffers(df)
    @volatile var leaf: DataFrame = null

    def free(): Unit =
      try { df.unpersist(); buffers.foreach(_.clearCache()) }
      catch { case scala.util.control.NonFatal(_) => () }
  }

  private final class Store {
    var dead = false
    val pins = new java.util.ArrayDeque[Handle]()
    val memo = new java.util.HashMap[(String, Any), (Any, Option[Handle])]()
    @volatile var dir: Path = null
  }

  private val stores =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Store]()
  // a JVM that exits without releasing a session still deletes its
  // session directory (fixtures and sink output alike)
  sys.addShutdownHook(stores.values.forEach { st =>
    val dir = st.dir
    if (dir != null) deleteTree(dir)
  })
  // store creation order, for the session bound
  private val order =
    new java.util.concurrent.ConcurrentLinkedQueue[SparkSession]()

  private def storeOf(spark: SparkSession): Store = {
    stores.keySet.forEach(s => if (s.sparkContext.isStopped) releaseAll(s))
    var full = !stores.containsKey(spark)
    while (full && stores.size >= MaxSessions) {
      val oldest = order.poll()
      if (oldest == null) full = false
      else if (oldest ne spark) releaseAll(oldest) // else a stale entry
    }
    stores.computeIfAbsent(spark, _ => { order.add(spark); new Store })
  }

  /** cache() + force + re-root at the `InMemoryRelation` leaf. The
    * leaf keeps columnar storage AND the accurate post-materialization
    * size statistics, so broadcast decisions are unchanged. */
  private def materialize(df: DataFrame): Handle = {
    val h = new Handle(df)
    try {
      df.count()
      h.leaf = GraftColumnBridge.cachedLeaf(df)
    } catch { case e: Throwable => h.free(); throw e }
    h
  }

  private def register(h: Handle): Unit = {
    var done = false
    while (!done) {
      val st = storeOf(h.df.sparkSession)
      done = st.synchronized {
        if (st.dead) false
        else {
          st.pins.addLast(h)
          // CacheManager unpersists by PLAN equality: an evicted pin
          // sharing its plan with a newer one drops the shared entry,
          // the conservative (storage-bounding) direction
          while (st.pins.size > MaxPins) st.pins.pollFirst().free()
          true
        }
      }
    }
  }

  private def remember(spark: SparkSession, key: (String, Any))(
      build: => (Any, Option[Handle])): Any = {
    var out: Option[Any] = None
    while (out.isEmpty) {
      val st = storeOf(spark)
      val hit = st.synchronized(if (st.dead) null else st.memo.get(key))
      if (hit != null) out = Some(hit._1)
      else {
        val built = build
        val kept = st.synchronized {
          if (st.dead) null
          else {
            val cur = st.memo.putIfAbsent(key, built)
            if (cur == null) built else cur
          }
        }
        // a racing build won, or the store was released mid-build
        // (then retry into a fresh store): free this build's cache
        if (kept ne built) built._2.foreach(_.free())
        if (kept != null) out = Some(kept._1)
      }
    }
    out.get
  }

  /** The value of `build`, computed once per (session, name, input). */
  def memo[V](spark: SparkSession, name: String, input: Any)(build: => V): V =
    remember(spark, (name, input))((build, None)).asInstanceOf[V]

  /** The stored artifact `build`, computed once per (session, name,
    * input) and served as its materialized leaf. */
  def stored(spark: SparkSession, name: String, input: Any)(
      build: => DataFrame): DataFrame =
    remember(spark, (name, input)) {
      val h = materialize(build)
      (h.leaf, Some(h))
    }.asInstanceOf[DataFrame]

  /** cache() + register as a pin, returning the same frame. */
  def pin(df: DataFrame): DataFrame = {
    register(new Handle(df))
    df
  }

  /** A pinned frame materialized and re-rooted at its leaf — for a
    * per-run artifact read many times (a stream's static index); free
    * it with [[release]] when the run ends. */
  def leaf(df: DataFrame): DataFrame = {
    val h = materialize(df)
    register(h)
    h.leaf
  }

  /** Release one pin now, by the frame [[pin]] or [[leaf]] returned.
    * The frame stays usable; it recomputes. */
  def release(df: DataFrame): Unit = {
    val st = stores.get(df.sparkSession)
    val h = if (st == null) null else st.synchronized {
      var found: Handle = null
      val it = st.pins.iterator
      while (found == null && it.hasNext) {
        val c = it.next()
        if ((c.df eq df) || (c.leaf eq df)) { it.remove(); found = c }
      }
      found
    }
    if (h != null) h.free()
  }

  /** A fresh, not yet existing `out` directory — a durable sink's
    * output or a stream fixture's files — under `spark`'s session
    * directory (made on first use in the JVM tmpdir). It lives until
    * [[releaseAll]]: frames that read it must be read before `spark`'s
    * artifacts are released. */
  def sessionDir(spark: SparkSession, prefix: String): String = {
    var out: String = null
    while (out == null) {
      val st = storeOf(spark)
      out = st.synchronized {
        if (st.dead) null
        else {
          if (st.dir == null) st.dir = Files.createTempDirectory("graft_session")
          Files.createTempDirectory(st.dir, prefix).resolve("out").toString
        }
      }
    }
    out
  }

  /** Delete `root` and everything under it, best effort. */
  private[graft] def deleteTree(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Unpersist every pin and stored artifact of `spark`, forget its
    * memo entries and delete its session directory. Idempotent; frames
    * already handed out stay usable (they recompute) except those
    * reading a deleted session directory, and a later read rebuilds
    * the artifact. Safe to race with builds, pins and session
    * directories: each lands here or in a fresh store. */
  def releaseAll(spark: SparkSession): Unit = {
    val st = stores.remove(spark)
    order.remove(spark)
    if (st != null) st.synchronized {
      st.dead = true
      if (!spark.sparkContext.isStopped) {
        st.pins.forEach(_.free())
        st.memo.values.forEach(_._2.foreach(_.free()))
      }
      st.pins.clear()
      st.memo.clear()
      if (st.dir != null) deleteTree(st.dir)
    }
  }

  private[graft] def pinCount(spark: SparkSession): Int = {
    val st = stores.get(spark)
    if (st == null) 0 else st.synchronized(st.pins.size)
  }

  private[graft] def memoKeys(spark: SparkSession): Set[(String, Any)] = {
    val st = stores.get(spark)
    if (st == null) Set.empty
    else st.synchronized(st.memo.keySet.asScala.toSet)
  }
}
