package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Lifecycle registry for the session-scoped caches: every
  * [[SessionCache]] registers itself when it is built, so a long-lived
  * multi-tenant JVM never pins a dead session's object graph, and a
  * live session's persisted/checkpointed blocks can be released
  * explicitly when a tenant is done.
  *
  * Two paths, because Spark has two end-of-life shapes:
  *  - `SparkSession.newSession()` wrappers die logically while their
  *    shared context lives on → callers use [[evictSession]], which
  *    must actively unpersist blocks;
  *  - a stopped CONTEXT already dropped every block with its executors
  *    → the ApplicationEnd listener ([[watch]]) runs [[sweepStopped]],
  *    which only needs to drop the JVM references.
  */
object SessionCaches {

  private val caches = new java.util.concurrent.ConcurrentLinkedQueue[SessionCache[_, _]]()
  private val watched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Called once by each [[SessionCache]] as it is built. */
  private[graft] def register(cache: SessionCache[_, _]): Unit = caches.add(cache): Unit

  /** Every cache built so far, in build order. */
  private[graft] def all: Seq[SessionCache[_, _]] = {
    import scala.jdk.CollectionConverters._
    caches.asScala.toSeq
  }

  /** Drop every cache's entries for `spark` and release their storage
    * (unpersist/uncheckpoint) — the multi-tenant "this session is
    * done" call.
    */
  def evictSession(spark: SparkSession): Unit = caches.forEach(_.evict(spark))

  /** Drop entries whose owning context has stopped. Their blocks died
    * with the executors; this releases the driver-side references.
    */
  def sweepStopped(): Unit = caches.forEach(_.sweep())

  /** Hook `spark`'s context once: application end triggers the sweep,
    * so sequential sessions in one JVM (bench harnesses, notebooks
    * restarting Spark) don't accumulate dead cache entries.
    */
  def watch(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (watched.add(sc.applicationId)) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          sweepStopped()
      })
    }
  }
}

/** A session-scoped cache: entries are keyed by `(session, k)` in a
  * [[BoundedLruCache]] of `maxEntries`, and the cache registers itself
  * with [[SessionCaches]] for per-session eviction and the
  * stopped-context sweep.
  *
  * `release` frees a value's storage (uncheckpoint/unpersist) when the
  * value is evicted by the bound, evicted with its session, or loses an
  * insert race. It runs only while the entry's context is alive: a
  * stopped context already dropped every block, so there is nothing
  * left to free. Values that hold no Spark blocks (driver-side maps,
  * counts, local relations, plan handles) keep the no-op default.
  *
  * Key rule: an entry is reused for as long as its session lives, so a
  * key must change whenever the data it was built from can change — a
  * plan's file generation ([[CheckpointPool.planGeneration]]), a stored
  * table's generation stamp, or a caller-named corpus whose contents
  * the caller promises not to change under that name.
  */
final class SessionCache[K, V](maxEntries: Int, release: V => Unit = (_: V) => ()) {
  // the value carries its session so a release can check the entry's
  // context without knowing what V is
  private val lru = new BoundedLruCache[(SparkSession, K), (SparkSession, V)](
    maxEntries, { case (s, v) => releaseLive(s, v) })

  SessionCaches.register(this)

  private def releaseLive(s: SparkSession, v: V): Unit =
    if (!s.sparkContext.isStopped) release(v)

  def get(spark: SparkSession, k: K): Option[V] = lru.get((spark, k)).map(_._2)

  /** Insert `v` unless `k` is already cached for `spark`; returns the
    * value that won. A losing `v` is released.
    */
  def put(spark: SparkSession, k: K, v: V): V = {
    SessionCaches.watch(spark)
    val winner = lru.putIfAbsent((spark, k), (spark, v))._2
    if (winner.asInstanceOf[AnyRef] ne v.asInstanceOf[AnyRef]) releaseLive(spark, v)
    winner
  }

  /** The cached value, or `build`'s, inserted. `build` runs outside the
    * lock, so a slow build never blocks other keys; two racing builds
    * of one key both finish, one wins and the other is released.
    */
  def getOrBuild(spark: SparkSession, k: K)(build: => V): V =
    get(spark, k).getOrElse(put(spark, k, build))

  /** Drop the entries whose (session, key) match `p`. Their values are
    * PARKED for one eviction generation ([[BoundedLruCache.removeIfDeferred]])
    * rather than released inline, so a holder still mid-job on one
    * keeps its blocks until the next turnover.
    */
  def removeIf(p: (SparkSession, K) => Boolean): Unit =
    lru.removeIfDeferred { case (s, k) => p(s, k) }

  /** The live keys of every session. */
  private[graft] def keys: Seq[K] = lru.keys.map(_._2)

  /** How many live entries `spark` holds. */
  private[graft] def entries(spark: SparkSession): Int = lru.keys.count(_._1 eq spark)

  private[graft] def evict(spark: SparkSession): Unit =
    lru.removeIf(_._1 eq spark, releaseRemoved = true)

  private[graft] def sweep(): Unit =
    lru.removeIf(_._1.sparkContext.isStopped, releaseRemoved = false)
}

/** Session-scoped pool for TERMINAL localCheckpoints — frames the
  * returned plan keeps reading from, so the call site can never release
  * them itself. Keyed by (session, call-site label, input plan
  * semantics): a repeated call over the same input reuses one block set
  * (and skips the materialization job), superseded ones release on
  * LRU eviction or session end — the vocabPrune-class leak closed
  * generically for the operators whose terminal frame is data-sized
  * ([[operators.Graph]] edge sets, [[operators.Basket]] incidence,
  * the streaming near-dup verify's shingle table).
  */
object CheckpointPool {
  import org.apache.spark.sql.DataFrame

  // sized for several tenants × five-plus call sites × a few distinct
  // inputs each: eviction is the leak BACKSTOP, not a working-set cap —
  // an evicted entry's blocks are released under any caller still
  // holding the old frame (the BoundedLruCache contract), so the bound
  // sits well above any realistic concurrent working set
  private val pool = new SessionCache[(String, Int, Long), DataFrame](
    maxEntries = 64, release = org.apache.spark.sql.GraftShims.uncheckpoint(_))

  /** File-level generation stamp of every file-source leaf in `plan`:
    * Spark's `InMemoryFileIndex` equality (and therefore
    * `semanticHash`) compares ROOT PATHS only, so two reads of the same
    * directory hash equal even after its files were rewritten — a
    * plan-keyed cache would serve the old snapshot. Folding (mtime,
    * count, bytes) over each leaf's root paths makes a same-path
    * rewrite a cache MISS (the Sink artifact-cache precedent). One FS
    * listing per call, no file opened; commutative fold, so listing
    * order can't flip the stamp. Plans with no file leaves stamp 0.
    */
  def planGeneration(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    var stamp = 0L
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRelation =>
        lr.relation match {
          case fsRel: HadoopFsRelation =>
            fsRel.location.rootPaths.foreach { p =>
              val fs = p.getFileSystem(conf)
              if (fs.exists(p)) {
                val it = fs.listFiles(p, true)
                while (it.hasNext) {
                  val f = it.next()
                  val name = f.getPath.getName
                  if (!name.startsWith("_") && !name.startsWith("."))
                    stamp += f.getModificationTime * 31 + f.getLen + 1
                }
              }
            }
          case _ =>
        }
      case _ =>
    }
    stamp
  }

  /** Checkpoint `plan` once per (session, label, plan, file generation)
    * and reuse ([[SessionCache.getOrBuild]]). Plans whose leaves are
    * themselves checkpoints (unique LogicalRDD ids) get per-call keys —
    * the pool then degrades to a bounded FIFO of block sets, which is
    * the backstop this exists for.
    *
    * A build also evicts any SUPERSEDED generation of the same
    * (session, label, plan): a streaming consumer re-reading a growing
    * directory mints a new generation per micro-batch, and the old ones
    * can never be hit again (the file set only grows) — left to global
    * LRU pressure they would pin up to the pool bound of corpus-sized
    * block sets and evict other operators' live entries. The eviction
    * PARKS the superseded entry for one turnover instead of releasing
    * inline (a concurrent holder mid-job on the old generation keeps
    * its blocks until the next supersession), so the steady-state
    * footprint is live + ONE parked generation GLOBALLY: the deferred
    * slot is shared across labels and with cap-overflow eviction, so a
    * supersession on ANY label (or a cap overflow) releases the
    * previously parked generation — the mid-job-holder cushion is one
    * global turnover, which under concurrent labels can be shorter than
    * a same-label turnover (best-effort by design; the real protection
    * for long-held frames is the cap sizing). Same-label entries over
    * DIFFERENT plans (other directories) are untouched, so alternating
    * inputs under one label still coexist.
    */
  def cached(label: String)(plan: DataFrame): DataFrame = {
    val spark = plan.sparkSession
    val semHash = plan.queryExecution.analyzed.semanticHash()
    val gen = planGeneration(plan)
    pool.getOrBuild(spark, (label, semHash, gen)) {
      val built = plan.localCheckpoint()
      pool.removeIf((s, k) => (s eq spark) && k._1 == label && k._2 == semHash && k._3 != gen)
      built
    }
  }
}

/** Access-ordered LRU cache bounded at `maxEntries` — the store behind
  * every [[SessionCache]]. Caches whose values pin Spark blocks (the
  * [[operators.Similarity]] quantizer and two-level assignments, the
  * [[operators.Dedup]] pair lists and incremental index, the
  * [[CheckpointPool]] frames, the `stocks` relation) would otherwise
  * hold one block set per distinct key for the session's lifetime. The
  * trained centroids and PQ codebooks are driver-local rows and hold no
  * blocks; their bound caps driver memory only. Inserting past the cap
  * evicts the least-recently-used entry and hands it to `release`
  * (uncheckpoint/unpersist), which runs OUTSIDE the lock.
  *
  * Eviction contract: a caller that still holds an evicted frame sees
  * its blocks released — subsequent actions on it fail rather than
  * silently recompute (checkpoint lineage is truncated). Caps are
  * therefore sized well above any realistic concurrent working set;
  * eviction is a leak backstop, not a hot path. As an extra cushion
  * against the get-then-evicted race (a frame fetched by one thread
  * while another thread's insert evicts it), release is DEFERRED by
  * one eviction generation: the blocks behind generation g's evictees
  * are freed when generation g+1 evicts — a holder would have to stay
  * mid-computation across two full cap-overflow cycles to observe a
  * released block. Worst-case extra footprint: one generation
  * (typically a single entry).
  */
final class BoundedLruCache[K, V](maxEntries: Int, release: V => Unit) {
  require(maxEntries > 0, "maxEntries must be positive")
  // accessOrder=true: get() refreshes recency, so the evictee is the
  // least-recently-USED key, not merely the oldest insertion
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  // evictees awaiting release until the next eviction generation —
  // KEYED, so removeIf can match a session's parked values (a session
  // whose only pool state is a parked frame must not stay pinned until
  // an unrelated future turnover)
  private var deferred = List.empty[(K, V)]

  def get(k: K): Option[V] = synchronized { Option(m.get(k)) }

  def size: Int = synchronized { m.size() }

  /** The live keys, least-recently-used first. */
  private[graft] def keys: Seq[K] = synchronized {
    import scala.jdk.CollectionConverters._
    m.keySet().asScala.toSeq
  }

  /** putIfAbsent semantics plus the LRU bound: returns the value that
    * won (the existing one on a lost race — the caller releases its
    * loser). Values evicted by the bound are parked for one generation
    * and released after the lock is dropped, so a slow unpersist never
    * blocks unrelated keys.
    */
  def putIfAbsent(k: K, v: V): V = {
    var toRelease = List.empty[V]
    val winner = synchronized {
      val prev = m.get(k)
      if (prev != null) prev
      else {
        m.put(k, v)
        var evicted = List.empty[(K, V)]
        while (m.size() > maxEntries) {
          val it = m.entrySet().iterator()
          val e = it.next()
          evicted ::= (e.getKey -> e.getValue)
          it.remove()
        }
        if (evicted.nonEmpty) {
          // release the PREVIOUS generation, park this one
          toRelease = deferred.map(_._2)
          deferred = evicted
        }
        v
      }
    }
    toRelease.foreach(release)
    winner
  }

  /** [[removeIf]] that PARKS the removed values in the deferred
    * generation instead of releasing inline — for supersession
    * evictions of entries a concurrent holder may still be reading
    * (e.g. one consumer mid-job on a pooled frame while another's
    * winning insert advances the file generation). Parking swaps
    * generations exactly like the cap-overflow path: the PRIOR
    * deferred generation is released, the new evictees take its
    * place — same one-turnover cushion, same one-generation worst-case
    * extra footprint, so a long-running supersession stream still
    * keeps only one stale generation pinned.
    */
  def removeIfDeferred(p: K => Boolean): Unit = {
    var toRelease = List.empty[V]
    synchronized {
      var parked = List.empty[(K, V)]
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey)) {
          parked ::= (e.getKey -> e.getValue)
          it.remove()
        }
      }
      if (parked.nonEmpty) {
        toRelease = deferred.map(_._2)
        deferred = parked
      }
    }
    toRelease.foreach(release)
  }

  /** Remove entries whose key matches `p` — live AND parked: the
    * deferred generation keeps its keys, so a session-end call releases
    * exactly its own parked frames too (a session whose only pool state
    * is a parked superseded frame must not stay pinned until an
    * unrelated future turnover). `releaseRemoved` = false when the
    * owning context already stopped (its blocks died with the
    * executors; only the JVM references need dropping — matching parked
    * references are dropped without a release for the same reason).
    */
  def removeIf(p: K => Boolean, releaseRemoved: Boolean): Unit = {
    var removed = List.empty[V]
    synchronized {
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey)) {
          if (releaseRemoved) removed ::= e.getValue
          it.remove()
        }
      }
      // parked values are keyed, so this removal matches them EXACTLY:
      // a session-end call releases its own parked frames (previously
      // they stayed pinned until an unrelated future turnover) and a
      // stopped-context sweep drops their references without a release
      // (the blocks died with the executors) — other sessions' parked
      // cushion is untouched either way
      val (hit, kept) = deferred.partition(e => p(e._1))
      deferred = kept
      if (releaseRemoved) removed = removed ++ hit.map(_._2)
    }
    removed.foreach(release)
  }
}
