package graft.util

import org.apache.spark.sql.SparkSession

/**
 * Session-scoped memo: one value per (live session, key), where entries
 * for STOPPED sessions are purged on every access. Priced shared builds
 * go through [[SharedArtifact]]; plain instances hold values that are
 * not derived from a source table.
 *
 * Why both mechanisms: the outer map weak-keys the SparkSession OBJECT
 * so a new session can never be served a dead session's checkpoint
 * (an identity hash could collide), but weak keying alone cannot
 * reclaim anything here — the cached DataFrames strongly reference
 * their session, so the value would pin the weak key forever. The
 * explicit purge breaks that cycle. `isStopped` is injectable so a
 * spec can prove the eviction without stopping the shared test
 * session's one-per-JVM SparkContext.
 *
 * Locking: builds here run multi-second Spark jobs (the near-dup pair
 * table, the O(N²/2) exact-pair frames), so the instance-wide lock is
 * held ONLY for map bookkeeping — each (session, key) gets its own
 * slot and the build runs under that slot's monitor. Two callers of
 * the same key share one build; callers of different keys (or
 * sessions) never wait on each other. A build that throws leaves the
 * slot empty, so the next caller retries instead of caching a failure.
 */
class SessionCache[K, V](
    isStopped: SparkSession => Boolean = _.sparkContext.isStopped) {

  // @volatile: size/contains read slot values WITHOUT the slot monitor —
  // taking it while holding the cache lock would park the whole cache
  // behind any in-flight multi-second build, undoing the per-slot locking
  private final class Slot { @volatile var value: Option[V] = None }

  private val cache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[K, Slot]]()

  private def purgeStopped(): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) if (isStopped(it.next().getKey)) it.remove()
  }

  def getOrElseUpdate(s: SparkSession, key: K)(build: => V): V = {
    val slot = cache.synchronized {
      purgeStopped()
      var perSession = cache.get(s)
      if (perSession == null) {
        perSession = scala.collection.mutable.Map.empty
        cache.put(s, perSession)
      }
      perSession.getOrElseUpdate(key, new Slot)
    }
    slot.synchronized {
      slot.value match {
        case Some(v) => v
        case None =>
          val v = build
          slot.value = Some(v)
          v
      }
    }
  }

  /** The value built for (s, key), if any; never builds. */
  def get(s: SparkSession, key: K): Option[V] = cache.synchronized {
    purgeStopped()
    Option(cache.get(s)).flatMap(_.get(key)).flatMap(_.value)
  }

  /** Drop (s, key): the next lookup builds again. */
  def remove(s: SparkSession, key: K): Unit = cache.synchronized {
    Option(cache.get(s)).foreach(_.remove(key))
  }

  /** Live-session CACHED-VALUE count — spec observability only. Counts
    * only slots holding a built value: a build that threw leaves its
    * slot empty for retry, and an empty slot is bookkeeping, not a
    * cache entry (ADVICE r12 — the old map-size count drifted from the
    * pre-slot behavior where failed builds inserted nothing). Purges
    * stopped sessions first (same contract as every other access). */
  def size: Int = cache.synchronized {
    purgeStopped()
    val it = cache.entrySet().iterator()
    var n = 0
    while (it.hasNext) {
      n += it.next().getValue.valuesIterator.count(_.value.isDefined)
    }
    n
  }

  /** Whether any BUILT value is currently held for `s` — same
    * defined-slots-only contract as [[size]]. */
  def contains(s: SparkSession): Boolean = cache.synchronized {
    purgeStopped()
    Option(cache.get(s)).exists(_.valuesIterator.exists(_.value.isDefined))
  }
}

/**
 * A session-shared, priced artifact derived from source tables: an
 * exact-oracle frame, a verified pair table, a decoded media catalog,
 * a calibrated IVF geometry. Each is built once and reused by every
 * consumer query in the session. The contract, for every name:
 *
 *  - Keying: (name, key, and the [[graft.ml.IndexCache.sourceSignature]]
 *    of each path in `sources`). A table rewritten in place, same path
 *    and new content, therefore rebuilds instead of serving the old
 *    artifact. `sources` must name every table the build reads and
 *    `key` every other input that shapes the value; one name holds one
 *    value type. The signature is a driver-side listing plus a 64 KiB
 *    head CRC per local file (a listing only on a remote scheme), so a
 *    hit runs no Spark job.
 *  - Pricing: a build's wall time adds into [[SharedBuilds]] under
 *    `name`, which `graft.Bench` emits as `_shared_build:<name>`.
 *  - Eviction and failure: [[SessionCache]]'s. Entries die with their
 *    session, one key's racers share one build while other keys never
 *    wait, and a build that throws caches and prices nothing, so the
 *    next lookup retries. An entry superseded by a rewrite stays until
 *    its session stops.
 *
 * Nothing is pinned here: a DataFrame build checkpoints itself, once.
 */
object SharedArtifact {
  private val cache = new SessionCache[(String, Any, Seq[(String, String)]), Any]()

  def apply[V](spark: SparkSession, name: String, sources: Seq[String],
      key: Any)(build: => V): V = {
    val conf = spark.sparkContext.hadoopConfiguration
    val signed = sources.map(p => p -> graft.ml.IndexCache.sourceSignature(conf, p))
    cache.getOrElseUpdate(spark, (name, key, signed)) {
      val t0 = System.nanoTime()
      val v = build
      SharedBuilds.record(name, (System.nanoTime() - t0) / 1e9)
      v
    }.asInstanceOf[V]
  }
}

/**
 * Per-process ledger of SharedArtifact build costs: the shared artifacts
 * amortize one expensive build (near-dup pair table ~seconds, exact
 * top-k/pair frames) across every consumer query, which made those
 * costs invisible in per-query bench numbers — `dedup_near_minhash`
 * reads 0.06 s while its ~4 s pair-table build hides in warmup.
 * [[graft.Bench]] drains this ledger into `_shared_build:<name>`
 * entries so the sidecar sums to the true session cost.
 */
object SharedBuilds {
  private val timings =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  private[util] def record(name: String, sec: Double): Unit =
    timings.merge(name, sec, (a, b) => java.lang.Double.valueOf(a + b))

  /** Accumulated build seconds per cache name since the last [[reset]]. */
  def snapshot: Map[String, Double] = {
    val out = Map.newBuilder[String, Double]
    timings.forEach((k, v) => out += (k -> v.doubleValue))
    out.result()
  }

  def reset(): Unit = timings.clear()
}
