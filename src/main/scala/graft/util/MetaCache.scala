package graft.util

import com.google.common.cache.{Cache, CacheBuilder}
import org.apache.spark.sql.SparkSession

/** The one in-JVM memo for index metadata: open Searchers, per-Searcher
  * term stats and touched-segment sets, IVF lists, PQ codebooks and the PQ
  * completeness gate (≙ the reference's lazy posting handles plus their
  * release, block.rs:283-292, :227-229). An entry is served only at the
  * stamp it was loaded at; a new stamp reloads and replaces it, so a key
  * holds one entry. At most [[MetaCache.MaxEntries]] entries, least
  * recently used evicted first (one Guava segment, so recency is global).
  * Thread-safe; concurrent misses on one key may both load (the later put
  * wins), and no lock is held across a load, which may be a Spark job.
  */
final class MetaCache[K <: AnyRef, S, V] {
  private val entries: Cache[K, MetaCache.Entry[S, V]] =
    CacheBuilder.newBuilder().concurrencyLevel(1)
      .maximumSize(MetaCache.MaxEntries).build[K, MetaCache.Entry[S, V]]()

  /** `key`'s value if it was loaded at `stamp`. */
  def peek(key: K, stamp: S): Option[V] = {
    val e = entries.getIfPresent(key)
    if (e != null && e.stamp == stamp) Some(e.value) else None
  }

  /** Memoize `value` as `key`'s one entry, loaded at `stamp`. */
  def put(key: K, stamp: S, value: V): Unit =
    entries.put(key, MetaCache.Entry(stamp, value))

  /** `key`'s value at `stamp`, loading and memoizing it on a miss. */
  def get(key: K, stamp: S)(load: => V): V =
    peek(key, stamp).getOrElse { val v = load; put(key, stamp, v); v }

  /** Drop every entry matching `p` (explicit release). */
  def removeWhere(p: (K, V) => Boolean): Unit =
    entries.asMap().entrySet().removeIf(e => p(e.getKey, e.getValue.value))

  private[graft] def size: Long = entries.size()
}

object MetaCache {
  private final case class Entry[S, V](stamp: S, value: V)

  /** Entries per instance. The benchmark workloads' largest memo holds ~75
    * (term stats between `search_live` reopens), so this never evicts
    * there. Worst case per instance: term stats ~0.2 MB (~200 B/entry),
    * touched-segment sets ~48 MB (≤ 4096 segIds + waves, ≤ 48 KB/entry).
    */
  val MaxEntries = 1024

  /** Stamp of a sidecar/layout path: file names + lengths + mtimes, from
    * a driver-side FS listing (no Spark job); a rewrite changes it.
    */
  def pathSig(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else fs.listStatus(p).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
  }
}
