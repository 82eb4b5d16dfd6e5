package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Bounded store of persisted DataFrames derived from a dataset
  * directory — the shared idiom for "this frame is consumed by several
  * queries (or several subtrees of one query) and re-deriving it each
  * time would do strictly more work than the reference".
  *
  * Key: (session, dir, name), where `name` names the derivation (one
  * per builder, plus its parameter where it has one). Validity: an
  * entry holds while the files under `dir` keep the version it was
  * built over ([[graft.Tables.listing]]: path, length and mtime of every
  * file). Every call re-lists `dir`; a changed version unpersists every
  * frame of `dir` built over the old files, in any session, before the
  * new one is built — otherwise Spark's shared `CacheManager`, which
  * matches plans by the paths they read, would hand a fresh session the
  * old cached rows.
  *
  * MEMORY_AND_DISK: the store spills rather than OOMs; at cluster scale
  * this would be a written table (Delta/parquet), same semantics.
  * Results are bit-identical to the unpersisted plan (same plan, same
  * partitioning) — Verify hashes prove it.
  *
  * Insertion-ordered map so eviction is true FIFO (oldest entry first);
  * all map access is guarded by the map's own monitor, but the build +
  * persist happens OUTSIDE the lock — plan construction is expensive
  * and must not serialize unrelated builds, and a builder may read
  * another entry. Bounded at `maxFrames`; evicted frames are
  * unpersisted (non-blocking).
  */
private[graft] final class FrameStore(maxFrames: Int) {

  private type Key = (SparkSession, String, String)

  private val store = new java.util.LinkedHashMap[Key, (Tables.Listing, DataFrame)] {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Key, (Tables.Listing, DataFrame)]): Boolean =
      size > maxFrames && { e.getValue._2.unpersist(blocking = false); true }
  }

  def getOrBuild(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val version = Tables.listing(spark, dir)
    val key = (spark, dir, name)
    store.synchronized {
      store.entrySet().removeIf { e =>
        val stale = e.getKey._2 == dir && e.getValue._1 != version
        if (stale) e.getValue._2.unpersist(blocking = false)
        stale
      }
      Option(store.get(key))
    }.map(_._2).getOrElse {
      val built = build.persist(StorageLevel.MEMORY_AND_DISK)
      store.synchronized {
        Option(store.get(key)) match {
          case Some((`version`, race)) => // another thread won
            built.unpersist(blocking = false)
            race
          case _ =>
            store.put(key, (version, built))
            built
        }
      }
    }
  }
}

object FrameStore {

  /** The one engine-wide store every operator persists through. Its
    * bound holds every named frame of two datasets (21 names each: 17
    * builders, two minhash k values and two sign-LSH widths), so a JVM
    * alternating between two scale factors (tier-1 reads sf0.001 and
    * sf0.01) keeps both sets without evicting.
    */
  private[graft] val shared = new FrameStore(maxFrames = 42)
}

/** Small values derived from a dataset directory — row counts, cut
  * timestamps, staged copies — memoized per (dir, name) under the same
  * validity rule as [[FrameStore]]: a value holds while the files under
  * `dir` keep the version it was derived from, and the next read after
  * a change derives it again. Values depend on the files only, so one
  * entry serves every session. Each entry builds under its own
  * monitor, not the memo's, so one value is built once however many
  * threads ask, and a builder may read another entry.
  */
private[graft] object VersionedMemo {

  private final class Slot(var version: Option[Tables.Listing] = None, var value: Any = null)

  private val slots = new java.util.concurrent.ConcurrentHashMap[(String, String), Slot]()

  def apply[T](spark: SparkSession, dir: String, name: String)(build: => T): T = {
    val version = Some(Tables.listing(spark, dir))
    val slot = slots.computeIfAbsent((dir, name), _ => new Slot)
    slot.synchronized {
      if (slot.version != version) { slot.value = build; slot.version = version }
      slot.value.asInstanceOf[T]
    }
  }
}
