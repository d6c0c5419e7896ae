package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Deterministic storage release between queries — scoped to GRAFT'S OWN
  * caches, so embedding the engine in a host application can never drop
  * the host's cached tables.
  *
  * Two cache classes exist in the engine and each has its own tagged
  * release path:
  *
  *   1. DataFrame-level `.cache()` (t11's fingerprint scan, t8's shingle
  *      set) — created through [[cached]], which registers the Dataset in
  *      a release queue; releaseAll unpersists exactly the queued
  *      datasets (NOT `catalog.clearCache()`, which would clear the whole
  *      session including host caches).
  *   2. RDD-level `.persist()` (Windows.withGlobalRowNumbers' sorted
  *      RDD) — created through [[persisted]], which names the RDD with
  *      the `graft:` prefix; releaseAll unpersists only
  *      prefix-matching entries of `SparkContext.getPersistentRDDs`.
  *
  * A query closure cannot release its own cache after the caller's action
  * (the action happens outside the closure), so long-lived sessions pin
  * one cache + lineage per invocation unless the HARNESS releases between
  * queries. SparkEntry.sweep, the walk Verify and Bench share, calls
  * this after every query; a library user embedding graft in a service
  * should do the same at their request boundary. Safe to call at any point where no graft query is
  * mid-action: every declared query re-derives its caches from source
  * data, and the sim3 IVF index is deliberately session-free (collected
  * rows, not a cached DataFrame — ops/Similarity.scala) so it survives
  * this call by construction. The one self-managed short-lived cache,
  * kmeansCentroids' vector persist, releases itself in `finally` and
  * never enters these registries.
  */
object Caches {
  private val Tag = "graft:"
  private val cachedDatasets =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Cache `ds` under graft's release scope: cached now, unpersisted at
    * the next [[releaseAll]].
    */
  def cached[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache()
    cachedDatasets.add(ds)
    ds
  }

  /** Persist `rdd` under graft's release scope, tagged by name so
    * [[releaseAll]] can tell it from host-application RDDs.
    */
  def persisted[T](rdd: RDD[T], level: StorageLevel, name: String): RDD[T] = {
    rdd.setName(Tag + name)
    rdd.persist(level)
  }

  def releaseAll(spark: SparkSession): Unit = {
    var ds = cachedDatasets.poll()
    while (ds != null) {
      // a queued dataset may belong to an already-stopped session (test
      // harnesses cycle sessions); draining must not abort on it
      try ds.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => }
      ds = cachedDatasets.poll()
    }
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => Option(r.name).exists(_.startsWith(Tag)))
      .foreach(_.unpersist(blocking = false))
  }

  /** True when nothing is held in block-manager storage — the post-sweep
    * invariant the test suite pins (storage returns to zero after a full
    * declared-query sweep + releaseAll). Deliberately UNSCOPED: in the
    * engine's own harnesses nothing but graft runs, so any leftover
    * block is a graft leak regardless of tagging.
    */
  def storageEmpty(spark: SparkSession): Boolean =
    spark.sparkContext.getPersistentRDDs.isEmpty &&
      !spark.sparkContext.getRDDStorageInfo.exists(_.isCached)
}
