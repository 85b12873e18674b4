package graft

import org.apache.spark.storage.StorageLevel

/** `GraftSession.releaseCaches` is the one cache sweep the harness mains
  * run between queries: it must drop catalog caches and RDD-level blocks
  * alike, including the `localCheckpoint` blocks `clearCache` never sees. */
class ReleaseCachesSpec extends SparkSpec {

  test("releaseCaches drops persisted frames, persisted RDDs and localCheckpoint blocks") {
    import spark.implicits._
    val sc = spark.sparkContext
    val frame = (1 to 100).toDF("x").persist()
    assert(frame.count() === 100L)
    val rdd = sc.parallelize(1 to 100, 4).persist()
    assert(rdd.count() === 100L)
    val checkpointed = (1 to 100).toDF("x").repartition(4).localCheckpoint()
    assert(checkpointed.count() === 100L)
    val cached = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0).map(_.id).toSet
    assert(cached.contains(rdd.id))
    assert(frame.storageLevel != StorageLevel.NONE)
    assert(sc.getPersistentRDDs.size >= 3)

    GraftSession.releaseCaches(spark)

    assert(sc.getPersistentRDDs.isEmpty)
    assert(frame.storageLevel === StorageLevel.NONE)
    assert(rdd.getStorageLevel === StorageLevel.NONE)
    // the checkpoint's blocks are the frame's only copy: reading it again
    // fails once they are gone
    val e = intercept[Exception](checkpointed.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("Checkpoint block")), e)
    // persisted frames are still usable: they recompute from source
    assert(frame.count() === 100L)
  }
}
