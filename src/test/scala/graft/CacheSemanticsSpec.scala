package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the CacheManager semantics the [[KeyedMemo]] discipline is
  * built on: a RENAME-ONLY projection (`df.toDF(names…)`) canonically
  * resolves to its child's cache entry — reads hit the cache without
  * a second `cache()` call (which would be a warned no-op), and an
  * `unpersist()` issued through the projection propagates to the
  * child's entry and actually frees it. Several memo computes
  * (cluster labels, star labels, incremental labels) return exactly
  * this shape over an internally cached+materialized frame; if a
  * Spark upgrade ever changed the canonical-match rule, this spec
  * fails first and the memos would need explicit re-caching. It also
  * pins that `Tables.scanUnits` never caches a failed probe, and that a
  * cold MinHash run pins one frame only.
  */
class CacheSemanticsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty

  test("a rename-only projection shares its child's cache entry") {
    val df = Seq((1, 2), (3, 4)).toDF("a", "b").cache()
    df.count()
    val renamed = df.toDF("x", "y")
    assert(cached(renamed),
      "rename-only projection did not resolve to the child's cache entry")
    df.unpersist()
    assert(!cached(df) && !cached(renamed))
  }

  test("unpersist through a rename-only projection frees the child's entry") {
    val df = Seq((5, 6)).toDF("a", "b").cache()
    df.count()
    val renamed = df.toDF("x", "y")
    renamed.unpersist()
    assert(!cached(df),
      "unpersist through the rename did not free the child's cache entry")
  }

  test("a non-rename projection (filter) does NOT share the cache entry") {
    // the boundary of the rule: settledStars' filter output needs its
    // own cache() + the inner frame's explicit unpersist — this test
    // documents why that site differs from the rename-only ones
    val df = Seq((1, 2), (3, 4)).toDF("a", "b").cache()
    df.count()
    val filtered = df.filter($"a" > 1)
    assert(!cached(filtered),
      "filtered projection unexpectedly matched the child's cache entry")
    df.unpersist()
  }

  test("a failed scan-unit probe is not cached: the next probe sees the real layout") {
    // Tables.scanUnits caches per path; its fallback for an unreadable
    // path must not be, or one transient error would disable the
    // scan fan-out for the rest of the JVM
    val path = java.nio.file.Files.createTempDirectory("graft-scan-units")
      .resolve("t.parquet").toString
    assert(Tables.scanUnits(spark, path, 4) == 4, "missing path: fallback answer")
    spark.range(10).repartition(2).write.parquet(path)
    assert(Tables.scanUnits(spark, path, 4) == 2,
      "the probe after the write must count the two files' row groups")
  }

  test("a cold dedup_minhash run persists exactly one frame: the hashed shingle sets") {
    // the hashed sets are the dedup family's root substrate; a MinHash
    // run signs and verifies from them alone, so no shingle-string bag,
    // rarity ranking or set aggregate may be pinned on its way
    graft.dedup.DedupOps.clearSubstrateCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("dedup_minhash")(spark, sfTiny)
      .write.format("noop").mode("overwrite").save()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"dedup_minhash pinned ${added.size} frames")
  }
}
