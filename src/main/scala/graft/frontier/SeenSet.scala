package graft.frontier

import org.apache.spark.util.sketch.BloomFilter

/**
 * A sharded bloom filter over 64-bit key digests, and [[SeenBloom.hash64]],
 * the one key digest the URL-seen set (SURVEY §2.3 J2 / §2.4 A8) and the
 * curation operators share.
 *
 * The crawl engine holds no `SeenBloom`: its seen filter is the per-bucket
 * [[SidecarBlooms]], built at seen compaction and probed executor-locally in
 * front of the exact anti-join, so no node ever holds the whole filter. This
 * class is the standalone in-memory shape of the same filter — keys reduced
 * to `hash64` BEFORE they touch it (`putLong`, not `putString`), split into
 * `shards` filters by the fold [[SidecarBlooms.shardOf]] uses. The extra
 * hash-collision probability (~n^2/2^64) is absorbed into the advertised fpp
 * and cannot cause false negatives.
 */
final class SeenBloom(val shards: Int, expectedPerShard: Long, fpp: Double) {
  private val filters: Array[BloomFilter] =
    Array.fill(shards)(BloomFilter.create(expectedPerShard, fpp))

  def put(key: String): Unit = {
    val h = SeenBloom.hash64(key)
    filters(SidecarBlooms.shardOf(h, shards)).putLong(h)
  }

  def mightContain(key: String): Boolean = {
    val h = SeenBloom.hash64(key)
    filters(SidecarBlooms.shardOf(h, shards)).mightContainLong(h)
  }
}

object SeenBloom {

  /** xxHash64 (seed 42) of the key's UTF-8 bytes — same digest everywhere a
    * key is hashed (sidecar build and probe, dedup and curation kernels). */
  def hash64(key: String): Long = {
    val b = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }
}
