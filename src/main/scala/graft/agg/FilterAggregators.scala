package graft.agg

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import graft.filters.{GraftBloomFilter, GraftCuckooFilter}

/** A5 — fold a group's 64-bit url hashes into one serialized Bloom shard.
  * Typed Aggregator (public API): Spark keeps the buffer as a live object
  * inside ObjectHashAggregate and only kryo-serializes it across the
  * shuffle between partial and final aggregation — so the per-row cost is
  * k bit-sets, not a filter deserialization. */
class BloomShardAggregator(expectedKeys: Long, fpp: Double)
    extends Aggregator[Long, GraftBloomFilter, Array[Byte]] {
  override def zero: GraftBloomFilter = GraftBloomFilter.create(expectedKeys, fpp)
  override def reduce(b: GraftBloomFilter, key: Long): GraftBloomFilter = { b.put(key); b }
  override def merge(a: GraftBloomFilter, b: GraftBloomFilter): GraftBloomFilter = a.merge(b)
  override def finish(b: GraftBloomFilter): Array[Byte] = b.serialize()
  override def bufferEncoder: Encoder[GraftBloomFilter] = Encoders.kryo[GraftBloomFilter]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** A6 — cuckoo-shard build (deletable membership). Geometry is explicit
  * (bucket count) so delta shards always match the standing shard they
  * merge into, even after an overflow rebuild enlarged it. */
class CuckooShardAggregator(numBuckets: Int)
    extends Aggregator[Long, GraftCuckooFilter, Array[Byte]] {
  override def zero: GraftCuckooFilter = GraftCuckooFilter.createBuckets(numBuckets)
  override def reduce(b: GraftCuckooFilter, key: Long): GraftCuckooFilter = {
    require(b.insert(key), "cuckoo shard overflow — raise expectedKeys"); b
  }
  override def merge(a: GraftCuckooFilter, b: GraftCuckooFilter): GraftCuckooFilter = a.merge(b)
  override def finish(b: GraftCuckooFilter): Array[Byte] = b.serialize()
  override def bufferEncoder: Encoder[GraftCuckooFilter] = Encoders.kryo[GraftCuckooFilter]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object FilterAggregators {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.udaf

  /** Column form: `bloom_agg(expected, fpp)(col)` for groupBy().agg(...). */
  def bloom_agg(expectedKeys: Long, fpp: Double)(key: Column): Column =
    udaf(new BloomShardAggregator(expectedKeys, fpp), Encoders.scalaLong).apply(key)

  def cuckoo_agg_buckets(numBuckets: Int)(key: Column): Column =
    udaf(new CuckooShardAggregator(numBuckets), Encoders.scalaLong).apply(key)
}
