package graft.sql

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL shims over Spark's own runtime-filter Bloom expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the machinery
  * behind `spark.sql.optimizer.runtime.bloomFilter.enabled`), exposed
  * as session functions so queries can build and probe Bloom filters
  * explicitly.
  *
  * Why this matters at 100 TB: an exact "is this key in the reference
  * set" broadcast needs the full distinct key set on every executor.
  * A Bloom filter at ~8 bits/key is two orders of magnitude smaller
  * and has NO false negatives, so the scale pattern is
  *
  *   1. `bloom_agg(xxhash64(key), n, bits)` over the (small) reference
  *      side — one distributed aggregate, a few-KB binary blob out;
  *   2. `bloom_might(<scalar subquery>, xxhash64(key))` as a map-side
  *      pre-filter on the (huge) probe side — drops the overwhelming
  *      majority of rows at the scan, before any join/shuffle;
  *   3. an exact join on the tiny surviving fraction to remove the
  *      Bloom's false positives.
  *
  * The final result is exactly the exact-join result (no false
  * negatives + exact confirm), so Bloom-accelerated queries stay
  * hash-identical to their exact oracles. Both expressions operate on
  * `xxhash64` of the key (LongType), keeping the aggregate and the
  * probe codegen-friendly; `bloom_might`'s Bloom argument must be a
  * constant or scalar subquery (Spark's own analysis rule), which is
  * exactly the build/probe split the pattern wants.
  *
  * The reference engine has no Bloom machinery at all (its
  * decontamination story is absent); this is part of the
  * beyond-reference pipeline surface.
  */
object BloomFns {

  /** `bloom_agg(hash, estimatedNumItems, numBits)` — aggregate a
    * LongType hash column into a serialized Bloom filter (BinaryType).
    */
  val buildAgg: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 3,
      s"bloom_agg(hash, estimatedNumItems, numBits) takes 3 args, got ${exprs.length}")
    new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
  }

  /** `bloom_might(bloom, hash)` — membership probe; `bloom` must be a
    * constant or scalar subquery, `hash` the same `xxhash64` used at
    * build time.
    */
  val buildMight: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"bloom_might(bloom, hash) takes 2 args, got ${exprs.length}")
    BloomFilterMightContain(exprs(0), exprs(1))
  }
}
