package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Hand-rolled runtime filtering: build a Bloom filter over the small
  * side's join keys and prune the big side BEFORE its shuffle — the
  * manual form of Spark's InjectRuntimeFilter, for when the optimizer
  * doesn't inject one (non-equi follow-ups, reused filters across
  * several joins, or a pre-shuffle prune the user wants guaranteed).
  *
  * At 100 TB the point is shuffle volume: a selective dim (say 1% of
  * orders) lets the bloom drop ~99% of the fact side map-side, so the
  * join shuffles 1% of the bytes. The filter itself is a few MB for
  * millions of keys at 1% fpp, built with one aggregation on the
  * SMALL side and shipped to executors in the filter closure
  * (broadcast-sized by construction — never build one over the big
  * side).
  *
  * Correctness contract: a Bloom filter has NO false negatives — the
  * pruned join result is exactly the unpruned result (x_bloom_prune
  * proves it against the plain-join oracle); false positives only
  * cost extra rows that the exact join then drops. Bit-setting is
  * commutative, so the filter (and its false-positive set) is
  * deterministic for a given key set regardless of row order.
  *
  * The membership test is the codegen'd `graft_might_contain`
  * expression (GraftExpressions) probing the serialized sketch shipped
  * as a binary literal — it runs inside whole-stage codegen on the
  * big-side scan, BEFORE the shuffle it saves. (Spark exposes no
  * builtin `might_contain` to user code; rounds 5–7 used a Scala UDF
  * here — the engine's one per-row lambda, now closed.)
  */
object BloomPrune {

  /** Build a Bloom filter over a long key column (one pass over the
    * small side; treeAggregate under the hood — no driver bottleneck
    * beyond the sketch itself). */
  def keyFilter(small: DataFrame, keyCol: String,
                expectedKeys: Long, fpp: Double = 0.01): BloomFilter =
    small.stat.bloomFilter(keyCol, expectedKeys, fpp)

  /** Prune `big` to rows whose key might be in the filter. Nulls never
    * match (null → null under 3VL, so WHERE drops them — a null key
    * cannot equi-join, so dropping it is join-semantics-preserving). */
  def prune(big: DataFrame, keyCol: String, bf: BloomFilter): DataFrame = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    big.where(call_function("graft_might_contain", col(keyCol), lit(bos.toByteArray)))
  }

  /** Bloom-pruned equi-join: filter the big side with the small side's
    * key sketch, then join exactly. Result ≡ `big.join(small, key)` —
    * the pruning is plan-internal, like salting. */
  def prunedJoin(big: DataFrame, small: DataFrame, keyCol: String,
                 expectedKeys: Long, fpp: Double = 0.01): DataFrame = {
    val bf = keyFilter(small, keyCol, expectedKeys, fpp)
    prune(big, keyCol, bf).join(small, Seq(keyCol))
  }
}
