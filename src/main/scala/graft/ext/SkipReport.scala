package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** THE shared skip-report contract for capped detectors.
  *
  * Every blocked/bucketed pair generator in this engine drops hot
  * blocks from candidate generation (the Σ block² quadratic guard —
  * a viral doc cluster or degenerate band value must not dominate a
  * cluster-scale run). Dropping is the right scale call, but a dropped
  * block is a COVERAGE HOLE: pairs inside it are silently never
  * considered. This object makes the hole a queryable fact with one
  * invariant: the operator's keep-filter and its skip report both
  * derive from the SAME census DataFrame, so the two can never
  * disagree about which blocks were dropped — [[within]] and
  * [[skipped]] partition [[census]] exactly (SkipReportSpec pins the
  * partition on every family).
  *
  * Uniform report shape: the block's key columns (family-specific —
  * (band_id, band_hash) for MinHash, (band_id, band_val) for SimHash,
  * `fp` for winnow postings, `blk` for embedding blocks) plus
  * `block_n`, the block's member count. Consumers:
  *   - [[Dedup.minhashOversized]] / [[Dedup.simhashOversized]] /
  *     [[Dedup.winnowOversized]] / [[Dedup.crossCorpusOversized]]
  *   - [[Similarity.oversizedBlocks]]
  *
  * Scale shape: a census is one map-side-combinable groupBy over the
  * already-exploded detector input — strictly cheaper than the pair
  * generation it guards, and the report output is (number of hot
  * blocks)-sized, typically tiny.
  */
object SkipReport {

  /** Member count of the report shape — every family's skip report and
    * keep-filter size their blocks under this one name. */
  val CountCol = "block_n"

  /** Census of an exploded (row-per-member) frame by its block key:
    * one row per block, sized as [[CountCol]]. `extra` aggregates ride
    * the same groupBy — a pair generator that needs each block's
    * members (DedupIndex's grouped probe) collects them in the census
    * itself, so keep-filter and members come from one shuffle. */
  def census(exploded: DataFrame, keys: Seq[Column],
             extra: Column*): DataFrame =
    exploded.groupBy(keys: _*).agg(count(lit(1)).as(CountCol), extra: _*)

  /** The blocks a capped operator KEEPS (block_n ≤ cap) — the
    * keep-filter side of the partition. */
  def within(census: DataFrame, cap: Long): DataFrame =
    census.where(col(CountCol) <= cap)

  /** The blocks a capped operator SKIPS (block_n > cap) — the uniform
    * report: key columns + sizes of every coverage hole. */
  def skipped(census: DataFrame, cap: Long): DataFrame =
    census.where(col(CountCol) > cap)
}
