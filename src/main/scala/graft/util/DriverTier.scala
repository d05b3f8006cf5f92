package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max}

/** The one "driver or distributed" gate of the graph and components tiers.
  *
  * A driver tier collects a small graph to the driver and runs its rounds
  * there; past the gate the same rounds run as distributed Spark jobs. Each
  * family charges its driver footprint against ONE byte budget:
  *   - dense-id graph arrays (q130, q176, q310, LPA): [[NodeBytes]] per node
  *     AND, per id slot `0..maxId`, [[SlotBytes]] for each slot-sized long
  *     array the family keeps live at once, each within the budget;
  *   - component edge arrays (q83, q131, q149, q339): [[EdgeBytes]] per edge,
  *     ids inside the 31-bit `(a << 32) | b` encode domain.
  * The default budget, 64,000,000 bytes, admits ≤ 4M nodes with max id
  * < 1.6M (q130), < 2M (q176, q310) or < 2.67M (LPA), and ≤ 210,526 edges.
  * `graft.driverTier.maxBytes` may lower the budget (`0` forces every
  * distributed tier) but never raise it past [[ceiling]], an eighth of
  * the driver's max heap, so no setting can collect a graph the driver
  * cannot hold. */
object DriverTier {
  val MaxBytesConf = "graft.driverTier.maxBytes"
  val DefaultMaxBytes: Long = 64000000L

  /** One (node, value) long pair per node. */
  val NodeBytes: Long = 16L
  /** One long per dense-id slot: one array's charge. */
  val SlotBytes: Long = 8L
  /** q130's live arrays: `deg`, `rank`, `contrib`, `next`, and the
    * broadcast's serialized copy of `contrib`. */
  val PageRankSlotBytes: Long = 5 * SlotBytes
  /** q176's `deg`, `dist`, `next` and the broadcast copy of `dist`. */
  val BfsSlotBytes: Long = 4 * SlotBytes
  /** q310's `deg0`, `surv`, `degI` and then the next `surv` beside the old
    * one (the broadcast copy is destroyed before it). */
  val KCoreSlotBytes: Long = 4 * SlotBytes
  /** LPA's assignment in, the broadcast copy, and the assignment out. */
  val LpaSlotBytes: Long = 3 * SlotBytes
  /** The components tier's peak per input edge, inside one star
    * alternation, every local counted live until it returns. No array of
    * an alternation outgrows its input: large-star emits one edge per
    * edge, small-star one per large-star edge. An `ArrayBuilder.ofLong`
    * doubles, so its buffer holds ≤ 16 B per element, and `result()`
    * copies 8 B more:
    *   - the collected edges, which the caller still holds, and the
    *     alternation's input: 2 × 8 = 16 B;
    *   - four builders (large-star, small-star, and the sorted-distinct of
    *     each) with their copies: 4 × (16 + 8) = 96 B;
    *   - two `LongMap[Long]`s: the min neighbor of every endpoint (≤ 2 per
    *     edge) and the small-star center of every larger endpoint (≤ 1).
    *     An entry is a boxed value (16 B) and 2 to 4 slots of an 8 B key
    *     and a 4 B compressed reference (the map doubles past half full):
    *     ≤ 64 B, so 3 × 64 = 192 B.
    * 16 + 96 + 192 = 304 B. The label frame built after the last
    * alternation (one row per non-center node, ≤ 1 per edge) holds less. */
  val EdgeBytes: Long = 304L

  /** The hard ceiling: an eighth of the driver JVM's max heap. */
  def ceiling: Long = Runtime.getRuntime.maxMemory / 8

  /** `maxBytes` clamped to `[0, ceiling]`. */
  def budget(maxBytes: Long): Long = math.max(0L, math.min(maxBytes, ceiling))

  def budget(s: SparkSession): Long =
    budget(s.conf.getOption(MaxBytesConf).map(_.toLong).getOrElse(DefaultMaxBytes))

  /** `n` items at `charge` bytes each fit a positive budget. */
  private def fits(budget: Long, n: Long, charge: Long): Boolean =
    budget > 0L && n <= budget / charge

  /** A non-empty graph of `nodes` nodes with ids in `[0, maxId]` fits a
    * dense-array driver tier charging `slotBytes` per id slot. */
  def denseGraph(budget: Long, nodes: Long, maxId: Long,
                 slotBytes: Long = SlotBytes): Boolean =
    nodes > 0L && maxId >= 0L && fits(budget, nodes, NodeBytes) &&
      maxId < budget / slotBytes

  /** An edge list of `edges` edges with ids in `[minId, maxId]` fits the
    * components driver tier. */
  def edgeList(budget: Long, edges: Long, minId: Long, maxId: Long): Boolean =
    minId >= 0L && maxId < (1L << 31) && fits(budget, edges, EdgeBytes)

  /** The q130/q176/q310 sizing job over a node-keyed frame: one aggregate
    * yields `(nodes, maxId)` and whether [[denseGraph]] takes them at
    * `slotBytes`. */
  def sizeDenseGraph(nodes: DataFrame, id: String,
                     slotBytes: Long): (Long, Long, Boolean) = {
    val r = nodes.agg(count(lit(1)), coalesce(max(col(id)), lit(-1L))).head()
    val (n, maxId) = (r.getLong(0), r.getLong(1))
    (n, maxId, denseGraph(budget(nodes.sparkSession), n, maxId, slotBytes))
  }
}
