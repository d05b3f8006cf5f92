package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType

/** Primitive collect for the graph array tiers (guide §5 — the driver
  * should do almost no data work, and what it does must not allocate 10×
  * the payload in boxing overhead).
  *
  * `df.collect()` on a two-long-column frame materializes one GenericRow
  * + two boxed Longs per element — ~10× the 16 payload bytes, which at the
  * 4M-node array-tier gate is hundreds of MB of transient driver garbage
  * PER ROUND (the r19 verdict's gate-justification mismatch: the "64 MB of
  * longs" budget ignored Row overhead). Here each executor task packs its
  * partition into one primitive `Array[Long]` (pairs interleaved), so the
  * driver receives a handful of flat arrays totalling exactly 16 bytes per
  * element and never sees a Row object.
  */
object DriverCollect {

  /** Each partition of a two-LONG-column frame as one interleaved
    * primitive array `[k0, v0, k1, v1, …]`. Columns must be non-null
    * longs (every caller's frames are key/count aggregates by
    * construction); any other shape fails before the job runs, since
    * `getLong` on another type reads garbage instead of failing. */
  def longPairChunks(df: DataFrame): Array[Array[Long]] = {
    require(df.schema.fields.map(_.dataType).toSeq == Seq(LongType, LongType),
      s"longPairChunks needs exactly two bigint columns, got ${df.schema.simpleString}")
    df.queryExecution.toRdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect()
  }

  /** Apply `f(key, value)` to every row of a two-long-column frame,
    * driver-side, without boxing a Row per element. */
  def foreachLongPair(df: DataFrame)(f: (Long, Long) => Unit): Unit =
    longPairChunks(df).foreach { c =>
      var i = 0
      while (i < c.length) { f(c(i), c(i + 1)); i += 2 }
    }
}
