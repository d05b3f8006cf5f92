package graft

import graft.util.DriverTier

/** The driver-tier gate's decision table, called directly: the default
  * budget's boundaries reproduce the per-family gates it replaced, a zero
  * budget forces every distributed tier, and no setting lifts the budget
  * past the heap ceiling. */
class DriverTierSpec extends SparkSpec {

  private val default = DriverTier.budget(DriverTier.DefaultMaxBytes)

  test("default budget: ≤ 4M nodes with max id < 8M for the dense-id graph tiers") {
    assert(default === 64000000L)
    assert(DriverTier.denseGraph(default, 4000000L, 0L))
    assert(!DriverTier.denseGraph(default, 4000001L, 0L))
    assert(DriverTier.denseGraph(default, 1L, 7999999L))
    assert(!DriverTier.denseGraph(default, 1L, 8000000L))
    assert(DriverTier.denseGraph(default, 4000000L, 7999999L))
    // an empty graph (max id -1) has nothing to collect
    assert(!DriverTier.denseGraph(default, 0L, -1L))
  }

  test("default budget: ≤ 210,526 edges with ids in [0, 2^31) for components") {
    // 64M over the 304 B a star alternation keeps live per edge
    assert(DriverTier.EdgeBytes === 304L)
    assert(DriverTier.edgeList(default, 210526L, 0L, 0L))
    assert(!DriverTier.edgeList(default, 210527L, 0L, 0L))
    assert(DriverTier.edgeList(default, 1L, 0L, (1L << 31) - 1))
    assert(!DriverTier.edgeList(default, 1L, 0L, 1L << 31))
    assert(!DriverTier.edgeList(default, 1L, -1L, 0L))
    assert(DriverTier.edgeList(default, 0L, 0L, -1L))
  }

  test("maxBytes=0 (or below) forces every distributed tier") {
    Seq(0L, -1L, Long.MinValue).foreach { b =>
      val budget = DriverTier.budget(b)
      assert(budget === 0L)
      assert(!DriverTier.denseGraph(budget, 1L, 0L))
      assert(!DriverTier.edgeList(budget, 0L, 0L, 0L))
    }
  }

  test("maxBytes=Long.MaxValue still refuses a footprint above the heap ceiling") {
    val budget = DriverTier.budget(Long.MaxValue)
    assert(budget === DriverTier.ceiling)
    assert(DriverTier.ceiling === Runtime.getRuntime.maxMemory / 8)
    // a 1e9-edge bound would keep ~304 GB live in a star alternation
    assert(!DriverTier.edgeList(budget, 1000000000L, 0L, 1L))
    val edges = DriverTier.ceiling / DriverTier.EdgeBytes
    assert(DriverTier.edgeList(budget, edges, 0L, 1L))
    assert(!DriverTier.edgeList(budget, edges + 1, 0L, 1L))
    val nodes = DriverTier.ceiling / DriverTier.NodeBytes
    assert(DriverTier.denseGraph(budget, nodes, 0L))
    assert(!DriverTier.denseGraph(budget, nodes + 1, 0L))
    val slots = DriverTier.ceiling / DriverTier.SlotBytes
    assert(DriverTier.denseGraph(budget, 1L, slots - 1))
    assert(!DriverTier.denseGraph(budget, 1L, slots))
  }

  test("the session budget reads graft.driverTier.maxBytes and clamps it") {
    assert(DriverTier.budget(spark) === default)
    try {
      spark.conf.set(DriverTier.MaxBytesConf, "1000")
      assert(DriverTier.budget(spark) === 1000L)
      spark.conf.set(DriverTier.MaxBytesConf, Long.MaxValue.toString)
      assert(DriverTier.budget(spark) === DriverTier.ceiling)
    } finally spark.conf.unset(DriverTier.MaxBytesConf)
  }

  test("default budget charges each dense-id family for the arrays it keeps live") {
    // (family charge, first max id past the gate): 64M over 40, 32 and 24 B
    Seq(DriverTier.PageRankSlotBytes -> 1600000L, DriverTier.BfsSlotBytes -> 2000000L,
      DriverTier.KCoreSlotBytes -> 2000000L, DriverTier.LpaSlotBytes -> 2666666L)
      .foreach { case (charge, past) =>
        assert(DriverTier.denseGraph(default, 1L, past - 1, charge), charge)
        assert(!DriverTier.denseGraph(default, 1L, past, charge), charge)
        // the node charge is the same for every family
        assert(DriverTier.denseGraph(default, 4000000L, past - 1, charge), charge)
        assert(!DriverTier.denseGraph(default, 4000001L, past - 1, charge), charge)
        assert(!DriverTier.denseGraph(0L, 1L, 0L, charge), charge)
      }
    assert(DriverTier.PageRankSlotBytes === 40L && DriverTier.BfsSlotBytes === 32L &&
      DriverTier.KCoreSlotBytes === 32L && DriverTier.LpaSlotBytes === 24L)
  }
}
