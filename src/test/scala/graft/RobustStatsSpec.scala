package graft

import org.apache.spark.sql.functions._

/** Scala-side differentials for the round-12 robust-stats / eval batch
  * (q322-q328): each query's doctrine is re-derived brute-force on the
  * sf0.001 fixture and compared value-for-value — the in-JVM twin of the
  * DuckDB gate, pinning the pieces SQL can't see (constant provenance,
  * selection-rule equivalence, internal consistency of emitted ranks).
  */
class RobustStatsSpec extends SparkSpec {

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sf).collect()

  test("Benford expected-ppm literals equal floor(1e6*log10(1+1/d))") {
    ops.Analytics.benfordExpected.foreach { case (d, p) =>
      assert(p === math.floor(1e6 * math.log10(1.0 + 1.0 / d)).toLong, s"digit $d")
    }
    assert(ops.Analytics.benfordExpected.map(_._2).sum === 999995L) // ~1e6 less floor dust
  }

  test("q324 histogram-selection median/MAD equals the sorted-order statistic") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), floor(col("value") * 100).cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val expected = ev.groupBy(_._1).map { case (et, rows) =>
      val vs = rows.map(_._2)
      val med = lowerMedian(vs)
      val mad = lowerMedian(vs.map(v => math.abs(v - med)))
      val out = vs.count(v => math.abs(v - med) > 3 * mad)
      et -> ((vs.size.toLong, med, mad, out.toLong,
        1000000L * out / vs.size))
    }
    val got = run("q324_mad_outliers").map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got === expected)
  }

  test("q326 round-1 label census equals brute-force neighbor-mode labels") {
    val ps = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_partkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = ps ++ ps.map { case (u, v) => (v, u) }     // both directions
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // init label = id; round 1: most frequent neighbor label, min on ties
    val l1 = nbrs.map { case (u, ns) =>
      val byLab = ns.groupBy(identity).view.mapValues(_.size)
      u -> byLab.toSeq.minBy { case (lab, c) => (-c, lab) }._1
    }
    val expected = (l1.values.toSet.size.toLong,
      l1.values.map(BigInt(_)).sum,
      l1.values.groupBy(identity).values.map(_.size).max.toLong)
    val rows = run("q326_label_propagation")
    val r1 = rows.find(_.getInt(0) == 1).get
    assert((r1.getLong(1), BigInt(r1.getLong(2)), r1.getLong(3)) === expected)
    // round 0 is the identity labeling
    val r0 = rows.find(_.getInt(0) == 0).get
    assert(r0.getLong(1) === nbrs.size.toLong)
    assert(r0.getLong(3) === 1L)
  }

  test("q327 kappa equals the direct po/pe formula (and 1.0 for a rater vs itself)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("n_chars"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val cells = docs.map { case (nc, text) =>
      val ra = if (nc >= 300) 1 else 0
      val rb = if (text.split("\\s+").count(_.nonEmpty) >= 55) 1 else 0
      (ra, rb)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap.withDefaultValue(0L)
    val (n00, n01, n10, n11) =
      (cells((0, 0)), cells((0, 1)), cells((1, 0)), cells((1, 1)))
    val n = BigInt(n00 + n01 + n10 + n11)
    val diag = BigInt(n00 + n11)
    val marg = BigInt(n00 + n01) * BigInt(n00 + n10) +
      BigInt(n10 + n11) * BigInt(n01 + n11)
    val kappa = (BigInt(1000000) * (n * diag - marg)) / (n * n - marg)
    val r = run("q327_rater_agreement").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((n00, n01, n10, n11)))
    assert(BigInt(r.getLong(4)) === kappa)
    // degenerate sanity: a rater against itself has po = 1 => kappa = 1
    val same = (BigInt(1000000) * (n * n - marg)) / (n * n - marg)
    assert(same === BigInt(1000000))
  }

  test("q323 absent-token closed form equals the naive full-vocabulary TV") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cen = docs.flatMap { case (l, t) =>
      t.split("\\s+").filter(_.nonEmpty).map(tok => (l, tok))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val langs = cen.keys.map(_._1).toSeq.distinct.sorted
    val vocab = cen.keys.map(_._2).toSet
    val nl = langs.map(l => l -> cen.collect { case ((`l`, _), c) => c }.sum).toMap
    val ct = vocab.map(t => t -> cen.collect { case ((_, `t`), c) => c }.sum).toMap
    val nc = nl.values.sum
    val expected = langs.map { l =>
      // naive: sum |c_lt*Nc - Ct*Nl| over the FULL vocabulary incl. absents
      val num = vocab.toSeq.map { t =>
        val c = cen.getOrElse((l, t), 0L)
        (BigInt(c) * nc - BigInt(ct(t)) * nl(l)).abs
      }.sum
      l -> (BigInt(1000000) * num / (BigInt(2) * nl(l) * nc)).toLong
    }.toMap
    val got = run("q323_tv_distance").map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("q328 emitted ranks are internally consistent with the fused score") {
    val rows = run("q328_rrf_fusion")
    assert(rows.nonEmpty)
    def pts(r: Long): Long = if (r == 0L) 0L else 1000000L / (60L + r)
    rows.foreach { r =>
      val (ra, rb, s) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ra >= 0 && ra <= 64 && rb >= 0 && rb <= 64)
      assert(ra > 0 || rb > 0)                  // at least one list placed it
      assert(s === pts(ra) + pts(rb), s"doc ${r.getLong(0)}")
    }
    // sorted by fused score desc, id asc — the emitted order is total
    val keys = rows.map(r => (-r.getLong(3), r.getLong(0))).toSeq
    assert(keys === keys.sorted)
  }

  test("q329 census-rank AUC equals the brute-force tie-corrected Mann-Whitney") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    // per-row quantize exactly as the query: floor(1e6 * e_i / ||e||)
    val q = rows.map { case (lab, e) =>
      val nrm = math.sqrt(e.map(x => x.toDouble * x.toDouble).sum)
      (lab, e.map(x => math.floor(1e6 * (if (nrm == 0) 0.0 else x / nrm)).toLong))
    }
    val dim = q.head._2.length
    val cen = (0 until dim).map(i => q.filter(_._1 == 2).map(_._2(i)).sum)
    val n1 = q.count(_._1 == 2).toLong
    val scores = q.map { case (lab, v) =>
      val raw = (0 until dim).map(i => BigInt(v(i)) * cen(i)).sum
      (lab == 2, ((raw + BigInt(n1) * BigInt("100000000000000"))
        / (BigInt(n1) * 1000000)).toLong)
    }
    // tie-corrected average ranks, brute force
    val sorted = scores.sortBy(_._2)
    val rankOf = sorted.map(_._2).zipWithIndex.groupBy(_._1).view
      .mapValues(g => g.map(_._2 + 1).sum.toDouble / g.size).toMap
    val r1 = scores.filter(_._1).map(s => rankOf(s._2)).sum
    val n0 = scores.count(!_._1).toLong
    val auc = BigInt((2 * r1).round) - BigInt(n1) * (n1 + 1)
    val expected = (BigInt(1000000) * auc / (BigInt(2) * n1 * n0)).toLong
    val got = run("q329_auc_ranking").head
    assert(got.getLong(0) === n1)
    assert(got.getLong(1) === n0)
    assert(got.getLong(2) === expected)
  }

  test("q330 df census equals brute-force cross-doc 4-gram spread") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text")).collect().map(_.getString(0))
    val df = docs.flatMap { t =>
      val toks = t.split("\\s+").filter(_.nonEmpty)
      toks.sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = df.toSeq.filter(_._2 >= 3)
      .sortBy { case (g, d) => (-d, g) }.take(20)
    val got = run("q330_boilerplate_ngrams")
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expected)
    got.foreach { case (_, d) => assert(d >= 3) }
  }

  test("q331 funnel stages are monotone and account for every document") {
    val rows = run("q331_quality_funnel").sortBy(_.getInt(0))
    assert(rows.length === 5)
    val surv = rows.map(_.getLong(2))
    val drop = rows.map(_.getLong(3))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a }, "monotone")
    assert(drop.head === 0L)
    assert(drop.sum + surv.last === surv.head, "drops + final = input")
    assert(surv.last > 0, "funnel must not kill the whole corpus")
  }

  test("q332 repetition stats equal the brute-force per-language census") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val rep = docs.map { case (l, t) =>
      val toks = t.split("\\s+").filter(_.nonEmpty)
      val total = math.max(toks.length - 2, 1)
      val distinct =
        toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet.size
      val grams = if (toks.length >= 3) distinct.toLong else 0L
      (l, 1000000L * grams / total)
    }
    val expected = rep.groupBy(_._1).view.mapValues { g =>
      val v = g.map(_._2)
      (g.size.toLong, v.sum / g.size, v.min, v.max)
    }.toMap
    val got = run("q332_repetition_score").map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got === expected)
  }

  test("q333 modularity equals brute-force Q over 3 brute-force LPA rounds") {
    val ps = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_partkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = ps ++ ps.map { case (u, v) => (v, u) }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labs: Map[Long, Long] = nbrs.keys.map(u => u -> u).toMap
    for (_ <- 1 to 3) {
      labs = nbrs.map { case (u, ns) =>
        u -> ns.map(labs).groupBy(identity).view.mapValues(_.size)
          .toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val m = BigInt(edges.length / 2)
    val sic = BigInt(edges.count { case (u, v) => labs(u) == labs(v) })
    val deg = nbrs.view.mapValues(_.size.toLong).toMap
    val sd2 = labs.groupBy(_._2).values
      .map(c => { val d = BigInt(c.keys.iterator.map(deg).sum); d * d }).sum
    val num = BigInt(2) * m * sic - sd2
    val den = BigInt(4) * m * m
    val expected = ((BigInt(1000000) * num + BigInt(1000000) * den) / den
      - BigInt(1000000)).toLong
    val r = run("q333_lpa_modularity").head
    assert(r.getLong(1) === m.toLong)
    assert(r.getLong(2) === expected)
    assert(r.getLong(2) <= 1000000L, "Q <= 1 by definition")
  }

  test("q334 assortativity equals the brute-force integer Pearson") {
    val ps = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_partkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = ps ++ ps.map { case (u, v) => (v, u) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xs = edges.map { case (u, v) => (BigInt(deg(u)), BigInt(deg(v))) }
    val n = BigInt(xs.length)
    val sx = xs.map(_._1).sum
    val sxx = xs.map(p => p._1 * p._1).sum
    val sxy = xs.map(p => p._1 * p._2).sum
    val num = n * sxy - sx * sx
    val den = n * sxx - sx * sx
    val expected = ((BigInt(1000000) * num + BigInt(1000000) * den) / den
      - BigInt(1000000)).toLong
    val r = run("q334_degree_assortativity").head
    assert(r.getLong(0) === n.toLong)
    assert(r.getLong(1) === expected)
    // this bipartite hub-and-spoke graph must be disassortative
    assert(r.getLong(1) < 0L, "part-supplier graph should be disassortative")
  }

  test("q335 projected-graph Q equals brute force and beats the bipartite Q") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val und = li.groupBy(_._1).values.flatMap { g =>
      val parts = g.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- i + 1 until parts.length)
        yield (parts(i), parts(j))
    }.toSet
    val edges = und.toSeq ++ und.toSeq.map { case (u, v) => (v, u) }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labs: Map[Long, Long] = nbrs.keys.map(u => u -> u).toMap
    for (_ <- 1 to 3) {
      labs = nbrs.map { case (u, ns) =>
        u -> ns.map(labs).groupBy(identity).view.mapValues(_.size)
          .toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val m = BigInt(edges.length / 2)
    val sic = BigInt(edges.count { case (u, v) => labs(u) == labs(v) })
    val deg = nbrs.view.mapValues(_.size.toLong).toMap
    val sd2 = labs.groupBy(_._2).values
      .map(c => { val dd = BigInt(c.keys.iterator.map(deg).sum); dd * dd }).sum
    val num = BigInt(2) * m * sic - sd2
    val den = BigInt(4) * m * m
    val qExp = ((BigInt(1000000) * num + BigInt(1000000) * den) / den
      - BigInt(1000000)).toLong
    val r = run("q335_projected_community_quality").head
    assert(r.getLong(0) === nbrs.size.toLong)
    assert(r.getLong(1) === m.toLong)
    assert(r.getLong(4) === qExp)
    // the remediation arc: projecting must improve on the bipartite Q
    val bip = run("q333_lpa_modularity").head
    assert(r.getLong(4) > bip.getLong(2), "projected Q must beat bipartite Q")
  }

  test("q338 NDCG discount literals equal floor(1e9/log2(i+1))") {
    ops.Similarity.NdcgWeights.foreach { case (i, w) =>
      assert(w === math.floor(1e9 / (math.log(i + 1.0) / math.log(2.0))).toLong,
        s"rank $i")
    }
    // strictly decreasing — a mis-ordered literal would silently mis-rank
    val ws = ops.Similarity.NdcgWeights.map(_._2)
    assert(ws.zip(ws.tail).forall { case (a, b) => b < a })
  }

  test("q336/q337/q338 eval suite is internally consistent with q329's frame") {
    val auc = run("q329_auc_ranking").head
    val (n1, n0) = (auc.getLong(0), auc.getLong(1))
    // calibration bins conserve the population and the positives
    val bins = run("q336_calibration_bins")
    assert(bins.map(_.getLong(1)).sum === n1 + n0)
    assert(bins.map(_.getLong(2)).sum === n1)
    bins.foreach { b =>
      assert(b.getLong(0) >= 0 && b.getLong(0) <= 9)
      assert(b.getLong(3) === 1000000L * b.getLong(2) / b.getLong(1))
    }
    // P@k: hits monotone in k, recall = hits/n1, precision = hits/k
    val pk = run("q337_precision_at_k").sortBy(_.getInt(0))
    val hits = pk.map(_.getLong(1))
    assert(hits.zip(hits.tail).forall { case (a, b) => b >= a })
    pk.foreach { r =>
      assert(r.getLong(2) === 1000000L * r.getLong(1) / r.getInt(0))
      assert(r.getLong(3) === 1000000L * r.getLong(1) / n1)
    }
    // NDCG: bounded by [0, 1e6], idcg = sum of first min(10, n1) weights
    val nd = run("q338_ndcg_at_10").head
    assert(nd.getLong(0) === n1)
    val idcgExp = ops.Similarity.NdcgWeights.take(math.min(10L, n1).toInt)
      .map(_._2).sum
    assert(nd.getLong(2) === idcgExp)
    assert(nd.getLong(3) >= 0L && nd.getLong(3) <= 1000000L)
    // and a ranking with AUC 0.78 must beat chance precision at k=10
    val p10 = pk.head
    assert(1000000L * p10.getLong(1) / 10 > 1000000L * n1 / (n1 + n0),
      "P@10 should beat the base rate for an above-chance ranker")
  }

  test("q339 star-contraction labels equal a union-find reference node-for-node") {
    // the FULL label frame, not just the size histogram the gate compares —
    // every node, same component minimum as an independent union-find
    import spark.implicits._
    val nodes = Tables.documents(spark, sf).select(col("doc_id").as("node"))
    val edges = graft.ops.PipelineOps.lshEdges(spark, sf)
    val star = graft.ops.PipelineOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toSeq.sorted
    val ids = nodes.as[Long].collect().toSeq
    val ref = ComponentsProperties.unionFind(ids, edges.as[(Long, Long)].collect().toSeq)
    assert(star === ids.map(n => n -> ref(n)).sorted)
    // and on a pure PATH graph — min-label propagation's worst case
    // (diameter rounds), star contraction's showcase — plus an isolated
    // node and a triangle
    val pathEdges = ((0L until 19L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (102L, 100L))).toDF("src", "dst")
    val pathNodes = ((0L to 19L) ++ Seq(100L, 101L, 102L, 500L)).toDF("node")
    val got = graft.ops.PipelineOps
      .connectedComponents(pathNodes, pathEdges)
      .as[(Long, Long)].collect().toMap
    assert((0L to 19L).forall(got(_) == 0L))
    assert(Seq(100L, 101L, 102L).forall(got(_) == 100L))
    assert(got(500L) === 500L)
  }

  test("q322 residual column certifies the redacted text is clean") {
    val rows = run("q322_pii_redaction")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) === 0L, s"segment ${r.getString(0)} not clean")
      assert(r.getLong(2) === r.getLong(1), "one synthesized e-mail per doc")
      assert(r.getLong(3) === r.getLong(1), "one synthesized phone per doc")
    }
  }
}
