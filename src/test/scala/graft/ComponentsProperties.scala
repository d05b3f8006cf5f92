package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.ops.PipelineOps
import graft.util.DriverTier

/** [[PipelineOps.connectedComponents]] against a union-find reference, in
  * both tiers: at the default budget (the driver tier, unless an id is
  * past the 2³¹ encode bound) and at `graft.driverTier.maxBytes=0` (the
  * distributed alternations). The random graphs mix long paths, stars and
  * random pairs over ids on both sides of 2³¹, with self-loops, duplicated
  * edges, edges given in one direction only, and endpoints outside
  * `nodes`: those join components but must not appear in the output. */
object ComponentsProperties extends Properties("graft.components") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  private lazy val spark = SparkSpec.session

  /** Each id of `nodes` with the least id of its component, components
    * taken over `nodes` and every edge endpoint. */
  def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      parent(x) = r
      r
    }
    // the smaller root wins, so every root is its set's least id
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private val Bound = 1L << 31
  private val small = Gen.choose(0L, 120L)
  /** A graph's id distribution: small ids only, some just below 2³¹
    * (still the driver tier's), or some on both sides of it (the gate
    * sends those graphs to the distributed tier at any budget). */
  private val ids: Gen[Gen[Long]] = Gen.oneOf(Seq(small,
    Gen.frequency(3 -> small, 1 -> Gen.choose(Bound - 4, Bound - 1)),
    Gen.frequency(3 -> small, 1 -> Gen.choose(Bound - 3, Bound + 3))))

  /** A path through `nodes` in a random order, a star on a random
    * center, or random pairs over `pool`. */
  private def shape(nodes: Seq[Long], pool: Seq[Long]): Gen[Seq[(Long, Long)]] =
    Gen.oneOf(
      Gen.listOfN(nodes.size, Gen.choose(0, Int.MaxValue)).map { keys =>
        val order = nodes.zip(keys).sortBy(_._2).map(_._1)
        order.zip(order.drop(1))
      },
      Gen.oneOf(nodes).map(c => nodes.filter(_ != c).map(c -> _)),
      Gen.choose(0, 30).flatMap(Gen.listOfN(_, Gen.zip(Gen.oneOf(pool), Gen.oneOf(pool)))))

  /** Every edge as given, reversed, both ways, or twice. */
  private def orient(edges: Seq[(Long, Long)]): Gen[Seq[(Long, Long)]] =
    Gen.sequence[List[Seq[(Long, Long)]], Seq[(Long, Long)]](edges.map { case (a, b) =>
      Gen.oneOf(Seq(a -> b), Seq(b -> a), Seq(a -> b, b -> a), Seq(a -> b, a -> b))
    }).map(_.flatten)

  private val graphs: Gen[(Seq[Long], Seq[(Long, Long)])] = for {
    id <- ids
    nodes <- Gen.choose(1, 40).flatMap(Gen.listOfN(_, id)).map(_.distinct)
    outside <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, id))
    pool = nodes ++ outside
    edges <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, shape(nodes, pool))).map(_.flatten)
    directed <- orient(edges)
    loops <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf(pool)))
  } yield (nodes, directed ++ loops.map(x => x -> x))

  /** `connectedComponents`' rows with `maxBytes` set, if given. */
  private def labels(nodes: Seq[Long], edges: Seq[(Long, Long)],
                     maxBytes: Option[Long]): Seq[(Long, Long)] = {
    val s = spark
    import s.implicits._
    maxBytes.foreach(b => s.conf.set(DriverTier.MaxBytesConf, b.toString))
    try PipelineOps.connectedComponents(nodes.toDF("node"), edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toSeq.sorted
    finally s.conf.unset(DriverTier.MaxBytesConf)
  }

  property("connectedComponents == union-find in both tiers") =
    forAllNoShrink(graphs) { case (nodes, edges) =>
      val ref = unionFind(nodes, edges)
      val want = nodes.map(n => n -> ref(n)).sorted
      val driver = labels(nodes, edges, None)
      val distributed = labels(nodes, edges, Some(0L))
      ((driver == want) :| s"default budget: $driver != $want") &&
        ((distributed == want) :| s"maxBytes=0: $distributed != $want")
    }
}
