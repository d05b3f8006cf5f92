package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{sources => sqlf}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import SinkAggFixture._
import SinkPredicate.{False, Null, True}

/** The sink's one predicate evaluator ([[SinkPredicate]]) against Spark:
  * random trees of every shape it knows (`=`, `<=>`, `<`, `<=`, `>`, `>=`,
  * `IN`, `IS [NOT] NULL`, starts/ends-with, contains, `NOT`, `AND`, `OR`)
  * over random rows with null cells, empty strings, non-BMP characters and
  * strings whose UTF-16 and UTF-8 orders differ:
  *
  *   - a row's three-valued outcome is Spark's for the same `Column`, and
  *     the rows it matches are the rows `Dataset.filter` keeps;
  *   - a committed file's outcomes hold every outcome of its rows, so file
  *     skipping never drops a TRUE row, and a delete leaves exactly the
  *     rows Spark's filter does not keep;
  *   - a tree with an unsupported leaf anywhere is refused by delete,
  *     `canDeleteWhere` and REPLACE WHERE before any rewrite file exists. */
object SinkPredicateProperties extends Properties("graft.sources.sinkpredicate") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(50)

  private lazy val spark = graft.SparkSpec.session
  private val columns = FormSinkSource.schema.fieldNames.toSeq

  // "po-￿" sorts below "po-😀" in UTF-8 binary order, above it in UTF-16
  private val value: Gen[String] =
    Gen.oneOf("", "a", "b", "ab", "ba", "é", "po-", "po-😀", "po-￿")
  private val cell: Gen[String] = Gen.frequency(1 -> Gen.const(null), 3 -> value)
  private val rows: Gen[Seq[Cells]] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, Gen.listOfN(columns.size, cell)))
  /** Commits of one file each: (rows, as a stats-less JSON-lines file). */
  private val commits: Gen[Seq[(Seq[Cells], Boolean)]] =
    Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.zip(rows, Gen.prob(0.2))))

  private val leaf: Gen[sqlf.Filter] = for {
    c <- Gen.oneOf(columns)
    v <- value
    vs <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, value))
    f <- Gen.oneOf[sqlf.Filter](sqlf.EqualTo(c, v), sqlf.EqualNullSafe(c, v),
      sqlf.LessThan(c, v), sqlf.LessThanOrEqual(c, v), sqlf.GreaterThan(c, v),
      sqlf.GreaterThanOrEqual(c, v), sqlf.In(c, vs.toArray[Any]), sqlf.IsNull(c),
      sqlf.IsNotNull(c), sqlf.StringStartsWith(c, v), sqlf.StringEndsWith(c, v),
      sqlf.StringContains(c, v))
  } yield f

  private def tree(depth: Int): Gen[sqlf.Filter] =
    if (depth == 0) leaf
    else Gen.frequency(
      2 -> leaf,
      1 -> Gen.lzy(tree(depth - 1)).map(sqlf.Not(_)),
      1 -> Gen.lzy(Gen.zip(tree(depth - 1), tree(depth - 1))).map { case (l, r) => sqlf.And(l, r) },
      1 -> Gen.lzy(Gen.zip(tree(depth - 1), tree(depth - 1))).map { case (l, r) => sqlf.Or(l, r) })
  private val filters: Gen[sqlf.Filter] = tree(3)

  /** Shapes the evaluator does not know. */
  private val unsupported: Gen[sqlf.Filter] = Gen.oneOf[sqlf.Filter](
    sqlf.EqualTo("po_number", 42), sqlf.In("po_number", Array[Any]("a", null)),
    sqlf.GreaterThan("vendor", 1.5), sqlf.EqualTo("vendor", null))

  /** `f` with one of its leaves, picked at random, replaced by `bad`. */
  private def withLeaf(f: sqlf.Filter, bad: sqlf.Filter): Gen[sqlf.Filter] = f match {
    case sqlf.And(l, r) => Gen.oneOf(withLeaf(l, bad).map(sqlf.And(_, r)),
      withLeaf(r, bad).map(sqlf.And(l, _)))
    case sqlf.Or(l, r) => Gen.oneOf(withLeaf(l, bad).map(sqlf.Or(_, r)),
      withLeaf(r, bad).map(sqlf.Or(l, _)))
    case sqlf.Not(x) => withLeaf(x, bad).map(sqlf.Not(_))
    case _ => Gen.const(bad)
  }

  /** The `Column` Spark evaluates for `f`. */
  private def column(f: sqlf.Filter): Column = f match {
    case sqlf.EqualTo(c, v)            => col(c) === lit(v)
    case sqlf.EqualNullSafe(c, v)      => col(c) <=> lit(v)
    case sqlf.LessThan(c, v)           => col(c) < lit(v)
    case sqlf.LessThanOrEqual(c, v)    => col(c) <= lit(v)
    case sqlf.GreaterThan(c, v)        => col(c) > lit(v)
    case sqlf.GreaterThanOrEqual(c, v) => col(c) >= lit(v)
    case sqlf.In(c, vs)                => col(c).isin(vs.toIndexedSeq: _*)
    case sqlf.IsNull(c)                => col(c).isNull
    case sqlf.IsNotNull(c)             => col(c).isNotNull
    case sqlf.StringStartsWith(c, v)   => col(c).startsWith(v)
    case sqlf.StringEndsWith(c, v)     => col(c).endsWith(v)
    case sqlf.StringContains(c, v)     => col(c).contains(v)
    case sqlf.Not(x)                   => !column(x)
    case sqlf.And(l, r)                => column(l) && column(r)
    case sqlf.Or(l, r)                 => column(l) || column(r)
    case other => throw new IllegalArgumentException(s"no column for $other")
  }

  private def utf8(r: Cells): Array[UTF8String] =
    r.map(v => if (v == null) null else UTF8String.fromString(v)).toArray
  private def name(o: Int): String = o match {
    case True  => "TRUE"
    case False => "FALSE"
    case Null  => "NULL"
    case _     => s"outcomes($o)"
  }
  private def multiset(rs: Seq[Seq[String]]): Map[Seq[String], Int] =
    rs.groupBy(identity).map { case (r, g) => r -> g.size }

  // no shrinking: the string shrinker fails on the null cells
  property("a row's outcome is Spark's, and it matches the rows Spark's filter keeps") =
    forAllNoShrink(rows, filters) { (rs, f) =>
      val withId = StructType(StructField("id", IntegerType, nullable = false) +:
        FormSinkSource.schema.fields)
      val df = spark.createDataFrame(
        rs.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r) }.asJava, withId)
      val spark3 = df.select(col("id"), column(f)).collect().map { r =>
        r.getInt(0) -> (if (r.isNullAt(1)) Null else if (r.getBoolean(1)) True else False)
      }.toMap
      val kept = df.filter(column(f)).select("id").collect().map(_.getInt(0)).toSet
      Prop.all(rs.zipWithIndex.map { case (r, i) =>
        val ours = SinkPredicate.outcomes(SinkPredicate.row(utf8(r)), f)
        ((ours == spark3(i)) :| s"$f on $r: ${name(ours)}, Spark ${name(spark3(i))}") &&
          ((SinkPredicate.rowMatches(utf8(r), f) == kept(i)) :|
            s"$f on $r: matches ${!kept(i)}, Spark's filter keeps ${kept(i)}")
      }: _*)
    }

  property("a file's outcomes hold its rows', and a delete leaves what Spark's filter drops") =
    forAllNoShrink(commits, filters) { (cs, f) =>
      val dir = Files.createTempDirectory("graft-sinkpred").toString
      try {
        cs.foreach { case (rs, jsonl) => append(dir, rs, jsonl) }
        val m = FormSinkSource.latestManifest(dir)
        val sound = Prop.all(m.files.zip(cs).map { case (n, (rs, _)) =>
          val st = m.stats.get(n)
          val fileOut = st.fold(SinkPredicate.All)(s =>
            if (s.rows == 0) 0 else SinkPredicate.outcomes(SinkPredicate.file(s), f))
          val rowOuts = rs.map(r => SinkPredicate.outcomes(SinkPredicate.row(utf8(r)), f))
          val anyTrue = rs.exists(r => SinkPredicate.rowMatches(utf8(r), f))
          (rowOuts.forall(o => (o & ~fileOut) == 0) :|
            s"$f over $st: file ${name(fileOut)}, rows ${rowOuts.map(name)}") &&
            ((!anyTrue || SinkPredicate.mayMatch(st, f)) :| s"$f skips a TRUE row of $st")
        }: _*)
        val all = cs.flatMap(_._1)
        val local = spark.createDataFrame(all.map(Row.fromSeq(_)).asJava, FormSinkSource.schema)
        val kept = multiset(local.filter(column(f)).collect().toSeq.map(_.toSeq.map(_.asInstanceOf[String])))
        val want = multiset(all).map { case (r, k) => r -> (k - kept.getOrElse(r, 0)) }
          .filter(_._2 > 0)
        FormSinkSource.delete(dir, f)
        val got = multiset(spark.read.format(FormSinkSource.Format).option("path", dir).load()
          .collect().toSeq.map(_.toSeq.map(_.asInstanceOf[String])))
        sound && ((got == want) :| s"delete $f left $got, Spark's filter drops $want")
      } finally SinkLogFixture.deleteTree(dir)
    }

  property("an unsupported leaf anywhere is refused before any rewrite file exists") =
    forAllNoShrink(commits, filters.flatMap(f => unsupported.flatMap(withLeaf(f, _)))) { (cs, f) =>
      val dir = Files.createTempDirectory("graft-sinkpred").toString
      try {
        cs.foreach { case (rs, jsonl) => append(dir, rs, jsonl) }
        def listing = new java.io.File(dir).listFiles().map(_.getName).toSet
        val (before, version) = (listing, FormSinkSource.latestVersion(dir))
        def refused(body: => Any): Boolean =
          scala.util.Try(body).failed.toOption.exists(_.isInstanceOf[IllegalArgumentException])
        val canDelete = new FormSinkTable(dir).canDeleteWhere(Array(f))
        val replaceRefused = refused(
          new FormSinkWriteBuilder(dir, FormSinkSource.schema, "q").overwrite(Array(f)))
        val deleteRefused = refused(FormSinkSource.delete(dir, f))
        val (after, versionAfter) = (listing, FormSinkSource.latestVersion(dir))
        (!canDelete :| s"canDeleteWhere accepts $f") &&
          (replaceRefused :| s"REPLACE WHERE accepts $f") &&
          (deleteRefused :| s"delete accepts $f") &&
          ((after == before) :| s"$f left ${after -- before}") &&
          ((versionAfter == version) :| s"$f published a version")
      } finally SinkLogFixture.deleteTree(dir)
    }
}
