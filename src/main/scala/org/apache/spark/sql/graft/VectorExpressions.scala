package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Column↔Expression bridge for the graft engine. Lives under
  * `org.apache.spark.sql` because Spark 4 scopes `ExpressionUtils` (and
  * `AbstractDataType`) `private[sql]` — the standard pattern for extension
  * libraries shipping native Catalyst expressions.
  */
object GraftShim {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Native Catalyst expressions for the embedding hot path (SURVEY.md §2.4
  * "similarity search": preference order (b) — custom codegen `Expression`
  * beats higher-order functions beats UDFs).
  *
  * The higher-order formulation (`aggregate(zip_with(...))`,
  * [[ColumnOps.dotProduct]]) allocates an intermediate array and evaluates
  * interpreted lambdas per element — ~60µs/pair measured at dim=64. These
  * expressions compile to a tight primitive loop inside whole-stage codegen
  * (~0.05µs/pair), which is what makes exact all-pairs verification tiers and
  * brute-force top-k viable at all.
  *
  * Numerical contract (oracle parity): the fold is sequential element order
  * 0..n-1 in IEEE double — `acc += (double)a[i] * (double)b[i]` — exactly the
  * fold order of both the HOF formulation and DuckDB's
  * `list_sum(list_transform(list_zip(a,b), ...))`, so results are
  * bit-identical across all three. Null array → null result; null *elements*
  * are not expected (parquet embeddings are non-null) and read as 0.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

object VectorKernels {
  /** All hyperplane-LSH bucket codes of one vector in a single pass:
    * planes is a row-major (numPlanes × dim) matrix, planes p*bits..p*bits+
    * bits-1 form table p's sign bits; output element t is the code
    * `t * 2^bits + bucket(t)`. Sequential per-plane double fold — identical
    * to evaluating one [[VectorDot]] per plane (the formulation the DuckDB
    * oracle mirrors), but one kernel call instead of numPlanes expressions
    * (codegen size and eval overhead both drop ~64×). */
  def hyperplaneBuckets(v: ArrayData, planes: Array[Float],
                        numTables: Int, bits: Int): ArrayData = {
    val dim = math.min(v.numElements(), planes.length / (numTables * bits))
    val out = new Array[Any](numTables)
    var t = 0
    while (t < numTables) {
      var bkt = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * (planes.length / (numTables * bits))
        var acc = 0.0
        var i = 0
        while (i < dim) {
          acc += v.getFloat(i).toDouble * planes(base + i).toDouble
          i += 1
        }
        if (acc > 0) bkt |= (1L << b)
        b += 1
      }
      out(t) = t * (1L << bits) + bkt
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** `hyperplane_buckets(vec)` — banded-LSH bucket codes (one per table) from
  * a plan-time constant plane matrix. See [[VectorKernels.hyperplaneBuckets]].
  */
case class HyperplaneBuckets(child: Expression, planes: Array[Float],
                             numTables: Int, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.hyperplaneBuckets(a.asInstanceOf[ArrayData], planes, numTables, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "float[]")
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graft.VectorKernels.hyperplaneBuckets($a, $planesRef, $numTables, $bits)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

/** L2 norm of a float vector in double precision; same sequential-fold
  * contract as [[VectorDot]] (`acc += (double)a[i] * (double)a[i]`, then one
  * sqrt) so it is bit-identical to the HOF [[ColumnOps.l2Norm]] and DuckDB's
  * `sqrt(list_sum(list_transform(a, e -> e*e)))`.
  */
case class VectorNorm(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $v = (double) $a.getFloat($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VectorNorm =
    copy(child = newChild)
}

/** |A ∩ B| of two ASCENDING-sorted long arrays by a single merge walk —
  * O(|A|+|B|) primitive comparisons, no hash set, no boxing. The built-in
  * `size(array_intersect(a, b))` builds a boxed hash set per row, which
  * dominates similarity-join verification tiers (q127: ~1M verified pairs
  * × ~60-element sets); this kernel is the codegen twin for inputs the
  * caller has already `sort_array`ed. Sortedness is the caller's contract
  * (unsorted inputs silently undercount — keep the construction and this
  * kernel adjacent in the same plan). Duplicate elements are counted once
  * per distinct value, matching set semantics on distinct inputs.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var (i, j) = (0, 0)
    var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  final long $xv = $a.getLong($i);
         |  final long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Σ min(w_A, w_B) over the common keys of two ASCENDING-sorted long
  * arrays whose elements pack (key << 3 | weight), weight ∈ 1..7 — the
  * weighted-Jaccard intersection mass by one merge walk, O(|A|+|B|)
  * primitive comparisons. [[SortedIntersectCount]] extended to weights:
  * q340's exact-verify tier previously re-joined the full per-doc weighted
  * token census TWICE per governed candidate pair ((doc,tok) ⋈ (doc,tok) —
  * the board's #2 sf10 absolute at 140.6 s); with each doc's census packed
  * once into a sorted array, every pair verifies row-locally. Contract:
  * keys are distinct WITHIN each array (a (doc, key)-grouped census
  * guarantees it), arrays sorted ascending on the packed long (= ascending
  * on key, since key occupies the high bits and is < 2^60 so the pack
  * never overflows into the sign bit). Unsorted or duplicate-key inputs
  * silently mis-count — keep the `sort_array(collect_list(key*8+w))`
  * construction and this kernel adjacent in the same plan. */
case class SortedMinWeightIntersect(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_min_weight_intersect"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var (i, j) = (0, 0)
    var s = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      val xk = xv >>> 3
      val yk = yv >>> 3
      if (xk == yk) {
        val xw = xv & 7L
        val yw = yv & 7L
        s += (if (xw < yw) xw else yw)
        i += 1; j += 1
      }
      else if (xk < yk) i += 1
      else j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val xk = ctx.freshName("xk")
      val yk = ctx.freshName("yk")
      val xw = ctx.freshName("xw")
      val yw = ctx.freshName("yw")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $s = 0L;
         |while ($i < $nx && $j < $ny) {
         |  final long $xv = $a.getLong($i);
         |  final long $yv = $b.getLong($j);
         |  final long $xk = $xv >>> 3;
         |  final long $yk = $yv >>> 3;
         |  if ($xk == $yk) {
         |    final long $xw = $xv & 7L;
         |    final long $yw = $yv & 7L;
         |    $s += ($xw < $yw) ? $xw : $yw;
         |    $i++; $j++;
         |  }
         |  else if ($xk < $yk) { $i++; } else { $j++; }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedMinWeightIntersect =
    copy(left = newLeft, right = newRight)
}

/** Hilbert-curve index of the low `bits` bits of two long columns — the
  * data-layout kernel behind q349's clustering stage (the space-filling
  * cousin of ScaleOps.morton with unit-step locality, pinned in
  * ScaleOpsSpec). Codegen emits one call to the static bit walk
  * [[HilbertIndex.compute]] — a tight integer loop per row, no per-level
  * struct state (the `aggregate`-HOF formulation it replaces is
  * CodegenFallback: interpreted lambdas allocating an (x, y, d) struct per
  * bit level per row — measured 83 s vs ~3 s staging the sf1 lineitem
  * rewrite; the HOF twin survives as ScaleOps.hilbertHof for the
  * differential test, the tokens/tokensHof doctrine). */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 31, s"hilbert bits must be in [1, 31], got $bits")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_index"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex.compute(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.HilbertIndex.compute($a, $b, $bits);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {
  /** The standard top-down bit walk: at level s the quadrant digit
    * (3·rx)⊕ry scales by s², then the LOW bits (masked to [0, s) first, so
    * flips stay in range) rotate/flip into the quadrant's frame. Exactly
    * the fold ScaleOps.hilbertHof expresses in Column algebra — the two are
    * pinned cell-identical over the full order-3 grid in ScaleOpsSpec. */
  def compute(x0: Long, y0: Long, bits: Int): Long = {
    var x = x0
    var y = y0
    var d = 0L
    var i = bits - 1
    while (i >= 0) {
      val s = 1L << i
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      val xm = x & (s - 1L)
      val ym = y & (s - 1L)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1L - ym; y = s - 1L - xm }
        else { x = ym; y = xm }
      } else { x = xm; y = ym }
      i -= 1
    }
    d
  }
}

/** Primitive-array label lookup for the LPA array tier (r17 verdict
  * item 4 — "shrink the LPA broadcast constants"): under the dense-id gate
  * the per-round O(V) label frame ships to executors as ONE
  * `Broadcast[Array[Long]]` indexed by node id, and the round's label
  * resolution becomes this expression — a codegen'd array index inside the
  * same whole-stage-codegen aggregate — instead of a BroadcastHashJoin
  * probing a V-entry UnsafeRow hash relation (the profiled 10-14 s/round
  * constant at sf10: building the hash relation + GC over 2M boxed rows).
  *
  * Index safety is BY CONSTRUCTION, stated not assumed: the array covers
  * [0, maxNodeId] of the SAME symmetrized edge frame the round aggregates,
  * and the label frame assigns every distinct endpoint — so every probe
  * `v` indexes an assigned slot. The dense-id gate (`maxId` bounded by
  * [[graft.util.DriverTier]]'s budget) is what keeps the array small;
  * sparse id spaces fall back to the shuffle tier unchanged. */
case class LabelArrayLookup(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "label_array_lookup"

  @transient private lazy val arr: Array[Long] = bc.value

  override protected def nullSafeEval(v: Any): Any =
    arr(v.asInstanceOf[Long].toInt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("labelBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    // deserialize the broadcast ONCE per task, not per row
    val arrName = ctx.addMutableState("long[]", "labelArr",
      v => s"$v = (long[]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $arrName[(int) $c];")
  }

  override protected def withNewChildInternal(newChild: Expression): LabelArrayLookup =
    copy(child = newChild)
}
