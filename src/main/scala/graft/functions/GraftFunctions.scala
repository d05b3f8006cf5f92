package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{AsciiClean, GraftShim, H60, Tokenize, VectorDot, VectorNorm, WordNGrams}
import org.apache.spark.sql.Column

/** DataFrame + SQL surface for the engine's native Catalyst expressions.
  *
  * Two integration paths, both offered because a real deployment uses both:
  *   - [[vecDot]]/[[vecNorm]] Column builders for DataFrame pipelines
  *     (wrap the expression directly — no function-registry round trip);
  *   - [[registry]], which `graft.plans.GraftPlans.install` registers for
  *     SQL users, exposing `vec_dot` / `vec_norm` / `h60` to
  *     `spark.sql(...)`.
  */
object GraftFunctions {

  private def column(e: Expression): Column   = GraftShim.column(e)
  private def expression(c: Column): Expression = GraftShim.expression(c)

  /** Dot product of two `array<float>` columns in double (codegen). */
  def vecDot(a: Column, b: Column): Column =
    column(VectorDot(expression(a), expression(b)))

  /** L2 norm of an `array<float>` column in double (codegen). */
  def vecNorm(a: Column): Column =
    column(VectorNorm(expression(a)))

  /** Hilbert-curve index of two long columns' low `bits` bits (codegen
    * kernel; q349's layout key — see ScaleOps.hilbertHof for the fold
    * twin). */
  def hilbertIndex(x: Column, y: Column, bits: Int): Column =
    column(org.apache.spark.sql.graft.HilbertIndex(
      expression(x), expression(y), bits))

  /** Whitespace tokenizer (codegen kernel, ASCII `\s` class). */
  def tokenize(text: Column): Column =
    column(Tokenize(expression(text)))

  /** One-pass normalize/collapse/trim of pre-lowercased text (codegen). */
  def asciiClean(text: Column): Column =
    column(AsciiClean(expression(text)))

  /** n-gram shingles of a token array, space-joined (codegen kernel). */
  def wordNGrams(toks: Column, n: Int): Column =
    column(WordNGrams(expression(toks), n))

  /** Count of a token array's elements in a constant word set (codegen
    * kernel) — equals `size(filter(toks, _.isInCollection(words)))`. */
  def profileHits(toks: Column, words: Seq[String]): Column =
    column(org.apache.spark.sql.graft.ProfileHits(expression(toks), words))

  /** Per-document rolling char-n-gram fingerprint: one kernel pass
    * returning struct(fp_min, fp_max, n_grams); null below n chars. */
  def charGramFingerprint(text: Column, n: Int): Column =
    column(org.apache.spark.sql.graft.CharGramFingerprint(expression(text), n))

  /** Robust winnowing census: one kernel pass returning
    * struct(n_grams, n_fps, fp_checksum); null below k+w−1 chars. */
  def winnowStats(text: Column, k: Int, w: Int): Column =
    column(org.apache.spark.sql.graft.WinnowStats(expression(text), k, w))

  /** The winnowing selection as a sorted distinct hash array — the dedup
    * join key set; null below k+w−1 chars. */
  def winnowFps(text: Column, k: Int, w: Int): Column =
    column(org.apache.spark.sql.graft.WinnowFps(expression(text), k, w))

  /** Banded-LSH bucket codes from a constant hyperplane matrix (codegen):
    * one long code `t * 2^bits + bucket` per table. */
  def hyperplaneBuckets(v: Column, planes: Array[Float],
                        numTables: Int, bits: Int): Column =
    column(org.apache.spark.sql.graft.HyperplaneBuckets(
      expression(v), planes, numTables, bits))

  /** |A ∩ B| of two ascending-sorted `array<long>` columns (codegen merge
    * walk — the caller guarantees sortedness, e.g. via `sort_array`). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(org.apache.spark.sql.graft.SortedIntersectCount(
      expression(a), expression(b)))

  /** Σ min(w_A, w_B) over common keys of two ascending-sorted `array<long>`
    * columns packing (key << 3 | weight), keys distinct per array — the
    * weighted-Jaccard intersection mass as a row-local codegen merge walk
    * (q340's exact-verify tier; see SortedMinWeightIntersect). */
  def sortedMinWeightIntersect(a: Column, b: Column): Column =
    column(org.apache.spark.sql.graft.SortedMinWeightIntersect(
      expression(a), expression(b)))

  /** MinHash signature aggregate over pre-hashed shingle values: one
    * `array<long>` of k per-function minima per group (native
    * TypedImperativeAggregate; map-side partial merge). */
  def minhashAgg(hs: Column, as: Array[Long], bs: Array[Long], p: Long): Column =
    column(org.apache.spark.sql.graft.MinHashAgg(expression(hs), as, bs, p)
      .toAggregateExpression())

  /** Exact per-group top-k (key DESC, payload ASC) as a native bounded
    * aggregate — array<struct<key,payload>> best→worst; map-side partial
    * merge carries ≤2k longs per group instead of the group's rows. */
  def topKAgg(key: Column, payload: Column, k: Int): Column =
    column(org.apache.spark.sql.graft.TopKAgg(
      expression(key), expression(payload), k).toAggregateExpression())

  /** Most-frequent-long per group, smallest value on ties — the
    * synchronous-LPA label update as ONE aggregation (exact label→count map
    * buffer, degree-bounded; map-side partial merge), replacing the
    * census-then-argmax two-shuffle form. Null for an all-null group. */
  def labelMode(lab: Column): Column =
    column(org.apache.spark.sql.graft.LabelModeAgg(
      expression(lab)).toAggregateExpression())

  /** Misra–Gries heavy-hitters summary: ≤ k−1 (token, est) entries per
    * group with the mergeable-summaries guarantee est ≤ true ≤ est + n/k —
    * the one-pass dominant-token census that replaces a corpus-wide token
    * groupBy at scale (buffer bytes shuffle, not distinct-token rows). */
  def misraGries(token: Column, k: Int): Column =
    column(org.apache.spark.sql.graft.MisraGriesAgg(
      expression(token), k).toAggregateExpression())

  /** Count–Min sketch over pre-reduced 60-bit hashes (`h60(item) mod p`):
    * a flat depth×width counter matrix per group, elementwise-sum merge —
    * point-frequency estimates (est ≥ true, overcount ≤ εn w.h.p.) from a
    * kilobyte buffer instead of a per-distinct-token shuffle; the affine
    * row family makes every counter bit-reproducible in a SQL oracle. */
  def countMin(hs: Column, as: Array[Long], bs: Array[Long], p: Long,
               width: Int): Column =
    column(org.apache.spark.sql.graft.CountMinAgg(
      expression(hs), as, bs, p, width).toAggregateExpression())

  /** Collect up to `cap` longs per group with a cap+1th overflow witness —
    * buffer memory is physically bounded on update AND merge, so a
    * degenerate group cannot blow an executor the way collect_list can. */
  def cappedCollect(v: Column, cap: Int): Column =
    column(org.apache.spark.sql.graft.CappedCollectAgg(
      expression(v), cap).toAggregateExpression())

  /** (name, info, builder) triples for SQL registration
    * ([[graft.plans.GraftPlans.install]]). */
  val registry: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vec_dot(a, b) takes two arguments")
        VectorDot(children(0), children(1))
      }),
    (FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[VectorNorm].getName, "vec_norm"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "vec_norm(a) takes one argument")
        VectorNorm(children.head)
      }),
    (FunctionIdentifier("tokenize"),
      new ExpressionInfo(classOf[Tokenize].getName, "tokenize"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "tokenize(text) takes one argument")
        Tokenize(children.head)
      }),
    (FunctionIdentifier("h60"),
      new ExpressionInfo(classOf[H60].getName, "h60"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "h60(text) takes one argument")
        H60(children.head)
      }),
    (FunctionIdentifier("ascii_clean"),
      new ExpressionInfo(classOf[AsciiClean].getName, "ascii_clean"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "ascii_clean(text) takes one argument")
        AsciiClean(children.head)
      }),
    (FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "word_ngrams(tokens, n) takes two arguments")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_ngrams n must be an integer literal, got $other")
        }
        WordNGrams(children.head, n)
      }))
}
