package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst pieces (SURVEY §7 "what needs custom Catalyst"):
  *
  * 1. [[HistogramAgg]] — the optional single-pass equi-width histogram
  *    TypedImperativeAggregate (replaces the collector's 10 conditional
  *    sums with one mutable bucket array per partition; buffers merge
  *    associatively, so the shuffle carries 10 longs per group).
  * 2. [[IntervalMergeRule]] — the reference's interval predicate-merge
  *    (tree/__init__.py:65-138) as an optimizer rule on Catalyst plans.
  *    Only the SOUND subset is applied at execution (keep the stronger of
  *    same-direction bounds, >=∧<= of the same constant → =): the
  *    reference's semantics-changing branches (e.g. LIKE-drop) stay
  *    encoder-side in graft.ir where they only shape features.
  *
  * Registered through [[GraftExtensions]] (a session builder's
  * `withExtensions(new GraftExtensions)` or conf
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  */
final case class HistogramAgg(
    child: Expression, minExpr: Expression, maxExpr: Expression, bucketsExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private lazy val mn: Double = minExpr.eval().toString.toDouble
  private lazy val mx: Double = maxExpr.eval().toString.toDouble
  private lazy val k: Int = bucketsExpr.eval().toString.toInt
  // width_bucket(v, min, max+1, k) semantics (postgres.py:122-138)
  private lazy val width: Double = (mx + 1.0 - mn) / k

  override def createAggregationBuffer(): Array[Long] = new Array[Long](k)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val d = v.asInstanceOf[Double]
      val b = math.floor((d - mn) / width).toInt
      if (b >= 0 && b < k) buf(b) += 1L
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, minExpr, maxExpr, bucketsExpr)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HistogramAgg =
    copy(child = c(0), minExpr = c(1), maxExpr = c(2), bucketsExpr = c(3))
  override def withNewMutableAggBufferOffset(o: Int): HistogramAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HistogramAgg =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "graft_histogram"
}

object HistogramAgg {
  /** Register the SQL function in a session (idempotent); the
    * [[GraftExtensions]] path does this automatically for extension-built
    * sessions.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_histogram",
      exprs => HistogramAgg(exprs(0), exprs(1), exprs(2), exprs(3)).toAggregateExpression(),
      "built-in")

  /** Column API: one-pass equi-width histogram of a double column
    * (requires [[register]] or GraftExtensions on the session).
    */
  def histogram(c: Column, minVal: Double, maxVal: Double, buckets: Int = 10): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("graft_histogram", c, lit(minVal), lit(maxVal), lit(buckets))
  }
}

/** Column access to Spark's internal bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the pair
  * Catalyst's own InjectRuntimeFilter rule plants under joins). Exposing
  * them as session functions lets operators build an EXPLICIT broadcast
  * bloom: aggregate the small side's keys into one bounded binary
  * (partial buffers merge associatively, so the shuffle carries one
  * filter per partition), ship it as a literal, and drop non-candidate
  * rows inside the big side's scan stage — before any exchange. Both
  * sides must hash identically; the helpers take the caller's column and
  * wrap it in the public `xxhash64` at the call site, mirroring the
  * XxHash64 wrap InjectRuntimeFilter applies.
  *
  * Size caps: `checkInputDataTypes` enforces the session confs
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
  * (defaults 4M items / 64Mbits = 8 MB). At warehouse scale, raise the
  * confs with the driver memory that pays for it; [[bloomBits]] clamps
  * to the conf so a huge estimate degrades fpp instead of erroring.
  */
object BloomSketch {
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
  import org.apache.spark.sql.functions.{call_function, lit, xxhash64}

  /** Register the two functions on a session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_bloom_agg",
      exprs => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2)).toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction("graft_bloom_contains",
      exprs => BloomFilterMightContain(exprs(0), exprs(1)), "built-in")
  }

  /** Optimal bit count for `n` items at false-positive rate `fpp`
    * (m = -n ln p / ln²2), clamped to the session's runtime-filter cap.
    */
  def bloomBits(spark: org.apache.spark.sql.SparkSession, n: Long, fpp: Double): Long = {
    require(n > 0 && fpp > 0.0 && fpp < 1.0, s"need n>0, 0<fpp<1; got n=$n fpp=$fpp")
    val ideal = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val cap = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    math.max(64L, math.min(ideal, cap))
  }

  /** `estimatedNumItems` clamped to the session's runtime-filter cap
    * (the aggregate rejects values above it; clamping just means the
    * filter saturates and fpp degrades, which the exact join absorbs).
    */
  def bloomItems(spark: org.apache.spark.sql.SparkSession, n: Long): Long = {
    val cap = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    math.max(1L, math.min(n, cap))
  }

  /** Aggregate: bloom filter over `xxhash64(c)`, returned as one binary. */
  def bloomAgg(c: Column, estimatedItems: Long, numBits: Long): Column =
    call_function("graft_bloom_agg", xxhash64(c), lit(estimatedItems), lit(numBits))

  /** Predicate: might `xxhash64(c)` be in the serialized filter? The
    * filter rides as a foldable literal, deserialized once per task, and
    * the test runs in generated code inside the scan's WholeStageCodegen.
    */
  def mightContain(filter: Array[Byte], c: Column): Column =
    call_function("graft_bloom_contains", lit(filter), xxhash64(c))

  /** Build a filter over the values of `keys(keyCol)`: the one shared
    * build path for every bloom operator (join, anti-join,
    * contamination). Duplicate keys are idempotent inserts, so the old
    * DISTINCT pass existed only to SIZE the filter — sizing by the exact
    * row count instead (an upper bound on the distinct count; bit count
    * grows at most proportionally) deletes that whole exchange + its
    * temp persist from every bloom query. Below the maxNumItems /
    * maxNumBits caps the realized fpp is at or below the ask. Under heavy
    * duplication (stop-shingles repeated across documents) the inflated
    * row count can reach those caps, and the hash-function count chosen
    * for it can then push the realized fpp above the ask. That costs
    * prefilter selectivity only: every caller finishes with the exact
    * join, so results stay exact. Two passes over
    * `keys` remain (the sizing count, then the aggregate): hand this a
    * cheap-to-rescan frame — the join callers persist their small side
    * (shared with the exact join that follows), contamination feeds it
    * off an already-persisted base. Returns None for an empty key set
    * (each caller has a cheaper empty answer than an empty filter).
    */
  def build(keys: org.apache.spark.sql.DataFrame, keyCol: String,
            fpp: Double): Option[Array[Byte]] = {
    val spark = keys.sparkSession
    register(spark)
    val proj = keys.select(keys(keyCol))
    val n = proj.count()
    if (n == 0) None
    else Some(proj
      .agg(bloomAgg(proj(keyCol), bloomItems(spark, n), bloomBits(spark, n, fpp)).as("bf"))
      .head.getAs[Array[Byte]]("bf"))
  }
}

/** Sound interval predicate-merge on Catalyst Filters: collapses
  * redundant same-column comparisons the reference merges in its IR
  * (a>1 ∧ a>10 → a>10; a>=c ∧ a<=c → a=c; = absorbed by satisfied
  * bounds). Catalyst's CombineFilters/BooleanSimplification do not do
  * interval algebra (SURVEY §4.1).
  */
object IntervalMergeRule extends Rule[LogicalPlan] {

  private def litD(e: Expression): Option[Double] = e match {
    case Literal(v, _: NumericType) => Some(v.toString.toDouble)
    case _ => None
  }

  private sealed trait Bound
  private case class Cmpb(op: String, value: Double, orig: Expression) extends Bound

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjuncts(cond)
      if (conjuncts.size < 2) f
      else {
        val (cmps, rest) = conjuncts.partition(c => asCmp(c).isDefined)
        val grouped = cmps.groupBy { c => asCmp(c).get._1.canonicalized }
        val merged = grouped.values.flatMap { group =>
          if (group.size < 2) group
          else mergeGroup(group.map(c => asCmp(c).get))
        }.toSeq
        val all = merged ++ rest
        if (all.size == conjuncts.size) f
        else Filter(all.reduce(And), child)
      }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** expression-vs-numeric-literal comparisons (the left side may be any
    * deterministic expression, e.g. a cast of an attribute — grouped by
    * canonicalized form). */
  private def asCmp(e: Expression): Option[(Expression, String, Double, Expression)] = e match {
    case GreaterThan(a, l) if a.deterministic && litD(a).isEmpty => litD(l).map(v => (a, ">", v, e))
    case GreaterThanOrEqual(a, l) if a.deterministic && litD(a).isEmpty => litD(l).map(v => (a, ">=", v, e))
    case LessThan(a, l) if a.deterministic && litD(a).isEmpty => litD(l).map(v => (a, "<", v, e))
    case LessThanOrEqual(a, l) if a.deterministic && litD(a).isEmpty => litD(l).map(v => (a, "<=", v, e))
    case EqualTo(a, l) if a.deterministic && litD(a).isEmpty => litD(l).map(v => (a, "=", v, e))
    case _ => None
  }

  private def mergeGroup(group: Seq[(Expression, String, Double, Expression)]): Seq[Expression] = {
    val attr = group.head._1
    val lowers = group.filter(g => g._2 == ">" || g._2 == ">=")
    val uppers = group.filter(g => g._2 == "<" || g._2 == "<=")
    val equals = group.filter(_._2 == "=")

    // = absorbed by satisfied bounds; contradictions left untouched
    if (equals.nonEmpty) {
      val v = equals.head._3
      val consistent = equals.forall(_._3 == v) &&
        lowers.forall(g => if (g._2 == ">") v > g._3 else v >= g._3) &&
        uppers.forall(g => if (g._2 == "<") v < g._3 else v <= g._3)
      return if (consistent) Seq(equals.head._4) else group.map(_._4)
    }
    // keep the strongest lower and upper bound
    val bestLower = lowers.sortBy(g => (-g._3, if (g._2 == ">") 0 else 1)).headOption
    val bestUpper = uppers.sortBy(g => (g._3, if (g._2 == "<") 0 else 1)).headOption
    (bestLower, bestUpper) match {
      case (Some(lo), Some(hi)) if lo._3 == hi._3 && lo._2 == ">=" && hi._2 == "<=" =>
        Seq(EqualTo(attr, Literal(lo._3)))
      case _ => Seq(bestLower.map(_._4), bestUpper.map(_._4)).flatten
    }
  }
}

/** Session extension installer: `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => IntervalMergeRule)
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_histogram"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[HistogramAgg].getName, "graft_histogram"),
      (exprs: Seq[Expression]) =>
        HistogramAgg(exprs(0), exprs(1), exprs(2), exprs(3)).toAggregateExpression()))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_bloom_agg"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[aggregate.BloomFilterAggregate].getName, "graft_bloom_agg"),
      (exprs: Seq[Expression]) =>
        new aggregate.BloomFilterAggregate(exprs(0), exprs(1), exprs(2)).toAggregateExpression()))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_bloom_contains"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[BloomFilterMightContain].getName, "graft_bloom_contains"),
      (exprs: Seq[Expression]) => BloomFilterMightContain(exprs(0), exprs(1))))
  }
}
