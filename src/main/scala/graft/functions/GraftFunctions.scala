package graft.functions

import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Cast, CreateArray, CreateNamedStruct, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Count, HyperLogLogPlusPlus, Max, Percentile, Sum}
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, FloatType}

/** SQL-visible function registry — the graft analogue of the reference's
  * function factory self-registration
  * (`/root/reference/src/Functions/registerFunctions.cpp:9-15`).
  *
  * Registers the vector-distance family under both Spark-style and
  * ClickHouse-style names so `spark.sql("SELECT l2_distance(a, b)")` and
  * `L2Distance(a, b)` both resolve.
  */
object GraftFunctions {

  private def dist(m: Metric.Value)(es: Seq[Expression]): Expression =
    VectorDistance(Cast(es(0), ArrayType(FloatType)), Cast(es(1), ArrayType(FloatType)), m)

  private val scalar: Map[String, Seq[Expression] => Expression] = Map(
    "l2_distance"        -> dist(Metric.L2) _,
    "l2distance"         -> dist(Metric.L2) _,
    "l2_squared_distance" -> dist(Metric.L2Squared) _,
    "l2squareddistance"  -> dist(Metric.L2Squared) _,
    "l1_distance"        -> dist(Metric.L1) _,
    "l1distance"         -> dist(Metric.L1) _,
    "linf_distance"      -> dist(Metric.Linf) _,
    "linfdistance"       -> dist(Metric.Linf) _,
    "cosine_distance"    -> dist(Metric.Cosine) _,
    "cosinedistance"     -> dist(Metric.Cosine) _,
    "ip_distance"        -> dist(Metric.IP) _,
    "dot_product"        -> dist(Metric.Dot) _,
    "dotproduct"         -> dist(Metric.Dot) _,
    "hamming_distance"   -> ((es: Seq[Expression]) => BinaryVectorDistance(es(0), es(1), jaccard = false)),
    "jaccard_distance"   -> ((es: Seq[Expression]) => BinaryVectorDistance(es(0), es(1), jaccard = true)),
  )

  /** ClickHouse aggregate-function names → Catalyst aggregates (the
    * analyzer wraps AggregateFunction expressions automatically).
    */
  private val aggregates: Map[String, Seq[Expression] => Expression] = Map(
    "uniq"         -> ((es: Seq[Expression]) => new HyperLogLogPlusPlus(es.head)),
    "uniqcombined" -> ((es: Seq[Expression]) => new HyperLogLogPlusPlus(es.head)),
    "uniqhll12"    -> ((es: Seq[Expression]) => new HyperLogLogPlusPlus(es.head)),
    "quantileexact" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), es(1))),
    "median"       -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), Literal(0.5))),
    // uniqTheta: theta-sketch approximate distinct — same contract class
    // as the uniq/HLL family (approximate count-distinct with bounded
    // error); served by the HLL++ sketch like uniqCombined
    "uniqtheta"    -> ((es: Seq[Expression]) => new HyperLogLogPlusPlus(es.head)),
    // quantileTiming(value, level): the reference's fixed-precision
    // timing-histogram quantile — exact percentile meets the contract
    // (our answer is at least as precise as the ms-bucketed histogram)
    "quantiletiming" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), es(1))),
    // quantileTimingWeighted(value, weight, level)
    "quantiletimingweighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), es(2), es(1))),
    // sumKahan: compensated summation — decimal accumulation gives a
    // strictly stronger guarantee (exact at 10 fractional digits)
    "sumkahan"     -> ((es: Seq[Expression]) =>
      Cast(Sum(Cast(es.head, DecimalType(38, 10))).toAggregateExpression(),
        DoubleType)),
    // sumCount(x) → (sum, count) tuple (AggregateFunctionSumCount)
    "sumcount"     -> ((es: Seq[Expression]) =>
      CreateNamedStruct(Seq(
        Literal("sum"), Sum(Cast(es.head, DoubleType)).toAggregateExpression(),
        Literal("count"), Count(es.head).toAggregateExpression()))),
    // singleValueOrNull(x): the value when the group has exactly one
    // distinct value, else NULL (AggregateFunctionSingleValueOrNull)
    "singlevalueornull" -> ((es: Seq[Expression]) =>
      CaseWhen(Seq((
        EqualTo(Count(es.head).toAggregateExpression(isDistinct = true), Literal(1L)),
        Max(es.head).toAggregateExpression())), None)),
    // quantileTDigest/BFloat16: the reference's sketch-based approximate
    // quantiles — served by Spark's ApproximatePercentile sketch (same
    // approximate contract; (value, level) argument order as flattened)
    "quantiletdigest" -> ((es: Seq[Expression]) =>
      new ApproximatePercentile(Cast(es(0), DoubleType), es(1))),
    "quantilebfloat16" -> ((es: Seq[Expression]) =>
      new ApproximatePercentile(Cast(es(0), DoubleType), es(1))),
    // weighted sketch variants: exact weighted percentile meets the
    // contract (at least as precise as the sketch)
    "quantiletdigestweighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), es(2), es(1))),
    "quantilebfloat16weighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), es(2), es(1))),
    // quantileDeterministic(x, determinator, level): the determinator
    // only de-randomizes the reference's reservoir sampling — exact
    // percentile is deterministic by construction, so it is ignored
    "quantiledeterministic" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), es(2))),
    // quantileExactInclusive == Excel PERCENTILE.INC — the identical
    // (n−1)·q linear-interpolation formula Spark's Percentile computes
    "quantileexactinclusive" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), es(1))),
    // quantileInterpolatedWeighted(x, weight, level): interpolating
    // weighted quantile — Percentile's frequency form
    "quantileinterpolatedweighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), es(2), es(1))),
    // plural quantiles(x, l1, l2, ...) → array of quantiles in one pass
    // (the reference's quantiles(l1,l2,...)(x) parameterized form,
    // flattened); Percentile natively accepts an array of levels
    "quantiles" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), CreateArray(es.tail))),
    "quantilesexact" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), CreateArray(es.tail))),
    "quantilestiming" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), CreateArray(es.tail))),
    // (quantilesBFloat16/quantilesTDigest plurals live further down in
    // this map — stateful 00164's spellings; a shadowed duplicate pair
    // briefly added here was removed in review pass 3)
    "medianexact" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), Literal(0.5))),
    "mediantiming" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), Literal(0.5))),
    "uniqcombined64" -> ((es: Seq[Expression]) => new HyperLogLogPlusPlus(es.head)),
    // medianDeterministic(x, determinator) / weighted-sketch medians —
    // level-0.5 forms of the quantile fronts above
    "mediandeterministic" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), Literal(0.5))),
    "mediantdigestweighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), Literal(0.5), es(1))),
    "medianbfloat16" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), Literal(0.5))),
    "medianbfloat16weighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), Literal(0.5), es(1))),
    "mediantimingweighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), Literal(0.5), es(1))),
    "medianinterpolatedweighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), Literal(0.5), es(1))),
    // bare quantile(x, level): the reference's reservoir-sampling
    // approximate quantile — exact percentile meets the approximate
    // contract (same rationale as quantileDeterministic above)
    "quantile" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es(0), DoubleType), es(1))),
    // plural quantiles* grid (QuantileExact.h and friends register a
    // quantiles<Name> for every singular): flattened (x[, w], l1, l2...)
    "quantilesexactinclusive" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), CreateArray(es.tail))),
    "quantilesdeterministic" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), CreateArray(es.drop(2)))),
    "quantilestdigest" -> ((es: Seq[Expression]) =>
      new ApproximatePercentile(Cast(es.head, DoubleType), CreateArray(es.tail))),
    "quantilesbfloat16" -> ((es: Seq[Expression]) =>
      new ApproximatePercentile(Cast(es.head, DoubleType), CreateArray(es.tail))),
    "quantilestdigestweighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), CreateArray(es.drop(2)), es(1))),
    "quantilesbfloat16weighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), CreateArray(es.drop(2)), es(1))),
    "quantilestimingweighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), CreateArray(es.drop(2)), es(1))),
    "quantilesinterpolatedweighted" -> ((es: Seq[Expression]) =>
      new Percentile(Cast(es.head, DoubleType), CreateArray(es.drop(2)), es(1))),
    // sumWithOverflow: the reference keeps the argument type and lets it
    // wrap; Spark's long sum has the identical wrap for integer inputs
    "sumwithoverflow" -> ((es: Seq[Expression]) =>
      Sum(es.head).toAggregateExpression()),
    // nothing(x): always NULL (AggregateFunctionNothing)
    "nothing" -> ((es: Seq[Expression]) =>
      Max(Cast(Literal(null), DoubleType)).toAggregateExpression()),
  )

  /** Foldable numeric parameter (quantile levels, sample sizes) — the
    * reference takes these as function PARAMETERS (compile-time
    * constants), so evaluating the literal at resolution time is the
    * same contract.
    */
  private def litNum(e: Expression): Double =
    e.eval().asInstanceOf[Number].doubleValue

  /** Column-composition aggregate fronts (round-12 aggregate-registry
    * closure): names whose semantics live in [[AggregateTail]] /
    * [[BitmapFunctions]] as codegen'd Column folds. Bridged through the
    * sql.graft shim exactly like the search-expression rewrites.
    */
  private def columnAggregates: Map[String, Seq[Expression] => Expression] = {
    import org.apache.spark.sql.graft.shim
    def front(f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column)
        : Seq[Expression] => Expression =
      es => shim.expressionEager(f(es.map(shim.column)))
    val A = AggregateTail
    val B = BitmapFunctions
    Map(
      "skewpop"  -> front(cs => A.skewPop(cs.head)),
      "skewsamp" -> front(cs => A.skewSamp(cs.head)),
      "kurtpop"  -> front(cs => A.kurtPop(cs.head)),
      "kurtsamp" -> front(cs => A.kurtSamp(cs.head)),
      // flattened (x, level) forms of the parameterized quantile names
      "quantileexactlow" -> (es =>
        shim.expressionEager(A.quantileExactLow(shim.column(es(0)), litNum(es(1))))),
      "quantileexacthigh" -> (es =>
        shim.expressionEager(A.quantileExactHigh(shim.column(es(0)), litNum(es(1))))),
      "quantileexactexclusive" -> (es =>
        shim.expressionEager(A.quantileExactExclusive(shim.column(es(0)), litNum(es(1))))),
      "quantileexactweighted" -> (es =>
        shim.expressionEager(A.quantileExactWeighted(
          shim.column(es(0)), shim.column(es(1)), litNum(es(2))))),
      "medianexactlow" -> front(cs => A.quantileExactLow(cs.head, 0.5)),
      "medianexacthigh" -> front(cs => A.quantileExactHigh(cs.head, 0.5)),
      "medianexactweighted" -> (es =>
        shim.expressionEager(A.quantileExactWeighted(
          shim.column(es(0)), shim.column(es(1)), 0.5))),
      "maxintersections" -> front(cs => A.maxIntersections(cs(0), cs(1))),
      "maxintersectionsposition" ->
        front(cs => A.maxIntersectionsPosition(cs(0), cs(1))),
      // groupArrayLast(x, ord, n) — order column explicit (no stable
      // insertion order on a cluster); groupArraySample(x, n, seed)
      "grouparraylast" -> (es =>
        shim.expressionEager(A.groupArrayLast(
          shim.column(es(0)), shim.column(es(1)), litNum(es(2)).toInt))),
      "grouparraysample" -> (es =>
        shim.expressionEager(A.groupArraySample(
          shim.column(es(0)), litNum(es(1)).toInt, litNum(es(2)).toLong))),
      // plural exact-select forms: one sorted array, one index rule per
      // level (the analyzer dedupes the repeated collect_list agg)
      "quantilesexactlow" -> (es =>
        shim.expressionEager(org.apache.spark.sql.functions.array(
          es.tail.map(l => A.quantileExactLow(shim.column(es.head), litNum(l))): _*))),
      "quantilesexacthigh" -> (es =>
        shim.expressionEager(org.apache.spark.sql.functions.array(
          es.tail.map(l => A.quantileExactHigh(shim.column(es.head), litNum(l))): _*))),
      "quantilesexactexclusive" -> (es =>
        shim.expressionEager(org.apache.spark.sql.functions.array(
          es.tail.map(l => A.quantileExactExclusive(shim.column(es.head), litNum(l))): _*))),
      "quantilesexactweighted" -> (es =>
        shim.expressionEager(org.apache.spark.sql.functions.array(
          es.drop(2).map(l => A.quantileExactWeighted(
            shim.column(es(0)), shim.column(es(1)), litNum(l))): _*))),
      // -Array combinator SQL spellings (00533: multi-arg zips to tuples)
      "uniqarray" -> front(cs => graft.functions.Combinators.uniqArray(cs: _*)),
      "uniqexactarray" -> front(cs => graft.functions.Combinators.uniqExactArray(cs: _*)),
      "groupbitmapand" -> front(cs => B.groupBitmapAnd(cs.head)),
      "groupbitmapor"  -> front(cs => B.groupBitmapOr(cs.head)),
      "groupbitmapxor" -> front(cs => B.groupBitmapXor(cs.head)),
      // ClickHouse-camel fronts over Spark-native moments — the *Stable
      // names promise a numerically-stable algorithm, which Spark's
      // Welford-style central-moment aggregates already are
      "varpop"          -> front(cs => org.apache.spark.sql.functions.var_pop(cs.head)),
      "varsamp"         -> front(cs => org.apache.spark.sql.functions.var_samp(cs.head)),
      "stddevpop"       -> front(cs => org.apache.spark.sql.functions.stddev_pop(cs.head)),
      "stddevsamp"      -> front(cs => org.apache.spark.sql.functions.stddev_samp(cs.head)),
      "covarpop"        -> front(cs => org.apache.spark.sql.functions.covar_pop(cs(0), cs(1))),
      "covarsamp"       -> front(cs => org.apache.spark.sql.functions.covar_samp(cs(0), cs(1))),
      "varpopstable"    -> front(cs => org.apache.spark.sql.functions.var_pop(cs.head)),
      "varsampstable"   -> front(cs => org.apache.spark.sql.functions.var_samp(cs.head)),
      "stddevpopstable" -> front(cs => org.apache.spark.sql.functions.stddev_pop(cs.head)),
      "stddevsampstable" -> front(cs => org.apache.spark.sql.functions.stddev_samp(cs.head)),
      "covarpopstable"  -> front(cs => org.apache.spark.sql.functions.covar_pop(cs(0), cs(1))),
      "covarsampstable" -> front(cs => org.apache.spark.sql.functions.covar_samp(cs(0), cs(1))),
      "corrstable"      -> front(cs => org.apache.spark.sql.functions.corr(cs(0), cs(1))),
      "anyheavy"        -> front(cs => A.anyHeavy(cs.head)),
    )
  }

  def register(r: FunctionSurface.Registrar): Unit =
    (scalar ++ aggregates ++ columnAggregates).foreach { case (name, builder) =>
      r.expr(name)(builder)
    }
}
