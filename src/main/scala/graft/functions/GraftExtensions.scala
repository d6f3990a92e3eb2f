package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType}

/** One registry for every engine function exposed to SQL — the
  * frequent-items sketch, the vec_dot codegen kernel, the FFT
  * expression, and the Gorilla/delta-of-delta codecs — so SQL users
  * get the same Catalyst-native operators the Column API wraps (no UDF
  * indirection). KLL quantile sketches are Spark's own built-ins
  * (`kll_sketch_agg_double`, `kll_merge_agg_double`, …), already
  * registered in every session.
  *
  * Two registration paths:
  *   - [[GraftFunctions.registerAll]] — runtime, per-session (tests,
  *     notebooks, an existing session);
  *   - [[GraftExtensions]] — config-based for deploys:
  *     `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  *     injects the same builders at session build time on every
  *     executor-facing session.
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$what must be an INTEGER literal, got $other")
  }

  private def arity(name: String, ns: Int*): Nothing =
    throw new IllegalArgumentException(
      s"$name expects ${ns.mkString(" or ")} arguments")

  // Every value-typed argument is coerced with an explicit Cast at
  // registration: SQL-side types rarely match the eval's assumption
  // (a DATE item would be stored under its internal toString while the
  // freq_estimate probe casts to the external form). Casting the
  // sketch/binary args to BinaryType turns a wrong-typed argument
  // into an analysis-time error instead of a deep runtime CCE.
  private def str(e: Expression) = Cast(e, StringType)
  private def bin(e: Expression) = Cast(e, BinaryType)
  private def darr(e: Expression) = Cast(e, ArrayType(DoubleType))
  private def larr(e: Expression) = Cast(e, ArrayType(LongType))

  /** (name, builder) for every SQL-exposed engine function. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "freq_sketch" -> {
      case Seq(v) => FreqAgg.FreqSketchAgg(str(v)).toAggregateExpression()
      case Seq(v, m) => FreqAgg.FreqSketchAgg(str(v), intArg(m, "maxMapSize")).toAggregateExpression()
      case _ => arity("freq_sketch", 1, 2)
    },
    "freq_merge" -> {
      case Seq(s) => FreqAgg.FreqMergeAgg(bin(s)).toAggregateExpression()
      case Seq(s, m) => FreqAgg.FreqMergeAgg(bin(s), intArg(m, "maxMapSize")).toAggregateExpression()
      case _ => arity("freq_merge", 1, 2)
    },
    "freq_items" -> {
      case Seq(s) => FreqAgg.FreqItems(bin(s))
      case _ => arity("freq_items", 1)
    },
    "freq_estimate" -> {
      case Seq(s, item) => FreqAgg.FreqEstimate(bin(s), str(item))
      case _ => arity("freq_estimate", 2)
    },
    // vec_dot keeps its own checkInputDataTypes (float AND double
    // arrays are both legal — a forced cast would break the float path)
    "vec_dot" -> {
      case Seq(a, b) => VecExpressions.VecDot(a, b)
      case _ => arity("vec_dot", 2)
    },
    "fft_coeffs" -> {
      case Seq(v) => FftExpressions.FftCoeffs(darr(v))
      case _ => arity("fft_coeffs", 1)
    },
    "gorilla_encode" -> {
      case Seq(v) => CodecExpressions.GorillaEncode(darr(v))
      case _ => arity("gorilla_encode", 1)
    },
    "gorilla_decode" -> {
      case Seq(v) => CodecExpressions.GorillaDecode(bin(v))
      case _ => arity("gorilla_decode", 1)
    },
    "dod_encode" -> {
      case Seq(v) => CodecExpressions.DodEncode(larr(v))
      case _ => arity("dod_encode", 1)
    },
    "dod_decode" -> {
      case Seq(v) => CodecExpressions.DodDecode(bin(v))
      case _ => arity("dod_decode", 1)
    })

  /** Runtime registration on an existing session. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** `spark.sql.extensions` entry point (must have a 0-arg ctor). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}
