package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{Kernel, KernelCall, Kernels}

/** SparkSessionExtensions entry point: registers graft's kernels as SQL
  * functions so `spark.sql("SELECT cosine_sim(a, b)")` works next to the
  * Column API ([[graft.functions.vector.cosineSim]]).
  *
  * Enable with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * (or the `--conf` equivalent on spark-submit).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit =
    Functions.foreach { case (fn, params) =>
      ext.injectFunction((
        FunctionIdentifier(fn.name),
        new ExpressionInfo(classOf[KernelCall].getName, fn.name),
        (args: Seq[Expression]) => build(fn, params, args)))
    }
}

object GraftExtensions {

  /** A constant INT argument of a SQL function, in `[1, hi]`; `widen`
    * passes it to the kernel as a long.
    */
  private case class IntParam(name: String, hi: Int = Int.MaxValue,
                              widen: Boolean = false)

  /** Every SQL function: its kernel, then its constant arguments, which
    * follow the column inputs.
    */
  private val Functions: Seq[(Kernel, Seq[IntParam])] = Seq(
    Kernels.CosineSim -> Nil,
    Kernels.MilliDot -> Nil,
    Kernels.Md5Long60 -> Nil,
    Kernels.WinnowFingerprints ->
      Seq(IntParam("k"), IntParam("w"), IntParam("mod", widen = true)),
    // 64 planes fill the long; more would silently alias bit 63
    Kernels.SignLshSig -> Seq(IntParam("nPlanes", 64), IntParam("dims")),
    Kernels.MilliVec -> Nil,
    Kernels.MilliUnitVec -> Nil,
    Kernels.AbsMax -> Nil,
    Kernels.Int8Codes -> Nil,
    Kernels.Int8FidParts -> Nil)

  /** The call `fn(args)`, after the checks a built-in makes on outside
    * input: wrong arity, a non-literal constant and an out-of-range
    * constant each fail analysis with an `AnalysisException` that names
    * the function, rather than surfacing later from inside generated
    * code (an IndexOutOfBounds, an ArrayIndexOutOfBounds, an
    * ArithmeticException).
    */
  private def build(fn: Kernel, params: Seq[IntParam],
                    args: Seq[Expression]): Expression = {
    val expected = fn.inputs.length + params.length
    if (args.length != expected)
      throw new AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map(
          "functionName" -> s"`${fn.name}`",
          "expectedNum" -> expected.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"),
        None)
    val (inputs, constants) = args.splitAt(fn.inputs.length)
    val values = params.zip(constants).map {
      case (_, Literal(v: Int, IntegerType)) => v
      case (p, _) => throw new AnalysisException(
        "NON_FOLDABLE_ARGUMENT",
        Map("funcName" -> s"`${fn.name}`",
          "paramName" -> s"`${p.name}`", "paramType" -> "\"INT\""),
        None)
    }
    params.zip(values).foreach { case (p, v) =>
      if (v < 1 || v > p.hi)
        throw new AnalysisException(
          "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE",
          Map(
            "sqlExpr" -> s"\"${fn.name}\"",
            "exprName" -> s"`${p.name}`",
            "valueRange" -> s"[1, ${p.hi}]",
            "currentValue" -> v.toString),
          None)
    }
    // typed Any, so an INT stays an int: `if` would widen both to long
    KernelCall(fn.using(params.zip(values).map[Any] {
      case (p, v) => if (p.widen) v.toLong else v
    }: _*), inputs)
  }
}
