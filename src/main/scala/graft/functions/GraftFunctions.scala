package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Imperative registration of the engine's native functions, for sessions
  * built WITHOUT `spark.sql.extensions=graft.GraftExtensions` (a host that
  * calls `SparkEntry.queries` from its own bare session). Idempotent;
  * operator code that uses the functions calls this first.
  */
object GraftFunctions {

  /** The `i`-th argument of `fn` as an Int fixed at analysis time: any
    * foldable byte, short, int or bigint (`4`, `4L`, `CAST(4 AS SMALLINT)`)
    * whose value fits an Int. Anything else fails analysis naming `fn`.
    */
  private def intArg(fn: String, param: String, children: Seq[Expression], i: Int): Int = {
    val e = children(i)
    def mismatch(sub: String, params: (String, String)*) = new AnalysisException(
      s"DATATYPE_MISMATCH.$sub",
      (params :+ ("sqlExpr" -> s"$fn(${children.map(_.sql).mkString(", ")})")).toMap)
    if (!e.foldable) throw new AnalysisException("NON_FOLDABLE_ARGUMENT",
      Map("funcName" -> fn, "paramName" -> param, "paramType" -> "INT"))
    e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new AnalysisException("UNEXPECTED_INPUT_TYPE", Map(
        "paramIndex" -> (i + 1).toString, "functionName" -> fn, "requiredType" -> "INT",
        "inputSql" -> e.sql, "inputType" -> other.sql))
    }
    e.eval() match {
      case null => throw mismatch("UNEXPECTED_NULL", "exprName" -> param)
      case v: Number if v.longValue.isValidInt => v.intValue
      case v => throw mismatch("VALUE_OUT_OF_RANGE", "exprName" -> param,
        "valueRange" -> s"[${Int.MinValue}, ${Int.MaxValue}]", "currentValue" -> v.toString)
    }
  }

  /** Arity-checked builders, shared with [[graft.GraftExtensions]] — the
    * functions are injected session-wide for arbitrary SQL, so `vec_dot(a)`
    * must fail analysis with a clear message rather than throw an index
    * error, and `vec_dot(a, b, c)` must not silently ignore the third
    * argument.
    */
  private[graft] def vecDotBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"vec_dot requires exactly 2 arguments (two float/double arrays), got ${children.length}")
    VecDot(children.head, children(1))
  }

  private[graft] def md5Prefix64Builder(children: Seq[Expression]): Expression = {
    require(children.length == 1,
      s"md5prefix64 requires exactly 1 argument, got ${children.length}")
    Md5Prefix64(children.head)
  }

  private[graft] def minHashSigsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"minhash_sigs requires exactly 2 arguments (array<string>, numHashes literal), got ${children.length}")
    val n = intArg("minhash_sigs", "numHashes", children, 1)
    MinHashSigs(children.head, n)
  }

  private[graft] def winnowPairsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"winnow_pairs requires exactly 2 arguments (array<bigint>, window literal), got ${children.length}")
    val w = intArg("winnow_pairs", "window", children, 1)
    WinnowPairs(children.head, w)
  }

  private[graft] def simHashBitsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"simhash_bits requires exactly 2 arguments (array<bigint>, numBits literal), got ${children.length}")
    val n = intArg("simhash_bits", "numBits", children, 1)
    SimHashBits(children.head, n)
  }

  def ensure(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(new FunctionIdentifier("vec_dot")))
      reg.registerFunction(
        new FunctionIdentifier("vec_dot"),
        new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
        vecDotBuilder _)
    if (!reg.functionExists(new FunctionIdentifier("md5prefix64")))
      reg.registerFunction(
        new FunctionIdentifier("md5prefix64"),
        new ExpressionInfo(classOf[Md5Prefix64].getName, "md5prefix64"),
        md5Prefix64Builder _)
    if (!reg.functionExists(new FunctionIdentifier("minhash_sigs")))
      reg.registerFunction(
        new FunctionIdentifier("minhash_sigs"),
        new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
        minHashSigsBuilder _)
    if (!reg.functionExists(new FunctionIdentifier("simhash_bits")))
      reg.registerFunction(
        new FunctionIdentifier("simhash_bits"),
        new ExpressionInfo(classOf[SimHashBits].getName, "simhash_bits"),
        simHashBitsBuilder _)
    if (!reg.functionExists(new FunctionIdentifier("winnow_pairs")))
      reg.registerFunction(
        new FunctionIdentifier("winnow_pairs"),
        new ExpressionInfo(classOf[WinnowPairs].getName, "winnow_pairs"),
        winnowPairsBuilder _)
  }
}
