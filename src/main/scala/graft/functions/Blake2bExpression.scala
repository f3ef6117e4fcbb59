package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's content-address hashes
  * (`/root/reference/src/catenae/utils.py:42-57`): blake2b-256/512 hex of
  * UTF-8 text as a codegen'd `UnaryExpression`.
  *
  * Versus the Scala-UDF form: no encoder round-trip, inline null handling,
  * and the call stays inside the surrounding WholeStageCodegen span — the
  * per-row cost is the digest itself. The digest is a static call into
  * [[Blake2b]] (stateless, thread-safe). */
case class Blake2bHash(child: Expression, bits: Int) extends UnaryExpression {
  require(bits == 256 || bits == 512, s"unsupported digest size $bits")

  // SQL-registered: reject non-string input at analysis time so
  // blake2b_256(42) is an AnalysisException, not a runtime
  // ClassCastException / codegen failure. (ExpectsInputTypes is
  // private[sql] in Spark 4, so the check is implemented directly.)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = StringType
  override def prettyName: String = s"blake2b_$bits"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      Blake2b.toHex(Blake2b.hash(input.asInstanceOf[UTF8String].getBytes, bits / 8)))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.Blake2b.hexOfBytes($c.getBytes(), ${bits / 8}))")

  override protected def withNewChildInternal(newChild: Expression): Blake2bHash =
    copy(child = newChild)
}

/** SHA3-512 hex digest (reference `utils.py:54-57`) as an EVAL-ONLY
  * expression (CodegenFallback): the per-row cost is the JCE digest
  * itself, so a generated call body buys nothing — but expression form
  * (vs the former Scala UDF) still drops the encoder round-trip, gets
  * analysis-time type checking, and lets [[GraftExtensions]] offer the
  * name, which the UDF form could not (extensions inject expression
  * builders only). */
case class Sha3_512Hash(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = StringType
  override def prettyName: String = "sha3_512"

  override protected def nullSafeEval(input: Any): Any = {
    val md = java.security.MessageDigest.getInstance("SHA3-512")
    UTF8String.fromString(Blake2b.toHex(
      md.digest(input.asInstanceOf[UTF8String].getBytes)))
  }

  override protected def withNewChildInternal(newChild: Expression): Sha3_512Hash =
    copy(child = newChild)
}

/** SparkSessionExtensions hook — registers the native functions for
  * SQL use: `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` (what
  * `graft.GraftSession.builder` sets). Iterates the [[SqlFunctions]]
  * table, the one list of SQL-callable names. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    SqlFunctions.all.foreach { case (name, clazz, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
}
