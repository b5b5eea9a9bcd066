package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hottest path functions (SURVEY
  * §7.3 "codegen polish"): `basepath`/`basename` sit on the join keys of
  * every view (J3 parent join, vw_ll dirs branch), where the
  * regexp_replace composition pays regex-engine cost per row. These
  * replace it with a single backward byte scan, participate in
  * whole-stage codegen via `doGenCode`, and return BYTE-IDENTICAL results
  * to the regex forms (pinned by PathExpressionsSpec against the twins,
  * which remain the oracle-documented semantics).
  *
  * Semantics equivalence proof sketch (k = index of LAST '/' or '\\'):
  *   - basename: regex `^.+[/\\]` strips through the last separator iff it
  *     has ≥1 preceding char → k ≥ 1 → substring(k+1); else unchanged.
  *   - basepath: regex `(.)[/\\][^/\\]+$ → $1` removes the trailing
  *     separator+segment iff k ≥ 1 AND the segment is nonempty
  *     (k < len−1) → substring(0, k); else unchanged. Then the drive-root
  *     fixup re-appends '\' when the result ends with ':'.
  * Both scans are byte-safe in UTF-8: '/' (0x2F) and '\\' (0x5C) never
  * occur in multi-byte sequences.
  */
object PathExprUtils {

  def lastSep(s: String): Int = {
    var k = -1
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '/' || c == '\\') k = i
      i += 1
    }
    k
  }

  def basename(u: UTF8String): UTF8String = {
    val s = u.toString
    val k = lastSep(s)
    if (k < 1) u else UTF8String.fromString(s.substring(k + 1))
  }

  def basepath(u: UTF8String): UTF8String = {
    val s = u.toString
    val k = lastSep(s)
    val stripped = if (k >= 1 && k < s.length - 1) s.substring(0, k) else s
    val fixed = if (stripped.nonEmpty && stripped.charAt(stripped.length - 1) == ':')
      stripped + "\\"
    else stripped
    if (fixed eq s) u else UTF8String.fromString(fixed)
  }
}

abstract class PathUnaryExpression extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  protected def utilMethod: String

  override protected def nullSafeEval(input: Any): Any = input match {
    case u: UTF8String =>
      if (utilMethod == "basename") PathExprUtils.basename(u)
      else PathExprUtils.basepath(u)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PathExprUtils.$utilMethod($c)")
}

case class BasenameExpr(child: Expression) extends PathUnaryExpression {
  override protected def utilMethod: String = "basename"
  override protected def withNewChildInternal(newChild: Expression): BasenameExpr =
    copy(child = newChild)
  override def prettyName: String = "basename_fast"
}

case class BasepathExpr(child: Expression) extends PathUnaryExpression {
  override protected def utilMethod: String = "basepath"
  override protected def withNewChildInternal(newChild: Expression): BasepathExpr =
    copy(child = newChild)
  override def prettyName: String = "basepath_fast"
}

/** Column API + SQL registration for the native expressions. */
object PathExpressions {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
  def basenameFast(c: Column): Column = column(BasenameExpr(expression(c)))
  def basepathFast(c: Column): Column = column(BasepathExpr(expression(c)))
}

/** `SparkSessionExtensions` hook that makes the native functions
  * available to plain SQL (`basepath_fast`, `basename_fast`,
  * `jaro_winkler`, `ws_token_count`, `winnow_select`). Every
  * `graft.core.GraftSession` installs it; `--conf spark.sql.extensions=
  * graft.functions.GraftExtensions` is only for sessions built outside
  * this engine (spark-shell, spark-submit). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("basepath_fast"),
      new ExpressionInfo(classOf[BasepathExpr].getName, "basepath_fast"),
      (children: Seq[Expression]) => BasepathExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("basename_fast"),
      new ExpressionInfo(classOf[BasenameExpr].getName, "basename_fast"),
      (children: Seq[Expression]) => BasenameExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerExpr].getName, "jaro_winkler"),
      (children: Seq[Expression]) =>
        JaroWinklerExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("ws_token_count"),
      new ExpressionInfo(classOf[WsTokenCountExpr].getName, "ws_token_count"),
      (children: Seq[Expression]) => WsTokenCountExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("winnow_select"),
      new ExpressionInfo(classOf[WinnowSelectExpr].getName, "winnow_select"),
      (children: Seq[Expression]) => {
        // k/w must be integer LITERALS — a column reference here would
        // otherwise die at eval(null) with an opaque NPE/ClassCastException
        def lit(e: Expression, name: String): Int = {
          if (!e.foldable)
            throw new IllegalArgumentException(
              s"winnow_select: $name must be an integer literal, got ${e.sql}")
          e.eval(null) match {
            case n: Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"winnow_select: $name must be an integer literal, got $other")
          }
        }
        WinnowSelectExpr(children(0), lit(children(1), "k"), lit(children(2), "w"))
      }))
  }
}
