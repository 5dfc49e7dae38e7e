package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** CHECK constraints for [[GraftTable]] (Delta's `ADD CONSTRAINT`,
  * spelled as table properties: `constraints.<name> = '<boolean expr>'`
  * at CREATE or via `ALTER TABLE ... SET TBLPROPERTIES`). The expression
  * compiles ONCE against the table schema into an interpreted predicate;
  * every write validates its rows in its writer tasks, the commit
  * refuses rows validated against a since-changed set, and adding a
  * constraint validates the existing rows first — so the table can
  * never hold a violating row. SQL CHECK semantics: only a result of
  * literal FALSE violates (NULL/unknown passes).
  *
  * Deliberately small expression language — column refs, literals,
  * comparisons, arithmetic, AND/OR/NOT, IS [NOT] NULL, IN — resolved
  * here without the full analyzer (a write path must not depend on
  * per-session analysis state); numeric operands widen automatically.
  * Unsupported shapes are rejected AT DEFINITION time, never silently
  * unenforced. */
private[sources] object GraftConstraints {

  val Prefix = "constraints."

  /** A compiled constraint: original text + bound checker. */
  final case class Check(text: String, expr: Expression) {
    /** True when `row` VIOLATES the constraint (evaluates to FALSE). */
    def violates(row: InternalRow): Boolean =
      expr.eval(row) == java.lang.Boolean.FALSE
  }

  private def numRank(dt: DataType): Int = dt match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 3
    case LongType => 4
    // fractional literals parse as DECIMAL ('price > 0.5'); rank them
    // below the binary floats so mixed comparisons widen toward double
    case _: DecimalType => 5
    case FloatType => 6
    case DoubleType => 7
    case _ => -1
  }

  private def isDec(dt: DataType): Boolean = dt.isInstanceOf[DecimalType]

  private def toDouble(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType, Some("UTC"))

  private def widen(l: Expression, r: Expression): (Expression, Expression) = {
    val (lr, rr) = (numRank(l.dataType), numRank(r.dataType))
    if (lr < 0 || rr < 0 || l.dataType == r.dataType) (l, r)
    // a DECIMAL mixed with anything resolves in DOUBLE — casting the
    // other side to the literal's narrow precision would overflow to
    // NULL and silently pass the check
    else if (isDec(l.dataType) || isDec(r.dataType))
      (toDouble(l), toDouble(r))
    else if (lr < rr) (Cast(l, r.dataType, Some("UTC")), r)
    else (l, Cast(r, l.dataType, Some("UTC")))
  }

  /** Compile `text` against `schema`; throws IllegalArgumentException on
    * anything the checker cannot enforce exactly. */
  def compile(text: String, schema: StructType): Check = {
    val c = compileExpr(text, schema)
    if (c.expr.dataType != BooleanType)
      throw new IllegalArgumentException(
        s"constraint '$text': must be boolean, is ${c.expr.dataType}")
    c
  }

  /** [[compile]] without the boolean requirement — the shared bounded
    * dialect for VALUE expressions (generated columns, partition-scope
    * predicates compile through [[compile]] and stay boolean). */
  def compileExpr(text: String, schema: StructType): Check = {
    val parsed =
      try SparkSession.active.sessionState.sqlParser.parseExpression(text)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"cannot parse constraint expression '$text': ${e.getMessage}")
      }
    // bind column references
    val bound = parsed.transformUp {
      case a: UnresolvedAttribute =>
        if (a.nameParts.length != 1)
          throw new IllegalArgumentException(
            s"constraint '$text': only top-level columns (got $a)")
        val i = schema.fieldNames.indexWhere(
          _.equalsIgnoreCase(a.nameParts.head))
        if (i < 0) throw new IllegalArgumentException(
          s"constraint '$text': no such column ${a.nameParts.head}")
        BoundReference(i, schema.fields(i).dataType,
          schema.fields(i).nullable)
    }
    // reject UNRESOLVED NODE CLASSES (functions, subqueries, stars)
    // BEFORE the coercion pass touches children's .dataType — an
    // UnresolvedFunction inside a comparison would otherwise throw
    // Catalyst's UnresolvedException instead of the dialect error.
    // (A merely type-mismatched comparison is also "unresolved" at this
    // point; coercion fixes those, so the full check runs after it.)
    def dialectError(e: Expression): Nothing =
      throw new IllegalArgumentException(
        s"constraint '$text': unsupported expression ${e.getClass
          .getSimpleName} (columns, literals, comparisons, arithmetic, " +
          "AND/OR/NOT, IS NULL, IN only)")
    bound.foreach {
      case e: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        dialectError(e)
      case e: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        dialectError(e)
      case e if e.getClass.getSimpleName.startsWith("Unresolved") =>
        dialectError(e)
      case _ => ()
    }
    // numeric widening for mixed-type comparisons/arithmetic (the only
    // implicit coercion this dialect performs)
    val coerced = bound.transformUp {
      case b: BinaryComparison if b.left.dataType != b.right.dataType =>
        val (l, r) = widen(b.left, b.right)
        if (l.dataType != r.dataType)
          throw new IllegalArgumentException(
            s"constraint '$text': cannot compare ${b.left.dataType} " +
              s"with ${b.right.dataType}")
        b.withNewChildren(Seq(l, r))
      case b: BinaryArithmetic if b.left.dataType != b.right.dataType =>
        val (l, r) = widen(b.left, b.right)
        if (l.dataType != r.dataType)
          throw new IllegalArgumentException(
            s"constraint '$text': cannot combine ${b.left.dataType} " +
              s"with ${b.right.dataType}")
        b.withNewChildren(Seq(l, r))
      case in: In =>
        val all = in.value +: in.list
        if (all.map(_.dataType).distinct.length == 1) in
        else {
          // widen EVERY side (the probed value included) to the widest
          // numeric type present — 'smallint_col IN (1, 2)' is as valid
          // as the reverse
          val ranks = all.map(e => numRank(e.dataType))
          if (ranks.exists(_ < 0))
            throw new IllegalArgumentException(
              s"constraint '$text': IN list type mismatch")
          // decimal mixes resolve in double (see widen); otherwise the
          // widest rank wins
          val target =
            if (all.exists(e => isDec(e.dataType))) DoubleType
            else all(ranks.indexOf(ranks.max)).dataType
          val cast = all.map(e =>
            if (e.dataType == target) e else Cast(e, target, Some("UTC")))
          In(cast.head, cast.tail)
        }
    }
    // full resolution AFTER coercion: anything still unresolved (an
    // uncoercible shape the guards missed) rejects rather than
    // under-enforcing
    coerced.foreach(e => if (!e.resolved) dialectError(e))
    Check(text, coerced)
  }
}
