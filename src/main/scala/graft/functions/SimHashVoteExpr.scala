package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** SimHash over ALREADY-HASHED tokens: bit i of the result = majority vote
  * of bit i across the input longs (strict majority; a tie leaves the bit
  * 0 — `2*set > n`, the formulation a SQL oracle replays per bit with a
  * `list_filter` count). The portable simhash kernel: feed it
  * [[Md5Prefix60Expr]] output with `bits = 60` and every step is
  * replayable in DuckDB. Null elements are skipped; an empty/all-null
  * array yields 0; a null array yields null.
  *
  * Registered as SQL `simhash_vote(arr, bits)` by
  * [[graft.plans.GraftExtensions]].
  */
case class SimHashVoteExpr(child: Expression, bits: Int)
    extends UnaryExpression {

  require(bits > 0 && bits <= 63, s"bits must be in (0, 63], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_vote requires array<bigint>, got ${other.sql}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_vote"

  override protected def nullSafeEval(input: Any): Any =
    SimHashVoteExpr.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimHashVoteExpr.compute($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashVoteExpr =
    copy(child = newChild)
}

object SimHashVoteExpr {
  def compute(arr: ArrayData, bits: Int): Long = {
    val n     = arr.numElements()
    val votes = new Array[Int](bits)
    var seen  = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        seen += 1
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      // strict majority: 2*set > seen (ties → 0), the SQL-replayable form
      if (2 * votes(b) > seen) out |= (1L << b)
      b += 1
    }
    out
  }
}
