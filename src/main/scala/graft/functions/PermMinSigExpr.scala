package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** MinHash signature over ALREADY-HASHED elements via the portable
  * permutation family: slot i = min over elements h of
  * `(a_i * (h mod P) + b_i) mod P` with [[PortableHash]] constants —
  * pure overflow-free integer arithmetic a SQL oracle replays from inlined
  * literals. Fused loop: one `mod P` per element, one multiply-add-mod
  * per (element, slot), inside whole-stage codegen.
  *
  * Null elements are skipped; an empty/all-null input yields
  * `Long.MaxValue` sentinels, where the HOF formulation's `array_min`
  * gives null slots (unreachable through `Dedup.shingles`, which never
  * returns empty). A null array yields null.
  *
  * Registered as SQL `minhash_perm_signature(arr, numHashes)` by
  * [[graft.plans.GraftExtensions]].
  */
case class PermMinSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes > 0 && numHashes <= 512,
          s"numHashes must be in (0, 512], got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_perm_signature requires array<bigint>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_perm_signature"

  override protected def nullSafeEval(input: Any): Any =
    PermMinSigExpr.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PermMinSigExpr.compute($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): PermMinSigExpr =
    copy(child = newChild)
}

object PermMinSigExpr {
  // perm-constant cache: (a, b) arrays are index-stable, so one max-size
  // fetch per JVM serves every numHashes
  @volatile private var cached: (Array[Long], Array[Long]) = null

  private def consts(n: Int): (Array[Long], Array[Long]) = {
    val c = cached
    if (c != null && c._1.length >= n) c
    else {
      val fresh = PortableHash.perms(math.max(n, 64))
      cached = fresh
      fresh
    }
  }

  def compute(arr: ArrayData, numHashes: Int): ArrayData = {
    val (a, b) = consts(numHashes)
    val p      = PortableHash.P
    val n      = arr.numElements()
    val mins   = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val hm = Math.floorMod(arr.getLong(i), p)
        var s = 0
        while (s < numHashes) {
          val v = (a(s) * hm + b(s)) % p
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
