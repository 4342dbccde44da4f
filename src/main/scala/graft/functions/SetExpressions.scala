package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression for the pair family's verify hot path:
  * |A ∩ B| over two SORTED `array<bigint>` columns by a linear merge
  * walk.
  *
  * The composable form — `size(array_intersect(ha, hb))` — builds a
  * hash set of one side and MATERIALIZES the full intersection array
  * per row, only to take its length; the candidate-verify stage
  * evaluates it once per candidate pair (pair budget × corpus size
  * rows at 100 TB), which makes the allocation + hashing the stage's
  * dominant CPU after the joins themselves. This expression compiles
  * to an allocation-free two-pointer count inside whole-stage codegen
  * (with an interpreted fallback of the same shape).
  *
  * CONTRACT: both inputs must be sorted ascending with distinct
  * elements ([[graft.text.Dedup]] builds them via
  * `sort_array(collect_list(xxhash64(s)))` over DISTINCT shingles —
  * strictly increasing up to a 64-bit hash collision inside one
  * document, the same collision bound the scaladoc there already
  * accepts). On such inputs the merge count equals
  * `size(array_intersect(a, b))` exactly; on unsorted inputs it
  * undercounts — it is not registered for SQL surface use beyond the
  * library's own verify joins and tests.
  */
case class SortedIntersectCountI64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_i64"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $na && $j < $nb) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 32-bit sibling of [[SortedIntersectCountI64]] for the two-phase
  * verify SCREEN (round 16): a multiset intersection count over two
  * SORTED `array<int>` columns by the same allocation-free merge walk.
  *
  * Inputs are the 32-bit truncations (`shiftright(h, 32)` of the
  * sorted 64-bit arrays — order-preserving, so no re-sort) and may
  * contain DUPLICATES where two 64-bit hashes share high bits; the
  * merge walk counts min-multiplicity per value, which is ≥ the true
  * 64-bit intersection size (each common 64-bit element contributes a
  * matching 32-bit value on both sides). The screen therefore passes a
  * SUPERSET of the true qualifying pairs — the 64-bit confirm pass
  * computes the exact count on survivors only — while the wide
  * candidate×array intermediate ships half the bytes.
  */
case class SortedIntersectCountI32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_i32"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<int>, array<int>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val xv = x.getInt(i)
      val yv = y.getInt(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $na && $j < $nb) {
         |  int $xv = $a.getInt($i);
         |  int $yv = $b.getInt($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SetExpressions {
  /** Register `intersect_count_i64` / `intersect_count_i32` for SQL +
    * Column use in this session, once: a later call finds them
    * registered and leaves the registry as it is. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(FunctionIdentifier("intersect_count_i64"))) {
        registry.createOrReplaceTempFunction("intersect_count_i64",
          exprs => SortedIntersectCountI64(exprs(0), exprs(1)), "built-in")
        registry.createOrReplaceTempFunction("intersect_count_i32",
          exprs => SortedIntersectCountI32(exprs(0), exprs(1)), "built-in")
      }
    }
  }
}
