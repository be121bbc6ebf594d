package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native nearest-candidate argmin in the fixed-point domain: given an
  * `array<bigint>` vector `v` and an array of `struct(id, vec)` candidates
  * (`id` int or bigint, `vec` array<bigint>), the id of the candidate with
  * the smallest exact int64 squared L2 ([[L2SqFp]] arithmetic, Java long
  * wrap-around included), ties → the lowest id.
  *
  * It replaces the broadcast-fold HOF every fixed-point assignment used:
  * {{{
  *   aggregate(transform(cands, c => struct(l2sqFp(v, c.vec) AS d, c.id AS id)),
  *     struct(Long.MaxValue AS d, Long.MaxValue AS id),
  *     (acc, x) => when(x < acc, x).otherwise(acc)).id
  * }}}
  * and matches it on every input, not only the happy path:
  *  - the result is the id of the lexicographic minimum of (d, id) over the
  *    candidates plus the fold's (MaxValue, MaxValue) zero, with NULLs
  *    ordered FIRST within each field — struct `<` sorts nulls first — so
  *    a NULL distance wins and a NULL id wins its distance tie;
  *  - a NULL candidate entry is (NULL, NULL); a NULL `v`, a NULL or
  *    length-mismatched `vec` or a NULL element make that distance NULL;
  *  - an empty candidate array returns `Long.MaxValue` (the zero's id), a
  *    NULL candidate array returns NULL.
  *
  * Why native: the fold materializes a k-entry struct array per row and
  * runs two interpreted lambdas per candidate; this is one primitive loop
  * inside WholeStageCodegen. The call sites (PQ code assignment, coarse
  * assignment, fixed-point k-means, IVF re-split) run it rows × k times
  * per Lloyd round.
  */
case class ArgminL2Fp(left: Expression, right: Expression) extends BinaryExpression {

  @transient private lazy val idIsInt: Boolean = right.dataType match {
    case ArrayType(StructType(fs), _) => fs(0).dataType == IntegerType
    case _ => false
  }

  @transient private lazy val mayContainNull: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, vn), ArrayType(StructType(fs), _)) => vn || (fs(1).dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })
    case _ => true
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(StructType(Array(
        StructField(_, IntegerType | LongType, _, _),
        StructField(_, ArrayType(LongType, _), _, _))), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      "graft_argmin_l2_fp expects (array<bigint>, array<struct<id: int|bigint, " +
        s"vec: array<bigint>>>), got ($l, $r)")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_argmin_l2_fp"
  // a NULL distance/id can win (see above), so nullability is not the children's
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val cands = right.eval(input).asInstanceOf[ArrayData]
    if (cands == null) return null
    val v = left.eval(input).asInstanceOf[ArrayData]
    var bdNull = false
    var bd = Long.MaxValue
    var biNull = false
    var bi = Long.MaxValue
    var i = 0
    while (i < cands.numElements()) {
      var xdNull = true
      var xd = 0L
      var xiNull = true
      var xi = 0L
      if (!cands.isNullAt(i)) {
        val s = cands.getStruct(i, 2)
        xiNull = s.isNullAt(0)
        if (!xiNull) xi = if (idIsInt) s.getInt(0).toLong else s.getLong(0)
        if (v != null && !s.isNullAt(1)) {
          val w = s.getArray(1)
          val n = v.numElements()
          if (n == w.numElements()) {
            xdNull = false
            var j = 0
            while (j < n && !xdNull) {
              if (mayContainNull && (v.isNullAt(j) || w.isNullAt(j))) xdNull = true
              else {
                val d = v.getLong(j) - w.getLong(j)
                xd += d * d
              }
              j += 1
            }
          }
        }
      }
      val less =
        if (xdNull != bdNull) xdNull
        else if (!xdNull && xd != bd) xd < bd
        else if (xiNull != biNull) xiNull
        else !xiNull && xi < bi
      if (less) { bdNull = xdNull; bd = xd; biNull = xiNull; bi = xi }
      i += 1
    }
    if (biNull) null else bi
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = left.genCode(ctx)
    val c = right.genCode(ctx)
    val Seq(bdNull, bd, biNull, bi, i, s, w, n, j, d, xdNull, xd, xiNull, xi, less) =
      Seq("bdNull", "bd", "biNull", "bi", "i", "s", "w", "n", "j", "d",
        "xdNull", "xd", "xiNull", "xi", "less").map(ctx.freshName)
    val readId = if (idIsInt) s"(long) $s.getInt(0)" else s"$s.getLong(0)"
    // the null-element scan compiles in only when the types allow nulls
    val nullCheck =
      if (mayContainNull)
        s"if (${v.value}.isNullAt($j) || $w.isNullAt($j)) { $xdNull = true; break; }"
      else ""
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      long ${ev.value} = -1L;
      if (!${ev.isNull}) {
        ${v.code}
        boolean $bdNull = false;
        long $bd = Long.MAX_VALUE;
        boolean $biNull = false;
        long $bi = Long.MAX_VALUE;
        for (int $i = 0; $i < ${c.value}.numElements(); $i++) {
          boolean $xdNull = true;
          long $xd = 0L;
          boolean $xiNull = true;
          long $xi = 0L;
          if (!${c.value}.isNullAt($i)) {
            InternalRow $s = ${c.value}.getStruct($i, 2);
            $xiNull = $s.isNullAt(0);
            if (!$xiNull) { $xi = $readId; }
            if (!${v.isNull} && !$s.isNullAt(1)) {
              ArrayData $w = $s.getArray(1);
              int $n = ${v.value}.numElements();
              if ($n == $w.numElements()) {
                $xdNull = false;
                for (int $j = 0; $j < $n; $j++) {
                  $nullCheck
                  long $d = ${v.value}.getLong($j) - $w.getLong($j);
                  $xd += $d * $d;
                }
              }
            }
          }
          boolean $less;
          if ($xdNull != $bdNull) { $less = $xdNull; }
          else if (!$xdNull && $xd != $bd) { $less = $xd < $bd; }
          else if ($xiNull != $biNull) { $less = $xiNull; }
          else { $less = !$xiNull && $xi < $bi; }
          if ($less) { $bdNull = $xdNull; $bd = $xd; $biNull = $xiNull; $bi = $xi; }
        }
        ${ev.isNull} = $biNull;
        ${ev.value} = $bi;
      }
    """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
