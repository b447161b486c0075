package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math.
  *
  * The higher-order-function formulation (`zip_with` + `aggregate`)
  * runs interpreted — per-element closure dispatch, no whole-stage
  * codegen — which dominates ANN/near-dup scans at scale. These
  * expressions generate a tight primitive loop (one pass, no
  * allocation) and stay inside whole-stage codegen.
  *
  * Semantics match the HOF versions bit-for-bit: elements promote to
  * double, accumulation is left-to-right, cosine = dot /
  * (sqrt(na)*sqrt(nb)), null on length mismatch / null element /
  * zero norm.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(et, _) => et == FloatType || et == DoubleType
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  @inline protected final def elemAt(a: ArrayData, i: Int, dt: DataType): Double =
    dt match {
      case FloatType => a.getFloat(i).toDouble
      case _         => a.getDouble(i)
    }
}

/** dot(a, b): Σ aᵢ·bᵢ in double. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left), elemType(right))
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += elemAt(a, i, lt) * elemAt(b, i, rt)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val (lt, rt) = (elemType(left), elemType(right))
      s"""
      int $n = $a.numElements();
      if ($n != $b.numElements()) { ${ev.isNull} = true; }
      else {
        double $dot = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
          $dot += (double)${CodeGenerator.getValue(a, lt, i)} * (double)${CodeGenerator.getValue(b, rt, i)};
        }
        if (!${ev.isNull}) { ${ev.value} = $dot; }
      }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (‖a‖·‖b‖), fused single pass; null on zero norm. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left), elemType(right))
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elemAt(a, i, lt); val y = elemAt(b, i, rt)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y"); val den = ctx.freshName("den")
      val (lt, rt) = (elemType(left), elemType(right))
      s"""
      int $n = $a.numElements();
      if ($n != $b.numElements()) { ${ev.isNull} = true; }
      else {
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
          double $x = (double)${CodeGenerator.getValue(a, lt, i)};
          double $y = (double)${CodeGenerator.getValue(b, rt, i)};
          $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        }
        if (!${ev.isNull}) {
          double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
          if ($den == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $den; }
        }
      }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sqdist_long(a, b): Σ (aᵢ−bᵢ)² over array<long> in long arithmetic —
  * the exact integer squared L2 distance of the quantized-coordinate
  * convention (1e-7 units ⇒ per-term ≤ ~1.6e15, 64-dim sum ≤ ~1e17,
  * far inside long range). Replaces the interpreted
  * `aggregate(zip_with(a, b, (x,y) ⇒ (x−y)·(x−y)), 0L, +)` pipeline —
  * per-element closure dispatch plus a zipped intermediate array per
  * row — with a fused codegen loop; results are bit-identical for
  * inputs whose true sum fits a long (the quantized convention
  * guarantees it). Null on length mismatch or null element, matching
  * zip_with + aggregate null propagation.
  */
case class SqDistLong(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "vec_sqdist_long"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(et, _) => et == LongType
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
      int $n = $a.numElements();
      if ($n != $b.numElements()) { ${ev.isNull} = true; }
      else {
        long $s = 0L;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
          long $d = $a.getLong($i) - $b.getLong($i);
          $s += $d * $d;
        }
        if (!${ev.isNull}) { ${ev.value} = $s; }
      }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Session-extension wiring (`spark.sql.extensions=graft.functions.GraftExtensions`):
  * registers `vec_dot` / `vec_cosine` as SQL functions, callable from
  * both SQL text and the Column API via `call_function`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((new FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "vec_cosine"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    ext.injectFunction((new FunctionIdentifier("vec_sqdist_long"),
      new ExpressionInfo(classOf[SqDistLong].getName, "vec_sqdist_long"),
      (args: Seq[Expression]) => SqDistLong(args(0), args(1))))
    ext.injectFunction((new FunctionIdentifier("top_k_by"),
      new ExpressionInfo(classOf[TopKByScore].getName, "top_k_by"),
      (args: Seq[Expression]) => TopKByScore(args(0), args(1),
        args(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((new FunctionIdentifier("top_k_by_long"),
      new ExpressionInfo(classOf[TopKByScoreLong].getName, "top_k_by_long"),
      (args: Seq[Expression]) => TopKByScoreLong(args(0), args(1),
        args(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((new FunctionIdentifier("lcs_len"),
      new ExpressionInfo(classOf[LcsLen].getName, "lcs_len"),
      (args: Seq[Expression]) => LcsLen(args(0), args(1))))
    ext.injectFunction((new FunctionIdentifier("dtw_long"),
      new ExpressionInfo(classOf[DtwLong].getName, "dtw_long"),
      (args: Seq[Expression]) => DtwLong(args(0), args(1))))
    ext.injectFunction((new FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      (args: Seq[Expression]) => UnicodeNormalize(args(0),
        args(1).eval().toString)))
    // whole-operator extension: AsOfJoin logical node → AsOfJoinExec
    ext.injectFunction((new FunctionIdentifier("hilbert_index"),
      new ExpressionInfo("graft.functions.HilbertIndex", "hilbert_index"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "usage: hilbert_index(x, y, bits)")
        val bits = children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
          case other => throw new IllegalArgumentException(
            s"hilbert_index bits must be an integer literal, got $other")
        }
        HilbertIndex(children(0), children(1), bits)
      }))
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    // view DDL/expansion must run BEFORE the resolution batch, where
    // ResolveSessionCatalog refuses view verbs on non-session catalogs
    ext.injectHintResolutionRule(session => graft.plans.GraftViewRule(session))
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewriteRule)
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewriteRule)
    ext.injectOptimizerRule(_ => graft.plans.SnapshotCountRewriteRule)
  }
}
