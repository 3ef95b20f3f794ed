package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two float-vector columns.
  *
  * Semantics match the higher-order-function formulation it replaces —
  * `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0d, +)`:
  * a LEFT-TO-RIGHT sequential sum of per-element double products, so
  * results are bit-identical to that fold (and to DuckDB's
  * `list_reduce(list_transform(...))` oracle twin). Only the execution
  * changes: higher-order functions evaluate interpreted (per-element
  * lambda dispatch, boxed accumulators, ~µs per 64-dim pair), while this
  * expression participates in whole-stage codegen as a tight primitive
  * loop — the multi-million-pair LSH re-rank stage drops from being
  * lambda-bound to memory-bound.
  *
  * Mismatched lengths fold the common prefix (the vectors here are all
  * fixed-dimension); null input → null via BinaryExpression's standard
  * null intolerance.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects two array<float> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n   = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i   = ctx.freshName("i")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $acc = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        |}
        |${ev.value} = $acc;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Session extension registering the vector functions (the idiomatic
  * `SparkSessionExtensions` path — usable via `.withExtensions` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"vec_dot requires exactly 2 arguments, got ${children.size}")
        FloatVecDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"nfc_normalize requires exactly 1 argument, got ${children.size}")
        NfcNormalize(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSignatures].getName, "minhash_sigs"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"minhash_sigs requires exactly 1 argument, got ${children.size}")
        MinhashSignatures(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("pack_sorted_strings"),
      new ExpressionInfo(classOf[PackSortedStrings].getName,
        "pack_sorted_strings"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"pack_sorted_strings requires exactly 1 argument, got ${children.size}")
        PackSortedStrings(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("packed_intersect_count"),
      new ExpressionInfo(classOf[PackedIntersectCount].getName,
        "packed_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"packed_intersect_count requires exactly 2 arguments, got ${children.size}")
        PackedIntersectCount(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_build"),
      new ExpressionInfo(classOf[BloomFilterBuildAgg].getName, "bloom_build"),
      (children: Seq[Expression]) => children match {
        case Seq(k)       => new BloomFilterBuildAgg(k)
        case Seq(k, b, h) => new BloomFilterBuildAgg(k, b, h)
        case _ => throw new IllegalArgumentException(
          s"bloom_build takes 1 or 3 arguments, got ${children.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_probe"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_probe"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"bloom_probe requires exactly 2 arguments, got ${children.size}")
        BloomMightContain(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("mg_candidates"),
      new ExpressionInfo(classOf[MisraGriesCandidates].getName, "mg_candidates"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"mg_candidates requires exactly 2 arguments, got ${children.size}")
        new MisraGriesCandidates(children.head, children(1))
      }))
    ext.injectOptimizerRule(_ => LevenshteinLengthGuard)
    ext.injectQueryPostPlannerStrategyRule(SmallScansInOnePartition)
    DialectShims.register(ext)
  }
}
