package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

// The two kernels of the bucket selection in
// [[graft.ops.Relational.weightedQuantile]].

/** Monotone log-scale bucket of a long: values that share their
  * `bits + 1` leading significant bits share a bucket, so a bucket
  * spans a 2^-bits relative slice of the value (a float with a
  * `bits`-bit mantissa), and |v| < 2^bits is its own bucket. Negative
  * values mirror through `~v`, so the map is monotone over the whole
  * long range, Long.MinValue and Long.MaxValue included, with no
  * arithmetic that can overflow; ids stay within ±64·2^bits. Needs no
  * statistics of the data, which is what lets a selection bucket its
  * rows in the same scan that counts them. Null → null.
  */
case class LogBucket(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 0 && bits <= 16, s"bucket bits must be 0..16, got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"log_bucket requires bigint, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "log_bucket"

  override def nullSafeEval(v: Any): Any =
    LogBucket.compute(v.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.LogBucket.compute($v, $bits);")

  override protected def withNewChildInternal(newChild: Expression): LogBucket =
    copy(child = newChild)
}

object LogBucket {

  /** Static entry shared by interpreted eval and generated code. */
  def compute(v: Long, bits: Int): Long = {
    val u = if (v < 0) ~v else v
    // shift that leaves the leading 1 plus `bits` bits below it
    val s = math.max(0, 63 - java.lang.Long.numberOfLeadingZeros(u) - bits)
    val b = (s.toLong << bits) + (u >>> s)
    if (v < 0) ~b else b
  }

  def apply(v: Column, bits: Int): Column =
    ColumnBridge.column(LogBucket(ColumnBridge.catalystExpr(v), bits))
}

/** The crossing bucket of one group, from its `array<struct<b, w>>` of
  * per-bucket weights (any order; `b` null for null values, which sort
  * first): `struct<cb, before, totw>` where `cb` is the first non-null
  * bucket whose running weight `cumw` reaches q (cumw·qDen >= totw·qNum),
  * `before` the running weight just before `cb` and `totw` the total.
  * Running weights follow `sum`: null weights add nothing and a sum
  * over no non-null weight is null, which reaches nothing. A group
  * whose only bucket is the null one keeps `cb` null, a null `before`
  * and its total; products and sums overflow as ANSI `sum` and `*` do.
  */
case class BucketCrossing(child: Expression, qNum: Int, qDen: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(StructField(_, LongType, _, _),
        StructField(_, LongType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bucket_crossing requires array<struct<bigint, bigint>>, got $t")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("cb", LongType), StructField("before", LongType),
    StructField("totw", LongType)))
  override def prettyName: String = "bucket_crossing"

  override def nullSafeEval(a: Any): Any =
    BucketCrossing.compute(a.asInstanceOf[ArrayData], qNum, qDen)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.BucketCrossing.compute($a, $qNum, $qDen);")

  override protected def withNewChildInternal(newChild: Expression): BucketCrossing =
    copy(child = newChild)
}

object BucketCrossing {

  /** Static entry shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, qNum: Int, qDen: Int): InternalRow = {
    def opt(r: InternalRow, i: Int) =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val buckets = (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 2)
      (opt(r, 0), opt(r, 1))
    }.sortBy(_._1)
    val cums = buckets.scanLeft(Option.empty[Long]) { case (c, (_, w)) =>
      w.map(x => Math.addExact(c.getOrElse(0L), x)).orElse(c) }.tail
    val totw = cums.lastOption.flatten
    def reaches(c: Option[Long]) = (c, totw) match {
      case (Some(c), Some(t)) =>
        Math.multiplyExact(c, qDen.toLong) >= Math.multiplyExact(t, qNum.toLong)
      case _ => false
    }
    val walk = buckets.map(_._1).zip(cums)
    val cb = walk.collectFirst { case (Some(b), c) if reaches(c) => b }
    // the weight through the last bucket before cb: every bucket that
    // does not reach q, and the null bucket, which sorts first
    val before = if (cb.isEmpty) None
      else walk.collect { case (b, c) if b.isEmpty || !reaches(c) => c }
        .flatten.lastOption
    def box(x: Option[Long]): Any = x.map(Long.box).orNull
    new GenericInternalRow(Array[Any](box(cb), box(before), box(totw)))
  }

  def apply(perBucket: Column, qNum: Int, qDen: Int): Column =
    ColumnBridge.column(
      BucketCrossing(ColumnBridge.catalystExpr(perBucket), qNum, qDen))
}
