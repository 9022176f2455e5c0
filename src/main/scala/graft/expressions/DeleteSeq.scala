package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The highest sequence among the live merge-on-read equality deletes
  * naming `child`'s value, or -1 when none names it (a null value
  * included: a null key never equality-matches). It is the per-row half
  * of a snapshot read's one delete filter: a row is gone when this is
  * at least its file's data sequence. `seqs` is built on the driver
  * from the delete sidecars. Its keys are Catalyst values of `child`'s
  * type, so the lookup is `InSet`'s: one hash probe per row, with NaN
  * matching NaN. */
case class KeyDeleteSeq(child: Expression, seqs: Map[Any, Long])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "key_delete_seq"
  override def toString: String = s"$prettyName($child, ${seqs.size} keys)"
  override def sql: String = toString

  @transient private lazy val nanSeq: Long = seqs.iterator.collect {
    case (d: Double, s) if d.isNaN => s
    case (f: Float, s) if f.isNaN => s
  }.maxOption.getOrElse(-1L)

  def seqOf(v: Any): Long =
    if (v == null) -1L
    else seqs.getOrElse(v, v match {
      case d: Double if d.isNaN => nanSeq
      case f: Float if f.isNaN => nanSeq
      case _ => -1L
    })

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    seqOf(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val self = ctx.addReferenceObj("keyDeleteSeq", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? -1L : $self.seqOf(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : KeyDeleteSeq = copy(child = newChild)
}

/** The highest sequence among the live positional deletes naming row
  * `index` of the file at table-relative path `rel`, or -1 when none
  * names it. `positions` maps each named file to its doomed row indices
  * (sorted ascending) and, index for index, their sequences, so a row
  * costs one hash probe of its path and one binary search. */
case class PositionDeleteSeq(rel: Expression, index: Expression,
    positions: Map[UTF8String, (Array[Long], Array[Long])])
    extends BinaryExpression {

  override def left: Expression = rel
  override def right: Expression = index
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "position_delete_seq"
  override def toString: String =
    s"$prettyName($rel, $index, ${positions.size} files)"
  override def sql: String = toString

  def seqOf(r: UTF8String, i: Long): Long = positions.get(r) match {
    case Some((rows, seqs)) =>
      val at = java.util.Arrays.binarySearch(rows, i)
      if (at >= 0) seqs(at) else -1L
    case None => -1L
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val r = rel.eval(input)
    val i = index.eval(input)
    if (r == null || i == null) -1L
    else seqOf(r.asInstanceOf[UTF8String], i.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val self = ctx.addReferenceObj("positionDeleteSeq", this)
    val r = rel.genCode(ctx)
    val i = index.genCode(ctx)
    ev.copy(code = code"""
      ${r.code}
      ${i.code}
      long ${ev.value} = (${r.isNull} || ${i.isNull}) ? -1L :
        $self.seqOf(${r.value}, ${i.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PositionDeleteSeq =
    copy(rel = newLeft, index = newRight)
}
