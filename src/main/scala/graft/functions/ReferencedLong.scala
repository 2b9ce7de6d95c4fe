package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A non-null bigint constant that generated code reads from the compiled
  * class's `references` array instead of inlining into its source.
  *
  * `lit(v)` puts `vL` into the generated Java, so a plan stamped with a
  * value that changes per micro-batch (a sink's batch id) is new source
  * every trigger and misses Spark's codegen cache: each trigger compiles
  * its own code bodies. Carried as a reference, the source is the same for
  * every value and compiles once. Not foldable, so constant folding leaves
  * it in place; rows and schema equal `lit(v)`'s.
  */
case class ReferencedLong(value: Long) extends LeafExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("value", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref;", isNull = FalseLiteral)
  }
}

object ReferencedLong {

  /** The constant as a Column. */
  def col(value: Long): Column = column(ReferencedLong(value))
}
