package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CreateStruct, Expression, UnaryExpression, UnsafeProjection, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** The binary row hash behind `graft.operators.Reconcile.requireMatch`.
  *
  * A row's fingerprint is xxhash64 of the UnsafeRow bytes of the given
  * columns (Reconcile passes them name-sorted), cut to 56 bits (a
  * non-negative BIGINT, the width of the text form's md5 prefix, so both
  * fold into the same (n_rows, xor, mod-sum) triple). The UnsafeRow form
  * is canonical for a given schema: the null bitset, the fixed-width
  * slots (zeroed under a NULL) and the word-padded variable region
  * (zeroed padding), arrays included with their own element null bits.
  * So the hash is bit-exact:
  * a NULL moved inside an array, `-0.0` against `0.0` and a one-ulp float
  * change all count. It costs one projection and one word hash per row,
  * against `to_json` rendering and md5 of every value for the text form.
  *
  * The bytes depend on the column types, so two sides only compare when
  * their name→type maps agree ([[requireSameTypes]]).
  */
object RowFingerprint {

  /** 56-bit binary fingerprint of the row formed by `cols` (in order). */
  def row_fp(cols: Seq[Column]): Column =
    ExpressionUtils.column(RowFp(CreateStruct(cols.map(ExpressionUtils.expression))))

  /** Fail, naming every column, unless `a` and `b` carry the same column
    * names with the same types (nullability aside: it does not reach the
    * bytes). */
  def requireSameTypes(what: String, a: DataFrame, b: DataFrame): Unit = {
    val ta = a.schema.fields.map(f => f.name -> f.dataType).toMap
    val tb = b.schema.fields.map(f => f.name -> f.dataType).toMap
    def show(t: Option[DataType]) = t.fold("absent")(_.simpleString)
    val bad = (ta.keySet ++ tb.keySet).toSeq.sorted.filterNot(c =>
      (ta.get(c), tb.get(c)) match {
        case (Some(x), Some(y)) => DataType.equalsIgnoreNullability(x, y)
        case _                  => false
      })
    require(bad.isEmpty, s"$what: column types differ between the two sides: " +
      bad.map(c => s"$c ${show(ta.get(c))} vs ${show(tb.get(c))}").mkString(", "))
  }

  private[graft] val Mask56: Long = (1L << 56) - 1
}

/** [[RowFingerprint.row_fp]]: the struct child is projected to an
  * UnsafeRow and its bytes hashed. */
case class RowFp(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "row_fp"

  @transient private lazy val proj =
    UnsafeProjection.create(child.dataType.asInstanceOf[StructType])

  /** public: the generated code calls it. UnsafeRow sizes are whole
    * words, so the word hash covers every byte. */
  def fp(row: InternalRow): Long = {
    val u = proj(row)
    XXH64.hashUnsafeWords(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L) &
      RowFingerprint.Mask56
  }

  override protected def nullSafeEval(input: Any): Any = fp(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rowFp", this, classOf[RowFp].getName)
    defineCodeGen(ctx, ev, c => s"$ref.fp($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): RowFp =
    copy(child = newChild)
}
