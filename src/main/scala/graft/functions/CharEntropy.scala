package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Native character-entropy kernel — the row-local replacement for the
  * explode-per-character formulation of
  * [[graft.text.TextOps.charEntropy]]: a per-character explode turns a
  * corpus scan into #chars rows plus a (doc, char)-keyed shuffle (the
  * r9 bench outlier: 13 s where every sibling signal costs ~1 s); the
  * entropy of one document depends on nothing outside the document, so
  * the correct altitude is one O(len) histogram pass inside
  * whole-stage codegen, like [[NfcNormalize]]/[[HammingDistance]].
  *
  * Arithmetic is BIT-IDENTICAL to the exploded form the DuckDB oracle
  * mirrors: per distinct code point, p = cnt/n as doubles, the term
  * `-p·ln(p)·1e9` fixed to a BIGINT via HALF_UP (exactly Spark's
  * `round(x, 0)` — BigDecimal semantics, not Math.round), summed as
  * longs (order-free), then `/1e9` rounded HALF_UP to 6. Returns NaN
  * for the empty string (callers filter `length > 0` first, matching
  * the exploded form which emitted no row).
  */
case class CharEntropyExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any =
    CharEntropyExpr.entropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CharEntropyExpr.entropy($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropyExpr =
    copy(child = newChild)
}

object CharEntropyExpr {

  /** Shared by interpreted and generated paths (identical semantics). */
  def entropy(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return Double.NaN
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1L
      n += 1L
      i += Character.charCount(cp)
    }
    var sumNano = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next()(0).toDouble / n.toDouble
      sumNano += SparkRound(p * math.log(p) * -1e9, 0).toLong
    }
    SparkRound(sumNano.toDouble / 1e9, 6)
  }

  def charEntropy(c: Column): Column =
    CatalystBridge.column(CharEntropyExpr(CatalystBridge.expression(c)))
}
