package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native matrix·vector projection whose matrix rides a BROADCAST
  * variable instead of plan literals.
  *
  * The Column-API formulation — one `dot(v, array(lit, lit, …))` per
  * output component — inlines outDim × inDim literal nodes into the
  * plan: at JL-projection sizes that is thousands of boxed `Literal`s
  * serialized into EVERY task binary (the "Broadcasting large task
  * binary" warnings in the bench tail), and the plan size grows with
  * `outDim` — a cliff for anyone raising the projection width. Here
  * the expression carries only a broadcast HANDLE (bytes, not the
  * matrix); each executor fetches the matrix once from the block
  * manager, and generated code loops over primitive arrays.
  *
  * Arithmetic is BIT-IDENTICAL to the literal formulation (pinned by
  * SimilaritySpec): per output row j, the same left-to-right fold
  * Σ_i v_i·m_{j,i} over min(|v|, inDim) terms, multiplied by `scale`,
  * then Spark's `round(x, roundScale)` ([[SparkRound]]: NaN and ±Inf
  * pass through) — so oracle SQL built from the same matrix stays
  * engine-exact.
  */
case class MatVecProject(child: Expression,
                         matrix: Broadcast[Array[Array[Double]]],
                         scale: Double,
                         roundScale: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "matvec_project"

  /** Projection entry point shared by interpreted eval and codegen. */
  def project(v: ArrayData): ArrayData = {
    val m = matrix.value
    val out = new Array[Double](m.length)
    var j = 0
    while (j < m.length) {
      val row = m(j)
      val n = math.min(v.numElements(), row.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * row(i); i += 1 }
      out(j) = SparkRound(s * scale, roundScale)
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = project(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the expression instance: it serializes as the broadcast
    // HANDLE plus two scalars — the matrix itself never enters the plan
    // or the task binary
    val ref = ctx.addReferenceObj("matVec", this, classOf[MatVecProject].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.project($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecProject =
    copy(child = newChild)
}

object MatVecProject {

  /** Column wrapper: `v` must be array<double>; `rows` is the matrix
    * (one row per output component), broadcast once per (session,
    * matrix) and kept as a session-lifetime `OpCache` memo: repeated
    * randomProject calls in a long-lived session (Bench warm+retime
    * loops, serving sessions) reuse it instead of registering a fresh
    * block-manager broadcast per call, and `OpCache.clear` destroys it.
    */
  def project(session: org.apache.spark.sql.SparkSession, v: Column,
              rows: Seq[Seq[Double]], scale: Double,
              roundScale: Int): Column = {
    val bc = graft.OpCache.memo(session, ("matvec", rows))(
      session.sparkContext.broadcast(rows.map(_.toArray).toArray))
    CatalystBridge.column(MatVecProject(
      CatalystBridge.expression(v), bc, scale, roundScale))
  }
}
