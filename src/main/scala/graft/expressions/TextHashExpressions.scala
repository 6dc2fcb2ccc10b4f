package graft.expressions

import graft.text.TextFunctions.HashPrime
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-hash kernels.
  *
  * The composed higher-order-function versions in TextFunctions/Dedup are
  * semantically identical but rebuild the inner fold once per lambda
  * binding (Catalyst collapses projections and re-inlines the shared
  * subtree, so a K=8 MinHash inlines the shingle-hash fold 8×, and each
  * char becomes an interpreted lambda call). These single-pass
  * expressions compute each hash in one tight JVM loop — the measured
  * difference on the documents table is ~50s → <1s for the signature
  * query. Semantics (codepoint fold, modulus, tie rules) are locked to
  * the DuckDB-oracle SQL in queries/DedupGates.scala.
  */
private object HashKernels {
  /** h = fold(codepoints)(h*31 + cp) mod m — matches
    * list_reduce(list_transform(string_split(s,''), ord), ...) exactly. */
  def polyHash(s: UTF8String, mod: Long): Long = {
    var h = 0L
    val it = s.toString.codePoints().iterator()
    while (it.hasNext) { h = (h * 31L + it.nextInt()) % mod }
    h
  }
}

/** Polynomial rolling hash mod 1e9+7 (document fingerprint kernel). */
case class PolyHashExpr(child: Expression, mod: Long = HashPrime)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  def kernel(v: UTF8String): Long = HashKernels.polyHash(v, mod)
  override def nullSafeEval(v: Any): Any = kernel(v.asInstanceOf[UTF8String])
  // codegen = a direct call to the compiled kernel (no interpreted-eval
  // dispatch, no InternalRow materialization): the expression stays
  // inside the whole-stage span at full speed
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("polyHash", this, classOf[PolyHashExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override def prettyName: String = "graft_poly_hash"
  override protected def withNewChildInternal(c: Expression): PolyHashExpr =
    copy(child = c)
}

/** MinHash signature over an array<string> of shingles: K affine-permuted
  * minima of the polynomial shingle hashes; [-1]*K for empty input. */
case class MinHashSigExpr(child: Expression, as: Seq[Long], bs: Seq[Long])
    extends UnaryExpression {
  require(as.length == bs.length && as.nonEmpty)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  def kernel(arr: ArrayData): ArrayData = {
    val k = as.length
    val mins = Array.fill(k)(-1L)
    if (arr.numElements() > 0) {
      java.util.Arrays.fill(mins, Long.MaxValue)
      var i = 0
      while (i < arr.numElements()) {
        val h = HashKernels.polyHash(arr.getUTF8String(i), HashPrime)
        var j = 0
        while (j < k) {
          val p = (as(j) * h + bs(j)) % HashPrime
          if (p < mins(j)) mins(j) = p
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(mins)
  }
  override def nullSafeEval(v: Any): Any = kernel(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinHashSigExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override def prettyName: String = "graft_minhash_sig"
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
}

/** 32-bit SimHash over an array<string> of tokens: majority vote per bit
  * of the 32-bit polynomial token hashes. */
case class SimHash32Expr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  def kernel(arr: ArrayData): Long = {
    val votes = new Array[Int](32)
    var i = 0
    while (i < arr.numElements()) {
      val h = HashKernels.polyHash(arr.getUTF8String(i), 4294967296L)
      var b = 0
      while (b < 32) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
  override def nullSafeEval(v: Any): Any = kernel(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash32", this, classOf[SimHash32Expr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override def prettyName: String = "graft_simhash32"
  override protected def withNewChildInternal(c: Expression): SimHash32Expr =
    copy(child = c)
}

object TextHashExpressions {
  // Spark 4 Column ↔ Expression bridge (Column.expr is gone from the
  // Connect-compatible API)
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  def poly_hash(c: Column): Column = column(PolyHashExpr(expression(c)))
  def minhash_sig(shingles: Column, as: Seq[Long], bs: Seq[Long]): Column =
    column(MinHashSigExpr(expression(shingles), as, bs))
  def simhash32(tokens: Column): Column =
    column(SimHash32Expr(expression(tokens)))

  /** SQL registration (engine extension surface). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_poly_hash", exprs => PolyHashExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_simhash32", exprs => SimHash32Expr(exprs.head), "scala_udf")
  }
}
