package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Distinct HASHED word n-gram shingles of a text column, in one
  * compiled pass: lowercase (Locale.ROOT — the winnowing kernel's
  * locale argument), split on whitespace runs, XXH64 each token's
  * UTF-8 bytes, combine n consecutive token hashes with an FNV-prime
  * polynomial + splitmix finalizer, sort-dedupe. Set-equivalent to
  * `xxhash64` over the string shingles `TextOps.shingles` builds
  * (Jaccard over the surrogates equals Jaccard over the shingles
  * modulo 64-bit collisions — the equality the Jaccard core's
  * shingle sets rest on), WITHOUT materializing a string array
  * through interpreted higher-order functions: the zip_with shingle
  * chain measured ~14 s over the ×10 corpus where this kernel is a
  * sub-second scan (ProbeWinnow, r12). Fewer than n tokens → empty
  * array. The dedup-family verify stage (minhash/winnowing) is the
  * consumer; candidates intersect these long arrays. */
case class ShingleHashesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, "n must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.shingleHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VectorKernels.shingleHashes($v, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

object ShingleHashesExpr {
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    RegisterOnce(spark, "ShingleHashesExpr")(doRegister(spark))
  private def doRegister(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_shingle_hashes",
      { exprs =>
        require(exprs.length == 2, "graft_shingle_hashes(text, n)")
        ShingleHashesExpr(exprs.head, ExprLits.litInt(exprs(1), "n"))
      },
      "built-in")
}
