package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expression for the reference's keyed BLAKE2s row hash
  * (SURVEY.md §2.8 Hash family): `blake2s_hex(data, key, digestSize)` →
  * lowercase hex string. Null-safe, deterministic; children are cast to
  * binary/int at construction so no ExpectsInputTypes is needed.
  *
  * Codegen emits a direct static call into [[Blake2s]] — a CodegenFallback
  * here would kick the ENTIRE projection stage out of whole-stage codegen,
  * which at the EAV pipeline's 14M rows/release costs more than the digest
  * itself. */
case class Blake2sHexExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "blake2s_hex"

  override protected def nullSafeEval(data: Any, key: Any, size: Any): Any =
    UTF8String.fromString(Blake2s.hexDigest(
      data.asInstanceOf[Array[Byte]], key.asInstanceOf[Array[Byte]],
      size.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, k, s) =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.functions.Blake2s.hexDigest($d, $k, $s));""".stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** BLAKE2b twin of [[Blake2sHexExpr]] (reference private-report slug). */
case class Blake2bHexExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "blake2b_hex"

  override protected def nullSafeEval(data: Any, key: Any, size: Any): Any =
    UTF8String.fromString(Blake2b.hexDigest(
      data.asInstanceOf[Array[Byte]], key.asInstanceOf[Array[Byte]],
      size.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, k, s) =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.functions.Blake2b.hexDigest($d, $k, $s));""".stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

object HashFunctions {

  /** The one builder per function, which [[graft.plans.GraftExtensions]]
    * installs into every session at build time. */
  private[graft] val builders: Map[String, Seq[Expression] => Expression] = Map(
    "blake2s_hex" -> (exprs => Blake2sHexExpr(
      Cast(exprs(0), BinaryType), Cast(exprs(1), BinaryType),
      Cast(exprs(2), IntegerType))),
    "blake2b_hex" -> (exprs => Blake2bHexExpr(
      Cast(exprs(0), BinaryType), Cast(exprs(1), BinaryType),
      Cast(exprs(2), IntegerType))),
    "graft_dot" -> (exprs => DotProductExpr(exprs(0), exprs(1))),
    "graft_adc" -> (exprs => AdcSumExpr(exprs(0), exprs(1))),
    "graft_minhash" -> (exprs => HashFunctions.buildMinhash(exprs)),
    "graft_nfc" -> (exprs => NormalizeExpr(Cast(exprs(0), StringType), "NFC")),
    "graft_nfkc" -> (exprs => NormalizeExpr(Cast(exprs(0), StringType), "NFKC")),
    "graft_bloom_contains" -> (exprs => HashFunctions.buildBloomContains(exprs)))

  /** Column API: keyed BLAKE2s hex of a string/binary column. The session the
    * resulting plan is analyzed under must be built with
    * [[graft.plans.GraftExtensions]], as every [[graft.LocalSession]] is. */
  def blake2sHex(data: Column, key: String, digestSize: Int): Column =
    call_function("blake2s_hex", data, lit(key), lit(digestSize))

  /** Column API: BLAKE2b hex (unkeyed slug form unless a key is supplied). */
  def blake2bHex(data: Column, key: String, digestSize: Int): Column =
    call_function("blake2b_hex", data, lit(key), lit(digestSize))

  /** Builder for `graft_bloom_contains(value, sketch)` — the sketch must be
    * a binary literal (the filter is frozen at plan time; per-row sketches
    * would mean per-row deserialization, the exact cost the expression
    * exists to avoid). */
  private[graft] val buildBloomContains: Seq[Expression] => Expression = { exprs =>
    val bytes = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(b: Array[Byte], BinaryType) => b
      case other => throw new IllegalArgumentException(
        s"graft_bloom_contains sketch must be a binary literal, got $other")
    }
    BloomMightContainExpr(
      Cast(exprs(0), org.apache.spark.sql.types.LongType), bytes)
  }

  /** Builder for `graft_minhash(baseHashes, numHashes, seed)` — the count
    * and seed must be literals (coefficients are fixed at plan time). */
  private[graft] val buildMinhash: Seq[Expression] => Expression = { exprs =>
    def lit(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"graft_minhash $what must be an integer literal, got $other")
    }
    val (as, bs) = MinHashCoefs.generate(
      lit(exprs(1), "numHashes"), lit(exprs(2), "seed"))
    MinHashSigExpr(exprs(0), as.toSeq, bs.toSeq)
  }
}
