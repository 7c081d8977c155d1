package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Membership test against a FROZEN, plan-time Bloom sketch —
  * `graft_bloom_contains(value, sketchBytes)` → boolean, the executor-side
  * half of the per-release id/gram sketches ([[BloomSketch]]) that make the
  * nightly delta-newness audits O(delta) instead of O(resident store)
  * ([[graft.pipeline.VectorRelease.maintain]] /
  * [[graft.pipeline.ReleaseBuild.rollForwardOnDisk]]; the reference's
  * nightly checks re-count whole tables, `db_etl_update_db/update.py:24-38`
  * — the sketch is the scale path that keeps the same detection).
  *
  * The sketch bytes are fixed at plan time (a literal — kilobytes per
  * release), deserialized ONCE per plan into a shared [[BloomFilter]] and
  * referenced from generated code via `addReferenceObj`, so the per-row
  * cost is the filter's k hash probes — no per-row deserialization, no
  * UDF, and the projection stays inside whole-stage codegen (the
  * [[Blake2sHexExpr]] rationale). One-sided like any Bloom filter: `false`
  * is definitive absence, `true` may be a false positive — callers treat a
  * hit as "fall back to the exact scan", never as proof. */
case class BloomMightContainExpr(child: Expression, sketch: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(sketch))

  override protected def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloomSketch", bloom,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.mightContainLong($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Build/serialize helpers for kilobyte per-release Bloom sketches of a
  * LONG key column (vector-store `cand_id`s, gram-store `gram_h`es). The
  * build is Spark's own distributed `stat.bloomFilter` (map-side partial
  * filters OR-merged on the driver — one pass over the keyed column, no
  * shuffle); the test side is [[BloomMightContainExpr]], which probes the
  * same `BloomFilter` implementation, so put/probe hashing agree by
  * construction (BloomSketchSpec pins zero false negatives). */
object BloomSketch {

  /** Default false-positive rate. The consult's clean-skip property needs
    * P(ANY false positive over the night's delta × resident releases)
    * small — a single fp anywhere re-triggers the fallback scan — so the
    * per-probe rate must be ≪ 1/(|delta| · releases), not the ~1% a
    * point-lookup filter would use (at 1% a 10k-key delta would fp against
    * SOME release essentially every night, deterministically for a fixed
    * corpus). Bloom bytes grow only logarithmically in 1/fpp (~0.18 B/key
    * per decade), so buying 1e-8 costs ~4.8 B/key — a 1M-key release is a
    * ~5 MB sketch — and keeps a 100M-probe night's any-fp chance ~1.
    * Below that scale (every fixture here, and any nightly delta under
    * ~1M × 100 releases) clean nights skip with near-certainty; above it
    * the fallback scan is the documented degradation, same as the
    * plan-budget guard's. */
  val DefaultFpp = 1e-8

  /** One serialized sketch of `df`'s `column` (cast to long). `expected`
    * sizes the filter — pass the (distinct-ish) row count the caller
    * already knows (callers always have it for their broadcast guards); an
    * over-estimate wastes linear bytes, an under-estimate raises the fp
    * rate, neither loses correctness. `expected <= 0` means the frame is
    * empty: return an everything-rejects filter without running a job (the
    * distributed build NPEs on zero rows — its aggregate yields null). */
  def build(df: DataFrame, column: String, expected: Long,
            fpp: Double = DefaultFpp): Array[Byte] =
    if (expected <= 0L) serialize(BloomFilter.create(64L, fpp))
    else serialize(df.stat.bloomFilter(col(column).cast("long"),
      math.max(expected, 64L), fpp))

  def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  /** Column API (the session must be built with `GraftExtensions`, as for
    * every graft function). */
  def mightContain(value: Column, sketch: Array[Byte]): Column =
    call_function("graft_bloom_contains", value, lit(sketch))
}
