package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{GramStore, SignatureStore, StoreAudit}
import graft.sources.Tables

/** The q207 integrity card: healthy stores audit to zero on every
  * invariant, and each planted corruption class — an id stored under two
  * release partitions, a stored id orphaned from its corpus, a LOST
  * append (universe ids the store never received), a torn tier (row
  * parity between two tiers of one store) — is caught with the right
  * count on the right release rows. */
class StoreAuditSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")
  private val isNew = col("doc_id") % 10 >= 8

  test("healthy signature and gram stores audit to zero invariants") {
    val dir = LocalSession.tempDir("audit_ok").toString
    SignatureStore.append(spark, s"$dir/sigs", "r1",
      docs.where(!isNew), "doc_id", "text")
    SignatureStore.append(spark, s"$dir/sigs", "r2",
      docs.where(isNew), "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r1", docs.where(!isNew), "text")
    GramStore.append(spark, s"$dir/grams", "r2", docs.where(isNew), "text")
    // an id-only universe adds the store-wide coverage row
    val sig = StoreAudit.card("signatures",
      SignatureStore.read(spark, s"$dir/sigs"), "doc_id",
      docs.select("doc_id")).collect()
    assert(sig.length === 3)
    sig.foreach { r =>
      assert(r.getAs[Long]("cross_release_dup") === 0L, r.toString)
      assert(r.getAs[Long]("orphan") === 0L, r.toString)
      assert(r.getAs[Long]("missing") === 0L, r.toString)
      assert(r.getAs[Long]("n_rows") === r.getAs[Long]("n_ids"))
    }
    val gram = StoreAudit.card("grams",
      GramStore.read(spark, s"$dir/grams"), "gram_h",
      GramStore.grams(docs, "text")).collect()
    assert(gram.length === 3)
    gram.foreach { r =>
      assert(r.getAs[Long]("cross_release_dup") === 0L, r.toString)
      assert(r.getAs[Long]("orphan") === 0L, r.toString)
      assert(r.getAs[Long]("missing") === 0L, r.toString)
    }
    StoreAudit.assertZero(StoreAudit.card("grams",
      GramStore.read(spark, s"$dir/grams"), "gram_h",
      GramStore.grams(docs, "text")),
      Seq("cross_release_dup", "orphan", "missing"), "healthy store")
  }

  test("an id stored under two releases is flagged on BOTH release rows — unless the tier opts out") {
    val dir = LocalSession.tempDir("audit_dup").toString
    val overlap = docs.where(col("doc_id") % 10 < 2) // in r1 AND r2
    SignatureStore.append(spark, s"$dir/sigs", "r1",
      docs.where(!isNew), "doc_id", "text")
    SignatureStore.append(spark, s"$dir/sigs", "r2",
      docs.where(isNew).unionByName(overlap), "doc_id", "text")
    val nDup = overlap.count()
    val card = StoreAudit.card("signatures",
        SignatureStore.read(spark, s"$dir/sigs"), "doc_id",
        docs.select("doc_id"))
      .collect().map(r => r.getAs[String]("release") ->
        r.getAs[Long]("cross_release_dup")).toMap
    assert(card("r1") === nDup,
      "the overlap ids must flag on the release that held them first")
    assert(card("r2") === nDup,
      "the overlap ids must flag on the re-appending release too")
    // the signature store's contract legitimately allows overlapping
    // release slices — dupInvariant = false scopes the check out, and
    // assertZero on the remaining invariants passes
    val scoped = StoreAudit.card("signatures",
      SignatureStore.read(spark, s"$dir/sigs"), "doc_id",
      docs.select("doc_id"), dupInvariant = false)
    assert(scoped.agg(sum("cross_release_dup")).head().getLong(0) === 0L)
    StoreAudit.assertZero(scoped,
      Seq("cross_release_dup", "orphan", "missing"), "scoped dup")
    intercept[IllegalStateException] {
      StoreAudit.assertZero(StoreAudit.card("signatures",
        SignatureStore.read(spark, s"$dir/sigs"), "doc_id",
        docs.select("doc_id")), Seq("cross_release_dup"), "strict dup")
    }
  }

  test("a stored id missing from the universe is flagged as an orphan") {
    val dir = LocalSession.tempDir("audit_orph").toString
    SignatureStore.append(spark, s"$dir/sigs", "r1",
      docs.where(!isNew), "doc_id", "text")
    // universe loses some corpus ids (a truncated corpus table — the
    // store now claims documents that no longer exist)
    val truncated = docs.where(col("doc_id") % 7 =!= 0).select("doc_id")
    val lost = docs.where(!isNew && col("doc_id") % 7 === 0).count()
    val card = StoreAudit.card("signatures",
      SignatureStore.read(spark, s"$dir/sigs"), "doc_id", truncated)
      .collect().map(r => r.getAs[String]("release") -> r).toMap
    assert(card.size === 2)
    assert(card("r1").getAs[Long]("orphan") === lost)
    assert(card("r1").getAs[Long]("cross_release_dup") === 0L)
    // and the coverage direction: universe ids the store never received
    // land on the store-wide row (the store holds only the old slice)
    assert(card(StoreAudit.StoreRow).getAs[Long]("missing") ===
      docs.where(isNew && col("doc_id") % 7 =!= 0).count())
  }

  test("a release-sliced universe pins per-release coverage: a dropped append is flagged on its release") {
    val dir = LocalSession.tempDir("audit_miss").toString
    SignatureStore.append(spark, s"$dir/sigs", "r1",
      docs.where(!isNew), "doc_id", "text")
    // r2's append was LOST — the universe says both releases should sign
    val universe = docs.select(col("doc_id"),
      when(isNew, "r2").otherwise("r1").as("release"))
    val card = StoreAudit.card("signatures",
      SignatureStore.read(spark, s"$dir/sigs"), "doc_id", universe)
      .collect().map(r => r.getAs[String]("release") -> r).toMap
    assert(card.size === 2, "the torn-out release must still get a row")
    assert(card("r1").getAs[Long]("missing") === 0L)
    assert(card("r2").getAs[Long]("missing") === docs.where(isNew).count(),
      "every lost r2 signature must count as missing on r2's row")
    assert(card("r2").getAs[Long]("n_rows") === 0L)
    intercept[IllegalStateException] {
      StoreAudit.assertZero(StoreAudit.card("signatures",
        SignatureStore.read(spark, s"$dir/sigs"), "doc_id", universe),
        Seq("missing"), "lost append")
    }
  }

  test("row parity between two tiers: auditing one tier against the other catches a torn purge in both directions") {
    import spark.implicits._
    val codes = Seq((1L, "r1"), (2L, "r1"), (3L, "r2"))
      .toDF("cand_id", "release")
    // the int8 tier lost (2, r1) — a purge that rewrote codes but crashed
    // before the rerank tier — and carries a ghost (9, r2) no code row has
    val int8 = Seq((1L, "r1"), (3L, "r2"), (9L, "r2"))
      .toDF("cand_id", "release")
    val parity = StoreAudit.card("rerank_int8", int8, "cand_id", codes)
      .collect().map(r => r.getAs[String]("release") -> r).toMap
    assert(parity("r1").getAs[Long]("missing") === 1L,
      "the code row the int8 tier lost must flag as missing")
    assert(parity("r2").getAs[Long]("orphan") === 1L,
      "the int8 row with no code twin must flag as orphan")
  }
}
