package graft

import graft.operators.TextAnalysis
import graft.pipeline.VocabStore
import graft.sources.Tables

/** The persisted tokenizer artifact: q142/q143 verify the TRAINER and the
  * count semantics; this spec proves the frozen-disk lifecycle — one
  * training pass persists both artifacts, counting from the read-back vocab
  * equals the inline q143 answer, and a rebuild replaces the artifact. */
class VocabStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents")

  test("counting from the read-back vocab equals the inline q143 answer") {
    val dir = LocalSession.tempDir("vocabstore").toString + "/bpe"
    VocabStore.build(spark, dir, docs, "text", rounds = 6)
    val fromDisk = VocabStore.countTokens(spark, dir, docs, "doc_id", "text")
    val inline = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", rounds = 6)
    assert(fromDisk.count() > 0)
    assert(fromDisk.exceptAll(inline).isEmpty && inline.exceptAll(fromDisk).isEmpty)
  }

  test("one build persists BOTH artifacts; merges equal the q142 trajectory") {
    val dir = LocalSession.tempDir("vocabstore_m").toString + "/bpe"
    VocabStore.build(spark, dir, docs, "text", rounds = 6)
    val storedMerges = VocabStore.readMerges(spark, dir)
      .orderBy("round").as[(Int, String, Long)].collect().toList
    val inlineMerges = TextAnalysis.bpeTrain(docs, "text", rounds = 6)
      .orderBy("round").as[(Int, String, Long)].collect().toList
    assert(storedMerges === inlineMerges)
    val vocab = VocabStore.readVocab(spark, dir)
    assert(vocab.columns.sorted === Array("seg", "word"))
    assert(vocab.count() > 0)
  }

  test("rebuild replaces the artifact (a tokenizer IS its training run)") {
    val dir = LocalSession.tempDir("vocabstore_rb").toString + "/bpe"
    VocabStore.build(spark, dir, docs, "text", rounds = 6)
    val once = VocabStore.readVocab(spark, dir).count()
    // retrain on a DIFFERENT (two-word) corpus: replaced, never merged
    val tiny = Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
    VocabStore.build(spark, dir, tiny, "text", rounds = 2)
    assert(VocabStore.readVocab(spark, dir).count() === 2,
      "rebuild must replace the artifact with the new corpus's vocab")
    // ... and rebuilding the original restores it exactly
    VocabStore.build(spark, dir, docs, "text", rounds = 6)
    assert(VocabStore.readVocab(spark, dir).count() === once)
  }
}
