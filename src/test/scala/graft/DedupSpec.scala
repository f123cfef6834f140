package graft

import org.apache.spark.sql.functions._
import graft.ops.llm.Dedup

/** Dedup-strategy behavior on a fixture with one known near-dup pair —
  * including a cross-check of the custom MinHash banding against MLlib's
  * MinHashLSH (both must surface the planted pair).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 1 and 2 are near-identical (one token differs); 3-5 unrelated.
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank"),
    (2L, "the quick brown fox jumps over the lazy cat near the old river bank"),
    (3L, "completely different content about spark graph engines and parquet scans"),
    (4L, "yet another unrelated document mentioning streams windows and watermarks"),
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per normalized text, case/trim-insensitive") {
    val dup = Seq((10L, "  THE QUICK brown fox jumps over the lazy dog near the old river bank "))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(docs.union(dup)).as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 4L, 5L)) // 10 collapses into 1
  }

  test("minhash LSH candidate pairs surface the planted near-dup, not unrelated docs") {
    val pairs = Dedup.minhashCandidatePairs(Dedup.minhashBuckets(docs))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((3L, 4L)))
  }

  test("custom minhash banding agrees with MLlib MinHashLSH on the planted pair") {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val shingled = docs
      .withColumn("__toks", split(col("text"), " "))
      .filter(size(col("__toks")) >= 3)
      .withColumn("shingles", expr(
        "transform(sequence(0, size(__toks)-3), i -> concat_ws(' ', slice(__toks, i+1, 3)))"))
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setBinary(true).setNumFeatures(1 << 14)
    val feat = tf.transform(shingled)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(8).setSeed(42L).fit(feat)
    val mllibPairs = lsh.approxSimilarityJoin(feat, feat, 0.5, "dist")
      .select(col("datasetA.doc_id").as("a"), col("datasetB.doc_id").as("b"))
      .filter(col("a") < col("b"))
      .as[(Long, Long)].collect().toSet
    assert(mllibPairs.contains((1L, 2L)))
    val ours = Dedup.minhashCandidatePairs(Dedup.minhashBuckets(docs))
      .as[(Long, Long)].collect().toSet
    assert(ours.contains((1L, 2L)))
  }

  test("clusters: components over candidate pairs, rep = min member id") {
    val pairs = Seq((1L, 2L), (2L, 7L), (5L, 6L)).toDF("a_id", "b_id")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (7L, 1L), (5L, 5L), (6L, 5L)))
  }

  test("simhash: near-dups land within small hamming distance, unrelated far apart") {
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(ham(1L, 2L) <= 8, s"near-dup hamming ${ham(1L, 2L)}")
    assert(ham(1L, 3L) > 8, s"unrelated hamming ${ham(1L, 3L)}")
  }

  test("embedding near-dups: threshold cut on rounded cosine, blocked") {
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.0f, 0.0f)),
      (2L, 0, Array(0.999f, 0.04f, 0.0f)), // cos ≈ 0.9992 → pair
      (3L, 0, Array(0.0f, 1.0f, 0.0f)),    // orthogonal → no pair
      (4L, 1, Array(1.0f, 0.0f, 0.0f))     // near-dup of 1 but other block
    ).toDF("vec_id", "label", "embedding")
    val pairs = Dedup.embeddingNearDups(emb, threshold = 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  // LSH-blocked variant: 64-dim so the hyperplane tables have real signal.
  private lazy val emb64 = {
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = vec()
    Seq(
      (1L, 0, base),
      (2L, 0, base.clone()),                                // identical → guaranteed pair
      (3L, 0, base.map(x => x + 0.05f * rnd.nextGaussian().toFloat)), // near-dup
      (4L, 0, vec()), (5L, 0, vec()), (6L, 1, base.clone()) // unrelated / other block
    ).toDF("vec_id", "label", "embedding")
  }

  test("embeddingNearDupsLsh: identical vectors ALWAYS collide (theta=0 -> same bucket in every table)") {
    val pairs = Dedup.embeddingNearDupsLsh(emb64, threshold = 0.9999)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    // cross-block identical vectors stay blocked apart
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(1L, 6L) })
  }

  test("embeddingNearDupsLsh is a subset of the exact blocked pairs, with identical scores") {
    val exact = Dedup.embeddingNearDups(emb64, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.embeddingNearDupsLsh(emb64, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(exact), s"LSH produced pairs the exact path lacks: ${lsh -- exact}")
  }

  test("embeddingNearDupsLsh plan joins on LSH buckets, never label-only all-pairs") {
    val plan = Dedup.embeddingNearDupsLsh(emb64, threshold = 0.5)
      .queryExecution.optimizedPlan.toString
    // the candidate join must key on the exploded (table, bucket) struct —
    // a label-only equi-join would be the quadratic shape this variant
    // exists to avoid.
    assert(plan.contains("__tb"), s"expected (table,bucket) join key in plan:\n$plan")
  }

  test("shingleHashSets: sorted distinct fold hashes of the 3-token shingles") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.shingleHashSets(docs)
      .select("shs").as[Seq[Long]].collect().head
    val expected = Seq("a b c", "b c d")
      .map(s => graft.functions.PolyFoldUtil.fold(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), Dedup.P))
      .distinct.sorted
    assert(got == expected)
  }

  test("verifiedClusters: exact dups cluster under min-id rep, uniques absent") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the dog"),
      (4L, "the quick brown fox jumps over the dog"),   // exact dup of 1
      (9L, "the quick brown fox jumps over the dog"),   // exact dup of 1
      (2L, "completely unrelated text about spark plans and shuffles")
    ).toDF("doc_id", "text")
    val got = Dedup.verifiedClusters(docs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, true), (4L, 1L, false), (9L, 1L, false)))
  }

  test("verifiedClusters: exact-Jaccard verification kills candidates below threshold") {
    // "a b c d" vs "a b c d e": shingle sets {abc,bcd} vs {abc,bcd,cde} →
    // exact Jaccard 2/3, and the pair DOES collide in an LSH band (band 4
    // under the fixed universal constants — computed once, deterministic
    // forever). So it is a candidate whose fate the verify stage decides:
    val docs = Seq((1L, "a b c d"), (2L, "a b c d e")).toDF("doc_id", "text")
    val loose = Dedup.verifiedClusters(docs, threshold = 0.6)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(loose == Set((1L, 1L, true), (2L, 1L, false)))
    val strict = Dedup.verifiedClusters(docs, threshold = 0.7)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(strict.isEmpty, s"0.667 < 0.7 must be rejected, got $strict")
  }
}
