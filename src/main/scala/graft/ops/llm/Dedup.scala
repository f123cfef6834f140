package graft.ops.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines
  * (north-star mandate, BASELINE.json). Five strategies, cheapest first:
  *
  *  - [[exact]]: hash-groupBy on normalized text — one shuffle.
  *  - [[minhashBuckets]]/[[minhashCandidatePairs]]: MinHash+LSH — candidate
  *    pairs only ever meet inside an LSH band bucket, so the join is
  *    band-partitioned, never all-pairs. Scales to billions of docs.
  *  - [[simhash]]: 60-bit fingerprint; near-dups = small Hamming distance.
  *  - [[embeddingNearDups]]: blocked embedding-cosine pairs above a
  *    threshold — semantic (vector-space) near-dup detection.
  *  - n-gram Jaccard (exact, see QueriesLlm `dedup_ngram_jaccard`): token
  *    n-gram inverted-index join — exact but quadratic per blocking group,
  *    used to verify the approximate methods at small scale.
  *
  * Hash scheme: [[exact]] and the LSH band buckets use Spark's codegen'd
  * `xxhash64` where only run-to-run determinism matters; the MinHash and
  * SimHash fingerprints instead use classic universal hashing over a
  * 31-bit polynomial char fold (Broder, "On the resemblance and
  * containment of documents", 1997: h_i = (a_i·base + b_i) mod p;
  * SimHash per Charikar, "Similarity estimation techniques from
  * rounding algorithms", STOC 2002) —
  * marginally weaker bits, but every arithmetic step is replayable in
  * DuckDB, which puts BOTH sketches under the full value-compare oracle
  * instead of a rows-only check. All constants are fixed (splitmix64-
  * derived) → identical output on every run and cluster layout.
  */
object Dedup {

  /** Modulus of the polynomial base fold (and the universal hash family). */
  val P: Long = 1000000007L

  /** MinHash defaults — the generated DuckDB oracle derives its SQL from
    * THESE values, so implementation and oracle cannot silently diverge.
    */
  val DefaultNumHashes: Int = 32
  val DefaultBands: Int = 8
  val DefaultShingleLen: Int = 3

  /** Second modulus for the SimHash high bits. */
  val P2: Long = 998244353L

  /** Document-frequency cap for the exact n-gram Jaccard inverted-index
    * join (`dedup_ngram_jaccard`): a gram shared by K documents of a block
    * contributes K² join rows, and natural text guarantees stop-bigrams
    * ("of the") with K ≈ block size — a near-cartesian inside the biggest
    * buckets. Grams with DF > this cap are dropped from BOTH the
    * intersection join and the per-doc gram sizes (the oracle SQL mirrors
    * the same filter), bounding any single gram's join contribution at
    * cap² rows. Standard practice in inverted-index similarity (cf. DF
    * cut-offs in Broder-style shingling); ubiquitous grams carry no
    * similarity signal anyway.
    */
  val MaxGramDf: Int = 1000

  /** Jaccard threshold for [[verifiedClusters]]'s exact verification stage
    * (shared with the generated oracle SQL). 0.5 is the conventional
    * near-dup cut for 3-token shingle sets.
    */
  val NearDedupThreshold: Double = 0.5

  private def mix64(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Fixed (a_i, b_i) pairs of the universal hash family
    * h_i(x) = (a_i·x + b_i) mod [[P]]; shared with the DuckDB oracle SQL.
    */
  def universalConstants(n: Int): Seq[(Long, Long)] =
    (0 until n).map(i => (
      1L + Math.floorMod(mix64(2L * i), P - 1),
      Math.floorMod(mix64(2L * i + 1), P)))

  /** SimHash high-bits affine constants (mod [[P2]]). */
  val simhashA2: Long = 1L + Math.floorMod(mix64(201L), P2 - 1)
  val simhashB2: Long = Math.floorMod(mix64(202L), P2)

  /** Spark SQL fragment: 31-bit polynomial char fold of a string column —
    * the same fold TextAnalysis.fingerprint uses, replayable in DuckDB via
    * `list_reduce(list_prepend(0, codes), …)`.
    */
  def polyFoldExpr(strExpr: String): String =
    s"""aggregate(transform(split($strExpr, ''), c -> CAST(ascii(c) AS BIGINT)),
       |  CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % $P)""".stripMargin

  /** Exact dedup: keep the smallest id per normalized text. Groups on a
    * 64+32-bit content hash of the normalized text, not the text itself —
    * the shuffle then moves ~12 bytes per row instead of the full document,
    * which is the difference between a metadata-sized exchange and
    * reshuffling the whole corpus at 100 TB. (96 collision bits: for 10¹²
    * docs the collision probability is ~10⁻⁵; a collision-free variant
    * would group on sha2-256 at 4× the key width.)
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val norm = lower(trim(col(textCol)))
    docs.select(xxhash64(norm).as("__h1"), crc32(norm).as("__h2"), col(idCol))
      .groupBy("__h1", "__h2")
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
  }

  /** Streaming exact dedup — the same content-hash identity as [[exact]]
    * running under Structured Streaming: keep each arriving document only
    * if its normalized-text hash was not seen within the watermark. State
    * is 12 bytes of hash per kept document and is dropped once the
    * watermark passes — bounded memory at unbounded input, the shape a
    * continuous training-data ingest needs. First arrival wins (the
    * streaming analog of the reference's first-write-wins upsert,
    * mongraph.py:90-94).
    */
  def exactStreaming(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame = {
    val norm = lower(trim(col(textCol)))
    docs
      .withColumn("__h1", xxhash64(norm))
      .withColumn("__h2", crc32(norm))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h1", "__h2")
      .drop("__h1", "__h2")
  }

  /** Exploded (idCol, `__hb`) DISTINCT hashed shingles — the shared base
    * of [[minhashSignatures]] and [[shingleHashSets]]: one char fold per
    * shingle (the codegen'd PolyFold expression — identical arithmetic to
    * [[polyFoldExpr]], TextHashSpec pins it, minus the two interpreted
    * lambdas per character). Callers needing both downstream forms can
    * `localCheckpoint` THIS frame and pay the text pass once.
    */
  def shingleHashes(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleLen: Int = DefaultShingleLen): DataFrame =
    docs
      .withColumn("__toks", split(col(textCol), " "))
      .filter(size(col("__toks")) >= shingleLen)
      .select(col(idCol), explode(expr(
        s"array_distinct(transform(sequence(0, size(__toks)-$shingleLen), i -> concat_ws(' ', slice(__toks, i+1, $shingleLen))))")).as("__sh"))
      .withColumn("__hb", graft.functions.TextHash.poly_fold(col("__sh"), P))
      .drop("__sh")

  /** MinHash signature per document: one `__m$i` column per hash
    * function. The `numHashes` functions are affine universal hashes of
    * the per-shingle fold ([[universalConstants]]) — all `numHashes`
    * min-aggregates run in a single map-side-combinable groupBy, one
    * codegen'd `min((a_i·base + b_i) mod p)` column each. No ×numHashes
    * row explosion (32× fewer shuffle rows than the explode-per-function
    * form), no second shuffle, no collect_list/sort.
    */
  def minhashSignatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = DefaultNumHashes,
      shingleLen: Int = DefaultShingleLen): DataFrame =
    signaturesFromHashes(shingleHashes(docs, textCol, idCol, shingleLen), numHashes, idCol)

  /** The min-aggregation stage of [[minhashSignatures]] over an existing
    * [[shingleHashes]] frame.
    */
  def signaturesFromHashes(hashed: DataFrame, numHashes: Int = DefaultNumHashes,
      idCol: String = "doc_id"): DataFrame = {
    val ab = universalConstants(numHashes)
    val minAggs = ab.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("__hb") + lit(b)) % lit(P)).as(s"__m$i") }
    hashed.groupBy(idCol).agg(minAggs.head, minAggs.tail: _*)
  }

  /** MinHash signature → LSH band buckets. One row per (doc, band); docs
    * sharing a (band, bucket) are near-dup candidates — the signature is
    * the agg output row, and band buckets hash fixed column slices of it.
    */
  def minhashBuckets(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = DefaultNumHashes, bands: Int = DefaultBands,
      shingleLen: Int = DefaultShingleLen): DataFrame =
    minhashBandBuckets(minhashSignatures(docs, textCol, idCol, numHashes, shingleLen),
      numHashes, bands, idCol)

  /** The band stage of [[minhashBuckets]] over an existing signature frame
    * — lets callers that also need the signatures (e.g. the
    * `minhash_est_error` calibration query) compute them ONCE instead of
    * re-running the shingle pass per consumer.
    */
  def minhashBandBuckets(sig: DataFrame, numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands, idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"__m${b * rowsPerBand + r}"))
      val bucket = slice.foldLeft(lit(0L): org.apache.spark.sql.Column)(
        (acc, m) => (acc * 31 + m) % lit(P))
      struct(lit(b.toLong).as("band"), bucket.as("bucket"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"), col("__b.bucket").as("bucket"))
  }

  /** Candidate near-dup pairs: self-join of [[minhashBuckets]] on
    * (band, bucket) — the LSH trick that avoids the all-pairs comparison.
    */
  def minhashCandidatePairs(buckets: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val a = buckets.select(col("band"), col("bucket"), col(idCol).as("a_id"))
    val b = buckets.select(col("band"), col("bucket"), col(idCol).as("b_id"))
    a.join(b, Seq("band", "bucket")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Near-dup clusters: connected components over the candidate-pair graph
    * — the step that turns pairwise candidates into dedup groups (keep one
    * representative per cluster, drop the rest). The block kernel's
    * [[graft.ops.GraphAnalytics.connectedComponents]] labels each
    * component with its minimum member id, so the `cluster_rep` column is
    * both the canonical survivor (smallest doc_id, matching [[exact]]'s
    * keep-min rule) and fully deterministic given the pairs. Docs in no
    * pair are unique by construction and are omitted (they keep
    * themselves).
    */
  def clusters(candidatePairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id")
      : DataFrame = {
    // the kernel reads the pairs three times (edge count, edges, vertex
    // ids); one checkpoint runs the candidate/verify plan behind them once
    val pairs = candidatePairs.select(col(aCol).as("src"), col(bCol).as("dst")).localCheckpoint()
    val docs = pairs.select(col("src").as("id")).union(pairs.select(col("dst").as("id")))
      .distinct()
    graft.ops.GraphAnalytics.connectedComponents(docs, graft.model.DerivedGraph.undirected(pairs))
      .select(col("id").as("doc_id"), col("component").as("cluster_rep"))
  }

  /** Sorted distinct shingle-hash set per document — the exact-verification
    * side of the near-dedup pipeline. Same shingling + polynomial fold as
    * [[minhashBuckets]] (shared constants → the DuckDB oracle replays it),
    * aggregated back into one sorted array per doc. The shuffle carries
    * 8-byte hashes, never shingle text.
    */
  def shingleHashSets(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleLen: Int = DefaultShingleLen): DataFrame =
    setsFromHashes(shingleHashes(docs, textCol, idCol, shingleLen), idCol)

  /** The set-aggregation stage of [[shingleHashSets]] over an existing
    * [[shingleHashes]] frame.
    */
  def setsFromHashes(hashed: DataFrame, idCol: String = "doc_id"): DataFrame =
    hashed.groupBy(idCol)
      .agg(sort_array(collect_set(col("__hb"))).as("shs"))

  /** The production near-dedup pipeline end to end: MinHash+LSH candidate
    * generation → EXACT shingle-set Jaccard verification of each candidate
    * pair → connected components over the verified pairs → per-doc survivor
    * verdict (`kept` = this doc is its cluster's min-id representative).
    * This is the candidates-verify-cluster shape every big corpus dedup
    * runs (cf. Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022): LSH bounds the candidate count, the exact
    * Jaccard kills LSH false positives, and clustering turns pairs into
    * keep/drop decisions.
    *
    * Scale shape: candidates only meet inside LSH band buckets (never
    * all-pairs); verification joins the candidate PAIRS (sparse) against
    * the per-doc hash sets — the codegen'd two-pointer
    * `sorted_intersect_count` does the set intersection without exploding
    * set elements into rows; CC runs on the verified-pair graph only.
    * Jaccard = inter/union of exact ints, rounded to 6dp before the
    * threshold compare on both engines.
    */
  def verifiedClusters(docs: DataFrame, threshold: Double = NearDedupThreshold,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // ONE shingle-explode + poly-fold text pass, materialized, feeding both
    // the LSH candidate side (signatures → bands) and the exact-verify side
    // (hash sets) — the sharing [[shingleHashes]] was factored out for; the
    // text pass dominates everything downstream of it (ADVICE r6).
    val hashed = shingleHashes(docs, textCol, idCol).localCheckpoint()
    val pairs = minhashCandidatePairs(
      minhashBandBuckets(signaturesFromHashes(hashed, idCol = idCol), idCol = idCol))
    val sets = setsFromHashes(hashed, idCol)
    clusters(exactVerify(pairs, sets, threshold, idCol))
      .withColumn("kept", col("cluster_rep") === col("doc_id"))
  }

  /** Exact shingle-set Jaccard verification of candidate pairs against the
    * per-doc hash sets — the kill-LSH-false-positives stage, shared by the
    * batch [[verifiedClusters]] and the streaming [[NearDedupView]]. The
    * codegen'd two-pointer `sorted_intersect_count` does the set
    * intersection without exploding set elements into rows; Jaccard =
    * inter/union of exact ints, rounded to 6dp before the threshold
    * compare (same rounding as the oracle).
    */
  def exactVerify(pairs: DataFrame, sets: DataFrame, threshold: Double,
      idCol: String = "doc_id"): DataFrame =
    pairs
      .join(sets.select(col(idCol).as("a_id"), col("shs").as("__sa")), "a_id")
      .join(sets.select(col(idCol).as("b_id"), col("shs").as("__sb")), "b_id")
      .withColumn("__inter",
        graft.functions.ArrayFunctions.sorted_intersect_count(col("__sa"), col("__sb")))
      .withColumn("__jac", round(col("__inter").cast("double") /
        (size(col("__sa")) + size(col("__sb")) - col("__inter")), 6))
      .filter(col("__jac") >= threshold)
      .select("a_id", "b_id")

  /** 60-bit SimHash: sign of the per-bit weighted sum of token hashes —
    * explode tokens → hash → 60 conditional-count aggregates in ONE
    * map-side-combinable groupBy (no per-bit shuffle), then pack the sign
    * bits into a single long. Token hash = the polynomial fold (low 30
    * bits) plus its affine transform mod [[P2]] (high 30 bits) — both
    * moduli are below 2³⁰, so 30 bits per half carry signal (bit 30 of
    * either hash would be structurally zero) — and every step replays in
    * DuckDB under the value oracle.
    */
  val SimhashBits: Int = 60

  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val half = SimhashBits / 2
    val tokenHashes = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("__tok"))
      .withColumn("__h1", graft.functions.TextHash.poly_fold(col("__tok"), P))
      .withColumn("__h2", (lit(simhashA2) * col("__h1") + lit(simhashB2)) % lit(P2))
    val bitAggs = (0 until SimhashBits).map { j =>
      val src = if (j < half) col("__h1") else col("__h2")
      val sh = if (j < half) j else j - half
      sum(when(shiftright(src, sh).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"__b$j")
    }
    val packed = (0 until SimhashBits)
      .map(j => when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    tokenHashes.groupBy(idCol).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /** Hamming distance between two simhash columns (bit_count is codegen'd). */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    bit_count(a.bitwiseXOR(b))

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * blocked by a grouping column. EXACT within its blocks but O(N²/blocks)
    * pairs — the small-scale verifier for [[embeddingNearDupsLsh]], which
    * is the declared at-scale path.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double, blockCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.{float_dot, float_norm}
    val e = emb.withColumn("__nrm", float_norm(col(vecCol)))
    val a = e.select(col(blockCol), col(idCol).as("a_id"), col(vecCol).as("a_emb"), col("__nrm").as("a_n"))
    val b = e.select(col(blockCol), col(idCol).as("b_id"), col(vecCol).as("b_emb"), col("__nrm").as("b_n"))
    a.join(b, Seq(blockCol)).filter(col("a_id") < col("b_id"))
      // round BEFORE the threshold compare so float accumulation order can
      // never flip a pair across the cut (same rule as Similarity ranking).
      .withColumn("cosine", round(
        float_dot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")), 4))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** Default LSH amplification for [[embeddingNearDupsLsh]] — shared with
    * the generated DuckDB oracle SQL in QueriesLlm.
    */
  val EmbLshBits: Int = 8
  val EmbLshTables: Int = 4

  /** [[embeddingNearDups]] with LSH-bucket ∧ block-column blocking — the
    * 100 TB shape: candidate pairs only meet when they share the blocking
    * column AND collide in at least one of `tables` independent
    * random-hyperplane tables ([[Similarity.hyperplaneBuckets]]), so the
    * per-block pair count drops from O(N²) to the bucket-local collisions
    * while true near-dups (cosine → 1) are retained with probability
    * 1 − (1 − p^bits)^tables, p = 1 − θ/π — OR-amplification pushes the
    * miss rate down exponentially in `tables` for linear extra compute.
    * Deterministic (fixed seedless planes) and oracle-replayable: the
    * DuckDB SQL embeds the identical plane literals.
    */
  def embeddingNearDupsLsh(emb: DataFrame, threshold: Double,
      bits: Int = EmbLshBits, tables: Int = EmbLshTables,
      blockCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.float_dot
    val e = Similarity.multiTableKeyed(emb, bits, tables, vecCol)
    val a = e.select(col(blockCol), col("__tb"), col(idCol).as("a_id"),
      col(vecCol).as("a_emb"), col("__nrm").as("a_n"))
    val b = e.select(col(blockCol), col("__tb"), col(idCol).as("b_id"),
      col(vecCol).as("b_emb"), col("__nrm").as("b_n"))
    a.join(b, Seq(blockCol, "__tb")).filter(col("a_id") < col("b_id"))
      .withColumn("cosine", round(
        float_dot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")), 4))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
      // a pair colliding in several tables repeats with the identical
      // rounded cosine — collapse to one row.
      .distinct()
  }

  /** Shingles shared by more documents than this are dropped from the
    * containment index AND the per-doc set sizes (the [[MaxGramDf]]
    * discipline): a shingle in 200+ documents is boilerplate/template
    * text that carries no sub-duplication signal but drives the K² pair
    * blowup inside its posting list.
    */
  val ContainmentMaxDf: Int = 200

  /** Exact shingle-containment detection — the ASYMMETRIC near-dup
    * measure (Broder 1997 §2: containment C(A,B) = |S(A)∩S(B)|/|S(A)|)
    * that catches a document EMBEDDED inside a larger one, where Jaccard
    * goes quiet because the union is dominated by the big doc. Shingles
    * are `len`-char substrings at `stride`, carried as their xxhash64
    * (the dedup_ngram_jaccard discipline: the oracle replays the RAW
    * strings — equal modulo 64-bit collisions, absent by birthday math
    * below ~10^8 shingle types — while every shuffle moves 8-byte keys
    * instead of 20+-char strings). Per-doc dedup happens IN-ROW via
    * array_distinct over the transform (all of one doc's shingles come
    * from its single text value), so the old `(doc, shingle) DISTINCT`
    * — a full extra shuffle of the exploded data, and r15's measured
    * 26×/decade shuffle-write term — is gone entirely. One posting-list
    * groupBy, pair generation by double explode inside each DF-capped
    * list (never a doc self-join); per-doc set sizes broadcast-joined
    * (doc-count-sized, the smallest table in the plan) and packed into
    * the low 20 bits of each candidate long (the graph_common_neighbors
    * lesson: the pair table is never joined). Emits both directions'
    * containments per unordered pair; the threshold compares
    * 6-dp-rounded values on both engines.
    *
    * The sizes broadcast is GATED, not forced (VERDICT r16 #1): `sizes`
    * has one row per document, and at 100 TB corpora (10⁸-10¹⁰ docs) a
    * forced hint is a driver collect that fails the job instead of
    * falling back. The gate compares the EXACT doc row count against
    * [[graft.ops.Traverse.effectiveBroadcastLimit]] (the same
    * 48 B/row-vs-maxResultSize discipline the traversal frontiers use),
    * resolved in order:
    *
    *  1. `docRowCount` ≥ 0 — a count the caller already knows
    *     (dedup_containment threads [[graft.model.Tables.rowCount]]'s
    *     footer sum: driver-side metadata IO, NO job — VERDICT r17 #3).
    *  2. the optimizer's `stats.rowCount` when defined (CBO-analyzed
    *     tables, post-AQE cached stages) — exact or engine-estimated,
    *     never a bytes-derived guess; no job.
    *  3. one exact `docs.count()` job — the only remaining shape is a
    *     DERIVED docs input with no count anywhere; for bare parquet
    *     that count is row-group metadata only (BENCHNOTES r16),
    *     and one construction-time job is inside the QueryDef contract.
    *
    * Gate v2's bytes/8 fast path is GONE (ADVICE r17): sizeInBytes for a
    * file scan is compressed ON-DISK bytes, and a duplicate-heavy corpus
    * — the exact target of a containment dedup — can dictionary/RLE-pack
    * text below 8 B/row, so the proxy could UNDER-count rows and confirm
    * a broadcast past what the driver can collect. The recorded v1→v2
    * lesson ("a proxy may only decide on the side where it over-counts")
    * cuts both ways: a compressible-bytes proxy has no side it is safe
    * on, so no proxy decides here at all — only counts do.
    *
    * Past the bound the hint is dropped and the join shuffles (AQE still
    * re-promotes if the real stage lands under its threshold) — the plan
    * degrades, never dies. `broadcastDocLimit` < 0 (the default) derives
    * the bound from the session; tests pass an explicit row bound to pin
    * both sides of the gate.
    */
  def containment(docs: DataFrame, len: Int = 20, stride: Int = 5,
      maxDf: Int = ContainmentMaxDf, minCont: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      broadcastDocLimit: Long = -1L, docRowCount: Long = -1L): DataFrame = {
    val sh = docs.filter(length(col(textCol)) >= len)
      .select(col(idCol), explode(array_distinct(expr(
        s"transform(sequence(1, length($textCol) - ${len - 1}, $stride)," +
          s" p -> xxhash64(substring($textCol, p, $len)))"))).as("sh"))
    val postings = sh.groupBy("sh")
      .agg(sort_array(graft.functions.ArrayFunctions.bounded_collect_list(
        col(idCol), maxDf + 1)).as("ds"))
      .filter(size(col("ds")) <= maxDf)
    val sizes = postings.select(explode(col("ds")).as("d"))
      .groupBy("d").agg(count(lit(1)).as("sz"))
    // (doc, sz) packed into one long: sz < 2^20 (set size = distinct
    // shingles per doc, bounded by n_chars/stride), packed order = doc
    // order, so the pair path below is pure long lanes and the pair table
    // never joins anything. `sizes` is one row per DOCUMENT — orders of
    // magnitude under the posting rows — so while the doc count fits the
    // session's broadcast-collect bound it broadcasts and the join never
    // reshuffles the exploded postings; past the bound the hint drops
    // (see the gate contract in the scaladoc above).
    val docLimit =
      if (broadcastDocLimit >= 0L) BigInt(broadcastDocLimit)
      else BigInt(graft.ops.Traverse.effectiveBroadcastLimit(docs.sparkSession))
    val docRows: BigInt =
      if (docRowCount >= 0L) BigInt(docRowCount)
      else docs.queryExecution.optimizedPlan.stats.rowCount
        .getOrElse(BigInt(docs.count()))
    val sizesSide = if (docRows <= docLimit) broadcast(sizes) else sizes
    val packed = postings.select(col("sh"), explode(col("ds")).as("d"))
      .join(sizesSide, "d")
      .groupBy("sh")
      .agg(sort_array(collect_list(shiftleft(col("d"), 20) + col("sz"))).as("cz"))
      .filter(size(col("cz")) >= 2)
    val inter = packed
      .select(posexplode(col("cz")).as(Seq("__i", "a")), col("cz"))
      .select(col("a"), explode(expr("slice(cz, __i + 2, size(cz))")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .select(shiftright(col("a"), 20).as("a_id"),
        shiftright(col("b"), 20).as("b_id"), col("inter"),
        round(col("inter").cast("double") /
          col("a").bitwiseAND(lit(0xFFFFFL)), 6).as("cont_a"),
        round(col("inter").cast("double") /
          col("b").bitwiseAND(lit(0xFFFFFL)), 6).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minCont)
      .orderBy("a_id", "b_id")
  }
}

/** Streaming twin of [[Dedup.verifiedClusters]] — MinHash near-dedup as a
  * `foreachBatch` fold (the online variant of Lee et al., "Deduplicating
  * Training Data Makes Language Models Better", ACL 2022): each arriving
  * micro-batch is shingled/signed/banded with the SAME batch operators,
  * and its candidates are generated ONLY against bucket-mates — the
  * maintained (band, bucket) index plus the batch itself — never against
  * the full corpus. Maintained state:
  *
  *  - `bands`: the LSH bucket index of every doc seen (docs × bands rows)
  *  - `sets`:  per-doc sorted shingle-hash sets (for exact verification)
  *  - `verified`: the accumulated exact-Jaccard-verified pair graph
  *
  * Because a pair (i, j) is discovered exactly once — in the batch where
  * the later of the two arrives, against the earlier one's state entry
  * (or within the batch) — the union of per-batch candidates equals the
  * batch pipeline's candidate set over the same prefix, verification is
  * the same arithmetic, and [[verdicts]] (components over the accumulated
  * verified graph) is IDENTICAL to running [[Dedup.verifiedClusters]] on
  * everything ingested so far, for ANY split of the corpus into batches
  * (NearDedupStreamSpec proves this per batch prefix). A doc's verdict can
  * flip when a later arrival bridges two clusters (rep = component min) —
  * that is batch parity, not a bug; act-on-ingest consumers should treat
  * `kept` as the current best answer, exactly as a re-run batch would.
  *
  * Scale shape: per batch, the text pass touches only the batch; the
  * candidate join probes the bucket index on (band, bucket) — at 100 TB
  * the state tables live partitioned/bucketed on those keys (the in-memory
  * `localCheckpoint` frames here stand in for state-store-backed tables),
  * so the probe co-locates without reshuffling history. The verified-pair
  * graph is pairs-sized (sparse), and CC runs on it only when [[verdicts]]
  * is asked for.
  */
final class NearDedupView(spark: org.apache.spark.sql.SparkSession,
    threshold: Double = Dedup.NearDedupThreshold,
    textCol: String = "text", idCol: String = "doc_id") {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def empty(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private var bands: DataFrame = empty(StructType(Seq(
    StructField(idCol, LongType), StructField("band", LongType),
    StructField("bucket", LongType))))
  private var sets: DataFrame = empty(StructType(Seq(
    StructField(idCol, LongType),
    StructField("shs", ArrayType(LongType, containsNull = false)))))
  private var verified: DataFrame = empty(StructType(Seq(
    StructField("a_id", LongType), StructField("b_id", LongType))))

  /** foreachBatch sink: fold one micro-batch of documents into the state. */
  def sink(batch: DataFrame, batchId: Long): Unit = processBatch(batch)

  /** Fold a batch of new documents (schema: idCol, textCol). */
  def processBatch(newDocs: DataFrame): Unit = {
    // one shingle pass over the BATCH only, feeding both LSH and verify —
    // the same sharing discipline as the batch pipeline
    val hashed = Dedup.shingleHashes(newDocs, textCol, idCol).localCheckpoint()
    val newBands = Dedup.minhashBandBuckets(
      Dedup.signaturesFromHashes(hashed, idCol = idCol), idCol = idCol)
      .localCheckpoint()
    val newSets = Dedup.setsFromHashes(hashed, idCol).localCheckpoint()
    // candidates: new-vs-new within the batch, plus new-vs-state strictly
    // through the bucket index (bucket-mates only — never all-pairs)
    val newNew = Dedup.minhashCandidatePairs(newBands, idCol)
    val newOld = newBands.select(col("band"), col("bucket"), col(idCol).as("__n"))
      .join(bands.select(col("band"), col("bucket"), col(idCol).as("__o")),
        Seq("band", "bucket"))
      .select(least(col("__n"), col("__o")).as("a_id"),
        greatest(col("__n"), col("__o")).as("b_id"))
      .filter(col("a_id") < col("b_id")).distinct()
    val allSets = sets.unionByName(newSets)
    val newVerified = Dedup.exactVerify(newNew.unionByName(newOld).distinct(),
      allSets, threshold, idCol)
    bands = bands.unionByName(newBands).localCheckpoint()
    sets = allSets.localCheckpoint()
    verified = verified.unionByName(newVerified).localCheckpoint()
  }

  /** Current keep/drop verdicts over everything ingested: identical output
    * contract to [[Dedup.verifiedClusters]] on the same documents (docs in
    * no verified pair are unique by construction and omitted).
    */
  def verdicts: DataFrame =
    Dedup.clusters(verified)
      .withColumn("kept", col("cluster_rep") === col("doc_id"))

  /** Current state sizes (bands, sets, verified pairs) — monitoring hook. */
  def stateSizes: (Long, Long, Long) = (bands.count(), sets.count(), verified.count())
}
