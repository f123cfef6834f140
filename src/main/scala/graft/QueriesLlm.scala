package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.collection.immutable.ListMap
import Qh._
import graft.ops.llm.{Curation, Dedup, Mixture, Multimodal, Packing, Shuffle, Similarity, TextAnalysis}

/** LLM-data-pipeline inventory (north-star mandate): dedup ×4, similarity
  * search ×2, text analysis ×4, fingerprinting, multimodal ×2. Oracles
  * where SQL-expressible; hash-based ops (minhash/simhash/LSH/fingerprint)
  * depend on xxhash64, absent in DuckDB → rows-only check per the driver
  * contract (SparkEntry.oracleSql omission).
  */
object QueriesLlm {

  /** DuckDB replay of Dedup.polyFoldExpr over a string expression.
    * `private[graft]`: table_diff_digest (QueriesRelational) folds
    * canonical row strings with the same arithmetic — one replay, one
    * source of truth.
    */
  private[graft] def duckFold(strExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($strExpr, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (acc, c) -> (acc * 31 + c) % ${Dedup.P})""".stripMargin

  /** Shared CTE body producing `bkts(doc_id, band, bucket)`: base folds
    * per shingle, 32 universal-hash minima, per-band bucket folds —
    * constants shared with the Spark implementation.
    */
  private lazy val minhashCte: String = {
    // every constant below derives from Dedup's defaults — the oracle
    // cannot silently diverge from the implementation.
    val (numHashes, bands, sl) =
      (Dedup.DefaultNumHashes, Dedup.DefaultBands, Dedup.DefaultShingleLen)
    val rowsPerBand = numHashes / bands
    val ab = Dedup.universalConstants(numHashes)
    val minCols = ab.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % ${Dedup.P})) AS m$i"
    }.mkString(",\n  ")
    val bandSelects = (0 until bands).map { bnd =>
      val bucket = (0 until rowsPerBand)
        .map(r => s"m${bnd * rowsPerBand + r}")
        .foldLeft("CAST(0 AS BIGINT)")((acc, m) => s"(($acc) * 31 + $m) % ${Dedup.P}")
      s"SELECT doc_id, CAST($bnd AS BIGINT) AS band, $bucket AS bucket FROM sig"
    }.mkString("\n UNION ALL ")
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - ${sl - 1}),
       |         i -> array_to_string(list_slice(toks, i, i + ${sl - 1}), ' '))) AS shs
       |       FROM tk WHERE len(toks) >= $sl),
       |hb AS (SELECT doc_id, list_transform(shs, s -> ${duckFold("s")}) AS hs FROM sh),
       |sig AS (SELECT doc_id,
       |  $minCols
       |FROM hb),
       |bkts AS (SELECT doc_id, band, bucket FROM ($bandSelects))""".stripMargin
  }

  private lazy val minhashOracleSql: String =
    s"""WITH $minhashCte
       |SELECT doc_id, band, bucket FROM bkts
       |ORDER BY doc_id, band""".stripMargin

  /** Generated oracle for dedup_clusters: the minhash buckets CTE → LSH
    * candidate pairs → connected components as a RECURSIVE min-label
    * reachability fixpoint (components are near-dup groups — a handful of
    * docs each — so the closure stays tiny). GraphX CC labels components
    * with the minimum member id; MIN(reachable id) reproduces it exactly.
    */
  /** Shared CTE prefix replaying the image dHash from the pixel synthesis
    * formula — one source of truth for the multimodal_phash oracle and
    * the near-dup pair oracle over the same hashes.
    */
  private lazy val phashCte: String = {
    def g(p: String) = s"(((31*id + 7*(3*($p))) % 256) + " +
      s"((31*id + 7*(3*($p)+1)) % 256) + ((31*id + 7*(3*($p)+2)) % 256))"
    s"""WITH im AS (SELECT doc_id AS id, CAST(4 + doc_id % 13 AS BIGINT) AS w,
       |    CAST(3 + doc_id % 7 AS BIGINT) AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |ph AS (SELECT id, w, h,
       |  CAST(list_sum(list_transform(range(0, 63), t ->
       |    CASE WHEN ${g("(t*(w*h-1))//64")} > ${g("((t+1)*(w*h-1))//64")}
       |    THEN (CAST(1 AS BIGINT) << t) ELSE CAST(0 AS BIGINT) END))
       |    AS BIGINT) AS phash
       |  FROM im)""".stripMargin
  }

  /** Shared CTE prefix of the lang_id classifier (token profiles, votes,
    * per-doc ranking) — one source of truth for the lang_id oracle and
    * the lang_confusion matrix over its predictions.
    */
  private lazy val langIdCte: String =
    """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnt AS (SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      |prof AS (SELECT lang AS p_lang, tok, 31 - rk AS weight FROM (
      |    SELECT lang, tok, CAST(row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS BIGINT) AS rk
      |    FROM cnt) WHERE rk <= 30),
      |votes AS (SELECT t.doc_id, t.lang, p.p_lang, SUM(p.weight) AS score
      |          FROM toks t JOIN prof p ON t.tok = p.tok GROUP BY 1, 2, 3),
      |r AS (SELECT doc_id, lang, p_lang,
      |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rk
      |      FROM votes)""".stripMargin

  private lazy val clustersOracleSql: String =
    s"""WITH RECURSIVE $minhashCte,
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |          FROM bkts a JOIN bkts b
       |            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |und AS (SELECT a_id AS u, b_id AS v FROM pairs
       |        UNION SELECT b_id, a_id FROM pairs),
       |reach(id, r) AS (SELECT DISTINCT u, u FROM und
       |                 UNION SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.id)
       |SELECT id AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY id
       |ORDER BY doc_id""".stripMargin

  /** Generated oracle for dedup_simhash: one conditional-sum bit term per
    * SimhashBits over the replayable token hash (low half: the fold; high
    * half: its affine transform mod P2).
    */
  private lazy val simhashOracleSql: String = {
    val half = Dedup.SimhashBits / 2
    val bitTerms = (0 until Dedup.SimhashBits).map { j =>
      val (src, sh) = if (j < half) ("h1", j) else ("h2", j - half)
      s"(CASE WHEN SUM(CASE WHEN (($src >> $sh) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" +\n  ")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, ${duckFold("tok")} AS h1 FROM toks),
       |hh AS (SELECT doc_id, h1, (${Dedup.simhashA2} * h1 + ${Dedup.simhashB2}) % ${Dedup.P2} AS h2 FROM h)
       |SELECT doc_id, CAST(
       |  $bitTerms
       |AS BIGINT) AS simhash
       |FROM hh GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of one hyperplane table's bucket bits: each coefficient
    * is an exact round-trip double literal, so both engines multiply
    * bit-identical values in the same order and the SIGNS agree exactly.
    * Shared by the similarity_lsh and dedup_embedding oracles — one
    * generator, so the Spark bucketing and its SQL replay cannot diverge.
    */
  private def duckBucketBits(planes: Array[Array[Float]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lits = p.map(f => java.lang.Double.toString(f.toDouble)).mkString(", ")
      s"(CASE WHEN list_dot_product(emb, [$lits]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" +\n    ")

  /** Generated oracle for similarity_lsh: bucket bits from the literal
    * hyperplanes (exact double text → bit-identical products), then the
    * same blocked top-k as similarity_topk with lsh_bucket blocking.
    */
  private lazy val lshOracleSql: String = {
    val bitTerms = duckBucketBits(Similarity.hyperplanes())
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |e AS (SELECT vec_id, emb, CAST(
       |    $bitTerms
       |  AS BIGINT) AS bkt FROM e0),
       |n AS (SELECT vec_id, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |q AS (SELECT e.vec_id AS q_id, e.bkt, e.emb AS q_emb, n.nrm AS q_n
       |      FROM e JOIN n ON e.vec_id = n.vec_id
       |      WHERE e.vec_id % 20 = 0 AND e.vec_id < $SimQueryCap),
       |c AS (SELECT e.vec_id AS c_id, e.bkt, e.emb AS c_emb, n.nrm AS c_n
       |      FROM e JOIN n ON e.vec_id = n.vec_id),
       |sc AS (SELECT q_id, c_id,
       |         round(list_dot_product(q_emb, c_emb)/(q_n*c_n), 4) AS score
       |       FROM q JOIN c ON q.bkt = c.bkt AND q_id <> c_id),
       |r AS (SELECT q_id, c_id, score,
       |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS BIGINT) AS rk
       |      FROM sc)
       |SELECT q_id, rk, c_id, score FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  /** Generated oracle for dedup_embedding (LSH-blocked): per-table bucket
    * bits from the literal hyperplanes (table 0 is similarity_lsh's plane
    * set), pairs meet on label ∧ any-table collision — the OR here replays
    * Spark's exploded (table, bucket) equi-join + distinct exactly.
    */
  private lazy val embNearDupOracleSql: String = {
    val (bits, tables) = (Dedup.EmbLshBits, Dedup.EmbLshTables)
    val bktCols = (0 until tables).map { t =>
      s"CAST(${duckBucketBits(Similarity.hyperplanes(bits, table = t))} AS BIGINT) AS bkt$t"
    }.mkString(",\n  ")
    val collide = (0 until tables).map(t => s"a.bkt$t = b.bkt$t").mkString(" OR ")
    s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |e AS (SELECT vec_id, label, emb,
       |  $bktCols
       |  FROM e0),
       |n AS (SELECT vec_id, sqrt(list_dot_product(emb, emb)) AS nrm FROM e0),
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |        round(list_dot_product(a.emb, b.emb)/(na.nrm*nb.nrm), 4) AS cosine
       |      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id AND ($collide)
       |      JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id)
       |SELECT a_id, b_id, cosine FROM p WHERE cosine >= 0.35
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Generated oracle for neardedup_pipeline: the replayable minhash CTE →
    * candidate pairs → EXACT shingle-set Jaccard verification
    * (list_intersect over the same fold hashes, 6dp-rounded threshold) →
    * min-label reachability fixpoint over the VERIFIED pairs → per-doc
    * keep/drop verdict. Same recursion shape as clustersOracleSql; only
    * the verification stage between them is new.
    */
  private lazy val nearDedupOracleSql: String =
    s"""WITH RECURSIVE $minhashCte,
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |          FROM bkts a JOIN bkts b
       |            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |hsets AS (SELECT doc_id, list_distinct(hs) AS shs FROM hb),
       |vp AS (SELECT a_id, b_id FROM pairs p
       |       JOIN hsets a ON a.doc_id = p.a_id
       |       JOIN hsets b ON b.doc_id = p.b_id
       |       WHERE round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
       |         / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))), 6)
       |         >= ${Dedup.NearDedupThreshold}),
       |und AS (SELECT a_id AS u, b_id AS v FROM vp
       |        UNION SELECT b_id, a_id FROM vp),
       |reach(id, r) AS (SELECT DISTINCT u, u FROM und
       |                 UNION SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.id)
       |SELECT id AS doc_id, MIN(r) AS cluster_rep, MIN(r) = id AS kept
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Fixed upper bound on sampled-query ids for the brute-force /
    * calibration operators (`similarity_topk`, `similarity_ivf`,
    * `similarity_ivf_recall`, `rag_retrieval`): their per-query cost is
    * O(corpus), so a query pool that also grows with the corpus makes the
    * operator quadratic in SF — the r9 sf1 decade run measured exactly
    * that (22-64x at 10x data). Capping the pool at a fixed id range
    * makes the batch a constant-size sample (production calibrates on a
    * fixed sample too) and the total linear. A no-op at the gate SFs
    * (all ids < 100000 at sf0.001/0.01/0.1); only the shifted key spaces
    * of scale runs (tools.MakeSfN) exceed it.
    */
  private val SimQueryCap = 100000L

  /** Fitted IVF centroids captured by the similarity_ivf_recall run — the
    * late-bound oracle thunk embeds them as exact double literals. Keyed by
    * DATASET DIR (r8 advice): a JVM that runs the query against several
    * sfDirs before the oracle dump would otherwise capture only the last
    * dataset's centers and silently mismatch any earlier dataset's verify
    * output. The map stays empty until the query has run at least once in
    * this JVM (then [[SparkEntry.oracleSql]] emits the generated replay;
    * before that the key is simply absent → the driver's weaker rows-only
    * check).
    */
  private val ivfRecallCenters =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()
  private val ivfRecallLastDir =
    new java.util.concurrent.atomic.AtomicReference[String]()

  /** Shared CTE prefix for the IVF replays: from the literal centroid
    * matrix through the scored in-cell candidates (`isc`). The distance
    * surrogate is `c2[c] − 2·(v·center_c)` with the identical left-to-right
    * double accumulation ([[graft.functions.NearestCenterOrder]]'s
    * arithmetic; the c2 literals are computed by the same foldLeft), probe
    * rank ties to the lower cell index, candidates live in their crk=1
    * cell, queries probe crk≤3, scores are 4dp-rounded cosines — exactly
    * [[graft.ops.llm.Similarity.ivfCosineTopK]] at the declared
    * (nCells=16, nprobe=3) parameters.
    */
  private def ivfCtePrefix(centers: Array[Array[Float]]): String = {
    val distCols = centers.zipWithIndex.map { case (ctr, c) =>
      val c2 = ctr.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble)
      val lits = ctr.map(f => java.lang.Double.toString(f.toDouble)).mkString(", ")
      s"(${java.lang.Double.toString(c2)} - 2.0*list_dot_product(emb, [$lits])) AS d$c"
    }.mkString(",\n  ")
    val dList = centers.indices.map(c => s"d$c").mkString(", ")
    val cList = centers.indices.mkString(", ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |dc AS (SELECT vec_id,
       |  $distCols
       |  FROM e),
       |du AS (SELECT vec_id, unnest([$dList]) AS dist, unnest([$cList]) AS cell FROM dc),
       |rkc AS (SELECT vec_id, cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS crk FROM du),
       |asg AS (SELECT vec_id AS c_id, cell FROM rkc WHERE crk = 1),
       |prb AS (SELECT vec_id AS q_id, cell FROM rkc
       |        WHERE crk <= 3 AND vec_id % 20 = 0 AND vec_id < $SimQueryCap),
       |isc AS (SELECT p.q_id, a.c_id,
       |          round(list_dot_product(qe.emb, ce.emb)/(qn.nrm*cn.nrm), 4) AS score
       |        FROM prb p JOIN asg a ON p.cell = a.cell AND p.q_id <> a.c_id
       |        JOIN e qe ON qe.vec_id = p.q_id JOIN n qn ON qn.vec_id = p.q_id
       |        JOIN e ce ON ce.vec_id = a.c_id JOIN n cn ON cn.vec_id = a.c_id)""".stripMargin
  }

  /** Generated VALUE oracle for similarity_ivf itself (VERDICT r11 #2):
    * DuckDB replays the fitted index end to end and emits the same
    * (q_id, rk, c_id, score) top-5 rows the Spark query returns.
    */
  private def ivfTopkOracleSql(centers: Array[Array[Float]]): String =
    s"""WITH ${ivfCtePrefix(centers)}
       |SELECT q_id, rk, c_id, score FROM (
       |  SELECT q_id, c_id, score, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY score DESC, c_id) AS BIGINT) AS rk
       |  FROM isc) WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin

  /** Generated oracle for similarity_ivf_recall: the shared IVF replay
    * (see [[ivfCtePrefix]]) joined against the global brute-force top-5
    * ground truth, reduced to recall@5 and rank displacement.
    */
  private def ivfRecallOracleSql(centers: Array[Array[Float]]): String = {
    s"""WITH ${ivfCtePrefix(centers)},
       |ivf AS (SELECT q_id, c_id, i_rk FROM (
       |         SELECT q_id, c_id, CAST(row_number() OVER (
       |           PARTITION BY q_id ORDER BY score DESC, c_id) AS BIGINT) AS i_rk
       |         FROM isc) WHERE i_rk <= 5),
       |tsc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |          round(list_dot_product(q.emb, c.emb)/(qn.nrm*cn.nrm), 4) AS score
       |        FROM e q JOIN n qn ON qn.vec_id = q.vec_id
       |          JOIN e c ON q.vec_id <> c.vec_id
       |          JOIN n cn ON cn.vec_id = c.vec_id
       |        WHERE q.vec_id % 20 = 0 AND q.vec_id < $SimQueryCap),
       |tru AS (SELECT q_id, c_id, t_rk FROM (
       |         SELECT q_id, c_id, CAST(row_number() OVER (
       |           PARTITION BY q_id ORDER BY score DESC, c_id) AS BIGINT) AS t_rk
       |         FROM tsc) WHERE t_rk <= 5)
       |SELECT t.q_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_true,
       |  CAST(COUNT(i.i_rk) AS BIGINT) AS n_hit,
       |  round(CAST(COUNT(i.i_rk) AS DOUBLE) / COUNT(*), 6) AS recall,
       |  CAST(COALESCE(SUM(ABS(i.i_rk - t.t_rk)), 0) AS BIGINT) AS rank_err
       |FROM tru t LEFT JOIN ivf i ON i.q_id = t.q_id AND i.c_id = t.c_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
  }
  // Exact-accumulation dependency (r8 advice): the cell-assignment surrogate
  // `c2 − 2·list_dot_product(emb, …)` relies on DuckDB's list_dot_product
  // accumulating left-to-right in double, matching NearestCenterOrder's
  // foldLeft — unlike the 4dp-rounded cosine scores there is no rounding
  // washout, so a DuckDB build that reorders the accumulation (SIMD /
  // pairwise summation) could flip a near-tie assignment. The gate's DuckDB
  // version is therefore pinned/checked in tools/compare_oracle.py (1.0.0,
  // same major the driver runs); this mirrors the LSH sign-agreement caveat
  // on embNearDupOracleSql.

  /** Generated oracle for rag_retrieval: replay the chunk windows
    * (generate_series + list_slice over Rag.ChunkSize/Overlap), the
    * hash-feature embeddings (per-dim affine sums over the shared fold,
    * exact BIGINT, FLOAT-rounded exactly like Spark's cast), and the
    * broadcast top-k (cross join + 4dp-rounded cosine + window). Every
    * constant comes from Rag.featureConstants — one source of truth.
    */
  private lazy val ragOracleSql: String = {
    import graft.ops.llm.Rag
    val center = (Dedup.P - 1) / 2
    // every literal below derives from Rag's constants — implementation
    // and oracle share one source of truth (the minhashCte convention)
    val (cs, ov, k, em) = (Rag.ChunkSize, Rag.Overlap, Rag.TopK, Rag.EvalMod)
    val stride = cs - ov
    def featExprs(toksCol: String): String =
      Rag.featureConstants.map { case (a, b) =>
        s"CAST(CAST(CAST(list_sum(list_transform($toksCol, t -> ($a * (${duckFold("t")}) + $b) % ${Dedup.P} - $center)) AS BIGINT) AS FLOAT) AS DOUBLE)"
      }.mkString("[\n    ", ",\n    ", "]")
    s"""WITH q0 AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |           FROM documents WHERE doc_id % $em <> 0),
       |ch AS (SELECT doc_id, toks, n,
       |         CAST(unnest(generate_series(CAST(0 AS BIGINT),
       |           GREATEST(CAST(1 AS BIGINT), (n - $ov + ${stride - 1}) // $stride) - 1)) AS BIGINT) AS chunk_id
       |       FROM q0 WHERE n > 0),
       |ct AS (SELECT doc_id, chunk_id,
       |         list_slice(toks, chunk_id * $stride + 1, LEAST(chunk_id * $stride + $cs, n)) AS ctoks
       |       FROM ch),
       |ce AS (SELECT doc_id, chunk_id, ${featExprs("ctoks")} AS emb FROM ct),
       |cn AS (SELECT doc_id AS c_doc, chunk_id, emb,
       |         sqrt(list_dot_product(emb, emb)) AS nrm FROM ce
       |       WHERE sqrt(list_dot_product(emb, emb)) > 0),
       |qt AS (SELECT doc_id, string_split(text, ' ') AS qtoks FROM documents
       |       WHERE doc_id % $em = 0 AND doc_id < $SimQueryCap),
       |qe AS (SELECT doc_id, ${featExprs("qtoks")} AS emb FROM qt),
       |qn AS (SELECT doc_id AS q_doc, emb, sqrt(list_dot_product(emb, emb)) AS nrm
       |       FROM qe WHERE sqrt(list_dot_product(emb, emb)) > 0),
       |sc AS (SELECT q.q_doc, c.c_doc, c.chunk_id,
       |         round(list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm), 4) AS score
       |       FROM qn q CROSS JOIN cn c),
       |r AS (SELECT q_doc, c_doc, chunk_id, score,
       |        CAST(row_number() OVER (PARTITION BY q_doc
       |          ORDER BY score DESC, c_doc, chunk_id) AS BIGINT) AS rk
       |      FROM sc)
       |SELECT q_doc, rk, c_doc, chunk_id, score FROM r WHERE rk <= $k
       |ORDER BY q_doc, rk""".stripMargin
  }

  /** Generated oracle for minhash_est_error: the minhash CTE already
    * carries per-doc signatures (`sig`) and shingle-hash lists (`hb`) —
    * estimate = fraction of agreeing signature slots, truth = exact
    * Jaccard over the distinct hash sets, both 6dp.
    */
  private lazy val minhashEstOracleSql: String = {
    val agreeTerms = (0 until Dedup.DefaultNumHashes)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $minhashCte,
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |          FROM bkts a JOIN bkts b
       |            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |hsets AS (SELECT doc_id, list_distinct(hs) AS shs FROM hb),
       |est AS (SELECT p.a_id, p.b_id,
       |          round(CAST($agreeTerms AS DOUBLE) / ${Dedup.DefaultNumHashes}, 6) AS est_jac
       |        FROM pairs p JOIN sig sa ON sa.doc_id = p.a_id
       |                     JOIN sig sb ON sb.doc_id = p.b_id),
       |ex AS (SELECT p.a_id, p.b_id,
       |         round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
       |           / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))), 6) AS exact_jac
       |       FROM pairs p JOIN hsets a ON a.doc_id = p.a_id
       |                    JOIN hsets b ON b.doc_id = p.b_id)
       |SELECT e.a_id AS a_id, e.b_id AS b_id, e.est_jac, x.exact_jac,
       |  round(abs(e.est_jac - x.exact_jac), 6) AS err
       |FROM est e JOIN ex x ON e.a_id = x.a_id AND e.b_id = x.b_id
       |ORDER BY e.a_id, e.b_id""".stripMargin
  }

  val defs: ListMap[String, QueryDef] = ListMap(

    // Sketch calibration through the correctness gate: for every LSH
    // candidate pair, the MinHash Jaccard ESTIMATE (fraction of agreeing
    // signature slots — Broder's estimator) next to the EXACT shingle-set
    // Jaccard and the absolute error. Both sides replay in DuckDB, so the
    // engine's own sketch-quality measurement is value-checked — the
    // validation loop a production dedup pipeline runs before trusting
    // its thresholds.
    "minhash_est_error" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        // ONE text pass: materialize the exploded hashed shingles and
        // derive BOTH downstream forms from them — the signatures (which
        // feed the LSH buckets AND the agreement join) and the exact
        // shingle sets. Without the cut, each consumer re-runs the full
        // shingle explode + fold over the corpus.
        val hashed = Dedup.shingleHashes(docs).localCheckpoint()
        val sigs = Dedup.signaturesFromHashes(hashed).localCheckpoint()
        val sets = Dedup.setsFromHashes(hashed)
        val pairs = Dedup.minhashCandidatePairs(Dedup.minhashBandBuckets(sigs))
        val n = Dedup.DefaultNumHashes
        val sa = sigs.select(col("doc_id").as("a_id") +:
          (0 until n).map(i => col(s"__m$i").as(s"a_m$i")): _*)
        val sb = sigs.select(col("doc_id").as("b_id") +:
          (0 until n).map(i => col(s"__m$i").as(s"b_m$i")): _*)
        val agree = (0 until n)
          .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
          .reduce(_ + _)
        val est = pairs.join(sa, "a_id").join(sb, "b_id")
          .select(col("a_id"), col("b_id"),
            round(agree.cast("double") / n, 6).as("est_jac"))
        val ex = pairs
          .join(sets.select(col("doc_id").as("a_id"), col("shs").as("__sa")), "a_id")
          .join(sets.select(col("doc_id").as("b_id"), col("shs").as("__sb")), "b_id")
          .withColumn("__inter",
            graft.functions.ArrayFunctions.sorted_intersect_count(col("__sa"), col("__sb")))
          .select(col("a_id"), col("b_id"),
            round(col("__inter").cast("double") /
              (size(col("__sa")) + size(col("__sb")) - col("__inter")), 6).as("exact_jac"))
        est.join(ex, Seq("a_id", "b_id"))
          .select(col("a_id"), col("b_id"), col("est_jac"), col("exact_jac"),
            round(abs(col("est_jac") - col("exact_jac")), 6).as("err"))
          .orderBy("a_id", "b_id")
      },
      minhashEstOracleSql),

    // Exact dedup: keep min doc_id per normalized text.
    "dedup_exact" -> QueryDef(
      (s, d) => Dedup.exact(t(s, d, "documents")).orderBy("doc_id"),
      """SELECT MIN(doc_id) AS doc_id FROM documents
        |GROUP BY lower(trim(text)) ORDER BY doc_id""".stripMargin),

    // MinHash+LSH band buckets — full value oracle: DuckDB replays the
    // polynomial base fold per shingle and the same 32 affine universal
    // hashes + band-bucket folds (SQL generated below from the shared
    // constants in Dedup.universalConstants).
    "dedup_minhash" -> QueryDef(
      (s, d) => Dedup.minhashBuckets(t(s, d, "documents"))
        .orderBy("doc_id", "band"),
      minhashOracleSql),

    // Candidate pairs → dedup clusters via connected components on the
    // block kernel; the cluster representative is the min doc_id (the
    // component's minimum label), i.e. the doc the exact-dedup keep-min
    // rule would keep. Oracle: the replayable minhash pairs + a recursive
    // min-label reachability fixpoint — an ITERATIVE graph algorithm
    // value-checked end to end.
    "dedup_clusters" -> QueryDef(
      (s, d) => Dedup.clusters(
        Dedup.minhashCandidatePairs(Dedup.minhashBuckets(t(s, d, "documents"))))
        .orderBy("doc_id"),
      clustersOracleSql),

    // Pairwise total-variation distance between source unigram
    // distributions — "which corpora speak the same language?", the
    // distribution-level mixing lens next to dedup_cross_source's
    // copy detection (JS divergence is the textbook choice but needs
    // logs, which no exact cross-engine replay survives; TV = ½Σ|p−q|
    // is the log-free f-divergence and stays in integers after
    // clearing denominators). Only tokens common to a pair are ever
    // joined: for tokens in one source only, Σ c_a·N_b is recovered
    // from the totals — tv_units = Σ_common(|c_aN_b − c_bN_a| − c_aN_b
    // − c_bN_a) + 2·N_aN_b, all BIGINT-exact (DECIMAL ladder past 10⁹
    // token corpora); one IEEE display division. The pair UNIVERSE
    // comes from the per-source totals table (nt self-join, src_a <
    // src_b), never the common-token join: a pair with zero shared
    // vocabulary — the maximally distant case — still emits its row
    // (n_common = 0, tv = 1) via the LEFT JOIN with s1/n_common
    // coalesced to 0, on both engines.
    "source_tv_distance" -> QueryDef(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        val vc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
        val nt = vc.groupBy("source").agg(sum(col("c")).as("n"))
        val common = vc.select(col("source").as("src_a"), col("tok"), col("c").as("ca"))
          .join(vc.select(col("source").as("src_b"), col("tok"), col("c").as("cb")), "tok")
          .filter(col("src_a") < col("src_b"))
          .join(broadcast(nt.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
          .join(broadcast(nt.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
          .groupBy("src_a", "src_b")
          .agg(sum(abs(col("ca") * col("nb") - col("cb") * col("na"))
            - col("ca") * col("nb") - col("cb") * col("na")).as("s1"),
            count(lit(1)).as("n_common"))
        val univ = nt.select(col("source").as("src_a"), col("n").as("na"))
          .join(nt.select(col("source").as("src_b"), col("n").as("nb")),
            col("src_a") < col("src_b"))
        univ.join(common, Seq("src_a", "src_b"), "left")
          .select(col("src_a"), col("src_b"),
            coalesce(col("n_common"), lit(0L)).as("n_common"),
            (coalesce(col("s1"), lit(0L)) + lit(2L) * col("na") * col("nb"))
              .as("tv_units"),
            round((coalesce(col("s1"), lit(0L)) + lit(2L) * col("na") * col("nb"))
              .cast("double") /
              (lit(2.0) * col("na").cast("double") * col("nb").cast("double")), 6)
              .as("tv"))
          .orderBy("src_a", "src_b")
      },
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
        |nt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM vc GROUP BY 1),
        |cm AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(SUM(abs(a.c * nb.n - b.c * na.n) - a.c * nb.n - b.c * na.n) AS BIGINT) AS s1,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM vc a JOIN vc b ON a.tok = b.tok AND a.source < b.source
        |  JOIN nt na ON na.source = a.source
        |  JOIN nt nb ON nb.source = b.source
        |  GROUP BY 1, 2),
        |univ AS (SELECT a.source AS src_a, b.source AS src_b, a.n AS na, b.n AS nb
        |  FROM nt a JOIN nt b ON a.source < b.source)
        |SELECT u.src_a, u.src_b,
        |  COALESCE(cm.n_common, CAST(0 AS BIGINT)) AS n_common,
        |  COALESCE(cm.s1, CAST(0 AS BIGINT)) + 2 * u.na * u.nb AS tv_units,
        |  round(CAST(COALESCE(cm.s1, CAST(0 AS BIGINT)) + 2 * u.na * u.nb AS DOUBLE)
        |    / (2.0 * CAST(u.na AS DOUBLE) * CAST(u.nb AS DOUBLE)), 6) AS tv
        |FROM univ u LEFT JOIN cm ON u.src_a = cm.src_a AND u.src_b = cm.src_b
        |ORDER BY u.src_a, u.src_b""".stripMargin),

    // Cross-source duplication matrix — which sources copy which: the
    // MinHash candidate pairs rolled up per canonical source pair (the
    // "is crawl-B just crawl-A re-hosted?" screen a mixture designer
    // reads before weighting sources; within-source pairs = internal
    // boilerplate, cross-source pairs = contamination between corpora).
    // Reuses the SAME banded-bucket pair generation as dedup_clusters
    // (never all-pairs); source lookup is two broadcast joins of the
    // ≤|docs| (id, source) dim; least/greatest canonicalization is
    // byte-identical on both engines.
    "dedup_cross_source" -> QueryDef(
      (s, d) => {
        val srcDim = t(s, d, "documents").select(col("doc_id"), col("source"))
        Dedup.minhashCandidatePairs(Dedup.minhashBuckets(t(s, d, "documents")))
          .join(srcDim.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
          .join(srcDim.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
          .groupBy(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("a_id")).as("n_left_docs"),
            countDistinct(col("b_id")).as("n_right_docs"))
          .orderBy("src_a", "src_b")
      },
      s"""WITH $minhashCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |          FROM bkts a JOIN bkts b
         |            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |j AS (SELECT least(da.source, db.source) AS src_a,
         |             greatest(da.source, db.source) AS src_b, a_id, b_id
         |      FROM pairs JOIN documents da ON da.doc_id = a_id
         |                 JOIN documents db ON db.doc_id = b_id)
         |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_left_docs,
         |  CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_right_docs
         |FROM j GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin),

    // 60-bit SimHash fingerprints — full value oracle (same replayable
    // token hash; one conditional-sum bit term per SimhashBits below).
    "dedup_simhash" -> QueryDef(
      (s, d) => Dedup.simhash(t(s, d, "documents"))
        .orderBy("doc_id"),
      simhashOracleSql),

    // Exact token-bigram Jaccard: most-similar pair per source block.
    // Grams travel through the inverted index as 8-byte xxhash64 keys, not
    // strings — same intersection counts (collisions: ~n²/2⁶⁴ per block,
    // negligible), a fraction of the shuffle width. The index is built by
    // ONE groupBy into per-gram posting lists; candidate pairs come from a
    // double explode over each list (i < j via slice), never a self-join —
    // and the document-frequency cap falls out FREE as a size() filter on
    // the posting list. Without the cap a stop-bigram shared by K docs
    // yields K²/2 pair rows (the quadratic blowup natural text guarantees
    // at scale); with it, any gram contributes at most MaxGramDf²/2.
    "dedup_ngram_jaccard" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        // distinct bigram hashes straight from the string bytes (codegen'd
        // BigramHashes — bit-identical to xxhash64 over the concat'd gram
        // strings, without materializing them); <2-token docs yield an
        // empty array and vanish in the explode.
        val grams = docs
          .select(col("source"), col("doc_id"),
            explode(graft.functions.TextHash.bigram_hashes(col("text"))).as("gram"))
        // posting lists, DF-capped; sizes count every capped gram
        // (singletons included — they belong to the Jaccard union). The
        // bounded aggregator holds at most cap+1 doc_ids per gram, so a
        // stop-gram shared by millions of docs can never OOM a reducer
        // buffer on its way to being discarded; kept lists are complete,
        // so the sort is deterministic.
        val postings = grams.groupBy("source", "gram")
          .agg(sort_array(graft.functions.ArrayFunctions.bounded_collect_list(
            col("doc_id"), Dedup.MaxGramDf + 1)).as("docs"))
          .filter(size(col("docs")) <= Dedup.MaxGramDf)
        val sizes = postings
          .select(col("source"), explode(col("docs")).as("doc_id"))
          .groupBy("source", "doc_id").agg(count(lit(1)).as("sz"))
        val inter = postings
          .filter(size(col("docs")) >= 2)
          .select(col("source"), posexplode(col("docs")).as(Seq("__i", "a_id")), col("docs"))
          .select(col("source"), col("a_id"),
            explode(slice(col("docs"), col("__i") + 2, size(col("docs")))).as("b_id"))
          .groupBy("source", "a_id", "b_id").agg(count(lit(1)).as("inter"))
        val j = inter
          .join(sizes.select(col("source"), col("doc_id").as("a_id"), col("sz").as("sza")), Seq("source", "a_id"))
          .join(sizes.select(col("source"), col("doc_id").as("b_id"), col("sz").as("szb")), Seq("source", "b_id"))
          .withColumn("jac", col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
        val w = Window.partitionBy("source").orderBy(col("jac").desc, col("a_id"), col("b_id"))
        j.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select("source", "a_id", "b_id", "jac").orderBy("source")
      },
      s"""WITH tk AS (SELECT source, doc_id, string_split(text, ' ') AS toks FROM documents),
        |g0 AS (SELECT DISTINCT source, doc_id, toks[i] || ' ' || toks[i+1] AS gram
        |      FROM (SELECT source, doc_id, toks,
        |            unnest(generate_series(1, len(toks)-1)) AS i FROM tk)),
        |gdf AS (SELECT source, gram, COUNT(*) AS df FROM g0 GROUP BY 1, 2),
        |g AS (SELECT g0.source, g0.doc_id, g0.gram FROM g0
        |      JOIN gdf ON g0.source = gdf.source AND g0.gram = gdf.gram
        |      WHERE gdf.df <= ${Dedup.MaxGramDf}),
        |sz AS (SELECT source, doc_id, COUNT(*) AS sz FROM g GROUP BY 1, 2),
        |pr AS (SELECT g1.source, g1.doc_id AS a_id, g2.doc_id AS b_id, COUNT(*) AS inter
        |       FROM g g1 JOIN g g2 ON g1.source = g2.source AND g1.gram = g2.gram
        |         AND g1.doc_id < g2.doc_id
        |       GROUP BY 1, 2, 3),
        |j AS (SELECT pr.source, a_id, b_id,
        |        CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) AS jac
        |      FROM pr JOIN sz sa ON sa.source = pr.source AND sa.doc_id = pr.a_id
        |              JOIN sz sb ON sb.source = pr.source AND sb.doc_id = pr.b_id),
        |r AS (SELECT source, a_id, b_id, jac,
        |        row_number() OVER (PARTITION BY source ORDER BY jac DESC, a_id, b_id) AS rk
        |      FROM j)
        |SELECT source, a_id, b_id, jac FROM r WHERE rk = 1 ORDER BY source""".stripMargin),

    // Brute-force cosine top-5 for a 5% query sample, same-label blocking.
    // Scores rounded to 4dp before ranking on both sides so float
    // accumulation order can't flip ranks.
    "similarity_topk" -> QueryDef(
      (s, d) => Similarity.cosineTopK(t(s, d, "embeddings"),
          col("vec_id") % 20 === 0 && col("vec_id") < SimQueryCap)
        .orderBy("q_id", "rk"),
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
        |q AS (SELECT e.vec_id AS q_id, e.label, e.emb AS q_emb, n.nrm AS q_n
        |      FROM e JOIN n ON e.vec_id = n.vec_id
        |      WHERE e.vec_id % 20 = 0 AND e.vec_id < $SimQueryCap),
        |c AS (SELECT e.vec_id AS c_id, e.label, e.emb AS c_emb, n.nrm AS c_n
        |      FROM e JOIN n ON e.vec_id = n.vec_id),
        |sc AS (SELECT q_id, c_id,
        |         round(list_dot_product(q_emb, c_emb)/(q_n*c_n), 4) AS score
        |       FROM q JOIN c ON q.label = c.label AND q_id <> c_id),
        |r AS (SELECT q_id, c_id, score,
        |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS BIGINT) AS rk
        |      FROM sc)
        |SELECT q_id, rk, c_id, score FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // Random-hyperplane LSH variant — the at-scale path, now under the
    // full value oracle: the generated SQL embeds each hyperplane
    // coefficient as an exact round-trip double literal, so DuckDB's
    // projections are bit-identical and the bucket bits (signs) agree.
    // query pool rides the same fixed sample as the other similarity
    // queries (r14: uncapped, the pool grew WITH the corpus — query ×
    // candidate = quadratic per decade, 17× measured at sf10; the cap is
    // a no-op at the correctness-gate SFs where every vec_id < cap)
    "similarity_lsh" -> QueryDef(
      (s, d) => Similarity.lshCosineTopK(t(s, d, "embeddings"),
          col("vec_id") % 20 === 0 && col("vec_id") < SimQueryCap)
        .orderBy("q_id", "rk"),
      lshOracleSql),

    // IVF variant: deterministic DataFrame-Lloyd coarse cells (layout-
    // invariant fit — Similarity.fitIvfCenters), nprobe=3 per-cell search.
    // Under the full VALUE oracle since r12 (VERDICT r11 #2): the oracle is
    // LATE-BOUND — the fitted centroid matrix is captured when the query
    // runs (the memoized fitIvfCentersCached guarantees it is the very
    // model the query served) and embedded into generated SQL as exact
    // round-trip double literals, so DuckDB independently replays cell
    // assignment, the nprobe probe set, the in-cell scoring and the top-5
    // cut (see ivfTopkOracleSql / ivfCtePrefix).
    "similarity_ivf" -> QueryDef(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        ivfRecallCenters.put(d, Similarity.fitIvfCentersCached(emb, d, 16))
        ivfRecallLastDir.set(d)
        Similarity.ivfCosineTopK(emb,
          col("vec_id") % 20 === 0 && col("vec_id") < SimQueryCap,
          cacheKey = Some(d))
          .orderBy("q_id", "rk")
      },
      () => {
        val cs =
          if (ivfRecallCenters.size == 1) Some(ivfRecallCenters.values.iterator.next())
          else Option(ivfRecallLastDir.get).flatMap(d => Option(ivfRecallCenters.get(d)))
        cs.map(ivfTopkOracleSql)
      }),

    // IVF calibration through the correctness gate — the minhash_est_error
    // pattern applied to ANN: per query point, IVF top-5 (nCells=16,
    // nprobe=3 — the same cached index similarity_ivf serves) joined
    // against the GLOBAL brute-force top-5 ground truth, reduced to
    // recall@5 and the rank displacement of the hits. The oracle is
    // LATE-BOUND: the fitted centroid matrix is captured when the query
    // runs and embedded into generated SQL as exact round-trip double
    // literals, so DuckDB independently replays cell assignment
    // (c2 − 2·v·c surrogate, ties to the lower cell — NearestCenterOrder's
    // arithmetic), the nprobe probe set, the in-cell scoring AND the
    // recall arithmetic. The global all-pairs truth side is the
    // calibration harness, not the scale path (it IS the quantity recall
    // is defined against); production measures recall on a query sample
    // exactly like this, against the same fitted index.
    //
    // Reading the number: on THIS testdata measured recall@5 ≈ 0.5 — the
    // embeddings are synthetic near-isotropic vectors with no cluster
    // structure, where ANY coarse quantizer degenerates toward the
    // searched-fraction bound (nprobe/nCells = 3/16; a spherical-k-means
    // variant was prototyped and does no better). Raising that warning
    // before an index is trusted on a new corpus is exactly what this
    // calibration is for; SimilaritySpec holds the ≥0.95 bar on clustered
    // data where IVF's density assumption actually applies.
    "similarity_ivf_recall" -> QueryDef(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        ivfRecallCenters.put(d, Similarity.fitIvfCentersCached(emb, d, 16))
        ivfRecallLastDir.set(d)
        val pred = col("vec_id") % 20 === 0 && col("vec_id") < SimQueryCap
        val ivf = Similarity.ivfCosineTopK(emb, pred, k = 5, nCells = 16,
            nprobe = 3, cacheKey = Some(d))
          .select(col("q_id"), col("c_id"), col("rk").as("i_rk"))
        // globally-parallel exact truth (r13 tier-7 fix): the old
        // constant-block cosineTopK form funneled every query×corpus pair
        // through ONE hash partition (~24×/decade isolated); the query set
        // is capped so it broadcasts, scoring stays map-side, and the rank
        // cut is two-level — see Similarity.cosineTopKGlobal.
        val truth = Similarity.cosineTopKGlobal(emb, pred, k = 5)
          .select(col("q_id"), col("c_id"), col("rk").as("t_rk"))
        truth.join(ivf, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_true"),
            count(col("i_rk")).as("n_hit"),
            round(count(col("i_rk")).cast("double") / count(lit(1)), 6).as("recall"),
            coalesce(sum(abs(col("i_rk") - col("t_rk"))), lit(0L)).as("rank_err"))
          .orderBy("q_id")
      },
      // unambiguous when one dataset ran in this JVM (the Verify contract:
      // one sfDir per process); with several, emit the most recent run's —
      // matching the dump-after-every-query-ran convention.
      () => {
        val cs =
          if (ivfRecallCenters.size == 1) Some(ivfRecallCenters.values.iterator.next())
          else Option(ivfRecallLastDir.get).flatMap(d => Option(ivfRecallCenters.get(d)))
        cs.map(ivfRecallOracleSql)
      }),

    // Per-vector int8 quantization audit — the compression gate before an
    // ANN index swaps to 4x-smaller codes: symmetric scale = max|x|/127,
    // round-half-up spelled floor(x+0.5) on both engines, reconstruction
    // errors fixed-pointed to integer micro-units before the (order-
    // independent) per-vector sums. Pure map work, no shuffle at any SF.
    "embedding_quantize" -> QueryDef(
      (s, d) => Similarity.quantizeInt8Audit(t(s, d, "embeddings"))
        .orderBy("vec_id"),
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |        list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx FROM e),
        |s AS (SELECT vec_id, label, v, mx, mx / 127.0 AS scale FROM m),
        |q AS (SELECT vec_id, label, v, mx, scale,
        |        list_transform(v, x -> CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
        |          ELSE CAST(floor(x / scale + 0.5) AS BIGINT) END) AS qv
        |      FROM s),
        |err AS (SELECT vec_id, label, v, scale, qv,
        |          list_transform(generate_series(1, len(v)), i ->
        |            CAST(floor(abs(v[i] - qv[i] * scale) * 1e6 + 0.5) AS BIGINT)) AS eu
        |        FROM q)
        |SELECT vec_id, label, CAST(len(v) AS BIGINT) AS n_dims,
        |  round(scale, 6) AS scale6,
        |  CAST(list_aggregate(eu, 'sum') AS BIGINT) AS sum_err_units,
        |  CAST(list_aggregate(eu, 'max') AS BIGINT) AS max_err_units,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_saturated
        |FROM err ORDER BY vec_id""".stripMargin),

    // Top-5 tokens per language.
    "text_tokens" -> QueryDef(
      (s, d) => TextAnalysis.topTermsPerLang(t(s, d, "documents"))
        .orderBy("lang", "rk"),
      """SELECT lang, rk, tok, cnt FROM (
        |  SELECT lang, tok, cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS BIGINT) AS rk
        |  FROM (SELECT lang, tok, COUNT(*) AS cnt FROM
        |    (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |    GROUP BY lang, tok))
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin),

    // Per-document quality features.
    "text_quality" -> QueryDef(
      (s, d) => TextAnalysis.quality(t(s, d, "documents")).orderBy("doc_id"),
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(n_chars AS DOUBLE)/len(string_split(text, ' ')) AS chars_per_token,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stop_ratio,
        |  CAST(len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin),

    // BPE-style pre-tokenizer counts.
    "token_count_bpe" -> QueryDef(
      (s, d) => TextAnalysis.bpeTokenCount(t(s, d, "documents")).orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Fit-then-classify token-profile language ID — the whole two-pass
    // model (profile fit + weighted votes + argmax) is deterministic and
    // SQL-expressible, so it gets a full oracle.
    "lang_id" -> QueryDef(
      (s, d) => TextAnalysis.langId(t(s, d, "documents")).orderBy("doc_id"),
      s"""$langIdCte
        |SELECT doc_id, p_lang AS pred_lang, p_lang = lang AS correct
        |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin),

    // Language-ID confusion matrix — the evaluation view over lang_id's
    // predictions against the declared label: per (true, predicted)
    // pair the count and the row-normalized rate ("which languages does
    // the n-gram heuristic confuse?") — what a curation pipeline reads
    // before trusting a language filter at 100 TB. Rates are IEEE
    // divisions of exact BIGINTs; the oracle reuses the IDENTICAL
    // generated CTE prefix as lang_id (one source of truth for the
    // classifier).
    "lang_confusion" -> QueryDef(
      (s, d) => {
        val preds = TextAnalysis.langId(t(s, d, "documents"))
        val m = preds
          .join(t(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id")
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
        val rt = m.groupBy("lang").agg(sum(col("n")).as("row_n"))
        m.join(broadcast(rt), "lang")
          .select(col("lang"), col("pred_lang"), col("n"),
            round(col("n").cast("double") / col("row_n"), 6).as("rate"))
          .orderBy("lang", "pred_lang")
      },
      s"""$langIdCte,
        |m AS (SELECT lang, p_lang AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM r WHERE rk = 1 GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS row_n FROM m GROUP BY 1)
        |SELECT m.lang, pred_lang, n,
        |  round(CAST(n AS DOUBLE) / row_n, 6) AS rate
        |FROM m JOIN rt ON rt.lang = m.lang
        |ORDER BY m.lang, pred_lang""".stripMargin),

    // RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010):
    // candidate phrases are maximal stopword-free token runs; word
    // score = degree/frequency (degree = Σ length of the phrases the
    // word occurs in, self included); phrase score = Σ member word
    // scores — the unsupervised keyword primitive next to tfidf_topk's
    // corpus-weighted ranking. Scores kept EXACT in ppm units
    // (1e6·deg div freq per word, BIGINT sums; deg ≤ Σ phrase lengths —
    // the DECIMAL ladder takes over past 10¹² tokens), identical text →
    // identical score by construction. Top-20 with the deterministic
    // (score desc, phrase) cut; the shared TextAnalysis.stopwords list
    // is the one quality scoring uses.
    "text_rake_keyphrases" -> QueryDef(
      (s, d) => {
        val stop = graft.ops.llm.TextAnalysis.stopwords
        val toks = t(s, d, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        val wSeg = Window.partitionBy("doc_id").orderBy("pos")
        val mem = toks.filter(!col("tok").isin(stop: _*))
          .withColumn("grp", col("pos") - row_number().over(wSeg))
          .withColumn("len", count(lit(1))
            .over(Window.partitionBy("doc_id", "grp")))
        val sc = mem.groupBy("tok")
          .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
          .withColumn("score_ppm", expr("1000000L * deg div freq"))
          .select("tok", "score_ppm")
        val ph = mem.join(sc, "tok")
          .groupBy("doc_id", "grp")
          .agg(expr("array_join(transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok), ' ')")
            .as("phrase"),
            sum(col("score_ppm")).as("p_ppm"))
        ph.groupBy("phrase", "p_ppm").agg(count(lit(1)).as("n"))
          .select(col("phrase"), col("p_ppm"), col("n"),
            round(col("p_ppm").cast("double") / lit(1e6), 6).as("score"))
          .orderBy(col("p_ppm").desc, col("phrase")).limit(20)
      },
      {
        val stopList = graft.ops.llm.TextAnalysis.stopwords
          .map(s => s"'$s'").mkString(", ")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
           |tk AS (SELECT doc_id, pos, ts[pos] AS tok FROM (
           |    SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS pos FROM t)),
           |ns AS (SELECT doc_id, pos, tok,
           |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           |  FROM tk WHERE tok NOT IN ($stopList)),
           |mem AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY doc_id, grp) AS BIGINT) AS len
           |        FROM ns),
           |sc AS (SELECT tok, 1000000 * CAST(SUM(len) AS BIGINT) // COUNT(*) AS score_ppm
           |       FROM mem GROUP BY tok),
           |ph AS (SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase,
           |    CAST(SUM(score_ppm) AS BIGINT) AS p_ppm
           |  FROM mem JOIN sc USING (tok) GROUP BY doc_id, grp)
           |SELECT phrase, p_ppm, CAST(COUNT(*) AS BIGINT) AS n,
           |  round(CAST(p_ppm AS DOUBLE) / 1e6, 6) AS score
           |FROM ph GROUP BY phrase, p_ppm
           |ORDER BY p_ppm DESC, phrase LIMIT 20""".stripMargin
      }),

    // Winnowing fingerprints — polynomial shingle hash, so DuckDB replays
    // the identical fold and the full winnowing pipeline is oracle-checked
    // (shingleLen=3, winnow=4, min-length filter = 3+4-1 = 6 tokens).
    "doc_fingerprint" -> QueryDef(
      (s, d) => TextAnalysis.fingerprint(t(s, d, "documents")).orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(toks)-2), i ->
        |         ${duckFold("array_to_string(list_slice(toks, i, i+2), ' ')")}) AS hs
        |       FROM tk WHERE len(toks) >= 6),
        |fp AS (SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, len(hs)-3), i ->
        |           list_aggregate(list_slice(hs, i, i+3), 'min'))) AS fps
        |       FROM sh)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
        |  list_aggregate(fps, 'min') AS min_fingerprint
        |FROM fp ORDER BY doc_id""".stripMargin),

    // Documents ⋈ embeddings: text + vector in one frame, stats per
    // (lang, label).
    "multimodal_cols" -> QueryDef(
      (s, d) => Multimodal.joinedStats(t(s, d, "documents"), t(s, d, "embeddings"))
        .orderBy("lang", "label"),
      """SELECT lang, label, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes, MIN(doc_id) AS min_doc
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY lang, label ORDER BY lang, label""".stripMargin),

    // Binary-column plumbing + partition-wise REAL decode: payloads are
    // well-formed BMP (24bpp bottom-up BGR, padded rows) / WAV (RIFF chunk
    // walk, 16-bit PCM) / P6-PPM frame streams, synthesized from
    // deterministic arithmetic over doc_id, and the decoder parses the
    // actual bytes — magic, LE header fields, strides, chunk sizes. The
    // position-weighted val_wsum makes the oracle sensitive to row order /
    // BGR / padding mistakes, so the encode→parse round trip is
    // value-checked end to end.
    "multimodal_decode" -> QueryDef(
      (s, d) => Multimodal.decode(Multimodal.synthMedia(t(s, d, "documents")))
        .toDF().orderBy("doc_id"),
      """WITH p AS (SELECT doc_id AS id, doc_id % 3 AS m FROM documents),
        |g AS (SELECT id, m,
        |    CASE m WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CASE m WHEN 0 THEN 4 + id % 13 WHEN 2 THEN 4 + id % 9 ELSE 0 END AS w,
        |    CASE m WHEN 0 THEN 3 + id % 7 WHEN 2 THEN 3 + id % 5 ELSE 0 END AS h,
        |    CASE m WHEN 2 THEN 2 + id % 9 ELSE 1 END AS f,
        |    CASE m WHEN 1 THEN 1 ELSE 3 END AS ch,
        |    CASE m WHEN 1 THEN 8000 + 4000 * (id % 3) ELSE 0 END AS rate
        |  FROM p),
        |q AS (SELECT *,
        |    CASE WHEN m = 1 THEN 64 + id % 193 ELSE f * w * h * 3 END AS nv,
        |    greatest(w * h * 3, 1) AS pf
        |  FROM g)
        |SELECT id AS doc_id, kind,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(ch AS INTEGER) AS channels, CAST(f AS INTEGER) AS n_frames,
        |  CAST(rate AS INTEGER) AS sample_rate,
        |  CAST(nv AS BIGINT) AS n_vals,
        |  CAST(list_sum(list_transform(range(0, nv), k ->
        |    CASE WHEN m = 1 THEN (131 * id + 17 * k) % 4096 - 2048
        |         ELSE (31 * id + 13 * (k // pf) + 7 * (k % pf)) % 256 END))
        |    AS BIGINT) AS val_sum,
        |  CAST(list_sum(list_transform(range(0, nv), k ->
        |    (k + 1) * (CASE WHEN m = 1 THEN (131 * id + 17 * k) % 4096 - 2048
        |         ELSE (31 * id + 13 * (k // pf) + 7 * (k % pf)) % 256 END)))
        |    AS BIGINT) AS val_wsum,
        |  TRUE AS ok
        |FROM q ORDER BY doc_id""".stripMargin),

    // Embedding-space outlier screen: top-5 vectors farthest from their
    // label centroid — the curation pass that surfaces mislabeled or
    // corrupted embeddings before they poison an ANN index or a
    // contrastive batch. Exactness ladder: per-(label, dim) centroid
    // from an exact DECIMAL(18,9) sum (order-independent) with one IEEE
    // divide; per-dim squared deviations fixed-pointed to micro-units
    // BEFORE the per-vector integer sum. Shapes: one 64x posexplode,
    // one combinable (label, dim) agg to a labels×dims table broadcast
    // back, one combinable per-vector agg, one label-partitioned top-5
    // window.
    "embedding_outliers" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val ex = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(expr("transform(embedding, x -> cast(x as double))"))
              .as(Seq("i", "x")))
        val means = ex.groupBy("label", "i")
          .agg((sum(col("x").cast(DecimalType(18, 9))).cast("double") /
            count(lit(1))).as("m"))
        val units = ex.join(broadcast(means), Seq("label", "i"))
          .select(col("vec_id"), col("label"),
            floor((col("x") - col("m")) * (col("x") - col("m")) * lit(1e6) +
              lit(0.5)).cast("long").as("u"))
          .groupBy("vec_id", "label").agg(sum(col("u")).as("dist2_units"))
        val w = Window.partitionBy("label")
          .orderBy(col("dist2_units").desc, col("vec_id"))
        units.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("label"), col("rk"), col("vec_id"), col("dist2_units"),
            round(col("dist2_units").cast("double") / lit(1e6), 6).as("dist2"))
          .orderBy("label", "rk")
      },
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ex0 AS (SELECT vec_id, label, v,
        |          unnest(generate_series(1, len(v))) AS i FROM e),
        |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i, v[CAST(i AS INT)] AS x FROM ex0),
        |mn AS (SELECT label, i,
        |         CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS m
        |       FROM ex GROUP BY label, i),
        |un AS (SELECT vec_id, ex.label,
        |         CAST(SUM(CAST(floor((x - m) * (x - m) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dist2_units
        |       FROM ex JOIN mn ON mn.label = ex.label AND mn.i = ex.i
        |       GROUP BY vec_id, ex.label),
        |rk AS (SELECT label, vec_id, dist2_units,
        |         CAST(row_number() OVER (PARTITION BY label
        |           ORDER BY dist2_units DESC, vec_id) AS BIGINT) AS rk
        |       FROM un)
        |SELECT label, rk, vec_id, dist2_units,
        |  round(CAST(dist2_units AS DOUBLE) / 1e6, 6) AS dist2
        |FROM rk WHERE rk <= 5 ORDER BY label, rk""".stripMargin),

    // Centroid silhouette score per label (Rousseeuw 1987, the medoid
    // pass simplified to centroids — the standard at-scale variant):
    // s = (b − a)/max(a, b) with a = distance² to the own-label
    // centroid, b = the nearest OTHER centroid — the cluster-quality
    // audit run before trusting labels for contrastive sampling or an
    // IVF layout (negative s = the vector sits closer to another
    // label's centroid: likely mislabeled — surfaced as n_misassigned).
    // Exactness: distances on embedding_outliers' micro-unit ladder
    // (exact BIGINT sums); s is ONE IEEE division of exact ints rounded
    // to 6 dp, then summed EXACTLY as DECIMAL(18,6) (the chi2
    // discipline) so the per-label mean is accumulation-order-
    // independent. An integer-ppm form was rejected: (b−a) is signed
    // and Spark's `div` truncates while DuckDB's `//` floors.
    "embedding_silhouette" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val ex = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(expr("transform(embedding, x -> cast(x as double))"))
              .as(Seq("i", "x")))
        val means = ex.groupBy(col("label").as("m_label"), col("i"))
          .agg((sum(col("x").cast(DecimalType(18, 9))).cast("double") /
            count(lit(1))).as("m"))
        val d2 = ex.join(broadcast(means), Seq("i"))
          .select(col("vec_id"), col("label"), col("m_label"),
            floor((col("x") - col("m")) * (col("x") - col("m")) * lit(1e6) +
              lit(0.5)).cast("long").as("u"))
          .groupBy("vec_id", "label", "m_label").agg(sum(col("u")).as("d2"))
        val ab = d2.groupBy("vec_id", "label").agg(
          max(when(col("m_label") === col("label"), col("d2"))).as("a"),
          min(when(col("m_label") =!= col("label"), col("d2"))).as("b"))
        val sil = ab.withColumn("s6",
          when(greatest(col("a"), col("b")) > 0,
            round((col("b") - col("a")).cast("double") /
              greatest(col("a"), col("b")).cast("double"), 6))
            .otherwise(lit(0.0)).cast(DecimalType(18, 6)))
        sil.groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("s6") < 0, 1L).otherwise(0L)).as("n_misassigned"),
            round(sum(col("s6")).cast("double") / count(lit(1)), 6)
              .as("mean_silhouette"))
          .orderBy("label")
      },
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ex0 AS (SELECT vec_id, label, v,
        |          unnest(generate_series(1, len(v))) AS i FROM e),
        |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i, v[CAST(i AS INT)] AS x FROM ex0),
        |mn AS (SELECT label AS m_label, i,
        |         CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS m
        |       FROM ex GROUP BY label, i),
        |d2 AS (SELECT vec_id, ex.label, m_label,
        |         CAST(SUM(CAST(floor((x - m) * (x - m) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS d2
        |       FROM ex JOIN mn ON mn.i = ex.i GROUP BY vec_id, ex.label, m_label),
        |ab AS (SELECT vec_id, label,
        |         MAX(CASE WHEN m_label = label THEN d2 END) AS a,
        |         MIN(CASE WHEN m_label <> label THEN d2 END) AS b
        |       FROM d2 GROUP BY vec_id, label),
        |sil AS (SELECT vec_id, label,
        |         CAST(CASE WHEN greatest(a, b) > 0
        |              THEN round(CAST(b - a AS DOUBLE) / CAST(greatest(a, b) AS DOUBLE), 6)
        |              ELSE 0.0 END AS DECIMAL(18,6)) AS s6
        |       FROM ab)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN s6 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misassigned,
        |  round(CAST(SUM(s6) AS DOUBLE) / COUNT(*), 6) AS mean_silhouette
        |FROM sil GROUP BY label ORDER BY label""".stripMargin),

    // Per-document OOV rate against the top-20 corpus vocabulary — the
    // tokenizer-coverage gate run before committing a vocab: documents
    // whose mass falls outside the vocab fragment into long byte-level
    // sequences and blow the token budget. Vocab = top-20 tokens by
    // (count desc, token) — a TakeOrdered over the collapsed count table,
    // broadcast back against the token stream; one combinable per-doc
    // agg; one IEEE division of exact ints per row.
    "vocab_coverage" -> QueryDef(
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val vocab = tk.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(20)
          .select(col("tok"), lit(1).as("__v"))
        tk.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tokens"), col("n_oov"),
            round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
          .orderBy("doc_id")
      },
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vb AS (SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok)
        |       ORDER BY cnt DESC, tok LIMIT 20),
        |j AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |        CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |      FROM tk t LEFT JOIN vb v ON v.tok = t.tok GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, n_oov,
        |  round(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate
        |FROM j ORDER BY doc_id""".stripMargin),

    // Loudness-normalization gain from the DECODED PCM bytes — the
    // EBU-R128-style pass (simplified to a fixed 1000-unit RMS target) an
    // audio pipeline runs before feature extraction: gain = √(tgt²·n/Σs²)
    // scales each clip to target RMS. Sum of squares is exact integer
    // arithmetic over the real samples; both display roots are identical
    // IEEE sequences; the oracle replays the synthesis formula. Map-only.
    "multimodal_audio_gain" -> QueryDef(
      (s, d) => Multimodal.audioGains(Multimodal.synthMedia(t(s, d, "documents")))
        .toDF().orderBy("doc_id"),
      """WITH a AS (SELECT doc_id AS id, 64 + doc_id % 193 AS n FROM documents
        |           WHERE doc_id % 3 = 1),
        |sq AS (SELECT id, n,
        |    CAST(list_sum(list_transform(range(0, n), k ->
        |      ((131 * id + 17 * k) % 4096 - 2048) * ((131 * id + 17 * k) % 4096 - 2048)))
        |      AS BIGINT) AS sum_sq
        |  FROM a)
        |SELECT id AS doc_id, CAST(n AS BIGINT) AS n_samples, sum_sq,
        |  CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE round(sqrt(CAST(sum_sq AS DOUBLE) / n), 6) END AS rms6,
        |  CASE WHEN sum_sq = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE round(sqrt(CAST(1000000 AS DOUBLE) * n / sum_sq), 6) END AS gain6
        |FROM sq ORDER BY doc_id""".stripMargin),

    // Silence-run segmentation from the DECODED PCM bytes — the
    // voice-activity-detection / dead-air screen (runs of |sample| < 256,
    // ~12.5% of the synth amplitude range): run count, total quiet
    // samples and longest run per clip. The run detection happens in ONE
    // decoder pass with four counters — per-sample rows NEVER
    // materialize (the explode+window alternative would shuffle 10⁴× the
    // payload bytes at 100 TB). The oracle replays the synthesis formula
    // and re-derives the runs with the gaps-and-islands idiom, so a
    // decoder off-by-one in run boundaries fails the hash.
    "multimodal_audio_silence" -> QueryDef(
      (s, d) => Multimodal.silences(Multimodal.synthMedia(t(s, d, "documents")))
        .toDF().orderBy("doc_id"),
      """WITH a AS (SELECT doc_id AS id, 64 + doc_id % 193 AS n FROM documents
        |           WHERE doc_id % 3 = 1),
        |ks AS (SELECT id, n, unnest(range(0, n)) AS k FROM a),
        |q AS (SELECT id, k,
        |    k - row_number() OVER (PARTITION BY id ORDER BY k) AS grp
        |  FROM ks WHERE abs((131 * id + 17 * k) % 4096 - 2048) < 256),
        |r AS (SELECT id, grp, CAST(COUNT(*) AS BIGINT) AS len
        |      FROM q GROUP BY id, grp),
        |g AS (SELECT id, CAST(SUM(len) AS BIGINT) AS n_quiet,
        |    CAST(COUNT(*) AS BIGINT) AS n_runs,
        |    CAST(MAX(len) AS BIGINT) AS longest_run
        |  FROM r GROUP BY id)
        |SELECT a.id AS doc_id, CAST(a.n AS BIGINT) AS n_samples,
        |  COALESCE(g.n_quiet, 0) AS n_quiet, COALESCE(g.n_runs, 0) AS n_runs,
        |  COALESCE(g.longest_run, 0) AS longest_run
        |FROM a LEFT JOIN g ON g.id = a.id ORDER BY a.id""".stripMargin),

    // Per-channel pixel statistics from the DECODED image bytes — the
    // exposure/color screen an image-curation pipeline gates on (a channel
    // stuck at 0/255 or a crushed range flags synthetic or corrupted
    // captures). The walk undoes bottom-up rows, BGR order and stride
    // padding to reach logical RGB, so a swapped channel or padding
    // mistake shifts the sums and fails the oracle replay of the
    // synthesis formula. Map-only 3-rows-per-image fan-out, no shuffle.
    "multimodal_channel_stats" -> QueryDef(
      (s, d) => Multimodal.channelStats(Multimodal.synthMedia(t(s, d, "documents")))
        .toDF().orderBy("doc_id", "channel"),
      """WITH img AS (SELECT doc_id AS id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
        |             FROM documents WHERE doc_id % 3 = 0),
        |ch AS (SELECT id, w, h, CAST(unnest([0, 1, 2]) AS INTEGER) AS channel FROM img),
        |v AS (SELECT id, w, h, channel,
        |        list_transform(range(0, w * h), p ->
        |          (31 * id + 7 * (3 * p + channel)) % 256) AS vals
        |      FROM ch)
        |SELECT id AS doc_id, channel, CAST(w * h AS BIGINT) AS n_px,
        |  CAST(list_sum(vals) AS BIGINT) AS ch_sum,
        |  CAST(list_aggregate(vals, 'min') AS BIGINT) AS ch_min,
        |  CAST(list_aggregate(vals, 'max') AS BIGINT) AS ch_max
        |FROM v ORDER BY doc_id, channel""".stripMargin),

    // Deterministic stratified sampling — the data-mixing primitive of a
    // training pipeline: every 10th document per language stratum in
    // stable doc_id order. Rank-based, not rand()-based, so the sample is
    // reproducible across runs/cluster layouts and oracle-checkable; one
    // window shuffle on the stratum key.
    "sample_stratified" -> QueryDef(
      // per-stratum rank rides the two-level bucket form (r14): a plain
      // lang-partitioned window bounds parallelism by the handful of
      // language strata (33×/decade measured at sf10); values identical
      (s, d) => Shuffle.stratifiedRowNumber(t(s, d, "documents"),
          "lang", "doc_id")
        .filter((col("rn") % 10) === 1)
        .select(col("lang"), col("rn"), col("doc_id"))
        .orderBy("doc_id"),
      """SELECT lang, rn, doc_id FROM (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn % 10 = 1 ORDER BY doc_id""".stripMargin),

    // Frame extraction over the decoded videos: every PPM frame of each
    // stream is genuinely parsed (header + w·h·3 pixel bytes), one row per
    // sampled frame (every 3rd; streams carry 2..10 frames) with its real
    // pixel sum — distributed fan-out, no per-video collect.
    "multimodal_frames" -> QueryDef(
      (s, d) => Multimodal.decodeFrames(Multimodal.synthMedia(t(s, d, "documents")))
        .filter(col("frame_idx") % 3 === 0)
        .toDF().orderBy("doc_id", "frame_idx"),
      """WITH v AS (SELECT doc_id AS id, 4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h,
        |                  2 + doc_id % 9 AS f
        |           FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT id, w, h, CAST(unnest(range(0, f)) AS BIGINT) AS fi FROM v)
        |SELECT id AS doc_id, fi AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(list_sum(list_transform(range(0, w * h * 3), j ->
        |    (31 * id + 13 * fi + 7 * j) % 256)) AS BIGINT) AS frame_sum
        |FROM fr WHERE fi % 3 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin),

    // Windowed audio feature extraction over the decoded WAV payloads:
    // every 16-bit PCM sample stream is genuinely parsed (RIFF chunk
    // walk), then reduced to fixed 64-sample analysis windows with
    // count/sum/min/max — the VAD/loudness/silence-trim reduction shape.
    // The oracle replays the sample arithmetic and the ragged last
    // window per doc.
    "multimodal_audio_windows" -> QueryDef(
      (s, d) => Multimodal.decodeAudioWindows(
        Multimodal.synthMedia(t(s, d, "documents")), win = 64)
        .toDF().orderBy("doc_id", "window_idx"),
      """WITH a AS (SELECT doc_id AS id, 64 + doc_id % 193 AS n FROM documents
        |           WHERE doc_id % 3 = 1),
        |w AS (SELECT id, n, CAST(unnest(range(0, (n + 63) // 64)) AS BIGINT) AS widx
        |      FROM a),
        |b AS (SELECT id, widx, widx * 64 AS lo, LEAST(n, widx * 64 + 64) AS hi
        |      FROM w)
        |SELECT id AS doc_id, widx AS window_idx,
        |  CAST(hi - lo AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(lo, hi), k ->
        |    (131 * id + 17 * k) % 4096 - 2048)) AS BIGINT) AS s_sum,
        |  CAST(list_min(list_transform(range(lo, hi), k ->
        |    (131 * id + 17 * k) % 4096 - 2048)) AS BIGINT) AS s_min,
        |  CAST(list_max(list_transform(range(lo, hi), k ->
        |    (131 * id + 17 * k) % 4096 - 2048)) AS BIGINT) AS s_max
        |FROM b ORDER BY doc_id, window_idx""".stripMargin),

    // Half-scale 2×2 box-filter image resize: each BMP payload is decoded,
    // pooled (floor-average per channel, odd edges dropped), re-encoded as
    // a REAL BMP, and re-parsed — the output stats describe the resized
    // payload, so the oracle's pooled-pixel replay checks the whole
    // decode→resize→encode→decode loop (stride, bottom-up, BGR included).
    "multimodal_resize" -> QueryDef(
      (s, d) => Multimodal.decodeResized(
        Multimodal.synthMedia(t(s, d, "documents")))
        .toDF().orderBy("doc_id"),
      """WITH i AS (SELECT doc_id AS id,
        |             CAST(4 + doc_id % 13 AS BIGINT) AS w,
        |             CAST(3 + doc_id % 7 AS BIGINT) AS h
        |           FROM documents WHERE doc_id % 3 = 0),
        |d AS (SELECT id, w, h, w // 2 AS ow, h // 2 AS oh FROM i),
        |t AS (SELECT id, w, ow, CAST(unnest(range(0, ow * oh * 3)) AS BIGINT) AS q
        |      FROM d),
        |e AS (SELECT id, q, q % 3 AS ch,
        |        (q // 3) // ow AS orow, (q // 3) % ow AS ocol, w
        |      FROM t),
        |v AS (SELECT id, q,
        |        (((31 * id + 7 * ((2 * orow * w + 2 * ocol) * 3 + ch)) % 256)
        |       + ((31 * id + 7 * ((2 * orow * w + 2 * ocol + 1) * 3 + ch)) % 256)
        |       + ((31 * id + 7 * (((2 * orow + 1) * w + 2 * ocol) * 3 + ch)) % 256)
        |       + ((31 * id + 7 * (((2 * orow + 1) * w + 2 * ocol + 1) * 3 + ch)) % 256))
        |        // 4 AS av
        |      FROM e),
        |s AS (SELECT id, CAST(SUM(av) AS BIGINT) AS out_sum,
        |        CAST(SUM((q + 1) * av) AS BIGINT) AS out_wsum
        |      FROM v GROUP BY id)
        |SELECT d.id AS doc_id, d.w AS in_w, d.h AS in_h,
        |  d.ow AS out_w, d.oh AS out_h,
        |  CAST(54 + ((d.ow * 3 + 3) // 4 * 4) * d.oh AS BIGINT) AS out_bytes,
        |  CAST(d.ow * d.oh * 3 AS BIGINT) AS out_n_vals,
        |  s.out_sum, s.out_wsum
        |FROM d JOIN s ON d.id = s.id
        |ORDER BY doc_id""".stripMargin),

    // Embedding-cosine near-duplicate pairs (the 5th dedup strategy of the
    // mandate) — label ∧ LSH-bucket blocking (4 tables × 8 bits,
    // OR-amplified), scores rounded to 4dp before the threshold cut. The
    // label-only all-pairs variant (Dedup.embeddingNearDups) is quadratic
    // per block and survives only as the small-scale recall verifier in
    // SimilaritySpec. 0.35 is calibrated to the synthetic embeddings (the
    // ~99th percentile of intra-label cosine; max observed ≈ 0.47).
    "dedup_embedding" -> QueryDef(
      (s, d) => Dedup.embeddingNearDupsLsh(t(s, d, "embeddings"), threshold = 0.35)
        .orderBy("a_id", "b_id"),
      embNearDupOracleSql),

    // Quantile-threshold quality filter: keep documents at or above the
    // median token count. The median is exact-integer (percentile_disc
    // style: smallest value whose cumulative count reaches ⌈n/2⌉) computed
    // over the VALUE HISTOGRAM, never the corpus: a map-side-combinable
    // histogram aggregate, then ONE single-row fold over the sorted
    // histogram array (distinct token counts are bounded by document
    // length — a few thousand structs). No global window → no WindowExec
    // single-partition red flag in bench triage; the corpus-side work stays
    // one shuffle + a broadcast of the scalar threshold.
    "quality_filter" -> QueryDef(
      (s, d) => {
        val q = t(s, d, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val thr = q.groupBy("n_tokens").agg(count(lit(1)).as("c"))
          .agg(sort_array(collect_list(struct(col("n_tokens"), col("c")))).as("h"),
            sum(col("c")).as("tot"))
          .select(expr(
            """aggregate(h,
              |  named_struct('cum', CAST(0 AS BIGINT), 'thr', CAST(NULL AS BIGINT)),
              |  (acc, x) -> named_struct(
              |    'cum', acc.cum + x.c,
              |    'thr', CASE WHEN acc.thr IS NULL AND acc.cum + x.c >= (tot + 1) div 2
              |           THEN x.n_tokens ELSE acc.thr END),
              |  acc -> acc.thr) AS thr""".stripMargin))
        q.join(broadcast(thr), q("n_tokens") >= thr("thr"))
          .select("doc_id", "n_tokens").orderBy("doc_id")
      },
      """WITH q AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |h AS (SELECT n_tokens, COUNT(*) AS c FROM q GROUP BY n_tokens),
        |a AS (SELECT n_tokens, SUM(c) OVER (ORDER BY n_tokens) AS cum,
        |        SUM(c) OVER () AS tot FROM h),
        |t AS (SELECT MIN(n_tokens) AS thr FROM a WHERE cum >= (tot + 1) // 2)
        |SELECT doc_id, n_tokens FROM q, t WHERE n_tokens >= thr
        |ORDER BY doc_id""".stripMargin),

    // PII redaction over a deterministic "profile text" built from
    // customer columns (the testdata corpus has no natural PII, so the
    // profile synthesizes email/IP/account strings from integer columns —
    // string-identical in both engines). Patterns + order shared with the
    // generated oracle via Curation.piiPatterns. Pure projection: no
    // shuffle.
    "pii_redact" -> QueryDef(
      (s, d) => Curation.piiRedact(
        t(s, d, "customer").withColumn("profile", piiProfileSparkCol),
        "profile", "c_custkey").orderBy("c_custkey"),
      piiOracleSql),

    // Benchmark-contamination check: corpus docs sharing ≥3 distinct token
    // 5-grams with any doc of the held-out eval slice (doc_id % 50 = 0) —
    // the n-gram-overlap decontamination step. Eval grams broadcast; the
    // corpus side never shuffles its grams.
    "contamination_ngram" -> QueryDef(
      (s, d) => Curation.contamination(t(s, d, "documents"), col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("eval_id"), col("n_shared"))
        .orderBy("doc_id", "eval_id"),
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, len(toks) - 4),
        |         i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS g
        |       FROM tk WHERE len(toks) >= 5),
        |ev AS (SELECT doc_id AS eval_id, g FROM sh WHERE doc_id % 50 = 0),
        |co AS (SELECT doc_id, g FROM sh WHERE doc_id % 50 <> 0)
        |SELECT co.doc_id, ev.eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM co JOIN ev USING (g)
        |GROUP BY co.doc_id, ev.eval_id
        |HAVING COUNT(*) >= 3
        |ORDER BY doc_id, eval_id""".stripMargin),

    // Unigram-LM quality score: mean inverse corpus probability of each
    // document's tokens (log-free perplexity cousin — ln would hang the
    // oracle on libm ULP differences; N/cnt is exact IEEE division both
    // engines replay bit-for-bit). 6dp round per token, exact DECIMAL sum,
    // 4dp round per doc — the standard determinism ladder.
    "quality_unigram" -> QueryDef(
      (s, d) => Curation.unigramQuality(t(s, d, "documents")).orderBy("doc_id"),
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vc AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
        |tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vc),
        |sc AS (SELECT doc_id, round(CAST(tt.n AS DOUBLE) / cnt, 6) AS s
        |       FROM tk JOIN vc USING (tok) CROSS JOIN tt)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS score
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Sequence packing (VERDICT r4 #5): concat-and-chunk documents into
    // fixed 512-token training sequences — deterministic doc_id order,
    // global offsets via the two-level distributed prefix sum (see
    // Packing.packSequences scaladoc for why chunking, not no-split
    // first-fit, is both the scalable AND the standard training form).
    // Oracle: one running-sum window + generate_series replays the layout
    // exactly. Properties (every sequence full except the last, every doc
    // fully packed) are asserted in PackingSpec.
    "pack_sequences" -> QueryDef(
      (s, d) => Packing.packSequences(t(s, d, "documents"), budget = 512)
        .orderBy("doc_id", "seq_id"),
      """WITH q AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents
        |           WHERE len(string_split(text, ' ')) > 0),
        |c AS (SELECT doc_id, n, CAST(SUM(n) OVER (ORDER BY doc_id) AS BIGINT) AS en FROM q),
        |s AS (SELECT doc_id, en - n AS st, en FROM c),
        |x AS (SELECT doc_id, st, en,
        |        CAST(unnest(generate_series(st // 512, (en - 1) // 512)) AS BIGINT) AS seq_id
        |      FROM s)
        |SELECT doc_id, seq_id,
        |  CAST(GREATEST(st, seq_id * 512) - seq_id * 512 AS BIGINT) AS seq_off,
        |  CAST(LEAST(en, (seq_id + 1) * 512) - GREATEST(st, seq_id * 512) AS BIGINT) AS n_toks_in_seq
        |FROM x ORDER BY doc_id, seq_id""".stripMargin),

    // End-to-end curation composition (VERDICT r4 #4): the actual shape a
    // training-data pipeline runs, as ONE DataFrame chain — median-token
    // quality gate → PII redaction → exact dedup of the REDACTED text
    // (keep-min survivor, metadata carried through) → decontamination
    // (eval slice held out, n-gram-contaminated docs dropped) → every-10th
    // stratified sample per language. Each stage is the already-verified
    // operator; what this query adds (and its generated oracle checks) is
    // the INTEROP: schema handoff, one threshold broadcast, no redundant
    // exchanges between stages (plan-spec'd in CurationSpec).
    "curation_pipeline" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        // n_tokens IS NOT NULL on BOTH sides: Spark's sort_array folds a
        // null-n_tokens struct FIRST while the oracle's running sum orders
        // NULLS LAST, so a null-text row would shift where the cumulative
        // count crosses the median boundary (ADVICE r5). The median is
        // defined over tokenizable docs only (mirrors pack_sequences' >0).
        val q = docs.select(col("doc_id"), col("lang"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .filter(col("n_tokens").isNotNull)
        // median token-count threshold — quality_filter's single-row
        // histogram fold (no global window)
        val thr = q.groupBy("n_tokens").agg(count(lit(1)).as("c"))
          .agg(sort_array(collect_list(struct(col("n_tokens"), col("c")))).as("h"),
            sum(col("c")).as("tot"))
          .select(expr(
            """aggregate(h,
              |  named_struct('cum', CAST(0 AS BIGINT), 'thr', CAST(NULL AS BIGINT)),
              |  (acc, x) -> named_struct(
              |    'cum', acc.cum + x.c,
              |    'thr', CASE WHEN acc.thr IS NULL AND acc.cum + x.c >= (tot + 1) div 2
              |           THEN x.n_tokens ELSE acc.thr END),
              |  acc -> acc.thr) AS thr""".stripMargin))
        val kept = q.join(broadcast(thr), q("n_tokens") >= thr("thr")).drop("thr")
        val red = Curation.piiRedact(kept, "text", "doc_id",
          carryCols = Seq("lang", "n_tokens"))
        // exact dedup ON THE REDACTED TEXT (two docs differing only in
        // redacted spans are training-identical), keeping the min-doc_id
        // survivor WITH its metadata — the window form of Dedup.exact's
        // groupBy/min rule
        val wD = Window.partitionBy(lower(trim(col("redacted")))).orderBy("doc_id")
        val ded = red.withColumn("__rk", row_number().over(wD))
          .filter(col("__rk") === 1)
        val contaminated = Curation.contamination(docs, col("doc_id") % 50 === 0)
          .select("doc_id").distinct()
        val clean = ded.filter(col("doc_id") % 50 =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti")
        val wS = Window.partitionBy("lang").orderBy("doc_id")
        clean.withColumn("rn", row_number().over(wS).cast("long"))
          .filter(col("rn") % 10 === 1)
          .select("lang", "rn", "doc_id", "n_tokens")
          .orderBy("doc_id")
      },
      curationPipelineOracleSql),

    // Sliding-window chunking (RAG/embedding-indexing prep): 128-token
    // chunks every 112 tokens (16-token overlap). Pure per-document
    // explode — zero shuffles; the oracle replays the window arithmetic
    // with generate_series + list_slice.
    "chunk_docs" -> QueryDef(
      (s, d) => Packing.chunkDocs(t(s, d, "documents"), chunkSize = 128, overlap = 16)
        .orderBy("doc_id", "chunk_id"),
      """WITH q AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents),
        |p AS (SELECT doc_id, toks, n FROM q WHERE n > 0),
        |x AS (SELECT doc_id, toks, n,
        |        CAST(unnest(generate_series(CAST(0 AS BIGINT),
        |          GREATEST(CAST(1 AS BIGINT), (n - 16 + 111) // 112) - 1)) AS BIGINT) AS chunk_id
        |      FROM p)
        |SELECT doc_id, chunk_id, chunk_id * 112 AS chunk_start,
        |  LEAST(CAST(128 AS BIGINT), n - chunk_id * 112) AS n_chunk_tokens,
        |  array_to_string(list_slice(toks, chunk_id * 112 + 1, LEAST(chunk_id * 112 + 128, n)), ' ') AS chunk_text
        |FROM x ORDER BY doc_id, chunk_id""".stripMargin),

    // Gopher-style repetition screen: duplicate-token fraction +
    // top-bigram fraction per doc, >0.18 top-2-gram flag (Rae et al. 2021
    // §A1.1). Docs under 2 tokens have no bigram — excluded on both sides.
    "quality_repetition" -> QueryDef(
      (s, d) => TextAnalysis.repetition(t(s, d, "documents"))
        .orderBy("doc_id"),
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |t AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
        |ta0 AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok),
        |ta AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |         CAST(COUNT(*) AS BIGINT) AS n_distinct FROM ta0 GROUP BY doc_id),
        |bg0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i + 1])) AS bg FROM tk),
        |ba0 AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg0 GROUP BY doc_id, bg),
        |ba AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |         CAST(MAX(c) AS BIGINT) AS top_c FROM ba0 GROUP BY doc_id)
        |SELECT ta.doc_id, ta.n_tokens,
        |  round(CAST(ta.n_tokens - ta.n_distinct AS DOUBLE) / ta.n_tokens, 6) AS dup_token_frac,
        |  round(CAST(ba.top_c AS DOUBLE) / ba.n_bigrams, 6) AS top_bigram_frac,
        |  (CAST(ba.top_c AS DOUBLE) / ba.n_bigrams) > 0.18 AS repetitive
        |FROM ta JOIN ba ON ta.doc_id = ba.doc_id ORDER BY ta.doc_id""".stripMargin),

    // Simpson/Gini token-diversity screen — the smooth complement to the
    // Gopher repetition screen (Σp² weights dominance by the square where
    // duplicate-fraction is blind to it). Log-free: exact BIGINT Σc²/n,
    // one IEEE division chain per score, 6dp.
    "quality_gini" -> QueryDef(
      (s, d) => TextAnalysis.simpsonDiversity(t(s, d, "documents"))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c0 AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        CAST(SUM(c * c) AS BIGINT) AS sum_sq FROM c0 GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  round(CAST(1.0 AS DOUBLE) - CAST(sum_sq AS DOUBLE)
        |    / CAST(n_tokens * n_tokens AS DOUBLE), 6) AS simpson_div,
        |  round(CAST(n_tokens * n_tokens AS DOUBLE) / CAST(sum_sq AS DOUBLE), 6)
        |    AS eff_vocab,
        |  (CAST(1.0 AS DOUBLE) - CAST(sum_sq AS DOUBLE)
        |    / CAST(n_tokens * n_tokens AS DOUBLE)) < CAST(0.5 AS DOUBLE)
        |    AS low_diversity
        |FROM a ORDER BY doc_id""".stripMargin),

    // Corpus-trained bigram LM quality score — the statistical quality
    // screen between the heuristic filters and a real model: per-doc mean
    // conditional-probability estimate avg c(w1,w2)/c(w1,·) under the
    // corpus's own bigram statistics. Kept value-checkable by exact
    // fixed-point units (c·10⁶ div c_left, floor) summed as BIGINTs —
    // no log, which differs across libm builds; one IEEE display divide.
    "lm_score_bigram" -> QueryDef(
      (s, d) => TextAnalysis.lmScoreBigram(t(s, d, "documents"))
        .orderBy("doc_id"),
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |db AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i + 1])) AS bg FROM tk),
        |bc AS (SELECT bg, COUNT(*) AS c_bg FROM db GROUP BY bg),
        |bw AS (SELECT bg, c_bg, string_split(bg, ' ')[1] AS w1 FROM bc),
        |lc AS (SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_w1 FROM bw GROUP BY w1),
        |m AS (SELECT bg, CAST((c_bg * 1000000) // c_w1 AS BIGINT) AS u
        |      FROM bw JOIN lc USING (w1)),
        |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |         CAST(SUM(u) AS BIGINT) AS lm_units
        |       FROM db JOIN m USING (bg) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, lm_units,
        |  round(CAST(lm_units AS DOUBLE) / n_bigrams / CAST(1000000 AS DOUBLE), 6)
        |    AS lm_score
        |FROM sc ORDER BY doc_id""".stripMargin),

    // Corpus vocabulary top-1000 with cumulative coverage — the
    // tokenizer-training primitive. The top-k cut is distributed
    // TakeOrdered; the rank window touches only k rows.
    "vocab_topk" -> QueryDef(
      (s, d) => TextAnalysis.vocabTopK(t(s, d, "documents"), k = 1000)
        .orderBy("rk"),
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tt FROM c),
        |r AS (SELECT tok, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rk,
        |        SUM(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM c)
        |SELECT rk, tok, cnt, round(CAST(cum AS DOUBLE) / tot.tt, 6) AS cum_frac
        |FROM r, tot WHERE rk <= 1000 ORDER BY rk""".stripMargin),

    // The production near-dedup pipeline END TO END (candidates → exact
    // verify → cluster → keep/drop): MinHash+LSH candidate pairs, exact
    // shingle-set Jaccard verification via the codegen'd two-pointer
    // intersect (kills LSH false positives), connected components over the
    // verified pairs, min-id survivor per cluster. The full iterative
    // pipeline is value-checked — the oracle replays the fold hashes, the
    // set intersections, AND the reachability fixpoint.
    "neardedup_pipeline" -> QueryDef(
      (s, d) => Dedup.verifiedClusters(t(s, d, "documents"),
        threshold = Dedup.NearDedupThreshold).orderBy("doc_id"),
      nearDedupOracleSql),

    // One BPE training step over the word-frequency table (never the
    // corpus): weighted adjacent char-pair counts, top-20 merge candidates
    // with deterministic ties. The tokenizer-training inner loop.
    "bpe_merge_pairs" -> QueryDef(
      (s, d) => TextAnalysis.bpeMergePairs(t(s, d, "documents"), k = 20)
        .orderBy("rk"),
      """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wf AS (SELECT w, COUNT(*) AS freq FROM w0 WHERE length(w) >= 2 GROUP BY w),
        |p AS (SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, freq
        |      FROM (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i FROM wf)),
        |a AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS weight FROM p GROUP BY pair),
        |r AS (SELECT pair, weight,
        |        CAST(row_number() OVER (ORDER BY weight DESC, pair) AS BIGINT) AS rk
        |      FROM a)
        |SELECT rk, pair, weight FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin),

    // Per-document top-3 TF-IDF terms, log-free (score = tf·N/df as one
    // exact-integer IEEE division, 6dp — ln would break oracle parity on
    // libm ULPs; same ladder as quality_unigram).
    "tfidf_topk" -> QueryDef(
      (s, d) => TextAnalysis.tfidfTopK(t(s, d, "documents"), k = 3)
        .orderBy("doc_id", "rk"),
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY doc_id, tok),
        |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tc GROUP BY tok),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |sc AS (SELECT doc_id, tc.tok, tc.tf, dfq.df,
        |         round(CAST(tc.tf * nn.n AS DOUBLE) / dfq.df, 6) AS score
        |       FROM tc JOIN dfq USING (tok) CROSS JOIN nn),
        |r AS (SELECT doc_id, tok, tf, df, score,
        |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rk
        |      FROM sc)
        |SELECT doc_id, rk, tok, tf, df, score FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin),

    // RAG indexing + retrieval composed end to end: sliding-window chunks
    // → deterministic hash-feature embeddings (feature hashing, exact
    // LONG sums) → broadcast cosine top-3 per query doc (eval slice as
    // the query batch). The whole chain — chunk windows, embeddings,
    // ranking — replays under the value oracle.
    "rag_retrieval" -> QueryDef(
      (s, d) => graft.ops.llm.Rag.retrieve(t(s, d, "documents"),
        col("doc_id") % graft.ops.llm.Rag.EvalMod === 0
          && col("doc_id") < SimQueryCap).orderBy("q_doc", "rk"),
      ragOracleSql),

    // Deterministic data-mixing schedule (stride scheduling on integer
    // virtual time): src0 at weight 3, src1 at weight 2, the rest at 1 —
    // lcm 6 → steps 2/3/6. The closed-form global position needs no
    // global window (broadcast per-source stats only); all-BIGINT, so the
    // oracle replays it exactly.
    "interleave_sources" -> QueryDef(
      (s, d) => Mixture.interleaveSources(t(s, d, "documents"),
        Map("src0" -> 3, "src1" -> 2))
        .orderBy("global_pos"),
      """WITH s AS (SELECT doc_id, source,
        |             CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS k
        |           FROM documents),
        |q AS (SELECT doc_id, source, k,
        |        CAST(CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 3 ELSE 6 END AS BIGINT) AS step
        |      FROM s),
        |qv AS (SELECT doc_id, source, k, step, k * step AS vt FROM q),
        |st AS (SELECT source AS osrc, MAX(k) AS n, MAX(step) AS ostep FROM qv GROUP BY source)
        |SELECT CAST(SUM(LEAST(st.n, (qv.vt - 1) // st.ostep) +
        |         CASE WHEN st.osrc < qv.source AND qv.vt % st.ostep = 0
        |                   AND qv.vt // st.ostep <= st.n
        |              THEN 1 ELSE 0 END) + 1 AS BIGINT) AS global_pos,
        |  qv.vt, qv.source, qv.doc_id, qv.k
        |FROM qv CROSS JOIN st
        |GROUP BY qv.vt, qv.source, qv.doc_id, qv.k
        |ORDER BY global_pos""".stripMargin),

    // Approximate heavy hitters through the correctness gate: a Count-Min
    // sketch (d×w = 4×1024 BIGINT counters — fixed memory at ANY corpus
    // size, mergeable by elementwise sum) built from the replayable token
    // fold, point-queried for every vocabulary token, top-20 by estimate.
    // The exact count rides along as the calibration column (CMS error is
    // one-sided: overcount = est − exact >= 0 always, asserted in
    // SketchesSpec) — the sketch-vs-truth loop a pipeline runs before
    // trusting a frequency threshold, like minhash_est_error for MinHash
    // and sketch_hll_replay for HLL. At 100 TB the sketch build shuffles
    // <= 4096 rows however many tokens stream through; the full-vocab
    // probe here is the small-scale calibration harness, not the scale
    // path (production queries the broadcast sketch per candidate item).
    "sketch_cms_topk" -> QueryDef(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .withColumn("__h", graft.functions.TextHash.poly_fold(col("tok"), Dedup.P))
        val sketch = graft.ops.Sketches.cmsSketch(toks, "__h")
        val exact = toks.groupBy("tok", "__h").agg(count(lit(1)).as("exact_cnt"))
        graft.ops.Sketches.cmsEstimate(exact, sketch, "__h")
          .select(col("tok"), col("est_cnt"), col("exact_cnt"),
            (col("est_cnt") - col("exact_cnt")).as("overcount"))
          .orderBy(col("est_cnt").desc, col("tok")).limit(20)
      },
      cmsTopkOracleSql),

    // CMS heavy-CHANGE detection (Cormode & Muthukrishnan 2005 §4.2 /
    // Krishnamurthy et al. IMC 2003 "sketch-based change detection"):
    // which users' event counts shifted most between the first and
    // second half of the time range — the traffic-anomaly screen run as
    // two fixed-memory sketches where the exact answer would need a
    // full per-key two-window groupBy. The split point clears the
    // midpoint division (2·t ≤ lo+hi, exact micros). Estimates come
    // from per-half sketches (d·w-bounded, broadcast); the exact halves
    // ride along as calibration columns (the sketch_cms_topk
    // discipline — at 100 TB the candidate set becomes each half's
    // heavy-hitter union instead of the distinct-key table, same
    // sketches). Deterministic (|est diff| desc, user_id) cut; the
    // oracle replays both sketches bucket-for-bucket.
    "sketch_heavy_change" -> QueryDef(
      (s, d) => {
        import graft.ops.Sketches
        val ev = t(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("tu"))
        val rng = ev.agg(min(col("tu")).as("lo"), max(col("tu")).as("hi"))
        val tagged = ev.crossJoin(broadcast(rng))
          .withColumn("half",
            when(lit(2L) * col("tu") <= col("lo") + col("hi"), lit(1L))
              .otherwise(lit(2L)))
        val s1 = Sketches.cmsSketch(
          tagged.filter(col("half") === 1L).select(col("user_id")), "user_id")
        val s2 = Sketches.cmsSketch(
          tagged.filter(col("half") === 2L).select(col("user_id")), "user_id")
        val exact = tagged.groupBy("user_id").agg(
          sum(when(col("half") === 1L, 1L).otherwise(0L)).as("exact1"),
          sum(when(col("half") === 2L, 1L).otherwise(0L)).as("exact2"))
        val withE1 = Sketches.cmsEstimate(exact, s1, "user_id")
          .withColumnRenamed("est_cnt", "est1")
        Sketches.cmsEstimate(withE1, s2, "user_id")
          .withColumnRenamed("est_cnt", "est2")
          .select(col("user_id"), col("est1"), col("est2"),
            (col("est1") - col("est2")).as("diff_est"),
            col("exact1"), col("exact2"),
            (col("exact1") - col("exact2")).as("diff_exact"))
          .orderBy(abs(col("diff_est")).desc, col("user_id")).limit(20)
      },
      heavyChangeOracleSql),

    // Boolean keyword search over the inverted index — the retrieval
    // primitive RAG's dense path doesn't cover: find documents containing
    // ALL query terms via posting-list intersection, never a full-corpus
    // LIKE scan. The query terms are chosen BY RANK from the corpus's own
    // vocabulary (5th and 9th most frequent, deterministic (cnt desc,
    // tok) order) so the query is a pure function of the data — no
    // data-dependent literals baked into the repo. Scale shape: the two
    // term rows broadcast into the posting scan (a semi-join that prunes
    // before any shuffle); matching docs = one combinable per-doc
    // distinct-term count == 2.
    "text_search_bool" -> QueryDef(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("tok"))
          .distinct()
        // distributed TakeOrdered cuts the vocab to 9 rows BEFORE the
        // unpartitioned ranking window touches anything (the vocab_topk
        // discipline: no full-vocab single-partition window)
        val w = Window.orderBy(col("cnt").desc, col("tok"))
        val terms = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(9)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 5 || col("rk") === 9)
          .select("tok")
        toks.join(broadcast(terms), "tok")
          .groupBy("doc_id", "source")
          .agg(countDistinct(col("tok")).as("nt"))
          .filter(col("nt") === 2)
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      """WITH tk AS (SELECT DISTINCT doc_id, source,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
        |terms AS (SELECT tok FROM (
        |    SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS rk FROM tf)
        |  WHERE rk IN (5, 9))
        |SELECT doc_id, source FROM tk JOIN terms USING (tok)
        |GROUP BY doc_id, source HAVING COUNT(DISTINCT tok) = 2
        |ORDER BY doc_id""".stripMargin),

    // Blocked fuzzy matching — the entity-resolution primitive (record
    // linkage for dedup beyond exact/hash equality): candidate pairs are
    // generated ONLY within (brand, size) blocks — the classic blocking
    // step that turns the O(N²) all-pairs comparison into per-block
    // quadratics (Fellegi–Sunter record linkage; same candidates-then-
    // verify shape as the MinHash LSH path, with a key block instead of
    // a hash bucket) — then scored with codegen'd levenshtein (classic
    // unit-cost edit distance, identical in DuckDB) and reduced to each
    // brand's single most-similar pair with a deterministic tie-break.
    // At 100 TB the block key is the ONLY shuffle; blocks bound the
    // quadratic exactly like Dedup.MaxGramDf bounds posting lists.
    "fuzzy_match_blocked" -> QueryDef(
      (s, d) => {
        val p = t(s, d, "part").select(col("p_brand").as("brand"),
          col("p_size").as("size"), col("p_partkey").as("pk"), col("p_name").as("name"))
        val a = p.select(col("brand"), col("size"), col("pk").as("a_pk"), col("name").as("a_name"))
        val b = p.select(col("brand"), col("size"), col("pk").as("b_pk"), col("name").as("b_name"))
        val pairs = a.join(b, Seq("brand", "size")).filter(col("a_pk") < col("b_pk"))
          .withColumn("lev", levenshtein(col("a_name"), col("b_name")).cast("long"))
        // per-brand winner via a map-side-combinable min over the
        // (lev, a_pk, b_pk) struct — lexicographic struct ordering IS the
        // old window's (lev, a_pk, b_pk) tie-break, without sorting the
        // full pair table into 25 giant window partitions (r9 sf1 run:
        // the window sort dominated at 16M pairs; the agg shuffles only
        // per-partition minima)
        pairs.groupBy("brand")
          .agg(min(struct(col("lev"), col("a_pk"), col("b_pk"))).as("m"))
          .select(col("brand"), col("m.a_pk").as("a_pk"),
            col("m.b_pk").as("b_pk"), col("m.lev").as("lev"))
          .orderBy("brand")
      },
      """WITH p AS (SELECT p_brand AS brand, p_size AS size,
        |    p_partkey AS pk, p_name AS name FROM part),
        |pr AS (SELECT a.brand, a.pk AS a_pk, b.pk AS b_pk,
        |    CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
        |  FROM p a JOIN p b ON a.brand = b.brand AND a.size = b.size
        |    AND a.pk < b.pk)
        |SELECT brand, a_pk, b_pk, lev FROM (
        |  SELECT brand, a_pk, b_pk, lev,
        |    row_number() OVER (PARTITION BY brand ORDER BY lev, a_pk, b_pk) AS rk
        |  FROM pr)
        |WHERE rk = 1 ORDER BY brand""".stripMargin),

    // Deterministic corpus shuffle — the reproducible training-order
    // permutation (seeded affine bijection of doc_id, never rand()),
    // with global positions from the two-level prefix-sum rank: the only
    // unpartitioned window in the plan runs on the 1024-row bucket-count
    // table, never per-doc rows (ops.llm.Shuffle). Oracle = the plain
    // global window spelling of the same rank — results identical, which
    // is exactly the claim the distributed form has to prove.
    "shuffle_deterministic" -> QueryDef(
      (s, d) => graft.ops.llm.Shuffle.deterministicShuffle(
        t(s, d, "documents").select("doc_id", "source"))
        .select("pos", "doc_id", "source", "shuffle_key")
        .orderBy("pos"),
      {
        import graft.ops.llm.Shuffle
        s"""WITH k AS (SELECT doc_id, source,
           |  (${Shuffle.A} * (doc_id % ${Shuffle.P}) + ${Shuffle.B}) % ${Shuffle.P} AS shuffle_key
           |  FROM documents)
           |SELECT CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos,
           |  doc_id, source, shuffle_key
           |FROM k ORDER BY pos""".stripMargin
      }),

    // Temperature-scaled mixture weights (the multilingual/multi-source
    // rebalancing rule from Devlin et al. 2019 App. A / Conneau & Lample
    // 2019 §3.1: sample source s with p_s ∝ n_s^α, α=0.5): per source,
    // share = sqrt(n)/Σ sqrt(n) and the expected doc count in a
    // fixed-size epoch. sqrt is IEEE-754 correctly-rounded on BOTH
    // engines (unlike ln/exp — the reason lm_score/tfidf are log-free),
    // and the Σ runs through the dsum DECIMAL ladder, so the shares are
    // value-checkable. Shape: one combinable groupBy collapses the corpus
    // to |sources| rows; the scalar total is a broadcast of that tiny
    // frame — documents never shuffle twice.
    "mixture_temperature" -> QueryDef(
      (s, d) => {
        val counts = t(s, d, "documents").groupBy("source")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w", sqrt(col("n_docs").cast("double")))
        val tot = counts.agg(dsum(col("w")).as("__t"))
        counts.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            round(col("w"), 6).as("weight"),
            round(col("w") / col("__t"), 6).as("share"),
            floor(col("w") / col("__t") * lit(10000.0)).cast("long")
              .as("epoch_docs"))
          .orderBy("source")
      },
      s"""WITH c AS (SELECT source, COUNT(*) AS n_docs,
         |  sqrt(CAST(COUNT(*) AS DOUBLE)) AS w FROM documents GROUP BY source),
         |t AS (SELECT ${dsumSql("w")} AS t FROM c)
         |SELECT source, n_docs, round(w, 6) AS weight,
         |  round(w / t.t, 6) AS share,
         |  CAST(floor(w / t.t * CAST(10000.0 AS DOUBLE)) AS BIGINT) AS epoch_docs
         |FROM c, t ORDER BY source""".stripMargin),

    // Exact-substring duplication profile — the fixed-length-window form
    // of Lee et al. 2022's ExactSubstr dedup ("Deduplicating Training
    // Data Makes Language Models Better", §4.1): a character L-gram
    // occurring more than once in the corpus marks every span it covers
    // as duplicated text. Their suffix-array machinery finds VARIABLE
    // length matches on one node; the distributed re-expression samples
    // L=40 windows at stride 10 (any duplicated run ≥ L+stride-1 chars is
    // guaranteed to contain a sampled duplicate window), which turns the
    // whole op into two combinable aggregations — no suffix array, no
    // per-node state. Shape: explode ≈ n_chars/10 shingles per doc,
    // count-by-shingle (map-side partial agg collapses repeats before the
    // shuffle), join counts back, re-agg per doc. The join key is
    // xxhash64(shingle) so every shuffle carries 16-byte rows instead of
    // 40-char strings (the dedup_containment/ngram discipline, r16) —
    // the oracle replays the RAW substrings; equal modulo 64-bit
    // collisions, negligible at any corpus this host holds.
    "dedup_substring" -> QueryDef(
      (s, d) => {
        val L = 40; val S = 10
        val sh = t(s, d, "documents")
          .filter(length(col("text")) >= L)
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(1, length(text) - ${L - 1}, $S)," +
              s" p -> xxhash64(substring(text, p, $L)))")).as("sh"))
        val cnt = sh.groupBy("sh").agg(count(lit(1)).as("c"))
        sh.join(cnt, "sh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .select(col("doc_id"), col("n_shingles"), col("n_dup"),
            (col("n_dup").cast("double") / col("n_shingles").cast("double"))
              .as("dup_frac"))
          .orderBy("doc_id")
      },
      """WITH sh AS (SELECT doc_id, substr(text, CAST(p AS INT), 40) AS sh
        |            FROM (SELECT doc_id, text,
        |                    unnest(generate_series(1, length(text) - 39, 10)) AS p
        |                  FROM documents WHERE length(text) >= 40)),
        |c AS (SELECT sh, COUNT(*) AS c FROM sh GROUP BY sh)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS dup_frac
        |FROM sh s JOIN c USING (sh) GROUP BY s.doc_id ORDER BY doc_id""".stripMargin),

    // Asymmetric shingle containment (Broder 1997): the near-dup measure
    // that catches a doc EMBEDDED in a larger one, where Jaccard goes
    // quiet because the union is dominated by the big doc. Shingles
    // travel as xxhash64 longs while the oracle below replays the RAW
    // substrings — equal modulo 64-bit collisions, absent by birthday
    // math below ~10^8 shingle types (Dedup.containment scaladoc).
    // DF-capped posting lists, pair explode with per-doc set sizes
    // packed into the candidate longs — the pair table never joins
    // anything. Both directions emitted per pair; threshold compares
    // 6-dp-rounded values on both engines.
    "dedup_containment" -> QueryDef(
      // the doc count is threaded from the parquet footers (driver-side
      // metadata, memoized — Tables.rowCount) so the broadcast gate never
      // runs a construction-time job on the default path (VERDICT r17 #3)
      (s, d) => Dedup.containment(t(s, d, "documents"),
        docRowCount = graft.model.Tables.rowCount(s, d, "documents")),
      s"""WITH sh AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), 20) AS sh
        |            FROM (SELECT doc_id, text,
        |                    unnest(generate_series(1, length(text) - 19, 5)) AS p
        |                  FROM documents WHERE length(text) >= 20)),
        |df AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
        |g AS (SELECT s.doc_id, s.sh FROM sh s JOIN df USING (sh)
        |      WHERE df.df <= ${Dedup.ContainmentMaxDf}),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
        |pr AS (SELECT g1.doc_id AS a_id, g2.doc_id AS b_id,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM g g1 JOIN g g2 ON g1.sh = g2.sh AND g1.doc_id < g2.doc_id
        |       GROUP BY 1, 2),
        |j AS (SELECT a_id, b_id, inter,
        |        round(CAST(inter AS DOUBLE) / sa.sz, 6) AS cont_a,
        |        round(CAST(inter AS DOUBLE) / sb.sz, 6) AS cont_b
        |      FROM pr JOIN sz sa ON sa.doc_id = pr.a_id
        |              JOIN sz sb ON sb.doc_id = pr.b_id)
        |SELECT a_id, b_id, inter, cont_a, cont_b FROM j
        |WHERE greatest(cont_a, cont_b) >= 0.8 ORDER BY a_id, b_id""".stripMargin),

    // Encoding-artifact screen — the curation signal RefinedWeb/C4-class
    // pipelines gate on before any model-based scoring: U+FFFD
    // replacement characters (decode failures), C0/DEL control bytes
    // outside tab/LF/CR (binary contamination), and the 'Ã'/'Â' lead
    // bytes of UTF-8-read-as-Latin-1 mojibake. Counts via length-diff
    // (replace / global regexp_replace — both engines delete, never
    // collate); pure per-row map work, no shuffle at any scale.
    "quality_encoding" -> QueryDef(
      (s, d) => {
        val ctrl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
        t(s, d, "documents")
          .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
            (length(col("text")) -
              length(regexp_replace(col("text"), "\\uFFFD", ""))).cast("long")
              .as("n_replacement"),
            (length(col("text")) -
              length(regexp_replace(col("text"), ctrl, ""))).cast("long")
              .as("n_control"),
            (length(col("text")) -
              length(regexp_replace(col("text"), "[\\u00C3\\u00C2]", ""))).cast("long")
              .as("n_mojibake"))
          .withColumn("clean",
            (col("n_replacement") + col("n_control") + col("n_mojibake")) === 0L)
          .orderBy("doc_id")
      },
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT)
         |    AS n_replacement,
         |  CAST(length(text) - length(regexp_replace(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')) AS BIGINT)
         |    AS n_control,
         |  CAST(length(text) - length(regexp_replace(text,
         |    '[\\xC3\\xC2]', '', 'g')) AS BIGINT) AS n_mojibake,
         |  (length(replace(text, chr(65533), '')) = length(text)
         |   AND length(regexp_replace(text,
         |     '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')) = length(text)
         |   AND length(regexp_replace(text, '[\\xC3\\xC2]', '', 'g')) = length(text))
         |    AS clean
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Nucleus (top-p) vocabulary cut per source — the distributional
    // twin of vocab_topk's fixed-k cut: the SMALLEST token prefix (by
    // count desc, token asc) whose cumulative frequency reaches 90% of
    // the source's tokens. The tokenizer-training question is "how much
    // tail can we drop"; this answers it exactly. A token is in the
    // nucleus iff coverage BEFORE it is still short of 0.9 — all-integer
    // (10·(cum−cnt) < 9·total), one display divide. The per-source
    // running-sum window runs over the already-collapsed (source, token)
    // count table, never per-token-occurrence rows.
    "vocab_nucleus" -> QueryDef(
      (s, d) => {
        val counts = t(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("source").orderBy(col("cnt").desc, col("tok"))
        val tot = Window.partitionBy("source")
        counts
          .withColumn("cum", sum(col("cnt")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("total", sum(col("cnt")).over(tot))
          .groupBy("source")
          .agg(count(lit(1)).as("n_vocab"),
            sum(when(lit(10L) * (col("cum") - col("cnt")) < lit(9L) * col("total"),
              1L).otherwise(0L)).as("n_nucleus"),
            sum(when(lit(10L) * (col("cum") - col("cnt")) < lit(9L) * col("total"),
              col("cnt")).otherwise(0L)).as("covered"),
            max(col("total")).as("total"))
          .withColumn("coverage",
            round(col("covered").cast("double") / col("total").cast("double"), 6))
          .orderBy("source")
      },
      """WITH c AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |k AS (SELECT source, tok, COUNT(*) AS cnt FROM c GROUP BY source, tok),
        |r AS (SELECT source, tok, cnt,
        |    SUM(cnt) OVER (PARTITION BY source ORDER BY cnt DESC, tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY source) AS total
        |  FROM k)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vocab,
        |  CAST(SUM(CASE WHEN 10 * (cum - cnt) < 9 * total THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nucleus,
        |  CAST(SUM(CASE WHEN 10 * (cum - cnt) < 9 * total THEN cnt ELSE 0 END) AS BIGINT)
        |    AS covered,
        |  CAST(MAX(total) AS BIGINT) AS total,
        |  round(CAST(SUM(CASE WHEN 10 * (cum - cnt) < 9 * total THEN cnt ELSE 0 END) AS DOUBLE)
        |    / CAST(MAX(total) AS DOUBLE), 6) AS coverage
        |FROM r GROUP BY source ORDER BY source""".stripMargin),

    // Exact set-similarity join with PREFIX FILTERING (Chaudhuri-Ganti-
    // Kaushik 2006 / PPJoin, Xiao et al. 2008): ALL document pairs with
    // token-set Jaccard ≥ 0.8, found without an all-pairs join. The
    // theorem: order every doc's tokens by a global (df, token) total
    // order; if J(x,y) ≥ t, the first |x|−⌈t|x|⌉+1 tokens of x and of y
    // must share one — so candidate pairs come from posting lists over
    // PREFIX tokens only (the rarest ones, naturally low-df), then exact
    // verification. Complements dedup_minhash (probabilistic, misses
    // possible) and dedup_ngram_jaccard (top-1 per block): this is the
    // complete threshold join, and the brute-force oracle proves
    // completeness — a prefix-math bug shows up as missing rows. All
    // arithmetic integer (threshold as 5·inter ≥ 4·union, ceil as
    // (4n+4) div 5); one display divide. On THIS corpus the tiny vocab
    // makes prefixes weakly selective (25% of in-source pairs qualify);
    // selectivity is a data property — at web scale with Zipfian vocabs
    // the prefix posting lists are the whole game.
    "similarity_join_exact" -> QueryDef(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("source"), col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
        val dfreq = toks.groupBy("source", "tok").agg(count(lit(1)).as("df"))
        val ranked = toks.join(dfreq, Seq("source", "tok"))
          .withColumn("rn", row_number().over(Window
            .partitionBy("source", "doc_id").orderBy(col("df"), col("tok"))))
          .withColumn("n", count(lit(1)).over(Window
            .partitionBy("source", "doc_id")))
        val prefix = ranked
          .filter(col("rn") <= col("n") - expr("(4 * n + 4) div 5") + 1)
        // NO df cap here, unlike dedup_ngram_jaccard: this operator's
        // contract is completeness, and a capped hub posting list would
        // silently drop qualifying pairs. The prefix restriction is the
        // pruning; a genuinely quadratic hub prefix token at scale is the
        // documented worst case of every exact SSJoin.
        // LENGTH FILTER (Chaudhuri et al. 2006 §3 / PPJoin): J(x,y) ≥ 0.8
        // forces 5·min(|x|,|y|) ≥ 4·max(|x|,|y|) (inter ≤ min, uni ≥ max),
        // so size-incompatible candidate pairs die HERE — integer-exact,
        // before the two set-array joins and the O(|x|+|y|) intersections
        // that verification pays per pair (guide §3: pre-filter the
        // expensive join's input when the predicate allows it). The set
        // size n rides the posting list as a struct field; pairs dropped
        // are exactly those the final 5·inter ≥ 4·uni filter would drop,
        // so the output is row-identical (oracle unchanged).
        val cand = prefix.groupBy("source", "tok")
          .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("docs"))
          .filter(size(col("docs")) >= 2)
          .select(col("source"), posexplode(col("docs")).as(Seq("__i", "a")), col("docs"))
          .select(col("source"), col("a.doc_id").as("a_id"), col("a.n").as("na"),
            explode(slice(col("docs"), col("__i") + 2, size(col("docs")))).as("b"))
          .filter(lit(5L) * least(col("na"), col("b.n")) >=
            lit(4L) * greatest(col("na"), col("b.n")))
          .select(col("source"), col("a_id"), col("b.doc_id").as("b_id"))
          .distinct()
        val sets = toks.groupBy("source", "doc_id")
          .agg(sort_array(collect_list(col("tok"))).as("ts"))
        cand
          .join(sets.select(col("source"), col("doc_id").as("a_id"),
            col("ts").as("ta")), Seq("source", "a_id"))
          .join(sets.select(col("source"), col("doc_id").as("b_id"),
            col("ts").as("tb")), Seq("source", "b_id"))
          .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
          .withColumn("uni",
            (size(col("ta")) + size(col("tb"))).cast("long") - col("inter"))
          .filter(lit(5L) * col("inter") >= lit(4L) * col("uni"))
          .select(col("source"), col("a_id"), col("b_id"), col("inter"), col("uni"),
            round(col("inter").cast("double") / col("uni").cast("double"), 6).as("jac"))
          .orderBy("source", "a_id", "b_id")
      },
      """WITH tk AS (SELECT doc_id, source,
        |    list_sort(list_distinct(string_split(text, ' '))) AS t
        |  FROM documents),
        |p AS (SELECT a.source, a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter,
        |    CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS BIGINT) AS uni
        |  FROM tk a JOIN tk b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT source, a_id, b_id, inter, uni,
        |  round(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 6) AS jac
        |FROM p WHERE 5 * inter >= 4 * uni ORDER BY source, a_id, b_id""".stripMargin),

    // Perceptual near-dup detection for the image modality — dHash
    // (difference hash, the blockhash/pHash family): 63 brightness
    // comparisons sampled along the decoded pixel sequence, packed into
    // one BIGINT; identical hashes = near-dup bucket (the dedup_exact
    // keep-rule applied to images). The Spark side walks the REAL
    // BMP byte layout (bottom-up BGR rows, 4-byte stride) via
    // Multimodal.bmpPHash; the oracle replays the same comparisons from
    // the pixel formula — so a byte-walk bug (stride, channel order,
    // row flip) breaks the hash-match. Integer-only by design: a classic
    // resize-interpolate pHash would put float filtering between the
    // engines. Map-only per image + one hash-keyed count; at 100 TB the
    // bucket join is the dedup_exact shape.
    "multimodal_phash" -> QueryDef(
      (s, d) => {
        val ph = Multimodal.phashes(Multimodal.synthMedia(t(s, d, "documents"))).toDF()
        ph.withColumn("n_same",
          count(lit(1)).over(Window.partitionBy("phash")).cast("long"))
          .select(col("doc_id"), col("width"), col("height"), col("phash"),
            col("n_same"), (col("n_same") > 1).as("is_dup"))
          .orderBy("doc_id")
      },
      s"""$phashCte
         |SELECT id AS doc_id, CAST(w AS INTEGER) AS width,
         |  CAST(h AS INTEGER) AS height, phash,
         |  CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same,
         |  (COUNT(*) OVER (PARTITION BY phash)) > 1 AS is_dup
         |FROM ph ORDER BY doc_id""".stripMargin),

    // Image NEAR-dup pairs by pHash Hamming distance ≤ 3 — the tolerant
    // sibling of multimodal_phash's identical-hash buckets (a re-encoded
    // or slightly-corrupted image flips a few comparison bits, not
    // zero). The scale path is simhash-style BANDING: the 63-bit hash
    // splits into 4 × 16-bit bands, ≤3 differing bits leave at least one
    // band intact (pigeonhole), so candidates come from band-bucket
    // joins — never all-pairs — and the exact Hamming check runs on
    // candidates only. The ORACLE is the brute-force all-pairs scan, so
    // the gate also proves the banding COMPLETE (the
    // similarity_join_exact discipline).
    "multimodal_image_neardup" -> QueryDef(
      (s, d) => {
        val ph = Multimodal.phashes(Multimodal.synthMedia(t(s, d, "documents")))
          .toDF().filter(col("ok")).select(col("doc_id"), col("phash"))
        val bands = ph.select(col("doc_id"), col("phash"),
          explode(array((0 until 4).map(j => struct(lit(j).as("j"),
            shiftright(col("phash"), 16 * j).bitwiseAND(lit(0xFFFFL))
              .as("band"))): _*)).as("s"))
          .select(col("doc_id"), col("phash"), col("s.j"), col("s.band"))
        val cands = bands
          .select(col("j"), col("band"), col("doc_id").as("a_id"), col("phash").as("ah"))
          .join(bands.select(col("j"), col("band"), col("doc_id").as("b_id"),
            col("phash").as("bh")), Seq("j", "band"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id", "ah", "bh").distinct()
        cands
          .withColumn("hamming", expr("bit_count(ah ^ bh)").cast("long"))
          .filter(col("hamming") <= 3)
          .select("a_id", "b_id", "hamming")
          .orderBy("a_id", "b_id")
      },
      s"""$phashCte
         |SELECT a.id AS a_id, b.id AS b_id,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM ph a JOIN ph b ON a.id < b.id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin),

    // Shot-boundary (scene-cut) detection over the decoded video frames —
    // the standard frame-differencing detector (|Δ brightness| over a
    // per-pixel threshold; the sampling decision behind "one keyframe per
    // shot" in video curation): consecutive-frame brightness deltas from
    // the REAL parsed P6 stream (parsePpmFrames walks the actual bytes —
    // a header/offset bug changes every sum), cut when |Δsum| exceeds
    // 8 units per pixel-channel — all exact integers, frame dims constant
    // within a stream so the sum delta IS the mean delta scaled by w·h·3.
    // Per-video lag window (partition-parallel); the oracle replays the
    // pixel formula and the same lag. Frame 0 of each video has no
    // predecessor and is excluded (the lag-null convention).
    "multimodal_scene_cut" -> QueryDef(
      (s, d) => {
        val fr = Multimodal.decodeFrames(
          Multimodal.synthMedia(t(s, d, "documents"))).toDF()
        val w = Window.partitionBy("doc_id").orderBy("frame_idx")
        fr.withColumn("prev_sum", lag(col("frame_sum"), 1).over(w))
          .filter(col("prev_sum").isNotNull)
          .withColumn("delta_sum", abs(col("frame_sum") - col("prev_sum")))
          .withColumn("is_cut", col("delta_sum") >
            lit(8L) * col("width") * col("height") * 3)
          .select(col("doc_id"), col("frame_idx"), col("delta_sum"), col("is_cut"))
          .orderBy("doc_id", "frame_idx")
      },
      """WITH v AS (SELECT doc_id AS id, 4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h,
        |                  2 + doc_id % 9 AS f
        |           FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT id, w, h, CAST(unnest(range(0, f)) AS BIGINT) AS fi FROM v),
        |fs AS (SELECT id, w, h, fi,
        |    CAST(list_sum(list_transform(range(0, w * h * 3), j ->
        |      (31 * id + 13 * fi + 7 * j) % 256)) AS BIGINT) AS frame_sum
        |  FROM fr),
        |lg AS (SELECT id, fi, w, h, frame_sum,
        |    lag(frame_sum) OVER (PARTITION BY id ORDER BY fi) AS prev_sum
        |  FROM fs)
        |SELECT id AS doc_id, fi AS frame_idx,
        |  abs(frame_sum - prev_sum) AS delta_sum,
        |  abs(frame_sum - prev_sum) > 8 * w * h * 3 AS is_cut
        |FROM lg WHERE prev_sum IS NOT NULL
        |ORDER BY doc_id, frame_idx""".stripMargin),

    // Deterministic negative sampling over the customer–part interaction
    // set — the contrastive-pair generator every embedding/two-tower
    // trainer needs (Mikolov et al. 2013 §2.2 negative sampling;
    // recommender BPR): per interacting customer, 4 candidate negatives
    // drawn by the shared affine hash over the part-key space, each
    // checked against the TRUE positive set (a hash draw can hit a real
    // interaction — the classic false-negative trap) and flagged rather
    // than silently dropped, so the consumer chooses resample-vs-drop.
    // Never rand(): re-runs and resumed jobs see identical pairs
    // (Shuffle's reproducibility rule). Scale shape: positives shuffle
    // once on (c, p); candidates are a map-side explode off the distinct
    // customer frame; the flag join keys on the same (c, p) — no
    // all-pairs anything; the 1-row part-count broadcasts.
    "negative_sampling" -> QueryDef(
      (s, d) => {
        import graft.ops.llm.Shuffle
        val pos = t(s, d, "orders")
          .select(col("o_custkey").as("c"), col("o_orderkey"))
          .join(t(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey"),
            col("l_partkey").as("p")), "o_orderkey")
          .select("c", "p").distinct()
        val np = t(s, d, "part").agg(max(col("p_partkey")).cast("long").as("np"))
        val cand = pos.select("c").distinct()
          .crossJoin(broadcast(np))
          .select(col("c"),
            explode(array((1 to 4).map(k => lit(k.toLong)): _*)).as("k"), col("np"))
          .withColumn("p",
            (lit(Shuffle.A) * (col("c") * 131 + col("k")) + lit(Shuffle.B))
              % Shuffle.P % col("np") + 1)
        cand.join(pos.withColumn("hit", lit(1L)), Seq("c", "p"), "left_outer")
          .select(col("c"), col("k"), col("p").as("p_neg"),
            col("hit").isNull.as("kept"))
          .orderBy("c", "k")
      },
      {
        import graft.ops.llm.Shuffle
        s"""WITH pos AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |np AS (SELECT CAST(MAX(p_partkey) AS BIGINT) AS np FROM part),
           |cu AS (SELECT DISTINCT c FROM pos),
           |cand AS (SELECT c, CAST(unnest([1, 2, 3, 4]) AS BIGINT) AS k, np
           |  FROM cu CROSS JOIN np),
           |cd AS (SELECT c, k,
           |    (${Shuffle.A} * (c * 131 + k) + ${Shuffle.B})
           |      % ${Shuffle.P} % np + 1 AS p_neg
           |  FROM cand)
           |SELECT cd.c AS c, cd.k AS k, cd.p_neg, pos.p IS NULL AS kept
           |FROM cd LEFT JOIN pos ON pos.c = cd.c AND pos.p = cd.p_neg
           |ORDER BY cd.c, cd.k""".stripMargin
      }),

    // BM25-shaped ranked sparse retrieval — the scoring companion to
    // text_search_bool's boolean conjunctive search (Robertson-Spärck
    // Jones probabilistic ranking; k1=1.2, b=0.75). Everything is exact
    // fixed-point at 1e6 scale so the oracle replays bit-identically:
    // the idf is the RATIONAL Robertson form (2N−2df+1)/(2df+1) — the
    // log in classic BM25 is a monotone transform of exactly this ratio,
    // and ln() is the one function the two engines round differently
    // (the reason lm_score/tfidf are log-free). Query terms are chosen
    // BY RANK from the corpus vocabulary (3rd and 7th most frequent,
    // text_search_bool's no-baked-literals discipline). Scale shape: the
    // 2-row term table broadcasts into the tf scan (prune-first
    // semi-join); dl joins on doc_id (one key shuffle); N and Σdl ride a
    // 1-row broadcast. Overflow audit: tfc6 ≤ 2.2e6; idf6 for a CHOSEN
    // (top-frequency, df≈N) term is ≤ ~3e6, so tfc6·idf6 stays far
    // inside BIGINT at any corpus size — the worst case (df=1 rarities,
    // idf6≈2N·1e6) cannot reach this plan because the rank filter picks
    // head terms by construction.
    "bm25_retrieval" -> QueryDef(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("tok"))
        val tf = toks.groupBy("doc_id", "source", "tok")
          .agg(count(lit(1)).as("tf"))
        val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
        val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
        val wT = Window.orderBy(col("cnt").desc, col("tok"))
        val terms = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(7)
          .withColumn("rk", row_number().over(wT))
          .filter(col("rk") === 3 || col("rk") === 7)
          .select("tok")
        tf.join(broadcast(terms), "tok")
          .join(broadcast(dfq.join(terms, "tok")), "tok")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("k6", lit(300000L) + expr("(900000 * dl * n) div s"))
          .withColumn("tfc6",
            expr("(tf * 2200000 * 1000000) div (tf * 1000000 + k6)"))
          .withColumn("idf6",
            expr("((2 * n - 2 * df + 1) * 1000000) div (2 * df + 1)"))
          .withColumn("term6", expr("(tfc6 * idf6) div 1000000"))
          .groupBy("doc_id", "source")
          .agg(sum(col("term6")).as("score6"), count(lit(1)).as("n_terms"))
          .orderBy(col("score6").desc, col("doc_id")).limit(10)
      },
      """WITH tk AS (SELECT doc_id, source,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tk GROUP BY doc_id, source, tok),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS s FROM dl),
        |tr AS (SELECT tok FROM (
        |    SELECT tok, row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
        |    FROM tk GROUP BY tok) WHERE rk IN (3, 7)),
        |sc AS (SELECT tf.doc_id, tf.source, tf.tf, dfq.df, dl.dl, st.n, st.s
        |  FROM tf JOIN tr USING (tok) JOIN dfq USING (tok)
        |  JOIN dl USING (doc_id) CROSS JOIN st),
        |te AS (SELECT doc_id, source,
        |    (((tf * 2200000 * 1000000) //
        |        (tf * 1000000 + (300000 + (900000 * dl * n) // s))) *
        |     (((2 * n - 2 * df + 1) * 1000000) // (2 * df + 1))) // 1000000 AS term6
        |  FROM sc)
        |SELECT doc_id, source, CAST(SUM(term6) AS BIGINT) AS score6,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM te GROUP BY doc_id, source
        |ORDER BY score6 DESC, doc_id LIMIT 10""".stripMargin),

    // Bigram collocation mining — the PMI screen a tokenizer/phrase
    // pipeline runs to find multi-word units worth merging (Church &
    // Hanks 1990; the statistical cousin of bpe_merge_pairs' frequency
    // rule). Ranking key = the PMI ratio c(ab)·T / (c(a)·c(b)) in a
    // defined integer replay: den = (c_a·c_b) div T floor-guarded to 1,
    // score = (c_ab·1e6) div den — log-free (PMI's log is monotone in
    // the ratio) and overflow-safe (c_a·c_b ≤ T², inside BIGINT through
    // ~3e8-token corpora per shard; wider corpora rescale T the way
    // Shuffle.P documents its prime bound). Shape: bigrams from a
    // per-doc lag window (partition-parallel), then all shuffles carry
    // (token, count) rows only — vocab-sized, never corpus-sized.
    "ngram_pmi" -> QueryDef(
      (s, d) => {
        val tp = t(s, d, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val bg = tp.withColumn("nxt", lead(col("tok"), 1).over(w))
          .filter(col("nxt").isNotNull)
        val cab = bg.groupBy("tok", "nxt").agg(count(lit(1)).as("c_ab"))
        val ca = cab.groupBy("tok").agg(sum(col("c_ab")).as("c_a"))
        val cb = cab.groupBy("nxt").agg(sum(col("c_ab")).as("c_b"))
        val tot = cab.agg(sum(col("c_ab")).as("tot"))
        cab.join(ca, "tok").join(cb, "nxt")
          .crossJoin(broadcast(tot))
          .withColumn("pmi6", expr(
            "(c_ab * 1000000) div greatest((c_a * c_b) div tot, CAST(1 AS BIGINT))"))
          .select(col("tok"), col("nxt"), col("c_ab"), col("c_a"), col("c_b"),
            col("pmi6"))
          .orderBy(col("pmi6").desc, col("tok"), col("nxt")).limit(15)
      },
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(a) - 1)) AS i, a
        |  FROM d WHERE len(a) >= 2),
        |bg AS (SELECT a[i] AS tok, a[i + 1] AS nxt FROM p),
        |cab AS (SELECT tok, nxt, CAST(COUNT(*) AS BIGINT) AS c_ab
        |  FROM bg GROUP BY tok, nxt),
        |ca AS (SELECT tok, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY tok),
        |cb AS (SELECT nxt, CAST(SUM(c_ab) AS BIGINT) AS c_b FROM cab GROUP BY nxt),
        |tt AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS tot FROM cab)
        |SELECT cab.tok, cab.nxt, cab.c_ab, ca.c_a, cb.c_b,
        |  (c_ab * 1000000) // greatest((c_a * c_b) // tot, CAST(1 AS BIGINT)) AS pmi6
        |FROM cab JOIN ca USING (tok) JOIN cb USING (nxt) CROSS JOIN tt
        |ORDER BY pmi6 DESC, tok, nxt LIMIT 15""".stripMargin),

    // T5-style span corruption (Raffel et al. 2020 §3.1.4) made
    // deterministic: each (doc, pos) draws from the shared affine hash —
    // mask when (A·(1000·doc+pos)+B) mod P mod 100 < 15 — consecutive
    // masked tokens collapse into ONE '<X>' sentinel (the span rule),
    // and the masked text is rebuilt order-exactly. Per-doc lag window →
    // partition-parallel; the rebuild is sort_array(collect_list(struct))
    // inside the same per-doc agg, so nothing ever needs a global order.
    // The oracle replays token positions via generate_series + list
    // indexing and the same lag/string_agg — a span-boundary bug (lag
    // null handling, run collapse) breaks the hash match.
    "mask_spans" -> QueryDef(
      (s, d) => {
        import graft.ops.llm.Shuffle
        val tp = t(s, d, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
          .withColumn("m",
            (lit(Shuffle.A) * (col("doc_id") * 1000 + col("pos")) + lit(Shuffle.B))
              % Shuffle.P % 100 < 15)
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val r = tp.withColumn("pm", lag(col("m"), 1).over(w))
          .withColumn("st", col("m") && (col("pm").isNull || !col("pm")))
          .withColumn("emit",
            when(!col("m"), col("tok")).when(col("st"), lit("<X>")))
        r.groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
          sum(when(col("st"), 1L).otherwise(0L)).as("n_spans"),
          array_join(transform(
            sort_array(collect_list(when(col("emit").isNotNull,
              struct(col("pos"), col("emit"))))),
            x => x.getField("emit")), " ").as("masked_text"))
          .orderBy("doc_id")
      },
      {
        import graft.ops.llm.Shuffle
        s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
           |tp AS (SELECT doc_id, unnest(generate_series(1, len(a))) AS i, a
           |  FROM d WHERE len(a) > 0),
           |tk AS (SELECT doc_id, i - 1 AS pos, a[i] AS tok,
           |    ((${Shuffle.A} * (doc_id * 1000 + (i - 1)) + ${Shuffle.B})
           |      % ${Shuffle.P}) % 100 < 15 AS m
           |  FROM tp),
           |r AS (SELECT doc_id, pos, tok, m,
           |    lag(m) OVER (PARTITION BY doc_id ORDER BY pos) AS pm FROM tk),
           |e AS (SELECT doc_id, pos, m,
           |    (m AND (pm IS NULL OR NOT pm)) AS st,
           |    CASE WHEN NOT m THEN tok
           |         WHEN m AND (pm IS NULL OR NOT pm) THEN '<X>' END AS emit
           |  FROM r)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           |  CAST(SUM(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           |  string_agg(emit, ' ' ORDER BY pos) FILTER (WHERE emit IS NOT NULL)
           |    AS masked_text
           |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // Deterministic train/val/test holdout — the split every training
    // run fixes BEFORE any curation so membership never drifts between
    // re-runs (hash-based assignment, never rand()). Bucket = shuffle
    // key mod 97, a PRIME: mod 100 would alias — gcd(A,100)=25, so for
    // dense ids the affine key mod 100 cycles through only 4 residues
    // {23,48,73,98} and the val band is structurally empty (caught by
    // the sf0.001 oracle run; the classic weak-low-digits LCG trap).
    // Mod a prime coprime to A, consecutive ids sweep every residue →
    // 87/5/5 bands ≈ 90/5/5. Emits the per-split audit a pipeline logs:
    // doc and token counts, the bucket range actually hit, and each
    // split's ppm share. Map-only assignment + one 3-group agg; the
    // only window is `sum() over ()` on the 3-row split table.
    "split_holdout" -> QueryDef(
      (s, d) => {
        import graft.ops.llm.Shuffle
        val docs = t(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_toks"))
          .withColumn("bucket", Shuffle.shuffleKey(col("doc_id")) % 97)
          .withColumn("split",
            when(col("bucket") < 87, "train").when(col("bucket") < 92, "val")
              .otherwise("test"))
        docs.groupBy("split").agg(
            count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
            min(col("bucket")).as("min_bucket"), max(col("bucket")).as("max_bucket"))
          .withColumn("share_ppm",
            expr("(n_docs * 1000000) div sum(n_docs) over ()"))
          .orderBy("split")
      },
      {
        import graft.ops.llm.Shuffle
        s"""WITH d AS (SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
           |    ((${Shuffle.A} * (doc_id % ${Shuffle.P}) + ${Shuffle.B})
           |      % ${Shuffle.P}) % 97 AS bucket
           |  FROM documents),
           |s AS (SELECT CASE WHEN bucket < 87 THEN 'train'
           |             WHEN bucket < 92 THEN 'val' ELSE 'test' END AS split,
           |    n_toks, bucket FROM d),
           |g AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           |    CAST(MIN(bucket) AS BIGINT) AS min_bucket,
           |    CAST(MAX(bucket) AS BIGINT) AS max_bucket
           |  FROM s GROUP BY split)
           |SELECT split, n_docs, n_tokens, min_bucket, max_bucket,
           |  (n_docs * 1000000) // CAST(SUM(n_docs) OVER () AS BIGINT) AS share_ppm
           |FROM g ORDER BY split""".stripMargin
      })
  )

  /** Generated oracle for sketch_cms_topk: the sketch rebuilt from the
    * per-token exact counts (weight-summed per bucket — identical to the
    * per-occurrence build by distributivity), probed with the same
    * [[graft.ops.Sketches.cmsRows]] constants the Spark side uses.
    */
  private lazy val cmsTopkOracleSql: String = {
    import graft.ops.Sketches
    val bucketSelects = (0 until Sketches.CmsDepth).map(j =>
      s"SELECT tok, exact_cnt, CAST($j AS BIGINT) AS j, ${Sketches.cmsBucketSql("h", j)} AS bucket FROM hv")
      .mkString("\n UNION ALL ")
    s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |ex AS (SELECT tok, COUNT(*) AS exact_cnt FROM tk GROUP BY tok),
       |hv AS (SELECT tok, exact_cnt, ${duckFold("tok")} AS h FROM ex),
       |pb AS ($bucketSelects),
       |cms AS (SELECT j, bucket, CAST(SUM(exact_cnt) AS BIGINT) AS cnt
       |        FROM pb GROUP BY j, bucket),
       |est AS (SELECT tok, exact_cnt, MIN(cnt) AS est_cnt
       |        FROM pb JOIN cms USING (j, bucket) GROUP BY tok, exact_cnt)
       |SELECT tok, est_cnt, exact_cnt, est_cnt - exact_cnt AS overcount
       |FROM est ORDER BY est_cnt DESC, tok LIMIT 20""".stripMargin
  }

  /** sketch_heavy_change oracle: both half-sketches replayed
    * bucket-for-bucket from the exact per-user half counts (weight-sum
    * per bucket == occurrence-built sketch, the cmsTopkOracleSql
    * identity), the same double-mod key fold, min-over-probes estimates,
    * and the identical midpoint split with the division cleared.
    */
  private lazy val heavyChangeOracleSql: String = {
    import graft.ops.Sketches
    val pb = (0 until Sketches.CmsDepth).map(j =>
      s"SELECT user_id, exact1, exact2, CAST($j AS BIGINT) AS j, ${Sketches.cmsBucketSql("x", j)} AS bucket FROM hv")
      .mkString("\n UNION ALL ")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
       |rng AS (SELECT MIN(tu) AS lo, MAX(tu) AS hi FROM ev),
       |tg AS (SELECT user_id,
       |    CASE WHEN 2 * tu <= lo + hi THEN 1 ELSE 2 END AS half
       |  FROM ev CROSS JOIN rng),
       |ex AS (SELECT user_id,
       |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact1,
       |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS exact2
       |  FROM tg GROUP BY user_id),
       |hv AS (SELECT user_id, exact1, exact2,
       |    ((user_id % ${Sketches.P}) + ${Sketches.P}) % ${Sketches.P} AS x FROM ex),
       |pb AS ($pb),
       |cms1 AS (SELECT j, bucket, CAST(SUM(exact1) AS BIGINT) AS cnt
       |         FROM pb GROUP BY j, bucket),
       |cms2 AS (SELECT j, bucket, CAST(SUM(exact2) AS BIGINT) AS cnt
       |         FROM pb GROUP BY j, bucket),
       |est AS (SELECT user_id, exact1, exact2,
       |    CAST(MIN(c1.cnt) AS BIGINT) AS est1, CAST(MIN(c2.cnt) AS BIGINT) AS est2
       |  FROM pb JOIN cms1 c1 USING (j, bucket) JOIN cms2 c2 USING (j, bucket)
       |  GROUP BY user_id, exact1, exact2)
       |SELECT user_id, est1, est2, est1 - est2 AS diff_est,
       |  exact1, exact2, exact1 - exact2 AS diff_exact
       |FROM est ORDER BY abs(est1 - est2) DESC, user_id LIMIT 20""".stripMargin
  }

  /** The deterministic PII-bearing profile text, Spark side: every
    * interpolated field is an integer or a plain string column, so the
    * concatenation is byte-identical to the SQL mirror (no float
    * formatting).
    */
  private def piiProfileSparkCol: org.apache.spark.sql.Column =
    concat(col("c_name"),
      lit(" acct "), (col("c_custkey") + 9000000L).cast("string"),
      lit(" mail user"), col("c_custkey").cast("string"), lit("@example.com ip 10."),
      (col("c_custkey") % 250).cast("string"), lit(".0.7 seg "), col("c_mktsegment"))

  /** DuckDB mirror of [[piiProfileSparkCol]]. Lazy: `defs` forces
    * [[piiOracleSql]] during object construction, which reads this field —
    * a plain val declared later would still be null at that point.
    */
  private lazy val piiProfileSql: String =
    "c_name || ' acct ' || CAST(c_custkey + 9000000 AS VARCHAR) || " +
      "' mail user' || CAST(c_custkey AS VARCHAR) || '@example.com ip 10.' || " +
      "CAST(c_custkey % 250 AS VARCHAR) || '.0.7 seg ' || c_mktsegment"

  /** Generated oracle for pii_redact: one CTE step per pattern, counting
    * matches on the text state right before that pattern's own replacement
    * — the exact pipeline Curation.piiRedact runs, driven by the same
    * piiPatterns list so the two cannot diverge.
    */
  private lazy val piiOracleSql: String = {
    val steps = graft.ops.llm.Curation.piiPatterns.zipWithIndex.map {
      case ((tag, pat, repl), i) =>
        val prev = s"t$i"
        val prevCols = graft.ops.llm.Curation.piiPatterns.take(i)
          .map { case (tg, _, _) => s"n_$tg" }
        val carry = (Seq("c_custkey") ++ prevCols).mkString(", ")
        s"""t${i + 1} AS (SELECT $carry,
           |  CAST(len(regexp_extract_all(s, '$pat')) AS BIGINT) AS n_$tag,
           |  regexp_replace(s, '$pat', '$repl', 'g') AS s FROM $prev)""".stripMargin
    }
    val lastN = graft.ops.llm.Curation.piiPatterns.size
    val nCols = graft.ops.llm.Curation.piiPatterns.map { case (tg, _, _) => s"n_$tg" }
    s"""WITH t0 AS (SELECT c_custkey, $piiProfileSql AS s FROM customer),
       |${steps.mkString(",\n")}
       |SELECT c_custkey, ${nCols.mkString(", ")}, s AS redacted
       |FROM t$lastN ORDER BY c_custkey""".stripMargin
  }

  /** Generated oracle for curation_pipeline: the five stages as chained
    * CTEs — quality_filter's median fold, the redaction chain generated
    * from the SAME Curation.piiPatterns list the Spark side runs, keep-min
    * dedup of the redacted text, contamination_ngram's gram-overlap CTEs,
    * then the stratified-sample window. Every fragment is the
    * already-oracle-verified form of its stage; only the composition is
    * new.
    */
  private lazy val curationPipelineOracleSql: String = {
    val redChain = graft.ops.llm.Curation.piiPatterns.foldLeft("text") {
      case (acc, (_, pat, repl)) => s"regexp_replace($acc, '$pat', '$repl', 'g')"
    }
    s"""WITH q AS (SELECT doc_id, lang, text,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |           FROM documents
       |           WHERE len(string_split(text, ' ')) IS NOT NULL),
       |h AS (SELECT n_tokens, COUNT(*) AS c FROM q GROUP BY n_tokens),
       |a AS (SELECT n_tokens, SUM(c) OVER (ORDER BY n_tokens) AS cum,
       |        SUM(c) OVER () AS tot FROM h),
       |th AS (SELECT MIN(n_tokens) AS thr FROM a WHERE cum >= (tot + 1) // 2),
       |kept AS (SELECT doc_id, lang, text, n_tokens FROM q, th WHERE n_tokens >= thr),
       |red AS (SELECT doc_id, lang, n_tokens, $redChain AS rtext FROM kept),
       |ded AS (SELECT doc_id, lang, n_tokens FROM (
       |    SELECT doc_id, lang, n_tokens,
       |      row_number() OVER (PARTITION BY lower(trim(rtext)) ORDER BY doc_id) AS rk
       |    FROM red) WHERE rk = 1),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |         generate_series(1, len(toks) - 4),
       |         i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS g
       |       FROM tk WHERE len(toks) >= 5),
       |ev AS (SELECT doc_id AS eval_id, g FROM sh WHERE doc_id % 50 = 0),
       |co AS (SELECT doc_id, g FROM sh WHERE doc_id % 50 <> 0),
       |contam AS (SELECT DISTINCT doc_id FROM (
       |    SELECT co.doc_id, ev.eval_id FROM co JOIN ev USING (g)
       |    GROUP BY co.doc_id, ev.eval_id HAVING COUNT(*) >= 3)),
       |clean AS (SELECT doc_id, lang, n_tokens FROM ded
       |          WHERE doc_id % 50 <> 0
       |            AND doc_id NOT IN (SELECT doc_id FROM contam)),
       |fin AS (SELECT lang, doc_id, n_tokens,
       |          CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rn
       |        FROM clean)
       |SELECT lang, rn, doc_id, n_tokens FROM fin WHERE rn % 10 = 1
       |ORDER BY doc_id""".stripMargin
  }
}
