package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.operators.{Dedup, Pins, Quantization, Similarity}
import graft.sources.Tables

/** Similarity-search and near-dup dedup inventory (training-data
  * pipeline operators) over `embeddings` and `documents`.
  */
object VectorQueries {
  import QueryDef.sql

  /** Shared DuckDB CTE computing exact n-gram Jaccard pairs ≥ 0.8 —
    * ground truth for both the all-pairs query and the LSH variant
    * (LSH+verify recovers the same set: P(miss @ j≥0.9) ≈ 4e-8). */
  private[queries] val jaccardOracle =
    """WITH toks AS (SELECT doc_id, list_filter(string_split(lower(text),' '), t -> t <> '') AS tk FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(tk) >= 3
      |    THEN list_transform(range(1, len(tk)-1), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
      |    ELSE [array_to_string(tk, ' ')] END)) AS shingle FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |j AS (SELECT doc_a, doc_b,
      |    round(inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
      |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b)
      |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  // Brute-force cosine top-10 vs one corpus vector (ANN baseline).
  val q37 = sql(
    "q37_cosine_topk",
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |s AS (SELECT vec_id, label, round(
      |    list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(range(1, len(qe)+1), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))), 6) AS sim
      |  FROM embeddings, q WHERE vec_id <> 0)
      |SELECT vec_id, label, sim FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) {
    (s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L, 10)
  }

  // Exact all-pairs n-gram Jaccard near-dup detection.
  val q38 = sql("q38_ngram_jaccard_pairs", jaccardOracle) { (s, d) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // MinHash+LSH with exact-Jaccard verification — the 100 TB path;
  // verified output must equal the all-pairs ground truth.
  val q39 = sql("q39_minhash_lsh_pairs", jaccardOracle) { (s, d) =>
    Dedup.minhashLshPairs(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The RollingHash64 definition in DuckDB: unsigned 64-bit modular
    * fold over the bytes of `expr` (HUGEINT intermediate). Byte access
    * is `ascii(ch)` — valid because the testdata corpus is pure ASCII
    * (verified), where UTF-8 bytes equal codepoints. */
  private def rollingHashSql(expr: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS HUGEINT),
       |    list_transform(range(1, length($expr)+1), i -> CAST(ascii($expr[i]) AS HUGEINT))),
       |  (acc, b) -> (acc * 1000003 + b) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin

  // SimHash near-dup pairs. The banded (8×8-bit pigeonhole) candidate
  // join guarantees full recall at hamming ≤ 7, so the Spark output
  // must equal the oracle's brute-force all-pairs hamming scan — the
  // same ground-truth pattern as q38/q39. Signature reproduced in
  // DuckDB bit-for-bit from the portable RollingHash64 token hash.
  val q40 = sql(
    "q40_simhash_pairs",
    s"""WITH tw AS (
       |  SELECT doc_id, token, CAST(count(*) AS HUGEINT) AS w FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
       |    FROM documents) u GROUP BY doc_id, token),
       |th AS (SELECT doc_id, w, ${rollingHashSql("token")} AS hu FROM tw),
       |bits AS (
       |  SELECT doc_id, j,
       |    CASE WHEN sum(CASE WHEN (hu // (CAST(1 AS HUGEINT) << j)) % 2 = 1
       |                       THEN w ELSE -w END) > 0
       |         THEN 1 ELSE 0 END AS bit
       |  FROM th CROSS JOIN range(0, 64) r(j) GROUP BY doc_id, j),
       |sig AS (SELECT doc_id, list(bit ORDER BY j) AS bits FROM bits GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(list_sum(list_transform(range(1, 65), i ->
       |      CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 7
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    Dedup.simhashPairs(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Sign-bit LSH bucket id in DuckDB — same integer-deterministic
    * hyperplanes as Vectors.lshBucket(dim=64, nBits=8). */
  private val bucketSql: String = {
    def dotSql(j: Int) =
      s"list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE)" +
        s" * (((((($j*64)+(i-1)) * 2654435761) % 1000)/499.5) - 1.0)))"
    "CAST(" + (0 until 8)
      .map(j => s"(CASE WHEN ${dotSql(j)} >= 0.0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ") + " AS BIGINT)"
  }

  // LSH bucket histogram from integer-deterministic hyperplanes —
  // proves the bucketed-ANN partitioning path end-to-end.
  val q41 = sql(
    "q41_lsh_bucket_histogram",
    s"SELECT bucket, count(*) AS n FROM (SELECT $bucketSql AS bucket FROM embeddings) t " +
      "GROUP BY bucket ORDER BY bucket") { (s, d) =>
    Similarity.withLshBucket(Tables.embeddings(s, d), 64, 8)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  // Bucketed ANN top-5 inside the query's bucket (recall vs cost
  // trade) — oracle rebuilds the same bucket ids and restricts the
  // exact cosine top-k to the query vector's bucket.
  val q42 = sql(
    "q42_bucketed_ann",
    s"""WITH b AS (SELECT vec_id, label, embedding, $bucketSql AS bucket FROM embeddings),
       |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
       |s AS (SELECT vec_id, label, bucket, round(
       |    list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(range(1, len(qe)+1), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))), 6) AS sim
       |  FROM b, q WHERE vec_id <> 0 AND bucket = qb)
       |SELECT vec_id, label, bucket, sim FROM s ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin) {
    (s, d) => Similarity.bucketedTopK(Tables.embeddings(s, d), 64, 8, 0L, 5)
  }

  // Multi-probe LSH ANN under the hash gate: the oracle reconstructs
  // the probe plan itself — per-hyperplane query margins, the
  // (nProbe−1) lowest-|margin| bit flips (ties broken by plane index,
  // matching the stable sort in multiProbeTopK), the XOR'd probe
  // buckets — then takes exact cosine top-k within the probed buckets.
  val q62 = sql(
    "q62_multi_probe_ann", {
      def qDotSql(j: Int) =
        s"list_sum(list_transform(range(1, len(qe)+1), i -> CAST(qe[i] AS DOUBLE)" +
          s" * (((((($j*64)+(i-1)) * 2654435761) % 1000)/499.5) - 1.0)))"
      val mrows = (0 until 8).map(j => s"SELECT $j AS j, ${qDotSql(j)} AS d FROM q")
        .mkString(" UNION ALL ")
      s"""WITH b AS (SELECT vec_id, label, embedding, $bucketSql AS bucket FROM embeddings),
         |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
         |m AS ($mrows),
         |flips AS (SELECT j FROM m ORDER BY abs(d), j LIMIT 2),
         |probes AS (SELECT qb AS pb FROM q UNION SELECT CAST(xor(qb, 1 << j) AS BIGINT) AS pb FROM flips, q),
         |s AS (SELECT vec_id, label, bucket, round(
         |    list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
         |     * sqrt(list_sum(list_transform(range(1, len(qe)+1), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))), 6) AS sim
         |  FROM b, q WHERE vec_id <> 0 AND bucket IN (SELECT pb FROM probes))
         |SELECT vec_id, label, bucket, sim FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, d) =>
    Similarity.multiProbeTopK(Tables.embeddings(s, d), 64, 8, 0L, 10, 3)
  }

  // IVF with full probe must recover the brute-force result exactly —
  // same oracle as q37; partial-probe recall is covered in
  // SimilaritySpec. Runs through the PERSISTED index path: the query
  // builds the index (list_id-partitioned parquet) and the search
  // reads only probed partitions.
  /** Runs `f` against a plain-IVF index (nLists=16) built over the
    * whole corpus in a scratch dir that is deleted after the result
    * materializes — shared by q55/q137. */
  private def withIvfIdx(s: SparkSession, d: String)(
      f: String => DataFrame): DataFrame =
    QueryDef.withScratchDir(s, "graft-ivf") { idx =>
      Similarity.buildIvfIndex(Tables.embeddings(s, d), 16, idx)
      f(idx)
    }

  val q55 = QueryDef("q55_ivf_full_probe", (s, d) => withIvfIdx(s, d) { idx =>
    Similarity.ivfSearchIndexed(s, idx, 16, 0L, 10)
      .select(col("vec_id"), col("label"), col("sim"))
  }, q37.oracle)

  // The incremental-ingestion contract hash-gated: build the IVF index
  // on part of the corpus, UPSERT the rest (plus a re-ingested id),
  // then a full probe must STILL equal the brute-force ground truth —
  // the upsert path produces an index indistinguishable from a fresh
  // build for search purposes.
  val q126 = QueryDef("q126_ivf_upsert_full_probe", (s, d) =>
    QueryDef.withScratchDir(s, "graft-ivfups") { idx =>
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") < 300), 16, idx)
      Similarity.upsertIvfIndex(
        emb.filter(col("vec_id") >= 300)
          .unionByName(emb.filter(col("vec_id") === 7L)), idx)
      Similarity.ivfSearchIndexed(s, idx, 16, 0L, 10)
        .select(col("vec_id"), col("label"), col("sim"))
  }, q37.oracle)

  // The DELETION (takedown/opt-out) contract hash-gated: build the
  // index on part of the corpus, DELETE a deterministic slice — which
  // includes seed-centroid ids, so list geometry must survive losing
  // its seed rows — then upsert the rest, and a full probe must equal
  // brute force over EXACTLY the surviving vectors: deleted rows are
  // unfindable, everything else is undisturbed.
  val q130 = QueryDef("q130_ivf_delete_probe", (s, d) =>
    QueryDef.withScratchDir(s, "graft-ivfdel") { idx =>
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") < 1500), 16, idx)
      Similarity.deleteFromIvfIndex(
        emb.filter(col("vec_id") < 1500 && col("vec_id") % 7 === 3)
          .select(col("vec_id")), idx)
      Similarity.upsertIvfIndex(emb.filter(col("vec_id") >= 1500), idx)
      Similarity.ivfSearchIndexed(s, idx, 16, 0L, 10)
        .select(col("vec_id"), col("label"), col("sim"))
  }, Some(
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |s AS (SELECT vec_id, label, round(
      |    list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(range(1, len(qe)+1), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))), 6) AS sim
      |  FROM embeddings, q
      |  WHERE vec_id <> 0 AND NOT (vec_id < 1500 AND vec_id % 7 = 3))
      |SELECT vec_id, label, sim FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin))

  // Embedding-cosine near-dup with label blocking — exact within the
  // block, so the oracle reproduces it with the same double-precision
  // dot formula.
  val q57 = sql(
    "q57_embedding_neardup",
    """WITH n AS (SELECT vec_id, label, embedding,
      |  sqrt(list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
      |  round(list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
      |    / (a.nrm * b.nrm), 6) AS sim
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, label, sim FROM p WHERE sim >= 0.35
      |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    Dedup.embeddingNearDupPairs(Tables.embeddings(s, d), "label", 0.35)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // Near-dup clusters from the LSH pair list (the keep-one-per-cluster
  // curation step). Oracle: transitive closure via recursive CTE over
  // the exact all-pairs ground truth — the same pair set the LSH path
  // provably recovers (q39).
  val q64 = sql(
    "q64_dup_clusters",
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($jaccardOracle) gt),
       |edges AS MATERIALIZED (SELECT doc_a AS x, doc_b AS y FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT x AS node FROM edges),
       |reach(node, lbl) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.node),
       |cc AS (SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY node)
       |SELECT doc_id, cluster, count(*) OVER (PARTITION BY cluster) AS csize
       |FROM cc ORDER BY doc_id""".stripMargin) { (s, d) =>
    Dedup.dupClusters(
      Dedup.minhashLshPairs(Tables.documents(s, d), col("doc_id"), col("text")))
      .orderBy(col("doc_id"))
  }

  /** Shared DuckDB CTE: per-vector int8 codes + scale (the q75/q76
    * quantizer — identical arithmetic to Quantization.withInt8). */
  private[queries] val quantCte =
    """sc AS (SELECT vec_id, label, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      |  FROM embeddings),
      |q AS (SELECT vec_id, label, embedding, scale,
      |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
      |         ELSE list_transform(embedding, x ->
      |           CAST(least(greatest(floor(CAST(x AS DOUBLE) / scale + 0.5), -127.0), 127.0) AS INT))
      |    END AS q8
      |  FROM sc)""".stripMargin

  // Int8 scalar quantization: per-vector scale, exact integer code
  // sum, and relative reconstruction error in integer ppm. Codes are
  // bit-reproducible across engines (half-up via floor; sqrt is
  // IEEE-exact), so the whole quantizer sits under the hash gate.
  val q75 = sql(
    "q75_int8_quantization",
    s"""WITH $quantCte
       |SELECT vec_id, label, round(scale, 6) AS scale6,
       |  CAST(list_sum(q8) AS BIGINT) AS q8sum,
       |  CAST(floor(1000000.0 * sqrt(list_sum(list_transform(range(1, len(embedding)+1),
       |      i -> (CAST(embedding[i] AS DOUBLE) - q8[i] * scale) * (CAST(embedding[i] AS DOUBLE) - q8[i] * scale))))
       |    / sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
       |    AS BIGINT) AS err_ppm
       |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
    Quantization.withInt8(Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"),
        round(col("scale"), 6).as("scale6"),
        aggregate(col("q8"), lit(0L), (a, x) => a + x).as("q8sum"),
        Quantization.reconErrPpm(col("embedding"), col("q8"), col("scale")).as("err_ppm"))
      .orderBy(col("vec_id"))
  }

  // Quantized brute-force ANN: top-10 by rescaled integer dot vs
  // corpus vector 0 — the cheap first pass of two-stage retrieval.
  // The integer dot is exact, so ordering is unambiguous (ties broken
  // by vec_id).
  val q76 = sql(
    "q76_quantized_ann",
    s"""WITH $quantCte,
       |t AS (SELECT q8 AS tq8, scale AS tscale FROM q WHERE vec_id = 0),
       |s AS (SELECT vec_id, label,
       |    CAST(list_sum(list_transform(range(1, len(q8)+1),
       |      i -> CAST(q8[i] AS BIGINT) * tq8[i])) AS BIGINT) AS qdot_raw,
       |    scale * tscale AS ss
       |  FROM q, t WHERE vec_id <> 0)
       |SELECT vec_id, label, qdot_raw,
       |  round(CAST(qdot_raw AS DOUBLE) * ss, 6) AS simq
       |FROM s ORDER BY CAST(qdot_raw AS DOUBLE) * ss DESC, vec_id LIMIT 10""".stripMargin) {
    (s, d) => Quantization.quantizedTopK(Tables.embeddings(s, d), 0L, 10)
  }

  // Two-stage retrieval: quantized int-dot shortlist (50) → exact
  // cosine re-rank (10). The oracle mirrors the two-stage plan itself
  // (not the brute-force result), so the gate is deterministic even
  // where the shortlist's recall is imperfect; equality with the
  // exact scan is pinned separately in QuantizationSpec.
  val q79 = sql(
    "q79_two_stage_ann",
    s"""WITH $quantCte,
       |t AS (SELECT q8 AS tq8, scale AS tscale, embedding AS qe FROM q WHERE vec_id = 0),
       |sl AS (SELECT vec_id FROM (
       |    SELECT vec_id,
       |      CAST(list_sum(list_transform(range(1, len(q8)+1),
       |        i -> CAST(q8[i] AS BIGINT) * tq8[i])) AS BIGINT) AS qd,
       |      scale * tscale AS ss
       |    FROM q, t WHERE vec_id <> 0) s
       |  ORDER BY CAST(qd AS DOUBLE) * ss DESC, vec_id LIMIT 50),
       |r AS (SELECT e.vec_id, e.label, round(
       |    list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(range(1, len(qe)+1), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))), 6) AS sim
       |  FROM embeddings e JOIN sl USING (vec_id), t)
       |SELECT vec_id, label, sim FROM r ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) {
    (s, d) => Quantization.twoStageTopK(Tables.embeddings(s, d), 0L, 10, 50)
  }

  /** DuckDB replica of Quantization.withUnitInt8 — the PQ code space:
    * unit-L2-normalize, then a FIXED ×127 scale, so integer L2 between
    * codes is monotone in cosine (identical half-up-floor arithmetic;
    * zero-norm vectors code to zeros). */
  private val pqQuantCte =
    """qu AS (SELECT vec_id, label,
      |    CASE WHEN nrm = 0 THEN list_transform(embedding, x -> 0)
      |         ELSE list_transform(embedding, x ->
      |           CAST(least(greatest(floor(CAST(x AS DOUBLE) / nrm * 127.0 + 0.5), -127.0), 127.0) AS INT))
      |    END AS q8
      |  FROM (SELECT vec_id, label, embedding,
      |      sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |    FROM embeddings) n0)""".stripMargin

  /** Shared DuckDB CTEs for product quantization over the unit-int8
    * code space (identical arithmetic to Quantization.pqCodebook /
    * withPqCodes): hash-ordered init sample, `TrainRounds` integer
    * Lloyd refinement rounds REPLAYED IN SQL (argmin assignment with
    * ties to the lowest codeword, per-dimension floor-mean updates,
    * empty cells keep their previous codeword — the q86 move applied
    * per subspace), then the final argmin codes and the query's ADC
    * distance table — every distance a BIGINT, every mean an exact
    * ints-into-IEEE-double floor. m=16 subspaces of 4 dims; kPq=16
    * codewords; query = corpus vector 0. Produces CTEs `codes`
    * (vec_id, j, t) and `adc` (vec_id, adc_dist). */
  /** Integer squared-L2 of subspace j between row alias `v` (full q8)
    * and codebook alias `c` (j, t, cw). */
  private val pqDistSql: String =
    """CAST(list_sum(list_transform(range(1, 5), i ->
      |      CAST(v.q8[c.j*4+i] - c.cw[i] AS BIGINT)
      |        * (v.q8[c.j*4+i] - c.cw[i]))) AS BIGINT)""".stripMargin

  private def pqAssignSql(r: Int, cbr: String, src: String): String =
    s"""pdv$r AS (SELECT v.vec_id, c.j, c.t, $pqDistSql AS d2
       |  FROM $src v CROSS JOIN $cbr c),
       |pas$r AS (SELECT vec_id, j, t FROM (
       |  SELECT vec_id, j, t, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, t) AS rn
       |  FROM pdv$r) z WHERE rn = 1)""".stripMargin

  private def pqUpdateSql(r: Int, cbPrev: String): String =
    s"""pup$r AS (SELECT j, t, list(ci ORDER BY pos) AS cw FROM (
       |  SELECT a.j, a.t, p.pos,
       |    CAST(floor(sum(v.q8[a.j*4+p.pos]) / CAST(count(*) AS DOUBLE)) AS INT) AS ci
       |  FROM pas$r a JOIN tsr v USING (vec_id) CROSS JOIN range(1, 5) p(pos)
       |  GROUP BY a.j, a.t, p.pos) g GROUP BY j, t),
       |pcb$r AS (SELECT c.j, c.t, coalesce(u.cw, c.cw) AS cw
       |  FROM $cbPrev c LEFT JOIN pup$r u ON u.j = c.j AND u.t = c.t)""".stripMargin

  private val PqTrainRounds = 2
  private val PqTrainSample = 4096

  private val pqCtes: String = {
    val hs = CurationQueries.signedSql(
      CurationQueries.uSql("md5('pqcb' || CAST(vec_id AS VARCHAR))"))
    // tsr = the bounded Lloyd TRAINING SET (hash-ordered top-N); the
    // init codewords are its first kPq rows in the same ordering
    val init =
      s"""tsr AS (SELECT vec_id, q8, h FROM (SELECT vec_id, q8, $hs AS h FROM qu) z0
         |  ORDER BY h, vec_id LIMIT $PqTrainSample),
         |cbs AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS t, q8 FROM (
         |  SELECT vec_id, q8 FROM tsr ORDER BY h, vec_id LIMIT 16) s),
         |sp AS (SELECT j FROM range(0, 16) r(j)),
         |pcb0 AS (SELECT s.j, c.t, list_transform(range(1, 5), i -> c.q8[s.j*4+i]) AS cw
         |  FROM cbs c CROSS JOIN sp s)""".stripMargin
    val rounds = (1 to PqTrainRounds).map(r =>
      pqAssignSql(r, s"pcb${r - 1}", "tsr") + ",\n" + pqUpdateSql(r, s"pcb${r - 1}"))
    val fin = PqTrainRounds + 1
    val cbF = s"pcb$PqTrainRounds"
    val tail =
      s"""${pqAssignSql(fin, cbF, "qu")},
         |codes AS (SELECT vec_id, j, t FROM pas$fin),
         |qt AS (SELECT c.j, c.t, $pqDistSql AS d2
         |  FROM (SELECT q8 FROM qu WHERE vec_id = 0) v CROSS JOIN $cbF c),
         |adc AS (SELECT cv.vec_id, CAST(sum(qt.d2) AS BIGINT) AS adc_dist
         |  FROM codes cv JOIN qt ON qt.j = cv.j AND qt.t = cv.t
         |  WHERE cv.vec_id <> 0 GROUP BY cv.vec_id)""".stripMargin
    (init +: rounds :+ tail).mkString(",\n")
  }

  // Product quantization, ADC search: per-subspace argmin codes
  // against a Lloyd-trained codebook, then the query's distance
  // table folded over each vector's codes — all integer-exact, so the
  // oracle replays sampling, BOTH training rounds, encoding AND
  // search under the hash gate.
  val q132 = sql(
    "q132_pq_adc_ann",
    s"""WITH $pqQuantCte,
       |$pqCtes
       |SELECT a.vec_id, v.label, a.adc_dist
       |FROM adc a JOIN qu v USING (vec_id)
       |ORDER BY a.adc_dist, a.vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Quantization.pqAdcTopK(emb, Quantization.pqCodebook(emb), 0L, 10)
  }

  // PQ two-stage: ADC shortlist (100) → exact-cosine re-rank (10) —
  // the IVF-PQ serving shape's refine step. Oracle mirrors the
  // two-stage plan itself (like q79), deterministic regardless of the
  // shortlist's recall.
  val q133 = sql(
    "q133_pq_two_stage",
    s"""WITH $pqQuantCte,
       |$pqCtes,
       |sl AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 100),
       |t2 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |r AS (SELECT e.vec_id, e.label, round(
       |    list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(range(1, len(qe)+1), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))), 6) AS sim
       |  FROM embeddings e JOIN sl USING (vec_id), t2)
       |SELECT vec_id, label, sim FROM r ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) {
    (s, d) =>
      val emb = Tables.embeddings(s, d)
      Quantization.pqTwoStageTopK(emb, Quantization.pqCodebook(emb), 0L, 10, 100)
  }

  // Near-dup REMOVAL — keep one representative per cluster, count the
  // surviving corpus per language. Oracle: transitive closure over the
  // exact ground-truth pairs (q64's CTE), drop non-representatives.
  val q82 = sql(
    "q82_neardup_removal",
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($jaccardOracle) gt),
       |edges AS MATERIALIZED (SELECT doc_a AS x, doc_b AS y FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT x AS node FROM edges),
       |reach(node, lbl) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.node),
       |cc AS (SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY node)
       |SELECT d.lang, count(*) AS n_kept FROM documents d
       |LEFT JOIN cc ON d.doc_id = cc.doc_id
       |WHERE cc.doc_id IS NULL OR cc.cluster = d.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Dedup.keepOnePerCluster(docs, col("doc_id"),
      Dedup.minhashLshPairs(docs, col("doc_id"), col("text")))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Exact-cosine pair stream in DuckDB (norms factored out once, like
    * the Spark side), parameterized by the pair-join condition. */
  private def knnOracle(joinCond: String): String =
    s"""WITH n AS (SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr, round(
       |    list_sum(list_transform(range(1, len(a.embedding)+1),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |    / (a.nrm * b.nrm), 6) AS sim
       |  FROM n a JOIN n b ON $joinCond),
       |r AS (SELECT vec_id, nbr, sim,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr) AS rn FROM p)
       |SELECT vec_id, nbr, sim FROM r WHERE rn <= 5
       |ORDER BY vec_id, sim DESC, nbr""".stripMargin

  // Exact k-NN graph: top-5 neighbors of EVERY vector (the all-pairs
  // baseline; per-node top-k through the custom heap operator, no
  // global sort of the n² pair stream).
  val q95 = sql(
    "q95_knn_graph",
    knnOracle("a.vec_id <> b.vec_id")) { (s, d) =>
    Similarity.knnGraph(Tables.embeddings(s, d), 5)
      .orderBy(col("vec_id"), col("sim").desc, col("nbr"))
  }

  // Blocked k-NN graph: neighbors only within the vector's own LSH
  // bucket — the Σ block² scale path; the oracle replays the bucket
  // assignment and restricts the pair join to equal buckets. The
  // quadratic tail here is INTRINSIC-CLUSTER-bound, not fixable by
  // finer blocking: measured at ×10 (SCALE.md r12), the hot buckets
  // are genuine dense clusters that land on the same side of further
  // refinement hyperplanes too (a 646-row bucket's hottest refined
  // sub-block keeps 343 rows), so the size-capped variant cuts pair
  // volume only 1.3× while adding fixed plan overhead — plain
  // blocking stays the right plan for THIS corpus, and
  // knnGraphBucketedCapped (gated by q142) is the tool for corpora
  // whose hot buckets are hash-collision noise instead.
  val q96 = sql(
    "q96_knn_graph_bucketed", {
      val a = bucketSql.replace("embedding", "a.embedding")
      val b = bucketSql.replace("embedding", "b.embedding")
      knnOracle(s"a.vec_id <> b.vec_id AND $a = $b")
    }) { (s, d) =>
    Similarity.knnGraph(Tables.embeddings(s, d), 5,
      Some(Vectors.lshBucket(col("embedding"), 64, 8)))
      .orderBy(col("vec_id"), col("sim").desc, col("nbr"))
  }

  // Embedding-health dimension stats over the int8 codes — exact
  // BIGINT sums/sumsqs per dimension (dead dims, range collapse,
  // scale skew). One posexplode + one (dim)-keyed aggregation with
  // map-side combine; d=64 keys, so the shuffle is trivial at any
  // corpus size.
  val q104 = sql(
    "q104_embedding_dim_stats",
    s"""WITH $quantCte,
       |x AS (SELECT unnest(q8) AS x, unnest(range(1, len(q8)+1)) AS i FROM q)
       |SELECT CAST(i - 1 AS BIGINT) AS dim, count(*) AS n,
       |  CAST(sum(x) AS BIGINT) AS sum_q,
       |  CAST(sum(CAST(x AS BIGINT) * x) AS BIGINT) AS sumsq_q,
       |  min(x) AS min_q, max(x) AS max_q
       |FROM x GROUP BY i ORDER BY dim""".stripMargin) { (s, d) =>
    Quantization.withInt8(Tables.embeddings(s, d))
      .select(posexplode(col("q8")).as(Seq("pos", "x")))
      .groupBy(col("pos").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_q"),
        sum(col("x").cast("long") * col("x")).as("sumsq_q"),
        min(col("x")).as("min_q"), max(col("x")).as("max_q"))
      .orderBy(col("dim"))
  }

  // Incremental near-dup detection (Dedup.incrementalLshPairs): the
  // per-crawl-round form — every verified pair with ≥1 member in the
  // "new" batch (doc_id % 3 ≠ 0 plays the new side), never old×old.
  // Oracle: the exact all-pairs ground truth restricted the same way
  // (the q39-proven LSH==truth equivalence carries over: any pair
  // with a new member surfaces from the new side's banding).
  val q117 = sql(
    "q117_incremental_neardup", {
      s"""WITH gt AS (SELECT doc_a, doc_b, jaccard FROM ($jaccardOracle) g)
         |SELECT doc_a, doc_b, jaccard FROM gt
         |WHERE doc_a % 3 <> 0 OR doc_b % 3 <> 0
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, d) =>
    val docs = Tables.documents(s, d)
    graft.operators.Dedup.incrementalLshPairs(
      docs.filter(col("doc_id") % 3 =!= 0),
      docs.filter(col("doc_id") % 3 === 0),
      col("doc_id"), col("text"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // The full persisted-LSH-index lifecycle hash-gated — write, upsert,
  // DELETE (takedown), then incremental detection for a probe batch:
  // the pair set must equal ground truth over exactly (index survivors
  // ∪ probe batch) with at least one probe endpoint — deleted docs
  // stop matching, everything else is undisturbed. Exercises the
  // partial-commit carry chain end-to-end (3 commits deep).
  val q131 = sql(
    "q131_lsh_delete_incremental", {
      s"""WITH gt AS (SELECT doc_a, doc_b, jaccard FROM ($jaccardOracle) g)
         |SELECT doc_a, doc_b, jaccard FROM gt
         |WHERE (doc_a % 3 = 2 OR doc_b % 3 = 2)
         |  AND (doc_a % 3 = 2 OR doc_a % 5 <> 2)
         |  AND (doc_b % 3 = 2 OR doc_b % 5 <> 2)
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, d) =>
    val docs = Tables.documents(s, d)
    QueryDef.withScratchDir(s, "graft-lshdel") { idx =>
      Dedup.writeLshIndex(
        docs.filter(col("doc_id") % 3 === 0), col("doc_id"), col("text"), idx)
      Dedup.upsertLshIndex(
        docs.filter(col("doc_id") % 3 === 1), col("doc_id"), col("text"), idx)
      Dedup.deleteFromLshIndex(
        docs.filter(col("doc_id") % 3 =!= 2 && col("doc_id") % 5 === 2)
          .select(col("doc_id")), idx)
      Dedup.incrementalLshPairsIndexed(
        docs.filter(col("doc_id") % 3 === 2), col("doc_id"), col("text"), idx)
        .orderBy(col("doc_a"), col("doc_b"))
    }
  }

  // Hybrid retrieval: BM25 lexical top-10 (q93) + dense cosine top-10
  // (q37) fused by reciprocal-rank fusion — the standard lexical+dense
  // combiner (Cormack et al. 2009). The oracle composes the two
  // already-verified oracle queries and replays the fusion; the
  // documents/embeddings tables share the 0..n id space, so vec_id IS
  // the doc id.
  val q122 = sql(
    "q122_hybrid_retrieval", {
      s"""WITH bm AS (SELECT doc_id AS id, score FROM (${TextQueries.q93.oracle.get}) b),
         |ann AS (SELECT vec_id AS id, sim AS score FROM (${q37.oracle.get}) a),
         |bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r FROM bm),
         |annr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r FROM ann),
         |u AS (SELECT id, 1.0 / (60 + r) AS c FROM bmr
         |      UNION ALL SELECT id, 1.0 / (60 + r) AS c FROM annr)
         |SELECT id AS doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS rrf_score,
         |  CAST(count(*) AS BIGINT) AS n_lists
         |FROM u GROUP BY id
         |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin
    }) { (s, d) =>
    val bm = graft.functions.Text.bm25TopK(Tables.documents(s, d),
      col("doc_id"), col("text"), Seq("join", "hash", "spark", "window"))
      .select(col("doc_id").as("id"), col("score"))
    val ann = Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L, 10)
      .select(col("vec_id").as("id"), col("sim").as("score"))
    Similarity.rrfFuse(Seq(bm, ann), "id", "score")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  // Weighted RRF — q122's fusion with per-list credit (0.7 lexical /
  // 0.3 dense, the BM25-heavy production norm). Each contribution is
  // still one IEEE division (w / (k0+r)), unrolled identically in the
  // oracle, so the fused doubles hash-match across engines.
  val q128 = sql(
    "q128_weighted_hybrid", {
      s"""WITH bm AS (SELECT doc_id AS id, score FROM (${TextQueries.q93.oracle.get}) b),
         |ann AS (SELECT vec_id AS id, sim AS score FROM (${q37.oracle.get}) a),
         |bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r FROM bm),
         |annr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r FROM ann),
         |u AS (SELECT id, 0.7 / (60 + r) AS c FROM bmr
         |      UNION ALL SELECT id, 0.3 / (60 + r) AS c FROM annr)
         |SELECT id AS doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS rrf_score,
         |  CAST(count(*) AS BIGINT) AS n_lists
         |FROM u GROUP BY id
         |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin
    }) { (s, d) =>
    val bm = graft.functions.Text.bm25TopK(Tables.documents(s, d),
      col("doc_id"), col("text"), Seq("join", "hash", "spark", "window"))
      .select(col("doc_id").as("id"), col("score"))
    val ann = Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L, 10)
      .select(col("vec_id").as("id"), col("sim").as("score"))
    Similarity.rrfFuse(Seq(bm, ann), "id", "score", weights = Seq(0.7, 0.3))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  /** The q37 cosine formula as a SQL fragment over two list columns. */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(range(1, len($b)+1), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin

  // IVF-PQ: the full serving composition under the hash gate — the
  // oracle replays ALL FOUR stages in SQL: seeded assignment (q55's
  // geometry), partial probe selection (q62's reconstruct-the-probe-
  // plan move, nProbe=4 of 16 lists), integer-exact ADC within the
  // probed members, and the exact-cosine re-rank of the shortlist.
  val q134 = sql(
    "q134_ivf_pq", {
      s"""WITH $pqQuantCte,
         |$pqCtes,
         |p0 AS (SELECT greatest(1, count(*) // 16) AS stride FROM embeddings),
         |cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb
         |  FROM embeddings, p0 WHERE vec_id % p0.stride = 0 AND vec_id < p0.stride * 16),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |asg0 AS (SELECT e.vec_id, c.centroid_id,
         |    ${cosSql("e.embedding", "c.c_emb")} AS c_sim
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT vec_id, centroid_id AS list_id FROM (
         |  SELECT vec_id, centroid_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rn
         |  FROM asg0) z WHERE rn = 1),
         |pl AS (SELECT centroid_id AS probe_list FROM (
         |    SELECT c.centroid_id, ${cosSql("c.c_emb", "qe")} AS cs FROM cents c, qv) t
         |  ORDER BY cs DESC, centroid_id LIMIT 4),
         |members AS (SELECT a.vec_id FROM asg a JOIN pl ON a.list_id = pl.probe_list),
         |sl AS (SELECT adc.vec_id FROM adc JOIN members USING (vec_id)
         |  ORDER BY adc.adc_dist, adc.vec_id LIMIT 100),
         |r AS (SELECT e.vec_id, e.label,
         |    round(${cosSql("e.embedding", "qe")}, 6) AS sim
         |  FROM embeddings e JOIN sl USING (vec_id), qv)
         |SELECT vec_id, label, sim FROM r ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.ivfPqTopK(emb, 16, 4, Quantization.pqCodebook(emb), 0L, 10, 100)
  }

  // PERSISTED IVF-PQ: q134's composition served from the on-disk
  // index — codebook + per-vector codes are member tables of the
  // VersionedIndex layout, the ADC stage scans 16-byte codes from the
  // probed list partitions only (LayoutSpec pins the plan), and the
  // result must be IDENTICAL to the ad-hoc composition, so the oracle
  // is q134's four-stage replay, unchanged (the q55-vs-q37 move).
  /** Runs `f` against an IVF-PQ index (nLists=16) built over the
    * whole corpus in a scratch dir that is deleted after the result
    * materializes — shared by q135/q136/q141/q144. */
  private def withIvfPqIdx(s: SparkSession, d: String)(
      f: String => DataFrame): DataFrame =
    QueryDef.withScratchDir(s, "graft-ivfpq") { idx =>
      Similarity.buildIvfPqIndex(Tables.embeddings(s, d), 16, idx)
      f(idx)
    }

  val q135 = QueryDef("q135_ivf_pq_indexed", (s, d) => withIvfPqIdx(s, d) { idx =>
    Similarity.ivfPqSearchIndexed(s, idx, 4, 0L, 10, 100)
      .select(col("vec_id"), col("label"), col("sim"))
  }, q134.oracle)

  // BATCHED IVF-PQ serving: the whole query set {0,3,7,11} as ONE
  // declarative plan over the persisted index (no per-query driver
  // round-trips). Oracle: q134's four-stage replay generalized per
  // query — probe selection, ADC and re-rank all carry query_id, so
  // the hash gate pins batch == per-query-loop row-for-row.
  /** Shared batch-serving oracle CTEs: the stride-seeded IVF geometry
    * (q134's cents/asg), the query set, and PER-QUERY probe selection —
    * produces `asg` (vec_id, list_id), `qemb` (query_id, qe), `plb`
    * (query_id, probe_list) and `memb` (query_id, vec_id). */
  private def ivfBatchProbeCtes(qids: String, nProbe: Int): String =
    s"""p0 AS (SELECT greatest(1, count(*) // 16) AS stride FROM embeddings),
       |cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb
       |  FROM embeddings, p0 WHERE vec_id % p0.stride = 0 AND vec_id < p0.stride * 16),
       |asg0 AS (SELECT e.vec_id, c.centroid_id,
       |    ${cosSql("e.embedding", "c.c_emb")} AS c_sim
       |  FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, centroid_id AS list_id FROM (
       |  SELECT vec_id, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rn
       |  FROM asg0) z WHERE rn = 1),
       |qemb AS (SELECT vec_id AS query_id, embedding AS qe
       |  FROM embeddings WHERE vec_id IN $qids),
       |plb AS (SELECT query_id, centroid_id AS probe_list FROM (
       |  SELECT q.query_id, c.centroid_id, row_number() OVER (
       |      PARTITION BY q.query_id
       |      ORDER BY ${cosSql("c.c_emb", "q.qe")} DESC, c.centroid_id) AS rn
       |  FROM cents c CROSS JOIN qemb q) z WHERE rn <= $nProbe),
       |memb AS (SELECT p.query_id, a.vec_id
       |  FROM asg a JOIN plb p ON a.list_id = p.probe_list)""".stripMargin

  val q136 = sql(
    "q136_ivf_pq_batch", {
      val qids = "(0, 3, 7, 11)"
      s"""WITH $pqQuantCte,
         |$pqCtes,
         |${ivfBatchProbeCtes(qids, 4)},
         |qtb AS (SELECT v.query_id, c.j, c.t, $pqDistSql AS d2
         |  FROM (SELECT vec_id AS query_id, q8 FROM qu WHERE vec_id IN $qids) v
         |  CROSS JOIN pcb$PqTrainRounds c),
         |adcb AS (SELECT m.query_id, cv.vec_id, CAST(sum(q.d2) AS BIGINT) AS adc_dist
         |  FROM codes cv JOIN memb m ON m.vec_id = cv.vec_id
         |  JOIN qtb q ON q.query_id = m.query_id AND q.j = cv.j AND q.t = cv.t
         |  WHERE cv.vec_id <> m.query_id
         |  GROUP BY m.query_id, cv.vec_id),
         |slb AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
         |  FROM adcb) z WHERE rn <= 100),
         |rb AS (SELECT s.query_id, e.vec_id, e.label,
         |    round(${cosSql("e.embedding", "q.qe")}, 6) AS sim
         |  FROM embeddings e JOIN slb s ON e.vec_id = s.vec_id
         |  JOIN qemb q ON q.query_id = s.query_id)
         |SELECT query_id, vec_id, label, sim FROM (
         |  SELECT query_id, vec_id, label, sim, row_number() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM rb) z WHERE rn <= 10
         |ORDER BY query_id, sim DESC, vec_id""".stripMargin
    }) { (s, d) =>
    val queries = Tables.embeddings(s, d)
      .filter(col("vec_id").isin(0L, 3L, 7L, 11L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    withIvfPqIdx(s, d)(Similarity.ivfPqSearchIndexedBatch(s, _, 4, queries, 10, 100))
  }

  // BATCHED plain-IVF serving over q55's persisted index: the same
  // one-plan-for-all-queries shape minus the ADC stage (exact cosine
  // over every probed member). Oracle: probe selection + membership +
  // re-rank per query on the stride-seeded geometry.
  val q137 = sql(
    "q137_ivf_batch", {
      s"""WITH ${ivfBatchProbeCtes("(0, 3, 7, 11)", 4)},
         |rb AS (SELECT m.query_id, e.vec_id, e.label,
         |    round(${cosSql("e.embedding", "q.qe")}, 6) AS sim
         |  FROM embeddings e JOIN memb m ON e.vec_id = m.vec_id
         |  JOIN qemb q ON q.query_id = m.query_id
         |  WHERE e.vec_id <> m.query_id)
         |SELECT query_id, vec_id, label, sim FROM (
         |  SELECT query_id, vec_id, label, sim, row_number() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM rb) z WHERE rn <= 10
         |ORDER BY query_id, sim DESC, vec_id""".stripMargin
    }) { (s, d) =>
    val queries = Tables.embeddings(s, d)
      .filter(col("vec_id").isin(0L, 3L, 7L, 11L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    // q55's index shape (same geometry, nLists=16)
    withIvfIdx(s, d)(Similarity.ivfSearchIndexedBatch(s, _, 4, queries, 10))
  }

  // Johnson-Lindenstrauss projected-space retrieval: embeddings
  // shrink 64→16 dims through the deterministic hyperplane projection
  // (the sign-bit LSH planes WITH magnitudes, JL-normalized), then
  // cosine top-10 runs in the projected space. Oracle replays the
  // integer hyperplane formula, the projection, and the search — the
  // pattern every 100 TB-wide-embedding pipeline uses before
  // clustering/blocking passes.
  val q139 = sql(
    "q139_jl_projection_topk", {
      val proj =
        """list_transform(range(0, 16), j ->
          |      round(list_sum(list_transform(range(1, 65), i ->
          |        CAST(embedding[i] AS DOUBLE) *
          |          ((((j*64 + (i-1)) * 2654435761) % 1000) / 499.5 - 1.0)))
          |        / sqrt(16.0), 6))""".stripMargin
      s"""WITH pr AS (SELECT vec_id, label, $proj AS p FROM embeddings),
         |qv AS (SELECT p AS qp FROM pr WHERE vec_id = 0),
         |s AS (SELECT vec_id, label, round(${cosSql("p", "qp")}, 6) AS sim
         |  FROM pr, qv WHERE vec_id <> 0)
         |SELECT vec_id, label, sim FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, d) =>
    import graft.functions.Vectors
    graft.plans.GraftFunctions.register(s)
    val pr = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        Vectors.randomProject(col("embedding"), 64, 16).as("p"))
    val qv = pr.filter(col("vec_id") === 0L).select(col("p").as("qp"))
    pr.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("p"), col("qp")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  // Un-indexed-query serving: the shape a real serving layer calls —
  // a FRESH embedding that is NOT a corpus vec_id, against the
  // persisted IVF-PQ index through Index.open + searchVector (the
  // sentinel query_id −1 rides the batch plan; no corpus row
  // self-excludes). The query vector is the exact float NEGATION of
  // corpus vector 0 — bit-identical in any engine, guaranteed absent
  // from the corpus. Oracle replays all four serving stages for the
  // literal vector: its unit-int8 quantization (half-up rounding is
  // sign-sensitive, so the formula runs on the negated values), probe
  // selection against the stride-seeded geometry, ADC over the probed
  // members with NO self-exclusion, and the exact-cosine re-rank.
  val q141 = sql(
    "q141_search_vector", {
      s"""WITH $pqQuantCte,
         |$pqCtes,
         |qv AS (SELECT list_transform(embedding, x -> -x) AS qe
         |  FROM embeddings WHERE vec_id = 0),
         |qq8 AS (SELECT CASE WHEN nrm = 0 THEN list_transform(qe, x -> 0)
         |    ELSE list_transform(qe, x ->
         |      CAST(least(greatest(floor(CAST(x AS DOUBLE) / nrm * 127.0 + 0.5), -127.0), 127.0) AS INT))
         |    END AS q8
         |  FROM (SELECT qe, sqrt(list_sum(list_transform(qe, x ->
         |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM qv) n0),
         |p0 AS (SELECT greatest(1, count(*) // 16) AS stride FROM embeddings),
         |cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb
         |  FROM embeddings, p0 WHERE vec_id % p0.stride = 0 AND vec_id < p0.stride * 16),
         |asg0 AS (SELECT e.vec_id, c.centroid_id,
         |    ${cosSql("e.embedding", "c.c_emb")} AS c_sim
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT vec_id, centroid_id AS list_id FROM (
         |  SELECT vec_id, centroid_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rn
         |  FROM asg0) z WHERE rn = 1),
         |pl AS (SELECT centroid_id AS probe_list FROM (
         |    SELECT c.centroid_id, ${cosSql("c.c_emb", "qe")} AS cs FROM cents c, qv) t
         |  ORDER BY cs DESC, centroid_id LIMIT 4),
         |memb AS (SELECT a.vec_id FROM asg a JOIN pl ON a.list_id = pl.probe_list),
         |qt2 AS (SELECT c.j, c.t, $pqDistSql AS d2
         |  FROM (SELECT q8 FROM qq8) v CROSS JOIN pcb$PqTrainRounds c),
         |adc2 AS (SELECT cv.vec_id, CAST(sum(q.d2) AS BIGINT) AS adc_dist
         |  FROM codes cv JOIN memb USING (vec_id)
         |  JOIN qt2 q ON q.j = cv.j AND q.t = cv.t
         |  GROUP BY cv.vec_id),
         |sl AS (SELECT vec_id FROM adc2 ORDER BY adc_dist, vec_id LIMIT 100),
         |r AS (SELECT e.vec_id, e.label, round(${cosSql("e.embedding", "qe")}, 6) AS sim
         |  FROM embeddings e JOIN sl USING (vec_id), qv)
         |SELECT vec_id, label, sim FROM r ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, d) =>
    val e0 = Tables.embeddings(s, d).filter(col("vec_id") === 0L)
      .select(col("embedding")).head.getSeq[Float](0)
    withIvfPqIdx(s, d) { idx =>
      graft.operators.Index.open(s, idx)
        .asInstanceOf[graft.operators.Index.IvfPq]
        .searchVector(e0.map(x => -x), 10, 4, 100)
    }
  }

  // Size-capped blocked k-NN with the cap LOW enough (maxBlock=4,
  // maxExtraBits=3) that refinement-bit splitting and Hamming-1
  // multi-probe genuinely engage on the sf0.01 corpus (buckets up to
  // 18 rows → e up to 3) — the capping semantics themselves under the
  // hash gate, complementing q96 where the production-sized cap is
  // output-transparent. The oracle replays the whole construction:
  // bucket sizes → the exact integer e-ladder → refinement sign bits
  // masked to e → the pair predicate "refinement codes differ in at
  // most one bit", expressed engine-portably as
  // xor(sub_a, sub_b) & (xor − 1) = 0 (zero or a power of two).
  val q142 = sql(
    "q142_knn_graph_capped", {
      def planeDot(j: Int, emb: String) =
        s"list_sum(list_transform(range(1, len($emb)+1), i -> CAST($emb[i] AS DOUBLE)" +
          s" * ((((($j*64)+(i-1)) * 2654435761) % 1000)/499.5 - 1.0)))"
      def subSql(emb: String) =
        "CAST(" + (0 until 3).map(j =>
          s"(CASE WHEN $j < e AND ${planeDot(8 + j, emb)} >= 0.0 THEN ${1L << j} ELSE 0 END)")
          .mkString(" + ") + " AS BIGINT)"
      s"""WITH n AS (SELECT vec_id, embedding, $bucketSql AS bucket,
         |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
         |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |sz AS (SELECT bucket, count(*) AS bn FROM n GROUP BY bucket),
         |ez AS (SELECT bucket, CASE WHEN bn <= 4 THEN 0 WHEN bn <= 8 THEN 1
         |    WHEN bn <= 16 THEN 2 ELSE 3 END AS e FROM sz),
         |v AS (SELECT n.vec_id, n.embedding, n.nrm, n.bucket, ez.e,
         |    ${subSql("embedding")} AS sub
         |  FROM n JOIN ez USING (bucket)),
         |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr, round(
         |    list_sum(list_transform(range(1, len(a.embedding)+1),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         |    / (a.nrm * b.nrm), 6) AS sim
         |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |    AND (xor(a.sub, b.sub) & (xor(a.sub, b.sub) - 1)) = 0),
         |r AS (SELECT vec_id, nbr, sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr) AS rn FROM p)
         |SELECT vec_id, nbr, sim FROM r WHERE rn <= 5
         |ORDER BY vec_id, sim DESC, nbr""".stripMargin
    }) { (s, d) =>
    Similarity.knnGraphBucketedCapped(Tables.embeddings(s, d), 5, 64, 8,
        maxBlock = 4, maxExtraBits = 3)
      .orderBy(col("vec_id"), col("sim").desc, col("nbr"))
  }

  // The AUTO-shortlist serving path end-to-end: q136's batched IVF-PQ
  // serving through `Index.open` with the shortlist DERIVED by the
  // handle (Similarity.autoShortlist from the maintained list_sizes
  // histogram) instead of passed explicitly. The oracle is q136's
  // four-stage replay with the shortlist literal replaced by the
  // arithmetic itself — ceil(n·nProbe/nLists / 8) clamped to
  // [100, 10⁴] and ≥ k, computed from count(*) in SQL — so the gate
  // breaks if the derivation ever drifts from the oracle's integer
  // formula (at the driver SFs the floor arm is active: n·4/16/8 < 100
  // for n ≤ 12800; the ratio arm is pinned by QuantizationSpec's
  // recall ladder at both measured SFs).
  val q144 = sql(
    "q144_ivf_pq_auto_shortlist", {
      val base = q136.oracle.get
      require(base.startsWith("WITH ") && base.contains("rn <= 100"),
        "q136 oracle shape changed — revisit the q144 injection")
      val autoCte =
        """auto AS (SELECT greatest(10, least(greatest(
          |    CAST(ceil((CAST(count(*) AS DOUBLE) * 4 / 16) / 8) AS BIGINT),
          |    100), 10000)) AS sl FROM embeddings),
          |""".stripMargin
      "WITH " + autoCte + base.substring("WITH ".length)
        .replace("rn <= 100", "rn <= (SELECT sl FROM auto)")
    }) { (s, d) =>
    val queries = Tables.embeddings(s, d)
      .filter(col("vec_id").isin(0L, 3L, 7L, 11L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    withIvfPqIdx(s, d) { idx =>
      graft.operators.Index.open(s, idx)
        .asInstanceOf[graft.operators.Index.IvfPq]
        .searchBatch(queries, 10, 4) // shortlist: the handle's derived default
    }
  }

  /** The recursive transitive-closure tail every CC-gated oracle
    * shares (q149, q150): undirected edges over a prepared
    * `pr(va, vb)` pair CTE, the recursive reach, min-label
    * components, and the windowed csize projection. ONE definition so
    * the next CC-gated query cannot drift its closure semantics (r15
    * verdict #5). The pre-recursion CTEs stay AS MATERIALIZED —
    * DuckDB re-evaluates plain CTEs referenced from a RECURSIVE term
    * PER ITERATION (q150's three sketch constructions OOM'd 4/5 runs
    * before materialization, r15). Callers end their own CTE list
    * with `pr AS MATERIALIZED (…),` and append this. */
  private def ccClosureSql: String =
    """edges AS MATERIALIZED (SELECT va AS x, vb AS y FROM pr UNION SELECT vb, va FROM pr),
      |nodes AS MATERIALIZED (SELECT DISTINCT x AS node FROM edges),
      |reach(node, lbl) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.node),
      |cc AS (SELECT node AS vec_id, min(lbl) AS cluster FROM reach GROUP BY node)
      |SELECT vec_id, cluster, count(*) OVER (PARTITION BY cluster) AS csize
      |FROM cc ORDER BY vec_id""".stripMargin

  /** Shared sorted-sketch replay CTEs (q143/q146/q149–q151):
    * canonical 32-bit sign code, each table's bit permutation
    * (generated from the SAME Scala `Similarity.bitOrder` the
    * operator uses), per-table (code, vec_id) ranks, window-adjacency
    * pair sets union-deduped, and the exact-cosine pass — ending with
    * `p` = (va, vb, sim). `prefix` namespaces every CTE (`n`, `rk$t`,
    * `cand`, `p` → `${prefix}n`, …) so one oracle can replay the
    * construction over several corpus restrictions side by side
    * (q150's rounds). */
  /** The canonical nBits sign-code in DuckDB SQL — the plane-dot
    * kernel (`Vectors.lshBucket`) re-derived: shared by the
    * sorted-sketch replays and the flip-rate replay (q152) so the
    * code definition cannot fork between oracles. */
  private def canonSql(nBits: Int): String = {
    def dotSql(j: Int) =
      s"list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE)" +
        s" * (((((($j*64)+(i-1)) * 2654435761) % 1000)/499.5) - 1.0)))"
    "CAST(" + (0 until nBits)
      .map(j => s"(CASE WHEN ${dotSql(j)} >= 0.0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ") + " AS BIGINT)"
  }

  private def sortedSketchCtes(nBits: Int, tables: Int, window: Int,
      where: String = "", prefix: String = ""): String = {
    def codeSql(t: Int) = "(" + Similarity.bitOrder(t, nBits).zipWithIndex
      .map { case (j, r) => s"((canon >> $j) & 1) * ${1L << (nBits - 1 - r)}" }
      .mkString(" + ") + ")"
    val rks = (0 until tables).map(t =>
      s"""${prefix}rk$t AS (SELECT vec_id, row_number() OVER (ORDER BY ${codeSql(t)}, vec_id) AS rn FROM ${prefix}n)""")
      .mkString(",\n")
    val cands = (0 until tables).map(t =>
      s"""SELECT least(a.vec_id, b.vec_id) AS va, greatest(a.vec_id, b.vec_id) AS vb
         |  FROM ${prefix}rk$t a JOIN ${prefix}rk$t b ON b.rn - a.rn BETWEEN 1 AND $window""".stripMargin)
      .mkString("\nUNION\n") // UNION (not ALL): cross-table pair dedup
    val src = if (where.isEmpty) "embeddings" else s"embeddings WHERE $where"
    s"""${prefix}n AS (SELECT vec_id, embedding, ${canonSql(nBits)} AS canon,
       |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
       |  FROM $src),
       |$rks,
       |${prefix}cand AS ($cands),
       |${prefix}p AS (SELECT c.va, c.vb, round(
       |    list_sum(list_transform(range(1, len(ea.embedding)+1),
       |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
       |    / (ea.nrm * eb.nrm), 6) AS sim
       |  FROM ${prefix}cand c JOIN ${prefix}n ea ON ea.vec_id = c.va JOIN ${prefix}n eb ON eb.vec_id = c.vb)""".stripMargin
  }

  // Approximate k-NN graph via multi-table sorted LSH sketches
  // (knnGraphSorted) — the sub-quadratic graph builder for dense
  // corpora. The oracle replays the WHOLE construction, then the
  // mirrored per-node top-5.
  val q143 = sql(
    "q143_knn_graph_sorted", {
      s"""WITH ${sortedSketchCtes(32, 4, 16)},
         |m AS (SELECT va AS vec_id, vb AS nbr, sim FROM p
         |      UNION ALL SELECT vb, va, sim FROM p),
         |r AS (SELECT vec_id, nbr, sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr) AS rn FROM m)
         |SELECT vec_id, nbr, sim FROM r WHERE rn <= 5
         |ORDER BY vec_id, sim DESC, nbr""".stripMargin
    }) { (s, d) =>
    Similarity.knnGraphSorted(Tables.embeddings(s, d), 5, 64,
        nBits = 32, tables = 4, window = 16)
      .orderBy(col("vec_id"), col("sim").desc, col("nbr"))
  }

  // Block-free embedding near-dup over the same sorted-sketch core
  // (Dedup.embeddingNearDupSorted) — the sub-quadratic alternative to
  // q57's label-blocked exact pairs for corpora with no usable block
  // key. Same replay CTEs, thresholded instead of top-k'd.
  val q146 = sql(
    "q146_embedding_neardup_sorted", {
      s"""WITH ${sortedSketchCtes(32, 4, 16)}
         |SELECT va AS vec_a, vb AS vec_b, sim FROM p WHERE sim >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin
    }) { (s, d) =>
    Dedup.embeddingNearDupSorted(Tables.embeddings(s, d), 0.35, 64,
        nBits = 32, tables = 4, window = 16)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // Per-crawl-round embedding near-dup (embeddingNearDupIncremental)
  // — q117's incremental contract on the vector tier: every >= t pair
  // with >=1 member in the batch (vec_id % 3 = 0 plays the new side),
  // never old x old. The union equals the whole table, so the oracle
  // is q146's full construction plus the incident predicate; the
  // Spark side must produce the identical set while paying kernels
  // only on batch-incident candidates.
  val q147 = sql(
    "q147_embedding_neardup_incremental", {
      s"""WITH ${sortedSketchCtes(32, 4, 16)}
         |SELECT va AS vec_a, vb AS vec_b, sim FROM p
         |WHERE sim >= 0.35 AND (va % 3 = 0 OR vb % 3 = 0)
         |ORDER BY vec_a, vec_b""".stripMargin
    }) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Dedup.embeddingNearDupIncremental(
        emb.filter(col("vec_id") % 3 === 0),
        emb.filter(col("vec_id") % 3 =!= 0),
        0.35, 64, nBits = 32, tables = 4, window = 16)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // The full persisted SKETCH-index lifecycle hash-gated — write,
  // upsert, DELETE (takedown), then per-round detection for a probe
  // batch (the q131 shape on the vector tier): the pair set must
  // equal the sorted-sketch construction over exactly (index
  // survivors ∪ batch) with ≥1 batch endpoint — deleted vectors stop
  // matching, everything else is undisturbed. Exercises the sketch
  // index's partial-commit carry chain end-to-end (3 commits deep).
  // Index = {v : v%3 ∈ {0,1} ∧ v%5 ≠ 2}; batch = {v : v%3 = 2};
  // union ⇔ (v%3 = 2 OR v%5 ≠ 2) — the oracle computes ranks over
  // exactly that restriction, as the Spark union does.
  val q148 = sql(
    "q148_sketch_index_lifecycle", {
      s"""WITH ${sortedSketchCtes(32, 4, 16,
             where = "(vec_id % 3 = 2 OR vec_id % 5 <> 2)")}
         |SELECT va AS vec_a, vb AS vec_b, sim FROM p
         |WHERE sim >= 0.35 AND (va % 3 = 2 OR vb % 3 = 2)
         |ORDER BY vec_a, vec_b""".stripMargin
    }) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    QueryDef.withScratchDir(s, "graft-sketch") { idx =>
      Similarity.writeSketchIndex(
        emb.filter(col("vec_id") % 3 === 0), idx, 64)
      Similarity.upsertSketchIndex(
        emb.filter(col("vec_id") % 3 === 1), idx)
      Similarity.deleteFromSketchIndex(
        emb.filter(col("vec_id") % 3 =!= 2 && col("vec_id") % 5 === 2)
          .select(col("vec_id")), idx)
      Dedup.embeddingNearDupIndexed(
          emb.filter(col("vec_id") % 3 === 2), idx, 0.35)
        .orderBy(col("vec_a"), col("vec_b"))
    }
  }

  // The recommended NOISY-regime sizing (recommendSketch's third row,
  // r16: 10–15% per-bit flips → T=12/w=32) run end to end — which
  // gates the avalanche bit-order tier (tables 8+) through the DuckDB
  // replay: the rotation formula's t≥8 tables were exact DUPLICATES
  // of earlier ones (the r16 ceiling find), so an oracle running
  // twelve tables is exactly the check that the hybrid's upper tier
  // produces real, distinct, engine-replayable permutations. Same
  // exact-verify contract as q146 (precision 1.0 by construction;
  // extra tables can only ADD candidate coverage, so output ⊇ q146's
  // at identical threshold).
  val q151 = sql(
    "q151_neardup_sorted_noisy_sizing", {
      s"""WITH ${sortedSketchCtes(32, 12, 32)}
         |SELECT va AS vec_a, vb AS vec_b, sim FROM p WHERE sim >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin
    }) { (s, d) =>
    Dedup.embeddingNearDupSorted(Tables.embeddings(s, d), 0.35, 64,
        nBits = 32, tables = 12, window = 32)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // The drift estimator's kernel math hash-gated (r17): per-id
  // sign-flip counts between two embedding "versions" — row v's
  // vector vs row v+1's, a deterministic stand-in for a re-embed
  // chosen so BOTH engines read identical parquet floats (no
  // synthetic float arithmetic to round differently) — plus the
  // corpus flip rate through the PRODUCTION estimator itself
  // (Similarity.estimateFlipRate, the number the r17 drift loop
  // persists per upsert and recommendSketch consumes). The oracle
  // re-derives the canonical codes with the shared plane-dot SQL
  // (canonSql — one definition with the sorted-sketch replays). The
  // cross-engine pin is INTEGER-only (flip sum + bit total — r18,
  // advisor fix: a rounded avg() was HALF_UP in Spark vs DuckDB's
  // double rounding, a latent boundary flake); the estimator's
  // DOUBLE scalar is pinned same-engine in SimilaritySpec (r22 —
  // formerly an in-runner require that re-ran the corpus kernel join
  // per invocation), reproducing Average's own sum/count-then-/nBits
  // order so the equality is exact, not epsilon.
  val q152 = sql(
    "q152_flip_rate_replay", {
      s"""WITH n AS (SELECT vec_id, ${canonSql(32)} AS canon FROM embeddings),
         |j AS (SELECT a.vec_id AS vec_id,
         |    CAST(bit_count(xor(a.canon, b.canon)) AS INTEGER) AS flips
         |  FROM n a JOIN n b ON b.vec_id = a.vec_id + 1)
         |SELECT vec_id, flips,
         |  CAST(sum(flips) OVER () AS BIGINT) AS flips_total,
         |  CAST(count(*) OVER () * 32 AS BIGINT) AS bits_total
         |FROM j ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // "re-embedded" versions: id v now carries v+1's vector (shifting
    // the id, not the floats, keeps the construction byte-identical
    // across engines)
    val reemb = emb.select((col("vec_id") - 1).as("vec_id"), col("embedding"))
    def codes(df: org.apache.spark.sql.DataFrame, c: String) = df.select(
      col("vec_id"), Vectors.lshBucket(col("embedding"), 64, 32).as(c))
    // cached: the totals agg and the returned frame share one kernel
    // pass (uncached, the corpus-wide lshBucket join would execute
    // twice); the small result checkpoints eagerly so the cache is
    // released before returning (the ngramJaccardPairs pattern)
    Pins { p =>
      val joined = p.cache(codes(emb, "c0").join(codes(reemb, "c1"), "vec_id")
        .select(col("vec_id"),
          bit_count(col("c0").bitwiseXOR(col("c1"))).cast("int").as("flips")))
      val t = joined.agg(sum(col("flips")), count(lit(1))).head()
      val (fsum, n) = (t.getLong(0), t.getLong(1))
      // r22: the estimateFlipRate-vs-totals pin moved to
      // SimilaritySpec ("estimateFlipRate equals the q152 replay
      // totals ...") — the estimator call re-ran the whole corpus
      // kernel join (plus two sampled dim probes) INSIDE the runner
      // purely to feed a require, a full duplicate pass per
      // invocation (q152 read 3.6 s at 32c, ~1/3 of it that pass).
      // The pinned property is unchanged and still asserted every
      // `sbt test`, on the same real corpus, same-engine.
      joined
        .select(col("vec_id"), col("flips"),
          lit(fsum).as("flips_total"), lit(n * 32).as("bits_total"))
        .orderBy(col("vec_id"))
        .localCheckpoint()
    }
  }

  // Block-less dup clustering: connected components over the sorted-
  // sketch pair stream — q64's curation step for corpora with NO
  // usable block key, at sorted-sketch (sub-quadratic) pair cost. The
  // CC stage is pair-source-agnostic; the r14 funnel measurement
  // (SCALE.md) pins WHEN to choose which feeder: blocked pairs win
  // where a block key exists (2.9 vs 7.8 s at sf0.1), this path is
  // the capability where none does. Oracle: q146's full construction
  // replay + q64's recursive transitive closure.
  val q149 = sql(
    "q149_vector_dup_clusters", {
      s"""WITH RECURSIVE ${sortedSketchCtes(32, 4, 16)},
         |pr AS MATERIALIZED (SELECT va, vb FROM p WHERE sim >= 0.35),
         |""".stripMargin + ccClosureSql
    }) { (s, d) =>
    Dedup.dupClusters(
        Dedup.embeddingNearDupSorted(Tables.embeddings(s, d), 0.35, 64,
          nBits = 32, tables = 4, window = 16),
        a = "vec_a", b = "vec_b")
      .select(col("doc_id").as("vec_id"), col("cluster"), col("csize"))
      .orderBy(col("vec_id"))
  }

  // The PERSISTED-STATE form of q149's block-less dup-cluster funnel —
  // the recurring-deployment shape (r14 backlog #2): per round, pairs
  // come from the persisted sketch index (embeddingNearDupIndexed —
  // O(batch) kernels, q148's contract) and fold into an accumulated
  // cluster state (mergePairsIntoClusters — CC over star(state) ∪ new
  // pairs, a graph-sized edge set), instead of re-hashing the corpus
  // closure per run (q149's measured 3.7× fixed-batch slope). Three
  // rounds: bootstrap {v%3=0} (full sorted-sketch clustering, the
  // one-time cost), round 1 folds {v%3=1} via the index, round 2
  // folds {v%3=2}. Rounds 0–1 and the upserted index build in a
  // scratch dir inside the query (the q148 pattern); the last round is
  // exactly one deployment round: index probe + state fold. The oracle replays
  // each round's pair set over its own corpus restriction (prefixed
  // CTE sets — the union the index held at that round), unions the
  // accumulated pairs, and takes q149's recursive closure: CC over
  // star-compressed prior state equals CC over accumulated pairs
  // (DedupSpec pins the invariant; star hubs are min-id members).
  val q150 = sql(
    "q150_cluster_state_rounds", {
      s"""WITH RECURSIVE ${sortedSketchCtes(32, 4, 16,
             where = "vec_id % 3 = 0", prefix = "r0")},
         |${sortedSketchCtes(32, 4, 16,
             where = "vec_id % 3 <= 1", prefix = "r1")},
         |${sortedSketchCtes(32, 4, 16, prefix = "r2")},
         |pr AS MATERIALIZED (
         |  SELECT va, vb FROM r0p WHERE sim >= 0.35
         |  UNION SELECT va, vb FROM r1p
         |    WHERE sim >= 0.35 AND (va % 3 = 1 OR vb % 3 = 1)
         |  UNION SELECT va, vb FROM r2p
         |    WHERE sim >= 0.35 AND (va % 3 = 2 OR vb % 3 = 2)),
         |""".stripMargin + ccClosureSql
    }) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    QueryDef.withScratchDir(s, "graft-ccstate") { root =>
      val idx = s"$root/idx"
      val st = s"$root/state"
      // round 0: bootstrap — full block-less clustering of the initial
      // corpus + its sketch index (the q149 one-time cost)
      Similarity.writeSketchIndex(
        emb.filter(col("vec_id") % 3 === 0), idx, 64)
      val state0 = Dedup.dupClusters(
        Dedup.embeddingNearDupSorted(emb.filter(col("vec_id") % 3 === 0),
          0.35, 64, nBits = 32, tables = 4, window = 16),
        a = "vec_a", b = "vec_b")
      // round 1: index probe for the batch's pairs, fold, upsert
      val pairs1 = Dedup.embeddingNearDupIndexed(
        emb.filter(col("vec_id") % 3 === 1), idx, 0.35)
      val state1 = Dedup.mergePairsIntoClusters(state0, pairs1,
        a = "vec_a", b = "vec_b")
      Similarity.upsertSketchIndex(emb.filter(col("vec_id") % 3 === 1), idx)
      Dedup.writeClusterState(state1, st)
      // the LIVE round — what every subsequent crawl round costs:
      // O(batch)-kernel pair detection against the persisted index +
      // one fold of graph-sized edges into the persisted state
      val pairs2 = Dedup.embeddingNearDupIndexed(
        emb.filter(col("vec_id") % 3 === 2), idx, 0.35)
      Dedup.mergePairsIntoClusters(
          Dedup.readClusterState(s, st), pairs2,
          a = "vec_a", b = "vec_b")
        .select(col("doc_id").as("vec_id"), col("cluster"), col("csize"))
        .orderBy(col("vec_id"))
    }
  }

  // The centroid-staleness drift loop's kernel math hash-gated (r18,
  // the plain-IVF twin of q152's flip-rate replay): per-vector
  // (assigned list, integer micro-distance) against the stride-seeded
  // 16-list geometry — the same argmax assignment q134/q55's replays
  // already pin (ORDER BY c_sim DESC, centroid_id) plus the drift
  // loop's (1 − round₆(c_sim))·1e6 quantization, reproduced in DuckDB
  // from the shared cosine SQL. r19: the integer derives from the
  // suite's shared ROUND-6 recipe through an exact decimal cast, not
  // a floor of the raw double — flooring at micro granularity put
  // every row on a raw-double boundary where a 1-ulp cross-engine
  // cosine divergence flips the pinned integer (advisor, the q152
  // rounding-boundary class at per-row granularity). The window
  // totals and the integer corpus mean (sum // count — exactly the
  // value a full-corpus ivfDist fold would measure) pin the
  // aggregation chain with INTEGERS only past that one quantization.
  val q153 = sql(
    "q153_centroid_fit_replay", {
      s"""WITH p0 AS (SELECT greatest(1, count(*) // 16) AS stride FROM embeddings),
         |cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb
         |  FROM embeddings, p0 WHERE vec_id % p0.stride = 0 AND vec_id < p0.stride * 16),
         |asg0 AS (SELECT e.vec_id, c.centroid_id,
         |    ${cosSql("e.embedding", "c.c_emb")} AS c_sim
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT vec_id, centroid_id, c_sim FROM (
         |  SELECT vec_id, centroid_id, c_sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rn
         |  FROM asg0) z WHERE rn = 1),
         |f AS (SELECT vec_id, CAST(centroid_id AS BIGINT) AS list_id,
         |    CAST(CAST(1 - round(c_sim, 6) AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS dist_micro
         |  FROM asg)
         |SELECT vec_id, list_id, dist_micro,
         |  CAST(sum(dist_micro) OVER () AS BIGINT) AS dist_total,
         |  CAST(count(*) OVER () AS BIGINT) AS n_rows,
         |  CAST(sum(dist_micro) OVER () // count(*) OVER () AS BIGINT) AS dist_mean
         |FROM f ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
    // cached: the totals agg and the returned frame share one
    // O(n·nLists) assignment pass; eager-checkpoint the (narrow)
    // result, release the cache (the q152/ngramJaccardPairs pattern)
    Pins { p =>
      val fit = p.cache(Similarity.centroidFit(Tables.embeddings(s, d), 16))
      val t = fit.agg(sum(col("dist_micro")), count(lit(1))).head()
      val (dsum, n) = (t.getLong(0), t.getLong(1))
      fit.select(col("vec_id"), col("list_id"), col("dist_micro"),
          lit(dsum).as("dist_total"), lit(n).as("n_rows"),
          lit(dsum / n).as("dist_mean"))
        .orderBy(col("vec_id"))
        .localCheckpoint()
    }
  }

  val all: Seq[QueryDef] = Seq(q37, q38, q39, q40, q41, q42, q55, q57, q62, q64, q75,
    q76, q79, q82, q95, q96, q104, q117, q122, q126, q128, q130, q131, q132, q133,
    q134, q135, q136, q137, q139, q141, q142, q143, q144, q146, q147, q148, q149,
    q150, q151, q152, q153)
}
