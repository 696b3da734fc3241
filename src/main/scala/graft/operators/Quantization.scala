package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Int8 scalar quantization for embedding columns — the memory lever
  * that makes 100 TB-scale ANN serveable: a 64-dim float32 vector
  * (256 B) becomes 64 int8 codes plus one scale (~68 B), a ~3.7×
  * reduction, and candidate scoring becomes INTEGER dot products —
  * exact arithmetic with no float accumulation-order concerns, and
  * SIMD-friendly on every runtime.
  *
  * Scheme: symmetric per-vector max-abs scaling (the FAISS/ONNX SQ8
  * shape): scale = max|v|/127, code_i = clamp(⌊v_i/scale + 0.5⌋,
  * ±127). Half-up via floor — floor of an identical IEEE double is
  * identical in every engine, so codes are bit-reproducible anywhere
  * (banker's rounding is not: engines disagree on ties).
  */
object Quantization {

  /** Adds `scale` (double) and `q8` (array<int>, each in [-127,127]),
    * overwriting columns of those names if present; a null embedding
    * yields null scale/codes (rows pass through, not dropped).
    * ONE native kernel ([[graft.plans.MaxAbsInt8Encode]], a
    * struct-returning codegen'd loop) — the earlier two-step HOF form
    * (array_max column + per-element transform lambdas) was
    * CodegenFallback per element; the kernel's arithmetic is
    * bit-identical on finite float/double inputs (double max-abs,
    * half-up floor, clamp; NaN/Infinity elements raise — corrupt
    * input — and integer-typed arrays fail analysis). */
  def withInt8(emb: DataFrame, v: String = "embedding"): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    // collision-safe temp: only `scale`/`q8` may be overwritten
    val tmp = Iterator.from(0).map(i => s"_q8s$i")
      .find(n => !emb.columns.contains(n)).get
    emb.withColumn(tmp, graft.plans.GraftFunctions.maxAbsInt8(col(v)))
      .withColumn("scale", col(tmp).getField("scale"))
      .withColumn("q8", col(tmp).getField("q8"))
      .drop(tmp)
  }

  /** Exact integer dot product of two int8 code arrays (no overflow:
    * d·127² needs only ~24+log₂(d) bits). Multiply by scaleA·scaleB to
    * recover the approximate float dot. */
  def qdot(a: Column, b: Column): Column =
    graft.plans.GraftFunctions.qdot(a, b)

  /** Per-vector relative reconstruction error, integer ppm:
    * ⌊1e6 · ‖v − q·s‖ / ‖v‖⌋. sqrt is IEEE-correctly-rounded (unlike
    * libm log/exp), and floor discretizes exactly, so the value is
    * engine-identical. */
  def reconErrPpm(v: Column, q8: Column, scale: Column): Column = {
    val sse = aggregate(
      zip_with(v, q8, (x, q) =>
        (x.cast("double") - q.cast("double") * scale) *
          (x.cast("double") - q.cast("double") * scale)),
      lit(0.0), (acc, x) => acc + x)
    val ss = aggregate(transform(v, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    when(ss === 0.0, lit(0L))
      .otherwise(floor(lit(1000000.0) * sqrt(sse) / sqrt(ss)).cast("long"))
  }

  /** Quantized brute-force top-k vs the corpus vector `queryId`:
    * candidates ranked by the rescaled integer dot. The 100 TB shape:
    * the int8 corpus is ~3.7× smaller to scan, the query side is a
    * broadcast single row, and ranking plans as TakeOrderedAndProject.
    * Use as the cheap first pass in a two-stage (quantized scan →
    * exact re-rank of the shortlist) retrieval. */
  /** Two-stage retrieval: quantized integer-dot scan selects a
    * `shortlist`-sized candidate set, then ONLY those candidates are
    * re-ranked with exact float cosine. At 100 TB the expensive exact
    * pass touches `shortlist` rows instead of the corpus; with a
    * shortlist ~5× k the result matches the exact scan in practice
    * (QuantizationSpec pins it on the testdata), and the operator's
    * own semantics — "exact rerank of the quantized shortlist" — are
    * deterministic regardless. */
  def twoStageTopK(emb: DataFrame, queryId: Long, k: Int, shortlist: Int): DataFrame = {
    import graft.functions.Vectors
    val candidates = quantizedTopK(emb, queryId, shortlist).select("vec_id")
    val target = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    emb.join(broadcast(candidates), "vec_id")
      .crossJoin(broadcast(target))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  def quantizedTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    val q = withInt8(emb)
    val target = q.filter(col("vec_id") === queryId)
      .select(col("q8").as("tq8"), col("scale").as("tscale"))
    q.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(target))
      .select(col("vec_id"), col("label"),
        qdot(col("q8"), col("tq8")).as("qdot_raw"),
        (col("scale") * col("tscale")).as("_ss"))
      .withColumn("simq", col("qdot_raw").cast("double") * col("_ss"))
      .orderBy(col("simq").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("qdot_raw"),
        round(col("simq"), 6).as("simq"))
  }

  // ──────────────────── product quantization (PQ) ────────────────────

  /** PQ codebook: `m` subspaces × up to `kPq` codewords of
    * `subDim = d/m` ints each; `codes(j)(t)` is codeword t of
    * subspace j. */
  final case class PqCodebook(m: Int, subDim: Int,
      codes: IndexedSeq[IndexedSeq[IndexedSeq[Int]]])

  /** Unit-normalized int8 codes (`q8u`) — the PQ code space: v̂=v/‖v‖₂
    * quantized with a FIXED ×127 scale (unit components lie in
    * [-1,1]), so codes are comparable ACROSS vectors:
    * ‖a_q8u − b_q8u‖² ≈ 127²·(2 − 2·cos(a,b)) — integer L2 here is
    * monotone in cosine up to quantization error, which is what makes
    * ADC a cosine-ANN scorer. (withInt8's per-vector max-abs scale
    * maximizes per-vector reconstruction precision but renders
    * cross-vector L2 meaningless — measured: PQ recall over that
    * space plateaus at 6/10 however wide the shortlist; over this
    * space a 5×k shortlist recovers the exact top-k.) Same half-up
    * floor as withInt8: codes are bit-reproducible in any engine. */
  def withUnitInt8(emb: DataFrame, v: String = "embedding"): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    emb.withColumn("q8u", graft.plans.GraftFunctions.unitInt8(col(v)))
  }

  /** Product-quantization codebook over the INT8 CODE SPACE: each q8
    * vector splits into `m` subvectors; each subspace's `kPq`
    * codewords start from a deterministic hash-ordered sample of the
    * corpus and are refined by `trainRounds` per-subspace Lloyd
    * passes (Jégou et al.'s standard PQ construction, done with the
    * q86 integer-exact k-means arithmetic). Working in q8 keeps every
    * step — sampling order, argmin assignment, floor-mean update,
    * ADC — a pure integer/IEEE-exact function of the input, so codes,
    * ADC tables and rankings are bit-identical in any engine and the
    * DuckDB oracle replays the training rounds themselves.
    *
    * Init sample: the `kPq` lowest rows by (saltedHash("pqcb",
    * vec_id), vec_id) — layout-independent (no dense-id assumption;
    * a post-takedown corpus with holes still yields exactly
    * min(kPq, n) codewords) and scale-safe (TakeOrderedAndProject,
    * never a global sort). Codeword index = 0-based rank of the
    * sampled vec_ids.
    *
    * Memory at 100 TB: a 64-dim float32 vector (256 B) becomes m=16
    * one-byte codes (16 B) — 16× smaller than raw floats vs ~3.7× for
    * flat int8 — and the ADC scan reads ONLY the code column. The
    * codebook is m·kPq·subDim ints, a driver-side literal (no
    * broadcast, no join). Training = ONE bounded sampling job + a
    * driver Lloyd loop over ≤ trainSample rows (doc below).
    *
    * Accuracy/size knob (measured over queries {0,7,42} × sf0.001/
    * sf0.01, exact top-10; full ladder in SCALE.md "ANN /
    * similarity"): m=16 SAMPLED (trainRounds=0)
    * averages 7.0/10 recall at a 5×k shortlist and 8.8/10 at 10×k;
    * m=16 TRAINED (trainRounds=2, the shipped default) averages
    * 8.7/10 at 5×k — per-cell ≥ the sampled codebook in all six
    * (query, sf) cells — and 9.5/10 at 10×k. The training makes a
    * 5×k shortlist as good as the sampled 10×k one, halving the
    * exact re-rank set; a third round adds ≤ 0.2. `trainRounds = 0`
    * reproduces the round-9 sampled behavior (modulo the
    * layout-independent init sample).
    *
    * SHORTLIST SCALING (measured at sf0.1, 10× the corpus): at a
    * FIXED shortlist multiple recall decays with corpus size —
    * trained-2 at 5×k drops 9.3→6.3 from sf0.01 to sf0.1 — because
    * the ADC error envelope is constant while the competitor pool
    * grows; what stays invariant is recall at a fixed
    * shortlist/corpus RATIO (trained-2: 9.3/10 at 20% of corpus in
    * both SFs; 9.0/10 at 4% — 20×k — at sf0.1). Training keeps its
    * edge at every pre-saturation cell (sf0.1 trained-2 vs sampled:
    * 4.3/3.0 at 2×k, 6.3/4.7 at 5×k, 8.3/7.3 at 10×k, 9.0/8.7 at
    * 20×k). So size `shortlist` as a fraction of the CANDIDATE SET,
    * not a multiple of k — in the indexed serving path ADC ranks only
    * the probed lists (nProbe/nLists of the corpus), which buys back
    * nLists/nProbe of the ratio for free; this is NOT a trainSample
    * effect (the 4096-row sample still covers sf0.1 at 82%, and the
    * trained codebook's per-cell wins persist). */
  /** `trainSample` bounds the LLOYD TRAINING SET: the training rounds
    * run over the `trainSample` lowest rows of the same
    * (saltedHash("pqcb", vec_id), vec_id) ordering the init sample
    * uses (so the init codewords are by construction the first kPq
    * rows of the training set). This is the standard PQ recipe —
    * train the codebook on a bounded sample, encode the whole
    * corpus — and it is what makes training 100 TB-viable: cost is
    * O(trainSample · m · kPq) per round, INDEPENDENT of corpus size
    * (the intermediate design that ran distributed rounds over the
    * full corpus measured 14.4 s for q132 at sf0.1 — three
    * corpus-wide assignment passes, two existing only to feed a 1 MB
    * update; the sampled driver loop brings the whole query to
    * 2.6 s). */
  def pqCodebook(emb: DataFrame, m: Int = 16, kPq: Int = 16,
      trainRounds: Int = 2, trainSample: Int = 4096): PqCodebook = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    require(trainSample >= kPq, s"trainSample=$trainSample < kPq=$kPq")
    // ONE bounded job: the ordered sample collects ≤ trainSample rows
    // (~trainSample·d ints, corpus-independent — the loud cap), and
    // rows arrive in (hash, vec_id) order, so the init sample is the
    // first kPq of the same collect. Lloyd then runs ON THE DRIVER —
    // at this size a distributed round is all plan-compilation (two
    // extra jobs whose generated argmin projection out-costs the 4M
    // integer ops they execute; measured ~3 s of the ad-hoc query),
    // while the driver loop is exact integer arithmetic in
    // microseconds and keeps the whole construction replayable.
    val rows = withUnitInt8(emb)
      .orderBy(Curation.saltedHash(col("vec_id"), "pqcb"), col("vec_id"))
      .limit(trainSample)
      .select(col("vec_id"), col("q8u")).collect() // ≤ trainSample rows, loud cap
    require(rows.nonEmpty, "empty corpus: no PQ codewords")
    val sample = rows.map(_.getSeq[Int](1).toIndexedSeq).toIndexedSeq
    val samples = rows.take(kPq).sortBy(_.getLong(0))
      .map(_.getSeq[Int](1).toIndexedSeq).toIndexedSeq
    val d = samples.head.length
    require(d % m == 0, s"dim $d does not split into $m subspaces")
    val sub = d / m
    var cb = PqCodebook(m, sub,
      IndexedSeq.tabulate(m)(j => samples.map(_.slice(j * sub, (j + 1) * sub))))
    for (_ <- 1 to trainRounds) cb = refineCodebook(sample, cb)
    cb
  }

  /** One per-subspace Lloyd round over the collected training sample:
    * assign every (vector, subspace) to its argmin codeword (exact
    * integer squared-L2, ties to the LOWEST codeword — the same
    * arithmetic [[withPqCodes]] encodes with, so trained geometry and
    * final codes are consistent by construction), then move each
    * codeword to the per-dimension floor-mean of its members — exact
    * ints into an IEEE double divide, the kmeansInt8 update rule
    * (bit-identical in any engine; the DuckDB oracle replays these
    * rounds). A (j, t) cell left empty by the assignment keeps its
    * previous codeword: codeword INDICES must stay stable because
    * persisted `pq` code tables address the codebook positionally. */
  private def refineCodebook(sample: IndexedSeq[IndexedSeq[Int]],
      cb: PqCodebook): PqCodebook = {
    val kEff = cb.codes.head.length
    val sums = Array.fill(cb.m, kEff, cb.subDim)(0L)
    val counts = Array.fill(cb.m, kEff)(0L)
    sample.foreach { v =>
      var j = 0
      while (j < cb.m) {
        var best = 0
        var bestD = Long.MaxValue
        var t = 0
        while (t < kEff) {
          val cw = cb.codes(j)(t)
          var dsum = 0L
          var i = 0
          while (i < cb.subDim) {
            val dv = (v(j * cb.subDim + i) - cw(i)).toLong
            dsum += dv * dv
            i += 1
          }
          if (dsum < bestD) { bestD = dsum; best = t } // ties keep LOWEST t
          t += 1
        }
        counts(j)(best) += 1L
        var i = 0
        while (i < cb.subDim) {
          sums(j)(best)(i) += v(j * cb.subDim + i)
          i += 1
        }
        j += 1
      }
    }
    PqCodebook(cb.m, cb.subDim, IndexedSeq.tabulate(cb.m)(j =>
      IndexedSeq.tabulate(kEff)(t =>
        if (counts(j)(t) == 0L) cb.codes(j)(t)
        else IndexedSeq.tabulate(cb.subDim)(i =>
          math.floor(sums(j)(t)(i).toDouble / counts(j)(t).toDouble).toInt))))
  }

  /** Adds `pq` (array<int>, length m): each vector's argmin codeword
    * per subspace — pure column algebra against the literal codebook
    * (no shuffle, no join; the same broadcast-free literal trick as
    * dsirScore / bpeTokenCount). Ties resolve to the LOWEST codeword
    * index (exact integer distances make this unambiguous).
    *
    * The argmin runs in ONE native looped kernel
    * ([[graft.plans.PqEncode]]) over the flattened literal codebook.
    * History of this hot path: nested transform/aggregate lambdas
    * (HOF nodes are CodegenFallback) measured ~20 s at sf0.1; a
    * statically-unrolled m×kPq tree of graft_sqdist kernels brought
    * that to ~1 s but generated a projection past Janino's 64 KB
    * method limit, so the whole projection silently fell back to
    * INTERPRETED eval; the looped kernel generates ~30 lines
    * regardless of codebook size and keeps the projection inside
    * whole-stage codegen. */
  def withPqCodes(emb: DataFrame, cb: PqCodebook): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    codesFor(withUnitInt8(emb), cb)
  }

  /** The codebook flattened for the native kernels:
    * codeword dim i of (subspace j, codeword t) at
    * [(j·kEff + t)·subDim + i]. */
  private def flatCodes(cb: PqCodebook): IndexedSeq[Int] = {
    val kEff = cb.codes.head.length
    for {
      j <- 0 until cb.m
      t <- 0 until kEff
      i <- 0 until cb.subDim
    } yield cb.codes(j)(t)(i)
  }

  /** The assignment kernel over a frame that already carries `q8u`
    * (shared by encoding and the training loop, so trained geometry
    * and final codes are consistent by construction). */
  private def codesFor(unit: DataFrame, cb: PqCodebook): DataFrame =
    unit.withColumn("pq",
      graft.plans.GraftFunctions.pqEncode(col("q8u"), cb.m, cb.subDim, flatCodes(cb)))

  /** Per-query ADC distance TABLE column (m·kEff longs) over a `q8u`
    * column — the query half of factored ADC ([[graft.plans.PqLut]]).
    * Compute it ON THE QUERY SIDE of a serving join (once per query),
    * then score candidates with [[pqAdcCol]] — m lookups per
    * candidate instead of m·subDim multiply-adds. */
  def pqLutCol(cb: PqCodebook, q8u: Column): Column =
    graft.plans.GraftFunctions.pqLut(q8u, cb.m, cb.subDim, flatCodes(cb))

  /** Candidate-side ADC fold over a joined [[pqLutCol]] column —
    * bit-identical to [[adcDistVsQuery]] for the same (query,
    * candidate). Corruption contract: out-of-range codes AND null
    * code rows/elements raise loudly (a NULL distance would sort
    * first under the ascending shortlist and silently displace real
    * candidates); a null lut (null query vector) propagates null,
    * like the old form. */
  def pqAdcCol(cb: PqCodebook, lut: Column, pq: Column): Column =
    graft.plans.GraftFunctions.pqAdc(lut, pq, cb.codes.head.length)

  /** ADC (asymmetric distance computation) top-k: the query's
    * m × kPq integer distance table is computed ON THE DRIVER from its
    * q8 codes (bounded — the same driver-side query planning as
    * multi-probe's margins) and folded over each vector's codes as a
    * literal-lookup sum — one element_at per subspace, an exact BIGINT
    * total. Ranking by (adc_dist asc, vec_id) plans as
    * TakeOrderedAndProject; at 100 TB the scan reads the m-byte code
    * column, never embeddings. */
  def pqAdcTopK(emb: DataFrame, cb: PqCodebook, queryId: Long,
      k: Int): DataFrame = {
    val coded = withPqCodes(emb, cb)
    val qq8 = coded.filter(col("vec_id") === queryId)
      .select(col("q8u")).head().getSeq[Int](0).toIndexedSeq
    coded.filter(col("vec_id") =!= queryId)
      .withColumn("adc_dist", adcDist(cb, qq8))
      .select(col("vec_id"), col("label"), col("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
      .limit(k)
  }

  /** The query's m × kPq integer ADC distance table, computed on the
    * driver from its unit-int8 codes (bounded — m·kPq longs). */
  def adcTable(cb: PqCodebook, qq8: IndexedSeq[Int]): Seq[Seq[Long]] =
    IndexedSeq.tabulate(cb.m) { j =>
      cb.codes(j).map { cw =>
        var s = 0L
        var i = 0
        while (i < cb.subDim) {
          val dv = (qq8(j * cb.subDim + i) - cw(i)).toLong
          s += dv * dv
          i += 1
        }
        s
      }
    }

  /** ADC distance of the `pq` column vs the query table — a
    * statically-unrolled lookup sum (no HOF fold): m element_at probes
    * of per-subspace literal rows, added as one codegen'd tree. A code
    * outside [0, kEff) — possible only from a CORRUPT persisted code
    * row — RAISES instead of the non-ANSI element_at NULL (NULLs sort
    * first under `adc_dist asc` and would silently dominate the
    * shortlist; a damaged code table must fail the query loudly). */
  def adcDist(cb: PqCodebook, qq8: IndexedSeq[Int]): Column = {
    val table = adcTable(cb, qq8)
    val kEff = cb.codes.head.length
    val dist = (0 until cb.m).map(j =>
      element_at(typedLit(table(j)),
        element_at(col("pq"), j + 1) + lit(1))).reduce(_ + _)
    when(forall(col("pq"), c => c >= lit(0) && c < lit(kEff)), dist)
      .otherwise(raise_error(concat(
        lit(s"corrupt pq code (outside [0,$kEff)) at vec_id="),
        col("vec_id").cast("string"))))
  }

  /** ADC distance of the `pq` column vs a PER-ROW query code column
    * `q8u` — the batched-serving form of [[adcDist]]: with many
    * queries in flight there is no single driver-side distance table,
    * so each of the m subspace terms is one fused `graft_sqdist` of
    * the query's subvector against the candidate's codeword, looked
    * up positionally in the LITERAL codebook (m element_at probes of
    * array-of-array literals; no join, no shuffle — the codebook
    * ships in the plan exactly as in the single-query path). Same
    * BIGINT value as adcDist for the same (query, candidate), and the
    * same loud corrupt-code guard. */
  def adcDistVsQuery(cb: PqCodebook, q8u: Column): Column = {
    val kEff = cb.codes.head.length
    val dist = (0 until cb.m).map { j =>
      graft.plans.GraftFunctions.sqdist(
        slice(q8u, j * cb.subDim + 1, cb.subDim),
        element_at(typedLit(cb.codes(j).map(_.toSeq)),
          element_at(col("pq"), j + 1) + lit(1)))
    }.reduce(_ + _)
    when(forall(col("pq"), c => c >= lit(0) && c < lit(kEff)), dist)
      .otherwise(raise_error(concat(
        lit(s"corrupt pq code (outside [0,$kEff)) at vec_id="),
        col("vec_id").cast("string"))))
  }

  /** PQ two-stage retrieval: ADC shortlist → exact float-cosine
    * re-rank of only those candidates (the IVF-PQ serving shape minus
    * the coarse quantizer — compose with the IVF index to get full
    * IVF-PQ: probe partitions, ADC within them, exact re-rank). */
  def pqTwoStageTopK(emb: DataFrame, cb: PqCodebook, queryId: Long,
      k: Int, shortlist: Int): DataFrame = {
    import graft.functions.Vectors
    graft.plans.GraftFunctions.register(emb.sparkSession)
    val candidates = pqAdcTopK(emb, cb, queryId, shortlist).select("vec_id")
    val target = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    emb.join(broadcast(candidates), "vec_id")
      .crossJoin(broadcast(target))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }
}
