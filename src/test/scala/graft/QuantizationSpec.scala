package graft

import org.apache.spark.sql.functions._

import graft.operators.{Quantization, Similarity}

/** Int8 quantization invariants: code range, reconstruction quality,
  * and retrieval recall of the quantized scan vs the exact scan. */
class QuantizationSpec extends SparkSuite {
  init()
  import spark.implicits._

  private def emb = graft.sources.Tables.embeddings(spark, sf0001)

  test("codes in [-127,127]; max-abs element hits ±127 exactly") {
    val q = Quantization.withInt8(emb)
    val bad = q.select(explode(col("q8")).as("c"))
      .filter(col("c") > 127 || col("c") < -127).count()
    assert(bad == 0)
    // the element attaining max|v| quantizes to exactly ±127
    val hit = q.select(array_max(transform(col("q8"), c => abs(c))).as("m"))
      .filter(col("m") =!= 127).count()
    assert(hit == 0, "max-abs element must map to ±127")
  }

  test("native quantize kernels are bit-identical to the HOF formulas they replaced") {
    // the reference formulas ARE the pre-r11 column algebra — the
    // kernels must reproduce them exactly (double accumulation order,
    // half-up floor, clamp) on real embeddings AND adversarial rows
    val edge = Seq(
      (9001L, Array(0.0f, 0.0f, 0.0f)), // zero norm → zero codes
      (9002L, Array(1e-30f, -1e-30f, 1e-30f)), // denormal-ish
      (9003L, Array(3.4e38f, -3.4e38f, 1.0f)), // float max magnitudes
      (9004L, Array(-1.5f, 1.5f, 1.5f))).toDF("vec_id", "embedding")
    for (df <- Seq(emb.select(col("vec_id"), col("embedding")), edge)) {
      val hofUnit = df.withColumn("_nrm", sqrt(aggregate(
          transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, x) => a + x)))
        .withColumn("ref",
          when(col("_nrm") === 0.0, transform(col("embedding"), _ => lit(0)))
            .otherwise(transform(col("embedding"), x =>
              least(greatest(floor(x.cast("double") / col("_nrm") * 127.0 + 0.5),
                lit(-127.0)), lit(127.0)).cast("int"))))
      val unitDiff = Quantization.withUnitInt8(df)
        .join(hofUnit.select(col("vec_id"), col("ref")), "vec_id")
        .filter(col("q8u") =!= col("ref")).count()
      assert(unitDiff == 0, "unit-int8 kernel diverged from the HOF formula")

      val hofMax = df.withColumn("rscale",
          array_max(transform(col("embedding"), x => abs(x.cast("double")))) / 127.0)
        .withColumn("rq8",
          when(col("rscale") === 0.0, transform(col("embedding"), _ => lit(0)))
            .otherwise(transform(col("embedding"), x =>
              least(greatest(floor(x.cast("double") / col("rscale") + 0.5), lit(-127.0)),
                lit(127.0)).cast("int"))))
      val maxDiff = Quantization.withInt8(df)
        .join(hofMax.select(col("vec_id"), col("rscale"), col("rq8")), "vec_id")
        .filter(col("q8") =!= col("rq8") || col("scale") =!= col("rscale")).count()
      assert(maxDiff == 0, "max-abs kernel diverged from the HOF formula")
    }
  }

  test("quantize kernels raise on non-finite input; ADC lookup raises on NULL codes") {
    graft.plans.GraftFunctions.register(spark)
    // NaN/Inf embeddings are corrupt input — loud, not silently-coded
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) {
      val df = Seq((1L, Array(bad, 1.0f))).toDF("vec_id", "embedding")
      val e1 = intercept[Exception](Quantization.withUnitInt8(df).collect())
      assert(e1.toString.contains("non-finite") ||
        Option(e1.getCause).exists(_.toString.contains("non-finite")), e1.toString)
      val e2 = intercept[Exception](Quantization.withInt8(df).collect())
      assert(e2.toString.contains("non-finite") ||
        Option(e2.getCause).exists(_.toString.contains("non-finite")), e2.toString)
    }
    // NULL pq codes raise (a NULL adc_dist would sort FIRST in the
    // ascending shortlist and silently displace real candidates)...
    val eNull = intercept[Exception](spark.sql(
      "SELECT graft_pq_adc(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT)), CAST(NULL AS ARRAY<INT>), 2)")
      .collect())
    assert(eNull.toString.contains("NULL pq codes") ||
      Option(eNull.getCause).exists(_.toString.contains("NULL pq codes")), eNull.toString)
    // ...while a NULL lut (null query vector) propagates null
    val r = spark.sql(
      "SELECT graft_pq_adc(CAST(NULL AS ARRAY<BIGINT>), array(0), 1)").head()
    assert(r.isNullAt(0))
  }

  test("reconstruction error small on float32 embeddings (< 1% of norm)") {
    val worst = Quantization.withInt8(emb)
      .select(Quantization.reconErrPpm(col("embedding"), col("q8"), col("scale")).as("e"))
      .agg(max(col("e"))).as[Long].collect().head
    assert(worst < 10000, s"worst relative error $worst ppm should be < 1%")
  }

  test("quantized top-10 recovers the exact top-10 (recall ≥ 0.8)") {
    val exact = Similarity.bruteForceTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val quant = Quantization.quantizedTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    assert((exact intersect quant).size >= 8,
      s"quantized recall too low: $quant vs $exact")
  }

  test("two-stage (shortlist 50 → exact rerank 10) equals the exact scan") {
    val exact = Similarity.bruteForceTopK(emb, 0L, 10)
      .select("vec_id", "sim").as[(Long, Double)].collect().toSeq
    val staged = Quantization.twoStageTopK(emb, 0L, 10, 50)
      .select("vec_id", "sim").as[(Long, Double)].collect().toSeq
    assert(staged == exact, "5x-k shortlist must recover the exact top-10")
  }

  test("PQ: codes shaped m × [0, kEff); ADC distances are non-negative integers") {
    val cb = Quantization.pqCodebook(emb)
    val kEff = cb.codes.head.length
    assert(cb.m == 16 && cb.subDim == 4 && kEff >= 2 && kEff <= 16)
    val coded = Quantization.withPqCodes(emb, cb)
    val bad = coded.select(explode(col("pq")).as("c"))
      .filter(col("c") < 0 || col("c") >= kEff).count()
    assert(bad == 0, s"PQ codes must lie in [0, $kEff)")
    assert(coded.select(size(col("pq"))).distinct().as[Int].collect().toSeq == Seq(16))
    val adc = Quantization.pqAdcTopK(emb, cb, 0L, emb.count().toInt)
    assert(adc.filter(col("adc_dist") < 0).count() == 0,
      "squared-L2 ADC distances must be ≥ 0")
  }

  test("PQ encode: hand-computed codes on a 4-dim toy corpus; ties take the lowest codeword") {
    // 2 subspaces × 2 dims; unit-int8 first: v/‖v‖·127, half-up floor.
    // vec 0 = (1,0,0,1)/√2 → q8u (90,0,0,90); vec 1 = (0,1,1,0)/√2 →
    // (0,90,90,0). Codebook: the hash-ordered init takes BOTH vectors
    // (kPq=2=n), codeword index = vec_id rank; Lloyd refinement is a
    // fixed point here (each vector is its own codeword's only member,
    // so every floor-mean returns the codeword) — the trained codebook
    // equals the sample: cb(j) = [sub_j(v0), sub_j(v1)].
    val toy = Seq(
      (0L, Seq(1f, 0f, 0f, 1f), 0),
      (1L, Seq(0f, 1f, 1f, 0f), 0)).toDF("vec_id", "embedding", "label")
    val cb = Quantization.pqCodebook(toy, m = 2, kPq = 2)
    assert(cb.m == 2 && cb.subDim == 2)
    assert(cb.codes(0) == Seq(Seq(90, 0), Seq(0, 90)), s"got ${cb.codes(0)}")
    assert(cb.codes(1) == Seq(Seq(0, 90), Seq(90, 0)), s"got ${cb.codes(1)}")
    // each vector must encode to its own codeword in both subspaces
    val codes = Quantization.withPqCodes(toy, cb)
      .select(col("vec_id"), col("pq")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codes(0L) == Seq(0, 0) && codes(1L) == Seq(1, 1), s"got $codes")
    // tie-break: a vector equidistant from both codewords of a
    // subspace takes the LOWEST codeword index (exact-integer ties)
    val mid = Seq((2L, Seq(1f, 1f, 1f, 1f), 0)).toDF("vec_id", "embedding", "label")
    val midCodes = Quantization.withPqCodes(mid, cb)
      .select(col("pq")).head().getSeq[Int](0).toSeq
    // (1,1,1,1)/2 → q8u (64,64,64,64); d² to (90,0)=26²+64², to
    // (0,90)=64²+26² — equal in both subspaces → code 0 twice
    assert(midCodes == Seq(0, 0), s"tie must take codeword 0: $midCodes")
  }

  test("PQ training lifts recall: trained ≥ sampled at a 5×k shortlist, every query") {
    // The operative guarantee — deterministic two-stage semantics — is
    // oracle-gated in q133; THIS test pins the quality claim that pays
    // for the training: two Lloyd rounds make a 50-candidate exact
    // re-rank at least as good as the sampled codebook's, per query
    // (measured ladder in SCALE.md; strictly greater on all six
    // (query, sf) cells at measurement time).
    val sampled = Quantization.pqCodebook(emb, trainRounds = 0)
    val trained = Quantization.pqCodebook(emb)
    val recalls = for (q <- Seq(0L, 7L, 42L)) yield {
      val exact = Similarity.bruteForceTopK(emb, q, 10)
        .select("vec_id").as[Long].collect().toSet
      def recall(cb: Quantization.PqCodebook) =
        (exact intersect Quantization.pqTwoStageTopK(emb, cb, q, 10, 50)
          .select("vec_id").as[Long].collect().toSet).size
      val (rs, rt) = (recall(sampled), recall(trained))
      assert(rt >= rs, s"query $q: trained recall $rt < sampled $rs at 5×k")
      rt
    }
    assert(recalls.sum >= 21, s"trained 5×k mean recall too low: $recalls")
  }

  test("codebook sampling is id-layout-independent: sparse/post-takedown ids still yield kPq codewords") {
    // A corpus with holes (every 3rd id deleted, then a high-id block
    // remapped far away) — the round-9 stride rule (vec_id % stride)
    // under-collected or skewed here; the hash-ordered sample must
    // return exactly kPq codewords regardless of id layout.
    val sparse = emb.filter(col("vec_id") % 3 =!= 0)
      .withColumn("vec_id",
        when(col("vec_id") > 400, col("vec_id") * 1000000).otherwise(col("vec_id")))
    val cb = Quantization.pqCodebook(sparse)
    assert(cb.codes.forall(_.length == 16),
      s"sparse ids must still give 16 codewords, got ${cb.codes.map(_.length).distinct}")
    // and the codebook still serves: codes well-shaped, search returns k
    val got = Quantization.pqAdcTopK(sparse, cb, 1L, 5).collect()
    assert(got.length == 5)
    // membership-only dependence: the sample is a pure function of the
    // SET of (vec_id, embedding) rows, not of partitioning/order
    val cb2 = Quantization.pqCodebook(sparse.repartition(7))
    assert(cb2 == cb, "codebook must not depend on physical layout")
  }

  test("autoShortlist: ratio-derived with floor, cap and k lower bound") {
    import Similarity._
    // floor: a corpus small enough that 1/8 of the probed candidates
    // is under 100 behaves exactly like the pre-r12 fixed default
    assert(autoShortlist(500, 1, 1, 10) == ShortlistFloor)
    assert(autoShortlist(300, 8, 4, 5) == ShortlistFloor)
    // ratio: 1/8 of the probed candidate count once past the floor
    assert(autoShortlist(5000, 1, 1, 10) == 625)    // whole corpus probed
    assert(autoShortlist(5000, 16, 4, 10) == 157)   // ceil(5000·4/16 / 8)
    // probing fraction scales the target (more probes → more candidates)
    assert(autoShortlist(100000, 64, 4, 10) <=
      autoShortlist(100000, 64, 16, 10))
    // cap bounds the |queries|×shortlist broadcast; explicit overrides
    // only past 10⁴
    assert(autoShortlist(10000000L, 1, 1, 10) == ShortlistCap)
    // never below k, even above the cap
    assert(autoShortlist(100, 1, 1, 500) == 500)
    // degenerate geometry doesn't divide by zero
    assert(autoShortlist(0, 0, 0, 10) == ShortlistFloor)
  }

  test("auto shortlist reproduces the measured ladder recall at sf0.01 AND sf0.1") {
    // SCALE.md r11 ladder: recall tracks the shortlist/corpus RATIO —
    // trained-2 two-stage scores 9.3-9.5/10 at a 20% ratio (both SFs)
    // and 9.0/10 at 4% at sf0.1. The auto default targets 12.5%, so
    // the whole-corpus two-stage search (the ladder's own setup:
    // nLists = nProbe = 1) must hold the ladder's ≥9/10 band at BOTH
    // scale factors — the property the absolute default broke (a
    // fixed 100 is 2% of sf0.1's corpus → 6-8/10).
    val k = 10
    for ((dir, minMean) <- Seq("/root/testdata/sf0.01" -> 9.0,
        "/root/testdata/sf0.1" -> 9.0)) {
      // benchmark-scale fixtures (the ladder is DEFINED on them —
      // sf0.001 has no corpus-growth axis to exercise); cancel rather
      // than fail where the driver fixtures aren't mounted
      assume(new java.io.File(s"$dir/embeddings.parquet").exists(),
        s"driver fixture $dir not present")
      val emb = graft.sources.Tables.embeddings(spark, dir).cache()
      try {
        val n = emb.count()
        val sl = Similarity.autoShortlist(n, 1, 1, k)
        val cb = Quantization.pqCodebook(emb) // trained-2 default
        val recalls = Seq(0L, 7L, 42L).map { q =>
          val truth = Similarity.bruteForceTopK(emb, q, k)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          val got = Quantization.pqTwoStageTopK(emb, cb, q, k, sl)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          (got & truth).size
        }
        val mean = recalls.sum.toDouble / recalls.size
        assert(mean >= minMean,
          s"$dir: auto shortlist $sl (n=$n) mean recall $mean < $minMean")
      } finally emb.unpersist()
    }
  }

  /** Deterministic isotropic corpus: n 64-dim vectors with
    * hash-uniform elements in [-1,1). */
  private def syntheticIsotropic(n: Long) =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        (pmod(hash(col("id"), i, lit(7)), lit(2000)).cast("double") / 999.5 - 1.0)
          .cast("float")).as("embedding"),
      lit(0).as("label"))

  test("auto shortlist holds ladder recall past the cap boundary (n > 8*cap)") {
    // The ShortlistCap binds once ceil(n/8) > 10^4, i.e. n > 80k for
    // whole-corpus serving (n > 80k*nLists/nProbe probed) — no driver
    // fixture reaches that, so the pin runs on the deterministic
    // isotropic corpus (syntheticIsotropic, the r13 cap-boundary
    // probe data). At n=160k the capped shortlist is a
    // 6.3% ratio — BELOW the r11 ladder's measured 8% band floor —
    // yet recall measured 10/10 here and out to n=1M at a 1% ratio
    // (SCALE.md r13): the small-absolute ratio law saturates once the
    // absolute shortlist reaches the cap's 10^4 scale. Pinned >= 9/10
    // mean; the capped==ShortlistCap assert proves the cap arm is the
    // one under test.
    val k = 10
    val n = 160000L
    val emb = syntheticIsotropic(n).cache()
    try {
      val sl = Similarity.autoShortlist(n, 1, 1, k)
      assert(sl == Similarity.ShortlistCap, s"expected the cap arm, got $sl")
      val cb = Quantization.pqCodebook(emb)
      val recalls = Seq(0L, 7L, 42L).map { q =>
        val truth = Similarity.bruteForceTopK(emb, q, k)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val got = Quantization.pqTwoStageTopK(emb, cb, q, k, sl)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        (got & truth).size
      }
      val mean = recalls.sum.toDouble / recalls.size
      info(f"capped auto shortlist $sl at n=$n: mean recall $mean%.1f/$k")
      assert(mean >= 9.0, s"capped-shortlist recall $mean < 9.0 at n=$n")
    } finally emb.unpersist()
  }

  test("zero vector quantizes to zero codes with zero error") {
    val df = Seq((1L, Seq.fill(8)(0.0f), 0)).toDF("vec_id", "embedding", "label")
    val q = Quantization.withInt8(df)
      .select(col("q8"), Quantization.reconErrPpm(col("embedding"), col("q8"), col("scale")).as("e"))
      .collect().head
    assert(q.getSeq[Int](0).forall(_ == 0) && q.getLong(1) == 0L)
  }

  test("tfidf: rare term outranks frequent term; scores hand-checked") {
    val docs = Seq(
      (1L, "common common rare"),
      (2L, "common common common"),
      (3L, "common other other")).toDF("doc_id", "text")
    val out = graft.functions.Text.tfidfTopK(docs, col("doc_id"), col("text"), 2)
      .select(col("doc_id"), col("token"), col("score"), col("rank"))
      .as[(Long, String, Double, Int)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._4).map(t => (t._2, t._3)) }
    // doc 1: 'rare' df=1, idf=ln(4/2)+1; 'common' df=3, idf=ln(4/4)+1=1
    // scores: rare = 1·(ln2+1) ≈ 1.693147 > common = 2·1 = 2.0 → common wins on tf
    assert(out(1L).map(_._1).toSeq == Seq("common", "rare"))
    assert(math.abs(out(1L)(1)._2 - (math.log(2.0) + 1.0)) < 1e-6)
    assert(out(2L).map(_._1).toSeq == Seq("common"))
    // doc 3: other tf=2 df=1 → 2·(ln2+1) ≈ 3.386 beats common 1·1
    assert(out(3L).map(_._1).toSeq == Seq("other", "common"))
  }
}
