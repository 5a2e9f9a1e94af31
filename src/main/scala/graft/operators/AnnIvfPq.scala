package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
  StructField, StructType}

import graft.{QuerySpec, Tables}
import graft.functions.{TopK, VectorExpressions}
import graft.functions.GraftFunctions.md5CoinLong

/** IVF-PQ — the combined index the standalone legs compose into at
  * 100 TB (FAISS's IVFPQ; Jégou et al., TPAMI 2011 §IV): a coarse
  * quantizer buckets every vector into one of `nlist` inverted lists,
  * a SHARED product-quantization codebook encodes each vector's
  * RESIDUAL (v − centroid) as M code bytes, and a query scans only its
  * `nprobe` closest lists, scoring candidates by ADC lookups against a
  * per-(query, probed-cell) table built from the QUERY's residual in
  * that cell.
  *
  * Why this is the 100 TB shape, beyond either leg alone:
  * [[AnnPq]] scans every code (8 bytes/vector but still the whole
  * corpus per query); [[AnnIvf]] prunes to nprobe/nlist of the corpus
  * but reads full float vectors. Here the scan is nprobe/nlist of the
  * corpus × 8 bytes — and the candidate⇄query match is an EQUI-JOIN on
  * the cell id (the inverted-list probe), so nothing corpus-sized is
  * ever broadcast or crossed.
  *
  * Cross-engine exactness (the [[AnnPq]] contract): coordinates snap
  * to the 1e4 fixed-point BIGINT grid first; cell assignment, the
  * residuals, the codebook argmin, the LUTs, and the ADC sums are all
  * exact integer arithmetic with ties to the lower index. Model
  * training is SQL-replayable by construction: coarse centroids are
  * the rank-spaced rows of the deterministic sample ([[AnnIvf]]'s
  * iters = 0 choice), the residual codebook comes from the K
  * lowest-vec_id vectors' residuals.
  *
  * Index build is ONE codegen kernel pass inside the corpus scan
  * ([[VectorExpressions.ivfPqEncode]]: quantize → cell argmin →
  * residual → per-subspace code argmin), emitting [cell, codes…].
  * Query prep (nprobe cells + one M·K-entry integer LUT per probed
  * cell — 128 entries for the oracle form's 8×16 geometry, 4096 for
  * the trained twin's 16×256) is driver-side over the BOUNDED query
  * set — exactly the per-query work a FAISS front-end does — and
  * ships as a broadcast frame of queries × nprobe rows. */
object AnnIvfPq {

  private val M = 8        // subspaces
  private val SubDim = 8   // dims per subspace (64-dim embeddings)
  private val K = 16       // codebook entries per subspace
  private val NList = 16   // coarse cells
  private val NProbe = 4   // probed cells per query
  private val NQueries = 10
  private val TopKN = 5
  private val Dim = M * SubDim

  private def quantExpr = expr(
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))")

  private def quantize(v: Seq[Float]): Array[Long] =
    v.iterator.map(f => math.floor(f.toDouble * 10000).toLong).toArray

  private def l2(a: Array[Long], b: Array[Long], aOff: Int, bOff: Int,
      len: Int): Long = {
    var d2 = 0L
    var i = 0
    while (i < len) {
      val d = a(aOff + i) - b(bOff + i)
      d2 += d * d
      i += 1
    }
    d2
  }

  /** Coarse centroids: the rank-spaced rows of the deterministic
    * md5-coin sample ordered by vec_id ([[AnnIvf.annTopK]]'s
    * SQL-replayable training choice), quantized. Memoized per (session,
    * table version). */
  private def centroids(s: SparkSession, dir: String): Array[Array[Long]] =
    Tables.memoizedAtConstruction(s, dir, "embeddings",
        s"ivfpq-cents-$NList") {
      import s.implicits._
      val n = AnnLsh.embeddingCount(s, dir)
      val every = math.max(1L, n / 10000L)
      val sample = Tables.embeddings(s, dir)
        .filter(pmod(md5CoinLong(col("vec_id")), lit(every)) === 0)
        .orderBy(col("vec_id"))
        .select(quantExpr).as[Array[Long]].collect()
      Array.tabulate(NList)(c =>
        sample((c * sample.length / NList).min(sample.length - 1)))
    }

  /** Shared residual codebook: the K lowest-vec_id vectors' residuals
    * w.r.t. their own assigned cells, sliced per subspace. Flat layout
    * cb[((m·K + k)·subDim) + d] — the kernel's and the LUT's offsets. */
  private def residualCodebook(s: SparkSession, dir: String,
      cents: Array[Array[Long]]): Array[Long] =
    Tables.memoizedAtConstruction(s, dir, "embeddings",
        s"ivfpq-cb-$M-$K") {
      val train = Tables.embeddings(s, dir).filter(col("vec_id") < K)
        .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
        .collect()
      require(train.length == K,
        s"IVF-PQ codebook needs all $K training vectors (vec_id 0..${K - 1}): " +
          s"got ${train.length} — the embeddings fixture is missing low vec_ids")
      val flat = new Array[Long](M * K * SubDim)
      train.foreach { r =>
        val k = r.getLong(0).toInt
        val q = quantize(r.getSeq[Float](1))
        val cell = nearestCell(cents, q)
        var i = 0
        while (i < Dim) { q(i) -= cents(cell)(i); i += 1 }
        (0 until M).foreach { m =>
          var d = 0
          while (d < SubDim) {
            flat((m * K + k) * SubDim + d) = q(m * SubDim + d)
            d += 1
          }
        }
      }
      flat
    }

  /** Strict < keeps the LOWEST cell id on ties — the kernel's and the
    * oracle's rule. */
  private def nearestCell(cents: Array[Array[Long]], q: Array[Long]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val d2 = l2(q, cents(c), 0, 0, Dim)
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val cents = centroids(s, dir)
    val cbFlat = residualCodebook(s, dir, cents)
    search(s, dir, cents, cbFlat)
  }

  /** K-means-trained, AUTO-SIZED model — the PRODUCTION training path
    * (bench twin of the SQL-replayable model above): coarse centroids
    * from [[AnnIvf.kmeans]] Lloyd iterations over the deterministic
    * md5-coin sample, then a per-subspace Lloyd codebook over the
    * sample's residuals (classic FAISS IVFPQ training; Jégou TPAMI
    * 2011 §IV.A). The index is sized the way a production build would
    * be — nlist ≈ √n (log-nearest power of two, floor 16), nprobe =
    * nlist/8
    * (fixed ~12.5% list-scan fraction), 256 codebook entries per
    * subspace (8-bit codes, the FAISS default) when the sample can
    * support them — versus the oracle form's deliberately tiny
    * SQL-replayable 16/4/16 configuration. Still deterministic
    * (rank-spaced init, fixed iteration count, no RNG) but NOT
    * SQL-replayable — Lloyd means are order-sensitive FP — so the
    * oracle gate keeps the replayable model and this twin carries the
    * recall/build-time comparison in the bench artifact. Trained in
    * grid units (the quantized BIGINT coordinates as doubles, means
    * rounded back to the grid) so the search path — kernel encode,
    * integer LUTs, exact ADC sums — is byte-identical in kind to the
    * replayable form's. */
  // the TRAINED twin's code geometry: 16 subspaces × 4 dims — 16
  // bytes/vector at the 256-entry codebook, the FAISS-typical M for
  // 64-dim embeddings. The oracle form keeps the deliberately tiny
  // SQL-replayable 8×8 geometry; the production twin buys 2 bits/dim,
  // which the planted-cluster recall gate showed is what separates
  // in-cluster ranking (8-byte codes measured 0.54 recall@5 on the
  // structured fixture — the code, not the routing, was the binding
  // constraint; nprobe curve was flat at every breadth)
  private val TrainedM = 16
  private val TrainedSubDim = 4

  /** `nlistOverride > 0` pins the coarse-list count (the recall
    * report's nlist-alternative sweep); 0 = auto-size nlist ≈ √n. The
    * memo key carries nlist, so alternative geometries never collide
    * with the default model. `memoTag` gives a caller a PRIVATE memo
    * slot: the benched refine leg trains its own (identical) model
    * instead of sharing the plain top-k leg's, so each bench row's
    * first-repeat accounting is self-contained — alphabetical order or
    * a name filter can never shift the k-means training cost from one
    * row's history onto the other (the r15→r16 ADVICE medium). */
  private def trainedModel(s: SparkSession, dir: String,
      nlistOverride: Int = 0, memoTag: String = "")
      : (Array[Array[Long]], Array[Long], Int, Int, Int) = {
    val n = AnnLsh.embeddingCount(s, dir)
    // log-NEAREST power of two of √n, not the floor: the r15 sf10
    // planted-fixture sweep measured the pow2-floor (nlist=256 at
    // n=200k, √n≈447) costing 0.14 recall vs 512 AT THE SAME
    // nprobe/nlist scan fraction — finer cells shrink the residuals
    // every PQ code encodes, so the code budget stretches further.
    val nlist =
      if (nlistOverride > 0) nlistOverride
      else {
        val r = math.max(1, math.sqrt(n.toDouble).toInt)
        val h = Integer.highestOneBit(r)
        math.max(NList, if (r.toLong * r > 2L * h * h) h * 2 else h)
      }
    val m = TrainedM
    val subDim = TrainedSubDim
    Tables.memoizedAtConstruction(s, dir, "embeddings",
        s"ivfpq-trained-$nlist-$m$memoTag") {
      import s.implicits._
      val every = math.max(1L, n / 10000L)
      val sample = Tables.embeddings(s, dir)
        .filter(pmod(md5CoinLong(col("vec_id")), lit(every)) === 0)
        .orderBy(col("vec_id"))
        .select(quantExpr).as[Array[Long]].collect()
        .map(_.map(_.toDouble))
      // 8-bit codes need enough training residuals to tell 256 cells
      // apart; below 4×256 samples fall back to the 4-bit oracle width
      val cbK = if (sample.length >= 1024) 256 else K
      val nprobe = math.max(NProbe, nlist / 8)
      val centsD = AnnIvf.kmeans(sample, nlist, iters = 5)
      val cents = centsD.map(_.map(math.round))
      // residuals of the whole sample w.r.t. their own cells, per
      // subspace; one Lloyd run per subspace over subDim-dim sub-vectors
      // per-sample independent (argmin + subtraction, no cross-sample
      // accumulation), so the cell-assignment pass parallelizes with
      // bit-identical output — same rationale as [[AnnIvf.kmeans]]
      val resid = new Array[Array[Double]](sample.length)
      java.util.stream.IntStream.range(0, sample.length).parallel()
        .forEach { i =>
          val v = sample(i)
          val cell = nearestCell(cents, v.map(_.toLong))
          resid(i) = Array.tabulate(Dim)(j => v(j) - cents(cell)(j))
        }
      val flat = new Array[Long](m * cbK * subDim)
      (0 until m).foreach { mi =>
        val subs = resid.map(_.slice(mi * subDim, (mi + 1) * subDim))
        val cb = AnnIvf.kmeans(subs, cbK, iters = 5)
        (0 until cbK).foreach { k =>
          var d = 0
          while (d < subDim) {
            flat((mi * cbK + k) * subDim + d) = math.round(cb(k)(d))
            d += 1
          }
        }
      }
      System.err.println(s"[ivfpq] trained model: n=$n nlist=$nlist " +
        s"nprobe=$nprobe codebook=$cbK m=$m sample=${sample.length}")
      (cents, flat, nprobe, cbK, m)
    }
  }

  /** Bench twin: the kmeans-trained, production-sized model through
    * the identical search path. */
  def ivfPqTopKTrained(s: SparkSession, dir: String): DataFrame = {
    val (cents, cbFlat, nprobe, cbK, m) = trainedModel(s, dir)
    search(s, dir, cents, cbFlat, cbK, nprobe, m, Dim / m)
  }

  /** The trained model's coarse-list count — the recall curve's
    * scan-fraction denominator (nprobe/nlist of the corpus is what a
    * probe actually reads). */
  def trainedNlist(s: SparkSession, dir: String): Int =
    trainedModel(s, dir)._1.length

  /** The trained model searched at an EXPLICIT nprobe (clamped to
    * nlist) — the recall-vs-scan-fraction curve's knob — and optionally
    * at an EXPLICIT nlist (the curve's geometry alternative: the same
    * training pipeline re-run at a pinned coarse-list count, so the
    * report can separate routing loss, which more/finer cells change,
    * from code loss, which they cannot). Everything else (centroids,
    * codebook, kernel encode, LUT probe) is the `ivfPqTopKTrained`
    * path verbatim, so the curves measure exactly the production
    * index's trades. */
  def ivfPqTopKTrainedNprobe(s: SparkSession, dir: String,
      nprobe: Int, nlistOverride: Int = 0): DataFrame = {
    val (cents, cbFlat, _, cbK, m) = trainedModel(s, dir, nlistOverride)
    search(s, dir, cents, cbFlat, cbK,
      math.max(1, math.min(nprobe, cents.length)), m, Dim / m)
  }

  /** NEGATIVE CONTROL for the recall gate: the trained model with its
    * PQ codebook deliberately destroyed (all entries zero — every
    * vector encodes to code 0 in every subspace, so ADC distances are
    * constant within a probed cell and the "top-k" is just the lowest
    * candidate ids). Coarse routing stays intact, so this isolates
    * codebook breakage specifically. A recall metric that cannot
    * drive THIS to ≈ 0 on structured data would be unable to detect a
    * broken index; the gate (AnnRecallSpec) requires the healthy
    * trained leg and this control to separate widely. The sabotage is
    * applied AFTER the memoized model is retrieved — it never poisons
    * the memo the healthy path serves from. */
  def ivfPqTopKMistrained(s: SparkSession, dir: String): DataFrame = {
    val (cents, cbFlat, nprobe, cbK, m) = trainedModel(s, dir)
    search(s, dir, cents, new Array[Long](cbFlat.length), cbK, nprobe,
      m, Dim / m)
  }

  /** The shared search path: kernel-encoded inverted lists, broadcast
    * per-(query, probed-cell) integer LUTs, equi-join probe, bounded
    * top-k finish. Model-agnostic — both training paths feed it
    * (`cbK` = codebook entries per subspace, `nprobe` = probed cells
    * per query; the replayable oracle model passes the fixed 16/4). */
  private def search(s: SparkSession, dir: String,
      cents: Array[Array[Long]], cbFlat: Array[Long],
      cbK: Int = K, nprobe: Int = NProbe,
      m: Int = M, subDim: Int = SubDim): DataFrame = {
    val scored = adcScored(s, dir, cents, cbFlat, cbK, nprobe, m, subDim)
    TopK.perQueryTopK(scored, col("adc_d2"), TopKN, desc = false,
        scoreName = "adc_d2_d")
      .select(col("qid"), col("rank"), col("cid"),
        col("adc_d2_d").cast("long").as("adc_d2"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The ADC-scored candidate frame (qid, cid, adc_d2) both finishes
    * share: the plain top-k takes the ADC order as final; the REFINE
    * finish treats it as a shortlist generator. */
  private def adcScored(s: SparkSession, dir: String,
      cents: Array[Array[Long]], cbFlat: Array[Long],
      cbK: Int, nprobe: Int, m: Int, subDim: Int): DataFrame = {
    require(m * subDim == Dim, s"PQ geometry $m x $subDim != $Dim")
    val centsFlat = cents.flatten.toSeq

    // index build: one kernel pass in the scan projection
    val enc = Tables.embeddings(s, dir)
      .filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cid"),
        VectorExpressions.ivfPqEncode(col("embedding"), centsFlat,
          cbFlat.toSeq, cents.length, m, cbK, subDim).as("enc"))
      .select(col("cid"), expr("enc[0]").as("cell"),
        expr(s"slice(enc, 2, $m)").as("codes"))

    // query prep: nprobe cells + per-(query, cell) residual LUT,
    // driver-side over the bounded query set
    val qRows = Tables.embeddings(s, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
      .collect()
    val lutRows = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val qv = quantize(r.getSeq[Float](1))
      val probed = cents.indices
        .sortBy(c => (l2(qv, cents(c), 0, 0, Dim), c)).take(nprobe)
      probed.map { cell =>
        val resid = Array.tabulate(Dim)(i => qv(i) - cents(cell)(i))
        val lut = new Array[Long](m * cbK)
        var mi = 0
        while (mi < m) {
          var k = 0
          while (k < cbK) {
            lut(mi * cbK + k) =
              l2(resid, cbFlat, mi * subDim, (mi * cbK + k) * subDim,
                subDim)
            k += 1
          }
          mi += 1
        }
        Row(qid, cell.toLong, lut.toSeq)
      }
    }
    val lutDf = s.createDataFrame(
      java.util.Arrays.asList(lutRows: _*),
      StructType(Seq(
        StructField("qid", LongType),
        StructField("cell", LongType),
        StructField("lut", ArrayType(LongType, containsNull = false)))))

    // the probe IS an equi-join on the inverted-list key; ADC sums are
    // integers ≤ 64·(4e4)² ≈ 1e11 ≪ 2^53, exact through the TopK
    // aggregate's double and back
    enc.join(broadcast(lutDf), "cell")
      .select(col("qid"), col("cid"),
        VectorExpressions.sumLookup(col("codes"), col("lut")).as("adc_d2"))
  }

  // ADC-shortlist width for the refine finish: 4x the answer size —
  // the FAISS IndexRefineFlat k_factor convention (Jégou TPAMI 2011
  // §V.D reranking; Johnson et al. 2017). The planted-fixture curves
  // showed the code, not the routing, binds IVF-PQ recall at scale
  // (full-breadth plateaus 0.48@256 / 0.66@512 cells at sf10), which
  // is exactly the loss an exact re-rank of the shortlist removes.
  private val RefineC = 4 * TopKN

  /** IVF-PQ with EXACT RE-RANK — the production "refine" topology:
    * the ADC scan picks a per-query shortlist of RefineC candidates
    * (cheap, code-width distances), then ONLY those rows' true vectors
    * are scored exactly and re-ranked. Scale shape: the shortlist is
    * bounded (|queries| x RefineC), so the refine pass is ONE more
    * corpus scan projecting (vec_id, embedding) into a broadcast-hash
    * join against the shortlist — no shuffle, no window; at 100 TB the
    * candidate float-vector reads are the only full-width reads on the
    * whole path (the index scan stays m code-bytes/vector). Distances
    * are exact integers on the 1e4 grid end to end, so the oracle form
    * below replays bit-identically in DuckDB. */
  def ivfPqRefineTopK(s: SparkSession, dir: String): DataFrame = {
    val cents = centroids(s, dir)
    val cbFlat = residualCodebook(s, dir, cents)
    refineSearch(s, dir,
      adcScored(s, dir, cents, cbFlat, K, NProbe, M, SubDim))
  }

  /** Bench twin: the trained auto-sized model through the identical
    * refine finish. Trains into its OWN memo slot (see trainedModel's
    * memoTag) so this row's first repeat always pays its own training
    * regardless of sweep order or name filters. */
  def ivfPqRefineTopKTrained(s: SparkSession, dir: String): DataFrame = {
    val (cents, cbFlat, nprobe, cbK, m) =
      trainedModel(s, dir, memoTag = "-refine")
    refineSearch(s, dir,
      adcScored(s, dir, cents, cbFlat, cbK, nprobe, m, Dim / m))
  }

  /** The recall-hungry routing point the r16 refine_curve grid
    * identified: nprobe = nlist/4 at the FAISS-convention k_factor=4
    * reached 0.92 recall on the 200k planted fixture where the
    * default breadth plateaued at 0.84 — shortlist width was flat
    * (kf 4→16), so routing breadth is the binding axis. Benched as
    * its own row so the recall/cost knee (~2x the code-scan fraction
    * for +0.08 recall) is a recorded trade, not a curve footnote.
    * Shares the refine leg's memo slot: in a full sweep
    * sim_ivfpq_refine (alphabetically earlier) pays the training and
    * this row times pure search at the wider breadth. */
  def ivfPqRefineTopKTrainedWide(s: SparkSession, dir: String): DataFrame = {
    val (cents, _, _, _, _) = trainedModel(s, dir, memoTag = "-refine")
    ivfPqRefineTopKTrainedParams(s, dir, kFactor = 4,
      nprobe = math.max(1, cents.length / 4))
  }

  /** The trained refine topology at an EXPLICIT (k_factor, nprobe) —
    * the shortlist-width-vs-routing-breadth curve's knob (VERDICT r15
    * ask #8: the 0.84 ceiling at the FAISS-convention k_factor=4 was
    * unattributed between shortlist width and probe breadth; this
    * measures both axes on the production model). Shares the refine
    * leg's own memo slot, so a curve sweep trains once. */
  def ivfPqRefineTopKTrainedParams(s: SparkSession, dir: String,
      kFactor: Int, nprobe: Int): DataFrame = {
    val (cents, cbFlat, _, cbK, m) =
      trainedModel(s, dir, memoTag = "-refine")
    refineSearch(s, dir,
      adcScored(s, dir, cents, cbFlat, cbK,
        math.max(1, math.min(nprobe, cents.length)), m, Dim / m),
      shortC = kFactor * TopKN)
  }

  /** Shared refine finish: bounded ADC shortlist -> broadcast join to
    * the true vectors -> exact integer L2 -> bounded top-k. */
  private def refineSearch(s: SparkSession, dir: String,
      scored: DataFrame, shortC: Int = RefineC): DataFrame = {
    val short = TopK.perQueryTopK(scored, col("adc_d2"), shortC,
        desc = false, scoreName = "adc_d2_d")
      .select(col("qid"), col("cid"))
    // bounded query vectors, driver-side like the LUT build
    val qRows = Tables.embeddings(s, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
      .collect()
      .map(r => Row(r.getLong(0), quantize(r.getSeq[Float](1)).toSeq))
    val qDf = s.createDataFrame(
      java.util.Arrays.asList(qRows: _*),
      StructType(Seq(
        StructField("qid", LongType),
        StructField("qv", ArrayType(LongType, containsNull = false)))))
    val cand = broadcast(short.join(broadcast(qDf), "qid"))
    val exact = Tables.embeddings(s, dir)
      .filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cid"), quantExpr.as("cv"))
      .join(cand, "cid")
      .select(col("qid"), col("cid"),
        VectorExpressions.quantL2Sq(col("qv"), col("cv")).as("exact_d2"))
    TopK.perQueryTopK(exact, col("exact_d2"), TopKN, desc = false,
        scoreName = "exact_d2_d")
      .select(col("qid"), col("rank"), col("cid"),
        col("exact_d2_d").cast("long").as("exact_d2"))
      .orderBy(col("qid"), col("rank"))
  }

  private def subD2(l: String, r: String) =
    s"list_reduce(list_transform(range(1, ${SubDim + 1}), " +
      s"i -> ($l.sv[i] - $r.cv[i]) * ($l.sv[i] - $r.cv[i])), (a, b) -> a + b)"

  /** Exact DuckDB replay. Assumes the corpus is ≤10k vectors (true at
    * oracle scale), so the centroid training sample is the full table
    * ordered by vec_id — the [[AnnIvf.annIvfSql]] convention. The CTE
    * chain through `adc` is shared with [[ivfPqRefineSql]]. */
  private val ivfPqSqlPrefix: String =
    s"""WITH qv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
       |  FROM embeddings),
       |sample AS (
       |  SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS r FROM qv),
       |scount AS (SELECT COUNT(*) AS n FROM sample),
       |cents AS (
       |  SELECT cs.c, sample.v AS cv
       |  FROM (SELECT unnest(range(0, $NList)) AS c) cs, scount, sample
       |  WHERE sample.r = LEAST(cs.c * scount.n // $NList, scount.n - 1)),
       |cdist AS (
       |  SELECT q.vec_id, c.c,
       |    list_reduce(list_transform(range(1, ${Dim + 1}),
       |      i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])), (a, b) -> a + b) AS d2
       |  FROM qv q, cents c),
       |cranked AS (
       |  SELECT vec_id, c,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
       |  FROM cdist),
       |assign AS (SELECT vec_id, c AS cell FROM cranked WHERE rn = 1),
       |resid AS (
       |  SELECT q.vec_id, a.cell,
       |    list_transform(range(1, ${Dim + 1}), i -> q.v[i] - c.cv[i]) AS rv
       |  FROM qv q JOIN assign a ON q.vec_id = a.vec_id
       |  JOIN cents c ON c.c = a.cell),
       |rsub AS (
       |  SELECT vec_id, cell, m,
       |    rv[m * $SubDim + 1 : m * $SubDim + $SubDim] AS sv
       |  FROM resid, range(0, $M) t(m)),
       |cb AS (
       |  SELECT vec_id AS k, m AS cm, sv AS cv FROM rsub WHERE vec_id < $K),
       |enc AS (
       |  SELECT vec_id, cell, m, k AS code FROM (
       |    SELECT s.vec_id, s.cell, s.m, cb.k,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${subD2("s", "cb")}, cb.k) AS rk
       |    FROM rsub s JOIN cb ON s.m = cb.cm
       |    WHERE s.vec_id >= $NQueries)
       |  WHERE rk = 1),
       |probes AS (
       |  SELECT vec_id AS qid, c AS cell FROM cranked
       |  WHERE rn <= $NProbe AND vec_id < $NQueries),
       |qresid AS (
       |  SELECT p.qid, p.cell,
       |    list_transform(range(1, ${Dim + 1}), i -> q.v[i] - c.cv[i]) AS rv
       |  FROM probes p JOIN qv q ON q.vec_id = p.qid
       |  JOIN cents c ON c.c = p.cell),
       |qsub AS (
       |  SELECT qid, cell, m,
       |    rv[m * $SubDim + 1 : m * $SubDim + $SubDim] AS sv
       |  FROM qresid, range(0, $M) t(m)),
       |lut AS (
       |  SELECT s.qid, s.cell, s.m, cb.k, ${subD2("s", "cb")} AS d2
       |  FROM qsub s JOIN cb ON s.m = cb.cm),
       |adc AS (
       |  SELECT l.qid, e.vec_id AS cid, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
       |  FROM enc e JOIN lut l
       |    ON e.cell = l.cell AND e.m = l.m AND e.code = l.k
       |  GROUP BY 1, 2)""".stripMargin

  val ivfPqTopKSql: String = ivfPqSqlPrefix +
    s"""
       |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, adc_d2 FROM (
       |  SELECT qid, cid, adc_d2,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d2, cid) AS rank
       |  FROM adc)
       |WHERE rank <= $TopKN ORDER BY qid, rank""".stripMargin

  /** Refine replay: the shared chain's ADC ranking truncated at
    * RefineC per query, exact grid-integer L2 on the shortlist only,
    * re-ranked — mirrors [[refineSearch]]'s (score, cid) total order
    * at both cuts. */
  val ivfPqRefineSql: String = ivfPqSqlPrefix +
    s""",
       |short AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d2, cid) AS srk
       |    FROM adc)
       |  WHERE srk <= $RefineC),
       |refined AS (
       |  SELECT s.qid, s.cid,
       |    CAST(list_reduce(list_transform(range(1, ${Dim + 1}),
       |      i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i])),
       |      (a, b) -> a + b) AS BIGINT) AS exact_d2
       |  FROM short s
       |  JOIN qv q ON q.vec_id = s.qid
       |  JOIN qv c ON c.vec_id = s.cid)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, exact_d2 FROM (
       |  SELECT qid, cid, exact_d2,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY exact_d2, cid) AS rank
       |  FROM refined)
       |WHERE rank <= $TopKN ORDER BY qid, rank""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Bench runs the TRAINED codebooks: the planted-cluster recall
    // table showed the untrained SQL-replayable models losing to them
    // 3-5x (0.06-0.16 vs 0.44-0.76 recall@5 across SFs). Verify still
    // runs the replayable untrained forms under these names; Bench keeps
    // them as the explicit _baseline rows. Lloyd training (sample
    // collect + coarse and per-subspace k-means) is
    // construction-memoized, so the first repeat pays it.
    QuerySpec("sim_ivfpq_topk", ivfPqTopK, Some(ivfPqTopKSql),
      benchForm = Some(ivfPqTopKTrained), eagerBuild = true),
    QuerySpec("sim_ivfpq_refine", ivfPqRefineTopK, Some(ivfPqRefineSql),
      benchForm = Some(ivfPqRefineTopKTrained), eagerBuild = true))
}
