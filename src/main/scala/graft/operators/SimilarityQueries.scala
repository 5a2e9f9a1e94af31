package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.functions.GraftFunctions.{cosine, dotProduct, l2Norm}

/** Similarity search over the `embeddings` table (64-d float vectors).
  *
  * Determinism contract with the oracle: every dot product is a
  * sequential left-to-right fold in double precision (`aggregate` in
  * Spark, `list_reduce` in DuckDB) — bit-identical accumulation order,
  * so even raw doubles hash-match.
  *
  * Scale path: brute-force top-k broadcasts the (small) query set and
  * makes one pass over the candidates — shuffle only on query_id for
  * the final top-k. The LSH variant (SimilaritySearch.annLsh) cuts the
  * candidate set by hyperplane bucketing before the exact re-rank.
  */
object SimilarityQueries {

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** vec_id, v (double array), norm — norms computed once per vector
    * BEFORE any pairwise join (identical FP value, 1/Nth the work). */
  private def withNorm(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("norm", l2Norm(col("v")))

  /** Brute-force cosine top-5 neighbors for each query vector
    * (vec_id < 10) among the rest of the corpus. The top-k finish is
    * the bounded [[graft.functions.TopK]] aggregate (partition-local
    * size-k buffers, tasks × k shuffle rows per query), not a global
    * per-qid window — scoring stays one broadcast pass over the
    * candidates and nothing downstream sees a corpus-sized partition. */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val cands = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))
    val scored = cands.join(broadcast(queries))
      .select(col("qid"), col("cid"),
        (dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    graft.functions.TopK.perQueryTopK(scored, col("cos"), 5,
      desc = true, scoreName = "cos")
  }

  val cosineTopKSql: String =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    list_reduce(list_transform(range(1, 65), i -> q.v[i] * c.v[i]), (a, b) -> a + b)
      |      / (sqrt(list_reduce(list_transform(range(1, 65), i -> q.v[i] * q.v[i]), (a, b) -> a + b))
      |       * sqrt(list_reduce(list_transform(range(1, 65), i -> c.v[i] * c.v[i]), (a, b) -> a + b))) AS cos
      |  FROM emb q CROSS JOIN emb c
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, cos FROM (
      |  SELECT qid, cid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
      |  FROM scored)
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** kNN classification: majority label among the top-5 neighbors
    * (tie → smaller label). */
  def knnLabel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one scan: carry the label alongside v/norm — an earlier form
    // joined a SECOND full embeddings scan back on vec_id just to
    // attach the column the first scan already had in hand
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        col("label").cast("long").as("label"))
      .withColumn("norm", l2Norm(col("v")))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val cands = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("norm").as("cn"), col("label"))
    // neighbor selection through the bounded TopK aggregate (the label
    // rides in the payload slot), never a corpus-scale window; the
    // remaining vote window below runs over ≤ |queries| × k rows
    val top = cands.join(broadcast(queries))
      .select(col("qid"),
        (dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"),
        col("cid"), col("label"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.topK(5, desc = true)(
        col("cos"), col("cid"), col("label")).as("top"))
      .select(col("qid"), explode(col("top.payload")).as("label"))
    val wv = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("label"))
    top.groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
      .orderBy(col("qid"))
  }

  val knnLabelSql: String =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, CAST(label AS BIGINT) AS label
      |  FROM embeddings),
      |top AS (
      |  SELECT qid, label FROM (
      |    SELECT q.vec_id AS qid, c.vec_id AS cid, c.label,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_reduce(list_transform(range(1, 65), i -> q.v[i] * c.v[i]), (a, b) -> a + b)
      |          / (sqrt(list_reduce(list_transform(range(1, 65), i -> q.v[i] * q.v[i]), (a, b) -> a + b))
      |           * sqrt(list_reduce(list_transform(range(1, 65), i -> c.v[i] * c.v[i]), (a, b) -> a + b))) DESC,
      |        c.vec_id) AS rank
      |    FROM emb q CROSS JOIN emb c
      |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
      |  WHERE rank <= 5)
      |SELECT qid, label AS pred_label, votes FROM (
      |  SELECT qid, label, COUNT(*) AS votes,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY COUNT(*) DESC, label) AS rn
      |  FROM top GROUP BY qid, label)
      |WHERE rn = 1 ORDER BY qid""".stripMargin

  /** Embedding near-duplicate pairs: cosine ≥ 0.45 over all pairs.
    *
    * The threshold is 0.45, not the 0.9 a production near-dup corpus
    * would use, because the synthetic embedding fixture is near-random
    * (max pairwise cosine ≈ 0.51 at sf0.01) — at 0.9 the query returns
    * 0 rows at every SF and the oracle hash-match is vacuous (an empty
    * result matches an empty result even with a broken predicate).
    * 0.45 leaves 7/14/144 surviving pairs at sf0.001/0.01/0.1, so the
    * gate actually certifies the dot product, the norm, and the
    * comparison. The LSH sibling ([[graft.operators.AnnLsh.nearDupLsh]])
    * made the same move (its default is 0.4) for the same reason.
    *
    * DELIBERATELY O(n²) — this is the exact/oracle form for query-set-
    * sized inputs and the ground truth the LSH sibling is checked
    * against. It REFUSES corpus-scale inputs: above
    * `spark.graft.bruteforce.maxRows` (default 20k ≈ 2·10⁸ candidate
    * pairs) it throws and points at the bucketed scale path instead of
    * silently planning an all-pairs join over a corpus. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(s, dir)
    val cap = s.conf.get("spark.graft.bruteforce.maxRows", "20000").toLong
    // memoized per (session, table version) — the cap guard runs at
    // every plan construction (registration sweeps, plan hygiene,
    // each bench/verify build), and an unmemoized count() was a full
    // embeddings scan job each time
    val n = AnnLsh.embeddingCount(s, dir)
    if (n > cap) throw new graft.model.DesignedSkip(
      s"embeddingNearDup is the exact all-pairs form ($n rows > cap $cap " +
        s"=> ~${n * n / 2} candidate pairs); use the LSH-bucketed scale " +
        "path (sim_near_dup_lsh / AnnLsh.nearDupLsh) for corpus-scale " +
        "inputs, or raise spark.graft.bruteforce.maxRows")
    emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        dotProduct(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
      .filter(col("cos") >= 0.45)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"), col("cos"))
      .orderBy(col("id1"), col("id2"))
  }

  val embeddingNearDupSql: String =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(range(1, 65), i -> a.v[i] * a.v[i]), (x, y) -> x + y))
      |     * sqrt(list_reduce(list_transform(range(1, 65), i -> b.v[i] * b.v[i]), (x, y) -> x + y))) AS cos
      |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
      |WHERE list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(range(1, 65), i -> a.v[i] * a.v[i]), (x, y) -> x + y))
      |     * sqrt(list_reduce(list_transform(range(1, 65), i -> b.v[i] * b.v[i]), (x, y) -> x + y))) >= 0.45
      |ORDER BY id1, id2""".stripMargin

  /** Per-label corpus stats: count + norm extremes (order-independent
    * aggregates only). */
  def labelStats(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"),
        l2Norm(asDouble(col("embedding"))).as("norm"))
    emb.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"))
      .orderBy(col("label"))
  }

  val labelStatsSql: String =
    """SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n,
      |  MIN(norm) AS min_norm, MAX(norm) AS max_norm
      |FROM (
      |  SELECT label,
      |    sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)) AS norm
      |  FROM embeddings)
      |GROUP BY label ORDER BY label""".stripMargin

  /** Per-class (label) centroid of the embedding space, long-form
    * (label, dim) — the building block behind nearest-class-mean
    * classification, SemDeDup-style cluster pruning, and IVF codebook
    * refinement.
    *
    * Determinism contract: each float component is scaled to
    * fixed-point (`floor(e · 1e6)` as BIGINT) BEFORE summation, so
    * the aggregate is an exact integer sum — order-independent and
    * engine-identical — and the double `centroid` is derived from it
    * by two IEEE-754 divisions in a fixed order. No floating-point
    * accumulation anywhere.
    *
    * Scale: the [[graft.functions.QuantVecSum]] vector-sum aggregate —
    * one per-ROW buffer update (no 64× posexplode through the hash
    * aggregate), partial aggregation holding one Array[Long] per label
    * per partition, a |labels|-row shuffle; the (label, dim) long form
    * is a posexplode of the k result rows only. */
  def embCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .groupBy(col("label").cast("long").as("label"))
      .agg(graft.functions.VectorExpressions
          .quantVecSum(col("embedding"), 1e6).as("sums"),
        count(lit(1)).as("n"))
      .select(col("label"), col("n"), posexplode(col("sums")).as(Seq("dim", "sum_e6")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        col("sum_e6"), col("n"),
        (col("sum_e6").cast("double") / 1e6 / col("n")).as("centroid"))
      .orderBy(col("label"), col("dim"))

  val embCentroidsSql: String =
    """SELECT label, dim, sum_e6, n,
      |  CAST(sum_e6 AS DOUBLE) / 1000000.0 / n AS centroid
      |FROM (
      |  SELECT CAST(label AS BIGINT) AS label, CAST(ord - 1 AS BIGINT) AS dim,
      |    CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_e6,
      |    COUNT(*) AS n
      |  FROM (SELECT label, unnest(embedding) AS e,
      |          generate_subscripts(embedding, 1) AS ord
      |        FROM embeddings)
      |  GROUP BY 1, 2)
      |ORDER BY label, dim""".stripMargin

  /** One Lloyd (k-means) iteration over the label clustering — the
    * refinement step behind IVF codebook training and SemDeDup-style
    * cluster pruning: recompute each label's centroid, reassign every
    * vector to its nearest centroid, and report the old→new label
    * confusion matrix.
    *
    * Determinism contract: everything is exact integer arithmetic on
    * a 1e-4 fixed-point grid. Components quantize to
    * `floor(e · 1e4)` (BIGINT); centroids are the floor of the exact
    * integer mean on that grid (`floor(Σq / n)` — the double division
    * of two <2^53 integers is exactly rounded, and the true quotient
    * is never within 1/n of crossing an integer, so the floor is
    * exact in both engines); distances are integer sums of squares
    * (≤ 64·(2·10⁴)² ≈ 2.6e10, far inside BIGINT). Ties break to the
    * smallest label on both sides.
    *
    * Scale: the centroid pass is the [[embCentroids]] shape (map-side
    * partial aggregation, |labels|·dims shuffle rows per task); the
    * k·dims centroid table is MODEL STATE — collected to the driver
    * and re-broadcast as literals exactly like MLlib's KMeans, never
    * joined. The assignment pass is map-only whole-stage codegen — the
    * per-centroid distance is the native QuantSquaredL2 kernel (a
    * codegen'd tight loop; the interpreted zip_with/aggregate fold it
    * replaced allocated an ArrayData per row per centroid) — and the
    * confusion aggregation shuffles at most k² rows per task. */
  def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // centroid pass: the QuantVecSum vector aggregate (one per-row
    // buffer update, |labels|-row shuffle) instead of a 64× posexplode
    // through the hash aggregate — same exact integer sums
    val centRows = emb
      .groupBy(col("label").cast("long").as("label"))
      .agg(graft.functions.VectorExpressions
          .quantVecSum(col("embedding"), 1e4).as("sums"),
        count(lit(1)).as("n"))
      .collect()
    val labels = centRows.map(_.getLong(0)).sorted
    val cent = labels.map { l =>
      val r = centRows.find(_.getLong(0) == l).get
      val n = r.getLong(2)
      l -> r.getSeq[Long](1)
        .map(sq => math.floor(sq.toDouble / n).toLong).toArray
    }
    val qcol = transform(col("embedding"),
      e => floor(e.cast("double") * 1e4))
    val dists = array(cent.map { case (_, arr) =>
      graft.functions.VectorExpressions.quantL2Sq(
        col("q"), typedLit(arr.toSeq))
    }.toSeq: _*)
    emb.select(col("label").cast("long").as("old_label"), qcol.as("q"))
      .withColumn("dists", dists)
      .withColumn("new_label",
        element_at(typedLit(labels.toSeq),
          array_position(col("dists"), array_min(col("dists"))).cast("int")))
      .groupBy(col("old_label"), col("new_label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("old_label"), col("new_label"))
  }

  val kmeansStepSql: String =
    """WITH ex AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS old_label,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
      |  FROM embeddings),
      |cent AS (
      |  SELECT old_label AS label, dim,
      |    CAST(floor(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      |  FROM ex GROUP BY 1, 2),
      |d AS (
      |  SELECT ex.vec_id, ex.old_label, c.label AS cand,
      |    SUM((ex.q - c.c) * (ex.q - c.c)) AS dist2
      |  FROM ex JOIN cent c ON ex.dim = c.dim
      |  GROUP BY 1, 2, 3),
      |a AS (
      |  SELECT vec_id, old_label, cand AS new_label,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cand) AS rk
      |  FROM d)
      |SELECT old_label, new_label, CAST(COUNT(*) AS BIGINT) AS n_vecs
      |FROM a WHERE rk = 1
      |GROUP BY old_label, new_label
      |ORDER BY old_label, new_label""".stripMargin

  /** Scalar-quantized (SQ8) cosine top-5 — the memory-compression leg
    * of the ANN family: each dimension is affinely quantized to an
    * 8-bit code against its global [min, max] range, vectors are
    * dequantized to bucket midpoints, and search runs on the
    * reconstructed vectors. At 100 TB this is the difference between
    * a 4-byte-per-dim and a 1-byte-per-dim resident index (4× more
    * vectors per executor before spill); the codes would be the
    * stored representation and this query measures exactly what that
    * representation returns.
    *
    * The per-dim [min, max] table is 64 rows — computed once per
    * (session, table version) via a bounded collect (same contract as
    * the IVF training sample) and folded into the plan as literals,
    * so quantization is a pure codegen map over one corpus scan.
    * Dequantized dot products use the same sequential-fold kernel as
    * [[cosineTopK]] — bit-identical across engines. */
  def sq8TopK(s: SparkSession, dir: String): DataFrame = {
    val stats: (Array[Double], Array[Double]) =
      Tables.memoizedAtConstruction(s, dir, "embeddings", "sq8stats") {
        val rows = Tables.embeddings(s, dir)
          .select(posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
          .groupBy(col("i"))
          .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
          .orderBy(col("i"))
          .collect()
        (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
      }
    val (mins, maxs) = stats
    // quantize → int8 code → dequantize to the bucket midpoint — one
    // native kernel pass per row (graft.functions.Sq8Dequant); an
    // earlier zip_with/element_at Column pipeline interpreted a lambda
    // and two array probes per DIMENSION (12.8M interpreted evals at
    // the 200k-vector scale set) and needed a separate asDouble
    // projection the kernel's exact float→double read subsumes
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        graft.functions.VectorExpressions
          .sq8Dequant(col("embedding"), mins.toSeq, maxs.toSeq).as("v"))
      .withColumn("norm", l2Norm(col("v")))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val cands = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))
    val scored = cands.join(broadcast(queries))
      .select(col("qid"), col("cid"),
        (dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .as("qcos"))
    graft.functions.TopK.perQueryTopK(scored, col("qcos"), 5,
      desc = true, scoreName = "qcos")
  }

  val sq8TopKSql: String =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |dims AS (
      |  SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
      |  FROM emb, range(1, 65) AS t(i) GROUP BY i),
      |deq AS (
      |  SELECT vec_id,
      |    list(mn + (CAST(CASE WHEN mx > mn
      |        THEN LEAST(255, GREATEST(0, CAST(floor((v[t.i] - mn) * 256.0 / (mx - mn)) AS BIGINT)))
      |        ELSE 0 END AS DOUBLE) + 0.5) * ((mx - mn) / 256.0)
      |      ORDER BY t.i) AS vq
      |  FROM emb, range(1, 65) AS t(i) JOIN dims ON dims.i = t.i
      |  GROUP BY vec_id),
      |scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    list_reduce(list_transform(range(1, 65), i -> q.vq[i] * c.vq[i]), (a, b) -> a + b)
      |      / (sqrt(list_reduce(list_transform(range(1, 65), i -> q.vq[i] * q.vq[i]), (a, b) -> a + b))
      |       * sqrt(list_reduce(list_transform(range(1, 65), i -> c.vq[i] * c.vq[i]), (a, b) -> a + b))) AS qcos
      |  FROM deq q CROSS JOIN deq c
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, qcos FROM (
      |  SELECT qid, cid, qcos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qcos DESC, cid) AS rank
      |  FROM scored)
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_sq8_topk", sq8TopK, Some(sq8TopKSql)),
    QuerySpec("sim_cosine_topk", cosineTopK, Some(cosineTopKSql)),
    QuerySpec("sim_knn_label", knnLabel, Some(knnLabelSql)),
    QuerySpec("sim_embedding_near_dup", embeddingNearDup, Some(embeddingNearDupSql)),
    QuerySpec("sim_label_stats", labelStats, Some(labelStatsSql)),
    QuerySpec("sim_centroids", embCentroids, Some(embCentroidsSql)),
    QuerySpec("sim_kmeans_step", kmeansStep, Some(kmeansStepSql)))
}
