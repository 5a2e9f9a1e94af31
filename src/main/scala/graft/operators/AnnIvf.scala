package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.functions.GraftFunctions.{dotProduct, md5CoinLong}

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * second scale path next to [[AnnLsh]].
  *
  * A coarse quantizer (deterministic Lloyd k-means over a driver-side
  * sample — at corpus scale a ~100k sample, here the full table) maps
  * every vector to its nearest of `nlist` centroids; a query scores
  * only the vectors in its `nprobe` closest cells, then survivors are
  * exactly re-ranked by cosine. The shuffled join key is the compact
  * cell id, so the candidate join never broadcasts the corpus.
  */
object AnnIvf {

  /** The oracle-form coarse-list count — [[annTopK]]'s default and the
    * single definition [[AnnRecall]]'s IVF breadth curve shares (the
    * curve's scan-fraction labels and its "last point is an exhaustive
    * scan" claim are only true against THIS value). */
  val DefaultNlist = 16

  /** Deterministic Lloyd iterations; init = vectors at evenly spaced
    * ranks of the sample (no RNG ⇒ reproducible across runs). */
  def kmeans(sample: Array[Array[Double]], k: Int, iters: Int)
      : Array[Array[Double]] = {
    val dim = sample.head.length
    var cents = Array.tabulate(k)(i => sample((i * sample.length / k)
      .min(sample.length - 1)).clone())
    (0 until iters).foreach { _ =>
      // the assignment pass is iters × |sample| × k × dim — the whole
      // training cost (several driver-seconds at nlist=1024/dim=64
      // while every executor core idles). Each sample's argmin is
      // independent and FP-pure, so compute assignments in PARALLEL;
      // the centroid SUMS then accumulate sequentially in sample
      // order, keeping the FP addition order — and therefore the
      // trained model, its codes and the recall table — bit-identical
      // to the single-threaded trainer.
      val assign = new Array[Int](sample.length)
      java.util.stream.IntStream.range(0, sample.length).parallel()
        .forEach(i => assign(i) = nearest(cents, sample(i)))
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var si = 0
      while (si < sample.length) {
        val c = assign(si)
        val v = sample(si)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
        si += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c))
      }
    }
    cents
  }

  def nearest(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < v.length) {
        val diff = cents(c)(i) - v(i); d += diff * diff; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  def nearestN(cents: Array[Array[Double]], v: Array[Double], n: Int)
      : Seq[Int] =
    cents.indices.sortBy { c =>
      var d = 0.0; var i = 0
      while (i < v.length) {
        val diff = cents(c)(i) - v(i); d += diff * diff; i += 1
      }
      d
    }.take(n)

  /** Approximate top-k: probe the query's nprobe nearest cells, exact
    * cosine re-rank of the probed candidates.
    *
    * The quantizer trains on a deterministic md5-mod sample ordered by
    * vec_id — storage-order-independent (a `.limit()` sample would be
    * first-partition-biased at scale) and reproducible, so the whole
    * query is deterministic. With `iters = 0` the centroids are the
    * sample vectors at evenly spaced ranks (IVF-Flat with random-ish
    * centers), which a SQL oracle can replay exactly; Lloyd iterations
    * involve order-sensitive FP mean accumulation, so the oracle-gated
    * driver entry uses `iters = 0`. */
  def annTopK(s: SparkSession, dir: String, k: Int = 5,
      nlist: Int = DefaultNlist, nprobe: Int = 4, iters: Int = 5): DataFrame = {
    import s.implicits._

    // one shared definition of the double-cast + sequential-fold norm
    // (the determinism contract the oracles depend on)
    val emb = AnnLsh.vecTable(s, dir)

    // train the coarse quantizer on a deterministic driver-side sample:
    // keep vec_ids whose md5-derived hash ≡ 0 (mod every), every sized
    // so the sample is ~10k vectors regardless of storage order.
    // Count + sample collect + k-means + the centroid broadcast are
    // ALL construction-time model state — memoized per (session, table
    // version, quantizer config) like AnnLsh.embeddingCount, so query
    // registration sweeps and repeated bench/verify builds pay the two
    // Spark jobs and the driver k-means once, and exactly ONE centroid
    // broadcast exists per config instead of one per construction
    // (the per-build broadcasts were never destroyed).
    val bc = Tables.memoizedAtConstruction(s, dir, "embeddings",
      s"ivf-centroids-$nlist-$iters") {
      val n = AnnLsh.embeddingCount(s, dir)
      val every = math.max(1L, n / 10000L)
      val sample = emb
        .filter(pmod(md5CoinLong(col("vec_id")), lit(every)) === 0)
        .orderBy(col("vec_id"))
        .select(col("v")).as[Array[Double]].collect()
      s.sparkContext.broadcast(kmeans(sample, nlist, iters))
    }

    val cands = emb.filter(col("vec_id") >= 10)
      .as[(Long, Array[Double], Double)]
      .map { case (id, v, n) => (id, v, n, nearest(bc.value, v)) }
      .toDF("cid", "cv", "cn", "cell")
    val queries = emb.filter(col("vec_id") < 10)
      .as[(Long, Array[Double], Double)]
      .flatMap { case (id, v, n) =>
        nearestN(bc.value, v, nprobe).map(cell => (id, v, n, cell)) }
      .toDF("qid", "qv", "qn", "cell")

    // nprobe pruning bounds the candidates, and the finish is the
    // bounded TopK aggregate anyway — even a skewed cell never feeds a
    // corpus-sized window partition
    val scored = cands.join(queries, "cell")
      .select(col("qid"), col("cid"),
        (dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .as("cos"))
    graft.functions.TopK.perQueryTopK(scored, col("cos"), k,
      desc = true, scoreName = "cos")
  }

  /** Driver entry: iters = 0 so the quantizer (rank-spaced sample
    * vectors) is SQL-replayable — see [[annIvfSql]]. */
  def annIvfQuery(s: SparkSession, dir: String): DataFrame =
    annTopK(s, dir, iters = 0)

  /** Exact DuckDB replay of the iters = 0 driver entry. Assumes the
    * corpus is ≤10k vectors (true at oracle scale), so the training
    * sample is the full table ordered by vec_id. Distances fold in the
    * same order as [[nearest]]; argmin ties break to the lower centroid
    * index in both engines. */
  val annIvfSql: String =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |normed AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(range(1, 65), i -> v[i] * v[i]), (x, y) -> x + y)) AS norm
      |  FROM emb),
      |sample AS (
      |  SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS r FROM emb),
      |scount AS (SELECT COUNT(*) AS n FROM sample),
      |cents AS (
      |  SELECT cs.c, sample.v AS cv
      |  FROM (SELECT unnest(range(0, 16)) AS c) cs, scount, sample
      |  WHERE sample.r = LEAST(cs.c * scount.n // 16, scount.n - 1)),
      |dists AS (
      |  SELECT n.vec_id, c.c,
      |    list_reduce(list_transform(range(1, 65), i -> (c.cv[i] - n.v[i]) * (c.cv[i] - n.v[i])), (x, y) -> x + y) AS d
      |  FROM normed n, cents c),
      |ranked AS (
      |  SELECT vec_id, c,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      |  FROM dists),
      |assign AS (SELECT vec_id, c AS cell FROM ranked WHERE rn = 1 AND vec_id >= 10),
      |probes AS (SELECT vec_id, c AS cell FROM ranked WHERE rn <= 4 AND vec_id < 10),
      |cand AS (
      |  SELECT DISTINCT p.vec_id AS qid, a.vec_id AS cid
      |  FROM probes p JOIN assign a ON p.cell = a.cell),
      |scored AS (
      |  SELECT cand.qid, cand.cid,
      |    list_reduce(list_transform(range(1, 65), i -> q.v[i] * c.v[i]), (x, y) -> x + y)
      |      / (q.norm * c.norm) AS cos
      |  FROM cand
      |  JOIN normed q ON q.vec_id = cand.qid
      |  JOIN normed c ON c.vec_id = cand.cid)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, cos FROM (
      |  SELECT qid, cid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
      |  FROM scored)
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the quantizer (count + sample + k-means + centroid broadcast) is
    // construction-memoized per table version
    QuerySpec("sim_ann_ivf", annIvfQuery, Some(annIvfSql), eagerBuild = true))
}
