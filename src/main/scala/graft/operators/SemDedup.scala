package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}

/** Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv
  * 2303.09540): cluster documents whose EMBEDDINGS are near-duplicate
  * and keep one representative per cluster — the embedding-space
  * sibling of the lexical dedup ladder ([[DedupQueries]]).
  *
  * Pipeline: LSH-bucketed candidate pairs with exact cosine
  * verification ([[AnnLsh.nearDupLsh]] — no O(n²) pass, the bucket
  * join shuffles on the compact (table, bucket) key) → connected
  * components over the sparse verified-pair graph
  * ([[DedupQueries.connectedComponents]] hybrid) → keep the minimum
  * vec_id per component. Every stage is deterministic (md5-Rademacher
  * hyperplanes, exact left-to-right cosine folds), so the whole
  * approximate operator has an exact DuckDB oracle.
  */
object SemDedup {

  val Threshold = 0.4

  /** (vec_id, cluster_rep, keep): component labels over the
    * cosine ≥ [[Threshold]] LSH-verified pair graph; untouched
    * vectors are their own representative. Oracle-gated form — same
    * 6-bit width gate as AnnLsh.nearDupLshQuery: the oracle CTE below
    * is PINNED at bucketsCte(16, 6), and past 2048 vectors (or under
    * a spark.graft.lsh.bits override) the auto width grows — the
    * candidate set, clusters, and representatives would silently
    * diverge from the static SQL. Fail loudly on gated corpus growth
    * instead; scale callers (and the bench) use [[semDedupScaled]]. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val width = AnnLsh.pairsBitsFor(s, AnnLsh.embeddingCount(s, dir))
    require(width == 6,
      s"semDedup oracle SQL is pinned at 6-bit buckets but " +
        s"pairsBitsFor = $width; regenerate the oracle for this width " +
        "or gate a corpus <= 2048 vectors")
    pipeline(s, dir, width)
  }

  /** Production auto-width form (scale benchmarks): the signature
    * width follows [[AnnLsh.pairsBitsFor]] so bucket occupancy — and
    * the candidate join — stays bounded as the corpus grows; no
    * static-oracle pin, so no width gate. */
  def semDedupScaled(s: SparkSession, dir: String): DataFrame =
    pipeline(s, dir, AnnLsh.pairsBitsFor(s, AnnLsh.embeddingCount(s, dir)))

  private def pipeline(s: SparkSession, dir: String, bits: Int): DataFrame = {
    // nearDupLsh serves from its scratch-parquet memo — the CC
    // probe's count and the labeling passes are cheap columnar
    // re-reads, no row cache needed (same reasoning as hammingPairs)
    val pairs = AnnLsh.nearDupLsh(s, dir, Threshold, bits = bits)
      .select(col("id1"), col("id2"))
    val labeled = DedupQueries.connectedComponents(s, pairs)
    val singletons = Tables.embeddings(s, dir).select(col("vec_id"))
      .join(labeled.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vec_id").as("rep"))
    labeled.select(col("doc_id").as("vec_id"), col("rep"))
      .union(singletons)
      .select(col("vec_id"), col("rep").as("cluster_rep"),
        (col("vec_id") === col("rep")).as("keep"))
      .orderBy(col("vec_id"))
  }

  val semDedupSql: String =
    AnnLsh.bucketsCte(16, 6).replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""",
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |  FROM buckets a JOIN buckets b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT cand.id1, cand.id2
         |  FROM cand
         |  JOIN normed x ON x.vec_id = cand.id1
         |  JOIN normed y ON y.vec_id = cand.id2
         |  WHERE list_reduce(list_transform(range(1, 65), i -> x.v[i] * y.v[i]), (p, q) -> p + q)
         |      / (x.norm * y.norm) >= $Threshold),
         |peers AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION SELECT id2, id1 FROM pairs),
         |reach AS (
         |  SELECT vec_id AS node, vec_id AS r FROM embeddings
         |  UNION
         |  SELECT p.dst AS node, reach.r FROM reach JOIN peers p ON p.src = reach.node)
         |SELECT node AS vec_id, MIN(r) AS cluster_rep,
         |  node = MIN(r) AS keep
         |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the oracle form's 6-bit width gate refuses corpora past 2048
    // vectors (pinned static SQL); Bench runs the auto-width production
    // pipeline, which reuses sim_near_dup_lsh's pair memo
    QuerySpec("sim_sem_dedup", semDedup, Some(semDedupSql),
      benchForm = Some(semDedupScaled), eagerBuild = true,
      memoFrom = Some("sim_near_dup_lsh")))
}
