package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.functions.GraftFunctions.tokens

/** Dataloader-preparation operators: the batch-shaping math a training
  * job runs after curation — padding-waste histograms for bucketed
  * batching and length-sorted fixed-count batch packing.
  *
  * Scale shape: both operators reduce the corpus to one small number
  * per document (its token count) before any shuffle; the histogram is
  * a ~10-group aggregate and the packer's sort is windowed PER SOURCE
  * SHARD (each dataloader worker owns a shard), never a global sort.
  */
object DataloaderQueries {

  private val BatchSize = 32

  /** Power-of-two length-bucket histogram with padding waste: each
    * document pads up to the next power-of-two token length (the usual
    * bucketed-batching scheme); per bucket, the document count and the
    * wasted-token fraction. Bucket math is integer-only — the length
    * of the binary representation of n−1 — because `ceil(log2(n))` in
    * doubles rounds differently across engines at exact powers of
    * two. */
  def lengthBuckets(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bucket",
        when(col("n_tokens") <= 1, 1L)
          .otherwise(expr(
            "cast(power(2, length(bin(n_tokens - 1))) as bigint)")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("bucket") - col("n_tokens")).as("pad_tokens"))
      .withColumn("pad_frac",
        col("pad_tokens").cast("double") / (col("bucket") * col("n_docs")))
      .orderBy("bucket")

  val lengthBucketsSql: String =
    """WITH t AS (
      |  SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |b AS (
      |  SELECT n_tokens,
      |         CASE WHEN n_tokens <= 1 THEN 1
      |              ELSE CAST(POWER(2, len(bin(n_tokens - 1))) AS BIGINT) END AS bucket
      |  FROM t)
      |SELECT bucket, COUNT(*) AS n_docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |       CAST(SUM(bucket - n_tokens) AS BIGINT) AS pad_tokens,
      |       CAST(SUM(bucket - n_tokens) AS DOUBLE) / (bucket * COUNT(*)) AS pad_frac
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Length-sorted batch packing per source shard: documents sort by
    * token count within their source, pack into fixed-count batches of
    * [[BatchSize]], and each batch pays padding up to its own max —
    * the sorted-bucketing trick real dataloaders use to cut padding
    * waste. Ties break on doc_id so the packing is deterministic. */
  def dataloaderBatches(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_id",
        expr(s"cast((rn - 1) div $BatchSize as bigint)"))
      .groupBy("source", "batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max("n_tokens").as("max_tokens"),
        sum("n_tokens").as("sum_tokens"))
      .withColumn("pad_tokens",
        col("n_docs") * col("max_tokens") - col("sum_tokens"))
      .orderBy("source", "batch_id")
  }

  val dataloaderBatchesSql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT source, n_tokens,
       |         CAST((row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) - 1)
       |              // $BatchSize AS BIGINT) AS batch_id
       |  FROM t)
       |SELECT source, batch_id, COUNT(*) AS n_docs,
       |       MAX(n_tokens) AS max_tokens,
       |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |       COUNT(*) * MAX(n_tokens) - CAST(SUM(n_tokens) AS BIGINT) AS pad_tokens
       |FROM r GROUP BY source, batch_id ORDER BY source, batch_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t_length_buckets", lengthBuckets, Some(lengthBucketsSql)),
    QuerySpec("t_dataloader_batches", dataloaderBatches, Some(dataloaderBatchesSql)))
}
