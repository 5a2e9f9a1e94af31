package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnnIvf, AnnIvfPq, AnnLsh, AnnPq, AsofJoin, BehaviorQueries,
  BpeTrainer, CurationQueries, DataloaderQueries, DecisionSupportQueries,
  DedupQueries, DynamicRules, EntityResolution, EventQueries,
  GraphQueries, MediaPipeline, RelationalQueries, SemDedup,
  SimilarityQueries, SketchQueries, SubqueryQueries, TextQueries}

/** One query, declared once by the module that defines it.
  *
  *  - `build` constructs the query's DataFrame over a corpus dir.
  *  - `oracle` is the DuckDB-equivalent SQL it is hash-checked
  *    against at sf0.01 (None only for [[Bench]]'s bench-only rows).
  *  - `benchForm` replaces `build` in [[Bench]]: the auto-scaling
  *    production form of a query whose oracle form pins parameters to
  *    the static sf0.01 oracle.
  *  - `eagerBuild` marks a builder that runs real, often memoized,
  *    Spark work while constructing. Bench never warms such a row at
  *    the bench SF, runs it once, and reports that first repeat, so
  *    the construction cost stays inside the timed number.
  *  - `memoFrom` names the earlier row (by alphabetical sweep order)
  *    whose construction memo this row reuses. Bench exempts the row
  *    from its history tripwire when a name filter drops that row.
  */
final case class QuerySpec(name: String, build: QuerySpec.Builder,
    oracle: Option[String], benchForm: Option[QuerySpec.Builder] = None,
    eagerBuild: Boolean = false, memoFrom: Option[String] = None)

object QuerySpec {
  type Builder = (SparkSession, String) => DataFrame
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `specs` is the full operator inventory (one [[QuerySpec]] per
  * implemented operator from SURVEY §2 plus the training-data-pipeline
  * operators), concatenated from the 23 query modules. `queries` and
  * `oracleSql` are the name-keyed views of it that Verify, the tests
  * and the benchmark read: the builders, and the DuckDB-equivalent SQL
  * each entry is hash-checked against at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q1PricingSummary(spark, "/root/testdata/sf0.001")

  private def modules: Seq[Seq[QuerySpec]] =
    Seq(RelationalQueries.specs, EventQueries.specs,
      TextQueries.specs, DedupQueries.specs,
      SimilarityQueries.specs, DynamicRules.specs,
      MediaPipeline.specs, AnnLsh.specs, AnnIvf.specs,
      AsofJoin.specs, SubqueryQueries.specs,
      DecisionSupportQueries.specs, BehaviorQueries.specs,
      SketchQueries.specs, CurationQueries.specs,
      SemDedup.specs, BpeTrainer.specs, DataloaderQueries.specs,
      EntityResolution.specs, GraphQueries.specs, AnnPq.specs,
      AnnIvfPq.specs, graft.sources.BucketedLayout.specs)

  lazy val specs: Seq[QuerySpec] = {
    val all = modules.flatten
    // a name-keyed map silently SHADOWS duplicate keys: a new module
    // reusing an existing query name would make the earlier query's
    // parquet dump — and with it its oracle compare — vanish without
    // any signal. Fail at the aggregation point instead.
    val dups = all.groupBy(_.name).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate query names across modules: ${dups.mkString(", ")}")
    all
  }

  def queries: Map[String, QuerySpec.Builder] =
    specs.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] = {
    val merged = specs.flatMap(q => q.oracle.map(q.name -> _)).toMap
    // an oracle without a query would make the driver's compare report
    // a missing parquet for a query that does not exist
    val orphans = merged.keySet -- queries.keySet
    require(orphans.isEmpty, s"oracles without a query: ${orphans.mkString(", ")}")
    merged
  }
}
