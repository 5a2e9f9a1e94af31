package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.functions.GraftFunctions.{hexSliceLong, md5CoinLong, shinglesOfTokens, tokens}
import graft.functions.HashExpressions.shingleHashes

/** Corpus-curation operators a large-scale training-data pipeline
  * needs beyond dedup: benchmark decontamination and deterministic
  * sampling. All hashing is md5-derived (DuckDB-reproducible) and all
  * decisions are exact, so every operator has an exact oracle.
  */
object CurationQueries {

  /** Per-doc distinct 3-gram shingle keys (one row per doc, sorted
    * 60-bit md5 keys) — same kernel representation as the dedup
    * operators ([[graft.functions.HashImpl.shingleHashes]]). */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), shingleHashes(tokens(col("text")), 3).as("khs"))

  /** Benchmark decontamination: flag training documents sharing
    * 3-gram shingles with an evaluation set (here the deterministic
    * `doc_id % 50 = 0` slice stands in for the benchmark corpus).
    * Output: every non-eval doc with its distinct-overlapping-shingle
    * count and a `contaminated` verdict (≥ 3 shared shingles).
    *
    * Scale: the eval side is benchmark-sized (thousands of docs) —
    * its distinct shingle-key set is broadcast; the corpus side
    * explodes to (doc, shingle-key) rows ONCE and the overlap count
    * is a broadcast-hash-join + one aggregation shuffle on doc_id.
    * The corpus is never self-joined and never collected. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = shingled(s, dir)
    val evalKeys = docs.filter(col("doc_id") % 50 === 0)
      .select(explode(col("khs")).as("kh")).distinct()
    val hits = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(col("khs")).as("kh"))
      .join(broadcast(evalKeys), "kh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") % 50 =!= 0)
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= 3)
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS kh
      |  FROM (SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-1, 1)),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |    FROM toks))),
      |ev AS (SELECT DISTINCT kh FROM sh WHERE doc_id % 50 = 0),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS n_overlap
      |  FROM sh JOIN ev USING (kh) WHERE doc_id % 50 <> 0 GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(h.n_overlap, 0) AS n_overlap,
      |  COALESCE(h.n_overlap, 0) >= 3 AS contaminated
      |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      |WHERE d.doc_id % 50 <> 0
      |ORDER BY d.doc_id""".stripMargin

  /** Deterministic Bernoulli sample (rate 1/10): keep a doc iff the
    * first 8 md5 hex digits of its doc_id are ≡ 0 (mod 10).
    * Unlike `rand()`-based sampling this is reproducible across
    * engines, retries, and partitionings — the property a training
    * pipeline needs for auditable subsets. Pure narrow filter: no
    * shuffle, pushes straight onto the scan. */
  def sampleHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(md5CoinLong(col("doc_id")) % 10 === 0)
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))

  val sampleHashSql: String =
    """SELECT doc_id, source, lang FROM documents
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
      |ORDER BY doc_id""".stripMargin

  /** Stratified sample: exactly 5 docs per source, selected by md5
    * order (hex-string order is plain ASCII compare — identical
    * across engines). The per-stratum pick is a row_number window:
    * one shuffle on the stratum key; at corpus scale strata vastly
    * outnumber partitions so the window parallelizes evenly, and a
    * skewed stratum costs only its own partition. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("hk"), col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("hk", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("source"), col("doc_id"), col("lang"))
      .orderBy(col("source"), col("doc_id"))
  }

  val sampleStratifiedSql: String =
    """SELECT source, doc_id, lang FROM (
      |  SELECT source, doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 5
      |ORDER BY source, doc_id""".stripMargin

  /** Sequence packing — the training-batch construction step: fill
    * fixed token-budget bins (512 here) with documents, greedy
    * contiguous fill in (token count desc, doc_id) order, packed PER
    * SOURCE. A doc's bin is its running-sum start offset divided by
    * the budget, so assignment is one window over (source) — the
    * partitioned-window shape that parallelizes by stratum at corpus
    * scale (a global FFD order would need a single-partition window).
    * Long docs straddle bin boundaries; the trainer's example-packing
    * handles the split, this operator decides placement. Output is the
    * per-bin summary (docs, tokens, fill ratio vs budget). */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val budget = 512
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("n_tokens")) / budget).cast("long"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"))
      .orderBy(col("source"), col("bin"))
  }

  val packSequencesSql: String =
    """SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
      |FROM (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source
      |        ORDER BY n_tokens DESC, doc_id) - n_tokens) / 512) AS BIGINT) AS bin
      |  FROM (
      |    SELECT doc_id, source,
      |      CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |    FROM documents))
      |GROUP BY source, bin
      |ORDER BY source, bin""".stripMargin

  /** Mixture rebalancing — domain reweighting at the corpus level:
    * given target mixture shares per source (share_i ∝ i+1 over the
    * src0..srcN fixture sources) and a global budget of HALF the
    * corpus tokens, compute each source's keep-rate
    * `min(1, budget·share/tokens)` and apply it with the
    * deterministic md5-fraction coin every sampling operator here
    * uses. Up- and down-weighted sources both appear (high-index
    * sources keep everything, low-index ones are thinned). Plan: one
    * per-source aggregate (tiny) broadcast back over the corpus —
    * the scan stays narrow, decisions are per-row. */
  def mixtureRebalance(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        // src7 -> index 7; fraction coin in [0, 1) from md5 of doc_id
        substring(col("source"), 4, 10).cast("int").as("src_idx"),
        (md5CoinLong(col("doc_id")) % 1000000L).as("coin"))
    val per = toks.groupBy(col("source"), col("src_idx"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
    val tot = per.agg(sum(col("src_tokens")).as("total_tokens"),
      sum(col("src_idx") + 1).as("share_denom"))
    val rates = per.crossJoin(broadcast(tot))
      .withColumn("keep_rate",
        least(lit(1.0), (col("total_tokens") * 0.5) *
          ((col("src_idx") + 1) / col("share_denom")) / col("src_tokens")))
    toks.join(broadcast(rates.select(col("source"), col("keep_rate"))),
        Seq("source"))
      .withColumn("kept", col("coin") < col("keep_rate") * 1000000L)
      .groupBy(col("source"))
      .agg(round(first(col("keep_rate")), 6).as("keep_rate"),
        count(when(col("kept"), 1)).as("docs_kept"),
        sum(when(col("kept"), col("n_tokens"))).as("tokens_kept"))
      .orderBy(col("source"))
  }

  val mixtureRebalanceSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |    CAST(substr(source, 4) AS INT) AS src_idx,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS coin
      |  FROM documents),
      |per AS (
      |  SELECT source, src_idx, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
      |  FROM toks GROUP BY source, src_idx),
      |tot AS (
      |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
      |    CAST(SUM(src_idx + 1) AS BIGINT) AS share_denom FROM per),
      |rates AS (
      |  SELECT source,
      |    LEAST(1.0, (total_tokens * 0.5) * ((src_idx + 1) / CAST(share_denom AS DOUBLE)) / src_tokens) AS keep_rate
      |  FROM per, tot)
      |SELECT t.source, ROUND(ANY_VALUE(r.keep_rate), 6) AS keep_rate,
      |  CAST(COUNT(CASE WHEN t.coin < r.keep_rate * 1000000 THEN 1 END) AS BIGINT) AS docs_kept,
      |  CAST(SUM(CASE WHEN t.coin < r.keep_rate * 1000000 THEN t.n_tokens END) AS BIGINT) AS tokens_kept
      |FROM toks t JOIN rates r ON r.source = t.source
      |GROUP BY t.source
      |ORDER BY t.source""".stripMargin

  /** Cross-source overlap matrix — the corpus diagnostic behind
    * mixture decisions: for every source pair, the count of shared
    * distinct 3-gram shingles and the shingle-set Jaccard. Detects
    * inter-source duplication/contamination (mirror sites, shared
    * boilerplate) before it skews dedup or mixture weights.
    *
    * Plan (join-free, bitmask): the source dimension is a tiny label
    * set (one per ingest feed), so each source gets a bit in a LONG.
    * One codegen aggregation collapses the corpus to (shingle ->
    * source bitmask) via `bit_or`; a second collapses that to
    * (mask -> shingle count), whose cardinality is the number of
    * distinct SHARING PATTERNS (≤ 2^#sources, in practice dozens) —
    * so the pair explosion runs over a handful of mask rows, never
    * per shingle, and per-mask fan-out is bounded by C(#sources, 2).
    * The totals/pairs branches split above one shared tiny exchange
    * (executed once via AQE stage reuse): one corpus scan, no shingle
    * self-join, nothing persisted, whole-stage codegen end to end
    * (no ObjectHashAggregate — `collect_set` never touches the big
    * stream). Sources beyond 64 bits fall back to the collect_set
    * form with identical semantics. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // dense alphabetical source index, read through the pruned
    // `source` column (dictionary page, not the text payload); the
    // collect is bounded by the source-label cardinality and memoized
    // per (session, table version) so registration sweeps and repeated
    // bench constructions pay the scan once
    // UTF-8 unsigned-byte order, NOT java.lang.String's UTF-16
    // code-unit order: the pair orientation below must agree with the
    // oracle's `a.source < b.source` and Spark's own UTF8String binary
    // sort, and the two orders diverge for supplementary-plane names
    // (surrogate code units 0xD800.. sort BELOW 0xE000.. in UTF-16
    // but the code points they encode sort above). ASCII fixtures
    // never see the difference; a real corpus's source labels can.
    val utf8Order: Ordering[String] = (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val srcNames = Tables.memoizedAtConstruction(s, dir, "documents") {
      Tables.documents(s, dir)
        .select(col("source")).distinct()
        .collect().map(_.getString(0)).sorted(utf8Order).toSeq
    }.toArray
    if (srcNames.length > 64) return sourceOverlapWide(s, dir)
    val idxMap = typedlit(srcNames.zipWithIndex.toMap)
    val byKh = Tables.documents(s, dir)
      .select(explode(shingleHashes(tokens(col("text")), 3)).as("kh"),
        element_at(idxMap, col("source")).as("sidx"))
      .selectExpr("kh", "shiftleft(1L, sidx) AS bit")
      .groupBy(col("kh"))
      .agg(expr("bit_or(bit)").as("mask"))
    val maskCounts = byKh.groupBy(col("mask"))
      .agg(count(lit(1)).as("cnt"))
    // indices present in the mask, ascending (== alphabetical order);
    // materialized as a column so the five references inside `combos`
    // read the array instead of re-running the bit filter each time
    val withIdxs = maskCounts.withColumn("idxs", expr(
      s"filter(sequence(0, ${srcNames.length - 1}), " +
        "i -> (mask & shiftleft(1L, i)) != 0L)"))
    val idxs = col("idxs")
    // tagged union per mask: membership rows in BOTH orientations —
    // (i, -1) feeds the src_a totals window, (-1, i) feeds the src_b
    // totals window — plus ordered (i, j) pair rows (ascending indices
    // make src_a < src_b structural). Keeping totals and pairs in ONE
    // stream means the heavy aggregation has a single consumer: no
    // branch, no self-join, no reliance on AQE stage reuse.
    val combos = concat(
      transform(idxs, x => struct(x.as("ia"), lit(-1).as("ib"))),
      transform(idxs, x => struct(lit(-1).as("ia"), x.as("ib"))),
      flatten(transform(idxs, (x, i) =>
        transform(slice(idxs, i + lit(2), size(idxs)), y =>
          struct(x.as("ia"), y.as("ib"))))))
    val counts = withIdxs.select(explode(combos).as("c"), col("cnt"))
      .groupBy(col("c.ia").as("ia"), col("c.ib").as("ib"))
      .agg(sum(col("cnt")).as("n"))
    // totals attach via two windows over the ≤ (2·#sources +
    // C(#sources, 2))-row counts frame — each pair row sees its (i,-1)
    // sibling in the ia partition and its (-1,j) sibling in the ib
    // partition; membership rows drop out of the final filter
    val names = typedlit(srcNames)
    counts
      .withColumn("na", max(when(col("ib") === -1, col("n")))
        .over(Window.partitionBy(col("ia"))))
      .withColumn("nb", max(when(col("ia") === -1, col("n")))
        .over(Window.partitionBy(col("ib"))))
      .filter(col("ia") =!= -1 && col("ib") =!= -1)
      .select(element_at(names, col("ia") + 1).as("src_a"),
        element_at(names, col("ib") + 1).as("src_b"),
        col("n").as("shared"),
        (col("n") / (col("na") + col("nb") - col("n"))).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Fallback overlap form for > 64 sources: same semantics with a
    * per-shingle `collect_set` (ObjectHashAggregate) instead of the
    * bitmask — still one corpus scan and no self-join, just without
    * the mask-collapse compression. */
  private def sourceOverlapWide(s: SparkSession, dir: String): DataFrame = {
    val bySh = Tables.documents(s, dir)
      .select(col("source"),
        explode(shingleHashes(tokens(col("text")), 3)).as("kh"))
      .groupBy(col("kh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    val combos = concat(
      transform(col("srcs"), x =>
        struct(x.as("src_a"), lit(null).cast("string").as("src_b"))),
      flatten(transform(col("srcs"), (x, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))), y =>
          struct(x.as("src_a"), y.as("src_b"))))))
    val counts = bySh.select(explode(combos).as("c"))
      .groupBy(col("c.src_a").as("src_a"), col("c.src_b").as("src_b"))
      .agg(count(lit(1)).as("cnt"))
    val per = counts.filter(col("src_b").isNull)
    val pairs = counts.filter(col("src_b").isNotNull)
    pairs
      .join(broadcast(per.select(col("src_a"), col("cnt").as("na"))),
        Seq("src_a"))
      .join(broadcast(per.select(col("src_a").as("src_b"),
        col("cnt").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("cnt").as("shared"),
        (col("cnt") / (col("na") + col("nb") - col("cnt")))
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val sourceOverlapSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT source,
      |    CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS kh
      |  FROM (
      |    SELECT source, unnest(list_transform(range(1, greatest(len(w)-1, 1)),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |    FROM toks)),
      |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM sh a JOIN sh b ON a.kh = b.kh AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT src_a, src_b, shared,
      |  shared / (pa.n + pb.n - shared) AS jaccard
      |FROM pairs
      |JOIN per pa ON pa.source = src_a
      |JOIN per pb ON pb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin

  /** Repetition-based quality signal (the Gopher/C4 rule family):
    * share of the document's word bigrams taken by its single most
    * frequent bigram — high values mark boilerplate/looping text.
    * Shape: one (doc, bigram) count aggregation + one per-doc rollup,
    * both keyed on the doc — no skew (each doc's bigrams are its own
    * partition-local group after the first shuffle). */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(shinglesOfTokens(col("toks"), 2)).as("bg"))
    val perDoc = bg.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_n"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") > 0,
          col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("repetitive", col("top_bigram_frac") >= 0.05)
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(w), 1)),
      |    i -> w[i] || ' ' || w[i+1])) AS b
      |  FROM toks),
      |perdoc AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |    CAST(MAX(c) AS BIGINT) AS top_bigram_n
      |  FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b)
      |  GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(n_bigrams, 0) AS n_bigrams,
      |  COALESCE(top_bigram_n, 0) AS top_bigram_n,
      |  CASE WHEN COALESCE(n_bigrams, 0) > 0
      |    THEN CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
      |    ELSE 0.0 END AS top_bigram_frac,
      |  CASE WHEN COALESCE(n_bigrams, 0) > 0
      |    THEN CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
      |    ELSE 0.0 END >= 0.05 AS repetitive
      |FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Exact per-stratum order statistics (corpus length profile): the
    * discrete p50/p95 of n_chars per source — the exact form of the
    * quantile summaries a pipeline uses for budgeting and outlier
    * cuts. One window shuffle on the stratum key; the discrete
    * (type-1) definition `value at row ⌈q·n⌉` makes the answer
    * engine-independent (no interpolation). */
  def lengthPercentiles(s: SparkSession, dir: String): DataFrame = {
    val bySrc = Window.partitionBy(col("source"))
    val ranked = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn",
        row_number().over(bySrc.orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(bySrc))
    ranked.groupBy(col("source"))
      .agg(
        max(col("n")).as("n_docs"),
        max(when(col("rn") === ceil(col("n") * 0.5), col("n_chars")))
          .as("p50_chars"),
        max(when(col("rn") === ceil(col("n") * 0.95), col("n_chars")))
          .as("p95_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("source"))
  }

  val lengthPercentilesSql: String =
    """WITH ranked AS (
      |  SELECT source, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT source, MAX(n) AS n_docs,
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN n_chars END) AS p50_chars,
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN n_chars END) AS p95_chars,
      |  MAX(n_chars) AS max_chars
      |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  /** Per-document novelty: the share of a doc's distinct 3-gram
    * shingles that occur in NO other document — the corpus-level
    * uniqueness profile used to weigh memorization risk and value of
    * a document. Shape: one (doc, shingle-key) explode, one
    * doc-frequency aggregation on the key, a join back on the SAME
    * key (exchange reused), and a per-doc rollup — two shuffles
    * total, no self-join. */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    val exploded = shingled(s, dir)
      .select(col("doc_id"), explode(col("khs")).as("kh"))
    val df = exploded.groupBy(col("kh"))
      .agg(count(lit(1)).as("df"))
    val per = exploded.join(df, "kh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty",
        when(col("n_sh") > 0,
          col("n_unique").cast("double") / col("n_sh").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  val noveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS kh
      |  FROM (SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-1, 1)),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |    FROM toks))),
      |freq AS (SELECT kh, COUNT(*) AS df FROM sh GROUP BY kh),
      |per AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
      |    CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
      |  FROM sh JOIN freq USING (kh) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(n_sh, 0) AS n_sh,
      |  COALESCE(n_unique, 0) AS n_unique,
      |  CASE WHEN COALESCE(n_sh, 0) > 0
      |    THEN CAST(n_unique AS DOUBLE) / CAST(n_sh AS DOUBLE)
      |    ELSE 0.0 END AS novelty
      |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Cross-document duplicated SPANS (ExactSubstr-style, Lee et al.
    * 2022 "Deduplicating Training Data Makes Language Models Better"):
    * per document, the maximal runs of consecutive 5-gram word
    * shingles that also occur in at least one OTHER document — i.e.
    * the boilerplate spans substring-dedup would cut, with their run
    * structure. Complements [[novelty]] (distinct unordered keys, no
    * positions): here a 60-word shared license header reads as one
    * 56-shingle run, not 56 scattered keys.
    * Output per doc: shingle-position count, duplicated-position
    * count, longest duplicated run, number of runs ≥ 3 shingles
    * (≥ 7 words), duplicated fraction.
    *
    * Plan: positional (doc, pos, kh) explode; cross-doc shared-key
    * set via distinct + count ≥ 2 on the 60-bit md5 key (one row per
    * key — no fan-out on hot boilerplate keys); shuffle join back on
    * kh to keep only shared positions; then gaps-and-islands per doc
    * (`pos − row_number`) where the window's doc_id partitioning is
    * reused by both downstream aggregations (HashPartitioning(doc_id)
    * satisfies the (doc_id, grp) clustering) — so runs/per-doc rollup
    * add NO further exchange. The suffix array of the paper is
    * replaced by the shingle-df sketch, the distributed-friendly
    * form: all shuffles linear in corpus size, no self-join, nothing
    * collected. */
  def dupSpans(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val sh = toks
      .select(col("doc_id"),
        posexplode(shinglesOfTokens(col("w"), 5)).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"),
        hexSliceLong(md5(col("sh").cast("binary")), 1, 15).as("kh"))
    val shared = sh.select(col("doc_id"), col("kh")).distinct()
      .groupBy(col("kh")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("kh"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = sh.join(shared, "kh")
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(win))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    val per = runs.groupBy(col("doc_id"))
      .agg(max(col("len")).as("max_run"),
        sum(col("len")).as("n_dup_pos"),
        sum(when(col("len") >= 3, 1L).otherwise(0L)).as("n_spans"))
    toks
      .select(col("doc_id"),
        greatest(size(col("w")) - 4, lit(0)).cast("long").as("n_pos"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_pos"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .withColumn("dup_frac",
        when(col("n_pos") > 0,
          col("n_dup_pos").cast("double") / col("n_pos").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  val dupSpansSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, i AS pos,
      |    CAST(('0x' || substr(md5(w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]), 1, 15)) AS BIGINT) AS kh
      |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w)-3, 1))) AS i) t),
      |shared AS (
      |  SELECT kh FROM (SELECT DISTINCT doc_id, kh FROM sh)
      |  GROUP BY kh HAVING COUNT(*) >= 2),
      |hits AS (SELECT doc_id, pos FROM sh JOIN shared USING (kh)),
      |runs AS (
      |  SELECT doc_id, pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM hits),
      |runlen AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM runs GROUP BY doc_id, grp),
      |per AS (
      |  SELECT doc_id, CAST(MAX(len) AS BIGINT) AS max_run,
      |    CAST(SUM(len) AS BIGINT) AS n_dup_pos,
      |    CAST(SUM(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
      |  FROM runlen GROUP BY doc_id),
      |base AS (
      |  SELECT doc_id, CAST(greatest(len(string_split_regex(trim(text), '\s+')) - 4, 0) AS BIGINT) AS n_pos
      |  FROM documents)
      |SELECT b.doc_id, b.n_pos,
      |  COALESCE(p.n_dup_pos, 0) AS n_dup_pos,
      |  COALESCE(p.max_run, 0) AS max_run,
      |  COALESCE(p.n_spans, 0) AS n_spans,
      |  CASE WHEN b.n_pos > 0
      |    THEN CAST(COALESCE(p.n_dup_pos, 0) AS DOUBLE) / CAST(b.n_pos AS DOUBLE)
      |    ELSE 0.0 END AS dup_frac
      |FROM base b LEFT JOIN per p USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  /** CCNet-style head/middle/tail bucketing: per source, documents
    * are split into length tertiles (n_chars stands in for the
    * perplexity score CCNet buckets on — the operator is the
    * bucketing, not the scorer). NTILE over a total order
    * (n_chars, doc_id) makes the cut deterministic; both engines
    * hand the first buckets the remainder rows, so the split is
    * engine-identical. One shuffle on source. */
  def qualityBuckets(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("source"), col("bucket"))
  }

  val qualityBucketsSql: String =
    """SELECT source, CAST(bucket AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM (
      |  SELECT source, n_chars,
      |    NTILE(3) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS bucket
      |  FROM documents)
      |GROUP BY source, bucket ORDER BY source, bucket""".stripMargin

  /** Fixed-size token-window chunking with overlap — the standard
    * pretraining chunker: every document becomes ceil(n/stride)
    * chunks of ≤ `window` (50) tokens taken at `stride` (30) token
    * steps, so consecutive chunks overlap by 20 tokens and no token
    * is dropped. Each chunk is identified by the md5 of its re-joined
    * text: downstream consumers key on `chunk_md5` for chunk-level
    * exact dedup and on (doc_id, chunk_start) for provenance.
    *
    * Scale: map-only — one corpus scan, per-document fan-out of
    * n_tokens/stride rows, no join and no aggregation; the only
    * shuffle is the presentation sort (dropped in production, where
    * the output partitioning is chosen by the consumer — e.g. by
    * chunk_md5 for the dedup that follows). At 100 TB this is an
    * embarrassingly parallel pass. */
  def chunkWindows(s: SparkSession, dir: String): DataFrame =
    chunkTransform(Tables.documents(s, dir))
      .orderBy(col("doc_id"), col("chunk_start"))

  /** The chunker as a pure map-only transform over any (doc_id, text)
    * relation — shared by the batch query above and the streaming
    * ingestion twin ([[graft.streaming.DedupStream.chunkDedup]]). */
  def chunkTransform(docs: DataFrame): DataFrame = {
    val window = 50
    val stride = 30
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")), lit(stride))).as("s"))
      .select(col("doc_id"), col("s").cast("long").as("chunk_start"),
        slice(col("w"), col("s"), lit(window)).as("cw"))
      .select(col("doc_id"), col("chunk_start"),
        size(col("cw")).cast("long").as("n_tok"),
        md5(array_join(col("cw"), " ")).as("chunk_md5"))
  }

  val chunkWindowsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |st AS (
      |  SELECT doc_id, w, unnest(range(1, len(w) + 1, 30)) AS s FROM toks)
      |SELECT doc_id, CAST(s AS BIGINT) AS chunk_start,
      |  CAST(len(w[s:s+49]) AS BIGINT) AS n_tok,
      |  md5(array_to_string(w[s:s+49], ' ')) AS chunk_md5
      |FROM st ORDER BY doc_id, chunk_start""".stripMargin

  /** Seeded deterministic global shuffle + shard assignment — the
    * step between curation and the dataloader: every doc gets a
    * shuffle key md5(seed ++ doc_id), a shard (top 32 key bits mod
    * `nShards`), and a position within its shard (rank by key). The
    * shuffle is reproducible from the seed alone, and any shard can
    * be re-derived independently of the others.
    *
    * Scale: one scan; the only shuffle is the window's hash exchange
    * on `shard` — positions are assigned per-shard, NEVER via a
    * global single-partition row_number. With nShards sized to the
    * cluster (thousands in production, 8 here so the oracle output
    * stays inspectable), each shard's rank sort fits one task. */
  def shardAssign(s: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("skey"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("shuf42:"), col("doc_id").cast("string"))
          .cast("binary")).as("skey"))
      .withColumn("shard", hexSliceLong(col("skey"), 1, 8) % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"), col("source"),
        col("skey"))
      .orderBy(col("shard"), col("pos"))
  }

  val shardAssignSql: String =
    """SELECT shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
      |       AS BIGINT) AS pos,
      |  doc_id, source, skey
      |FROM (
      |  SELECT doc_id, source,
      |    md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS skey,
      |    CAST(('0x' || substr(md5('shuf42:' || CAST(doc_id AS VARCHAR)), 1, 8))
      |         AS BIGINT) % 8 AS shard
      |  FROM documents)
      |ORDER BY shard, pos""".stripMargin

  /** DSIR-style hashed-n-gram importance weights (Xie et al. 2023):
    * score every document by how target-like its token distribution
    * is. Unigram+bigram occurrences hash into 1024 buckets; the
    * target distribution is fit on the "curated" sources (every 5th
    * source index), the raw distribution on the whole corpus, both
    * add-1 smoothed; a document's weight is the sum over its feature
    * occurrences of log(p_target/p_raw). Positive weight = resample
    * toward target.
    *
    * Cross-engine exactness: per-bucket log-ratios are snapped to a
    * fixed-point grid (floor(10⁶·Δln) as BIGINT) so the per-doc
    * aggregation is an exact order-free integer sum — same contract
    * as [[TextQueries.lmPerplexity]].
    *
    * Scale: this is the cheapest possible importance model at
    * 100 TB — the feature table is FIXED at 1024 rows regardless of
    * corpus size, so fitting is two hash aggregations with map-side
    * combine, and scoring joins the corpus gram stream to a
    * broadcast 1024-row table: zero extra shuffle beyond the final
    * per-doc sum. Hash-bucket collisions are part of the method
    * (the paper's "hashed n-gram features"), not an approximation
    * layered on it. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExpressions.gramBuckets
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        (substring(col("source"), 4, 10).cast("int") % 5 === 0).as("tgt"),
        tokens(col("text")).as("toks"))
    // unigram + bigram occurrences hashed to 1024 buckets by the
    // native kernel — gram strings never leave the row; only compact
    // long bucket ids flow into the aggregations
    def grams(d: DataFrame): DataFrame = d.select(col("doc_id"), col("tgt"),
        explode(gramBuckets(col("toks"))).as("bucket"))
    val g = grams(docs)
    val counts = g.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_r"),
        count(when(col("tgt"), 1)).as("n_t"))
    val totals = counts.agg(sum(col("n_r")).as("nr"), sum(col("n_t")).as("nt"))
    val w = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        floor(lit(1000000.0) *
          (log((col("n_t").cast("double") + 1.0) /
              (col("nt").cast("double") + 1024.0)) -
           log((col("n_r").cast("double") + 1.0) /
              (col("nr").cast("double") + 1024.0)))).as("w_scaled"))
    // Scoring: the 1024-row weight table is MODEL STATE — collect it
    // (bounded at the feature-table size by construction) and fold it
    // into the plan as a literal; each document's weight is then ONE
    // codegen'd sum-lookup over its own bucket array ([[SumLookup]]).
    // The corpus gram stream is never re-exploded and the only
    // scoring-side shuffle is the output sort — the second
    // explode → broadcast-join → per-doc aggregation this replaces
    // re-pushed every gram occurrence through a shuffle pair. Every
    // gram occurrence's bucket exists in `counts` (it came from the
    // corpus), so lookup-hit semantics match the join exactly.
    val wArr = new Array[Long](1024)
    w.collect().foreach(r => wArr(r.getLong(0).toInt) = r.getLong(1))
    val wLit = typedLit(wArr.toSeq)
    docs.select(col("doc_id"), gramBuckets(col("toks")).as("bks"))
      .select(col("doc_id"),
        size(col("bks")).cast("long").as("n_feats"),
        graft.functions.VectorExpressions.sumLookup(col("bks"), wLit).as("sw"))
      .select(col("doc_id"), col("n_feats"),
        (col("sw").cast("double") / 1000000.0).as("weight"))
      .withColumn("toward_target", col("weight") > 0.0)
      .orderBy(col("doc_id"))
  }

  val dsirWeightsSql: String =
    """WITH docs AS (
      |  SELECT doc_id, (CAST(substr(source, 4) AS INT) % 5 = 0) AS tgt,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, tgt,
      |    CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 1024 AS bucket
      |  FROM (
      |    SELECT doc_id, tgt,
      |      unnest(w || list_transform(range(1, greatest(len(w), 1)),
      |        i -> w[i] || ' ' || w[i+1])) AS gram
      |    FROM docs)),
      |counts AS (
      |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_r,
      |         CAST(COUNT(CASE WHEN tgt THEN 1 END) AS BIGINT) AS n_t
      |  FROM grams GROUP BY bucket),
      |totals AS (
      |  SELECT CAST(SUM(n_r) AS BIGINT) AS nr, CAST(SUM(n_t) AS BIGINT) AS nt
      |  FROM counts),
      |w AS (
      |  SELECT bucket,
      |    CAST(floor(1000000.0 *
      |      (ln((CAST(n_t AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + 1024.0)) -
      |       ln((CAST(n_r AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + 1024.0))))
      |      AS BIGINT) AS w_scaled
      |  FROM counts CROSS JOIN totals)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
      |  CAST(SUM(w_scaled) AS DOUBLE) / 1000000.0 AS weight,
      |  (CAST(SUM(w_scaled) AS DOUBLE) / 1000000.0 > 0.0) AS toward_target
      |FROM grams JOIN w USING (bucket)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** UniMax sampling (Chung et al. 2023): allocate a total token
    * budget across sources by water-filling under a per-source epoch
    * cap — low-resource sources get up to `cap` epochs of their data,
    * the remaining budget spreads uniformly over the rest. Budget is
    * half the corpus (floor(Σtokens/2)), cap is 4 epochs.
    *
    * Closed form instead of the paper's sequential loop: with capped
    * supplies s_i = cap·n_i sorted ascending, source i is
    * supply-limited iff s_i·(k−i+1) + Σ_{j<i}s_j ≤ B (monotone in i,
    * proof in the sequential-greedy equivalence: if i overflows its
    * fair share, so does every larger j), so the boundary m and the
    * uniform share (B − Σ_{j≤m}s_j)/(k−m) come from two window
    * passes. All arithmetic is integer until the two final IEEE
    * divisions — exact cross-engine.
    *
    * Scale: one corpus aggregation (map-side combine) collapses
    * 100 TB to one row per source; the window passes run on that
    * |sources|-row table — the unpartitioned window is a deliberate
    * single-task frame over dozens of rows, not a corpus-wide sort. */
  def unimaxSampling(s: SparkSession, dir: String): DataFrame = {
    val cap = 4L
    val perSrc = Tables.documents(s, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val ord = Window.orderBy(col("n_tokens"), col("source"))
    val all = Window.partitionBy()
    perSrc
      .withColumn("s_cap", col("n_tokens") * cap)
      .withColumn("idx", row_number().over(ord).cast("long"))
      .withColumn("k", count(lit(1)).over(all))
      .withColumn("budget",
        floor(sum(col("n_tokens")).over(all).cast("double") / 2.0))
      .withColumn("cum_prev",
        coalesce(sum(col("s_cap"))
          .over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("capped",
        col("s_cap") * (col("k") - col("idx") + 1) + col("cum_prev")
          <= col("budget"))
      .withColumn("m",
        max(when(col("capped"), col("idx")).otherwise(0L)).over(all))
      .withColumn("p_m",
        coalesce(max(when(col("capped"), col("cum_prev") + col("s_cap")))
          .over(all), lit(0L)))
      .withColumn("alloc_tokens",
        when(col("idx") <= col("m"), col("s_cap").cast("double"))
          .otherwise((col("budget") - col("p_m")).cast("double") /
            (col("k") - col("m")).cast("double")))
      .withColumn("epochs",
        col("alloc_tokens") / col("n_tokens").cast("double"))
      .withColumn("supply_capped", col("idx") <= col("m"))
      .select(col("source"), col("n_tokens"), col("alloc_tokens"),
        col("epochs"), col("supply_capped"))
      .orderBy(col("source"))
  }

  val unimaxSamplingSql: String =
    """WITH per_src AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |      AS n_tokens
      |  FROM documents GROUP BY source),
      |staged AS (
      |  SELECT source, n_tokens, n_tokens * 4 AS s_cap,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS BIGINT) AS idx,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS k,
      |    CAST(floor(CAST(SUM(n_tokens) OVER () AS DOUBLE) / 2.0) AS BIGINT)
      |      AS budget,
      |    CAST(COALESCE(SUM(n_tokens * 4) OVER (ORDER BY n_tokens, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_prev
      |  FROM per_src),
      |flagged AS (
      |  SELECT *,
      |    (s_cap * (k - idx + 1) + cum_prev <= budget) AS capped
      |  FROM staged),
      |bounded AS (
      |  SELECT *,
      |    CAST(MAX(CASE WHEN capped THEN idx ELSE 0 END) OVER () AS BIGINT)
      |      AS m,
      |    CAST(COALESCE(MAX(CASE WHEN capped THEN cum_prev + s_cap END)
      |      OVER (), 0) AS BIGINT) AS p_m
      |  FROM flagged)
      |SELECT source, n_tokens,
      |  CASE WHEN idx <= m THEN CAST(s_cap AS DOUBLE)
      |    ELSE CAST(budget - p_m AS DOUBLE) / CAST(k - m AS DOUBLE) END
      |    AS alloc_tokens,
      |  CASE WHEN idx <= m THEN CAST(s_cap AS DOUBLE)
      |    ELSE CAST(budget - p_m AS DOUBLE) / CAST(k - m AS DOUBLE) END
      |    / CAST(n_tokens AS DOUBLE) AS epochs,
      |  (idx <= m) AS supply_capped
      |FROM bounded ORDER BY source""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t_unimax_sampling", unimaxSampling, Some(unimaxSamplingSql)),
    QuerySpec("t_dsir_weights", dsirWeights, Some(dsirWeightsSql)),
    QuerySpec("t_quality_buckets", qualityBuckets, Some(qualityBucketsSql)),
    QuerySpec("t_novelty", novelty, Some(noveltySql)),
    QuerySpec("t_decontaminate", decontaminate, Some(decontaminateSql)),
    QuerySpec("s_sample_hash", sampleHash, Some(sampleHashSql)),
    QuerySpec("s_sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    QuerySpec("t_repetition", repetition, Some(repetitionSql)),
    QuerySpec("t_length_percentiles", lengthPercentiles, Some(lengthPercentilesSql)),
    QuerySpec("t_pack_sequences", packSequences, Some(packSequencesSql)),
    QuerySpec("t_mixture_rebalance", mixtureRebalance, Some(mixtureRebalanceSql)),
    QuerySpec("t_source_overlap", sourceOverlap, Some(sourceOverlapSql)),
    QuerySpec("t_dup_spans", dupSpans, Some(dupSpansSql)),
    QuerySpec("t_chunk_windows", chunkWindows, Some(chunkWindowsSql)),
    QuerySpec("t_shard_assign", shardAssign, Some(shardAssignSql)))
}
