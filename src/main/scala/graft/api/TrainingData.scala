package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The user-facing training-data pipeline API: the parameterized operator
  * library behind the q29/q73–q76 driver gates (which delegate here), for
  * callers who want the operators on their own tables rather than the
  * fixture queries.
  *
  * Design rules, enforced across every operator:
  *   - DETERMINISTIC: membership/assignment is a pure function of a key
  *     column and a caller-supplied salt (md5 keyspace cuts) — stable
  *     across reruns, repartitionings, and engines; never `rand()`.
  *   - SCALE-SAFE: map-only where possible (sampling, splits), bounded
  *     tasks where sequencing is inherent (packing shards, stratified
  *     quotas via WindowGroupLimit), broadcast where one side is small
  *     by nature (decontamination reference sets, ANN query vectors).
  */
object TrainingData {

  /** Salted md5 over a key column — the determinism primitive. */
  def keyHash(key: Column, salt: String): Column =
    md5(concat(lit(salt), key.cast("string")))

  /** Lowercase 8-hex-digit threshold T such that `md5 < T` keeps ~rate of
    * the keyspace (16^8 = 2^32 buckets of resolution).
    */
  private def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate outside [0, 1]")
    if (rate >= 1.0) "g" // any md5 hex string sorts below 'g'
    else f"${(rate * 4294967296.0).toLong}%08x"
  }

  /** Deterministic Bernoulli sample: keeps rows whose salted key hash
    * falls in the first `rate` slice of the md5 keyspace. Map-only — adds
    * no shuffle at any scale — and reproducible: the same (key, salt)
    * always makes the same in/out decision.
    */
  def sampleDeterministic(df: DataFrame, keyCol: String, rate: Double,
      salt: String): DataFrame =
    df.filter(substring(keyHash(col(keyCol), salt), 1, 8) < hexThreshold(rate))

  /** Column profiler (DuckDB-SUMMARIZE / Deequ-analyzer shape): one row
    * per input column with (n_rows, n_nulls, n_distinct, min, max), the
    * first thing anyone runs on an unfamiliar corpus drop. ONE pass over
    * the data: every per-column statistic is an ordinary partial+final
    * aggregate in a single `agg` (the exact multi-column distincts expand
    * the input N_cols ways — the standard cost of exact profiling; pass
    * fewer columns or pre-sample for quick looks at 100 TB). min/max
    * render deterministically cross-engine: numerics through
    * DECIMAL(38,2) (fixed scale, no scientific notation), everything else
    * via plain string cast — which is what lets q152 hash-match a DuckDB
    * oracle.
    */
  def profile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    def asText(c: Column, dt: DataType): Column = dt match {
      case _: NumericType => c.cast(DecimalType(38, 2)).cast("string")
      case StringType => c
      case _ => c.cast("string")
    }
    val fields = df.schema.fields.toSeq
    require(fields.nonEmpty, "profile() needs at least one column")
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        count(c).as(s"__nn_${f.name}"),
        countDistinct(c).as(s"__nd_${f.name}"),
        asText(min(c), f.dataType).as(s"__mn_${f.name}"),
        asText(max(c), f.dataType).as(s"__mx_${f.name}"))
    } :+ count(lit(1)).as("__rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = fields.map { f =>
      struct(
        lit(f.name).as("col_name"),
        col("__rows").as("n_rows"),
        (col("__rows") - col(s"__nn_${f.name}")).as("n_nulls"),
        col(s"__nd_${f.name}").as("n_distinct"),
        col(s"__mn_${f.name}").as("min_value"),
        col(s"__mx_${f.name}").as("max_value"))
    }
    one.select(explode(array(entries: _*)).as("p")).select("p.*")
      .orderBy("col_name")
  }

  /** Deterministic WEIGHTED Bernoulli sample: each row survives with its
    * own probability `weightBp` / 10000 (basis points, so the policy
    * column stays exact-integer and engine-portable — quality-proportional
    * sampling, domain up/down-weighting). The uniform draw is the first 8
    * md5 hex digits of (salt, key) reduced mod 10000 — map-only, no
    * shuffle, reproducible, and identical in any engine with md5. Rows
    * with weightBp >= 10000 always survive; <= 0 never do.
    */
  def sampleWeighted(df: DataFrame, keyCol: String, weightBp: Column,
      salt: String): DataFrame =
    df.filter(
      conv(substring(keyHash(col(keyCol), salt), 1, 8), 16, 10)
        .cast("long") % 10000 < weightBp)

  /** Per-group quota cap — the per-source/domain document cap every
    * large corpus mix applies (a runaway crawl domain must not dominate
    * the mixture): keep at most `k` rows per `groupCol`, preferring the
    * highest `rankCol` with a deterministic `tieCol` tie-break (reruns
    * and engines agree on the survivors). Plan shape: ONE hash exchange
    * on the group key and bounded per-group state (the canonical window
    * top-k) — scale-safe at any group count, no group ever collects.
    */
  def capPerGroup(df: DataFrame, groupCol: String, rankCol: String,
      tieCol: String, k: Int): DataFrame = {
    require(k > 0, s"capPerGroup needs k > 0, got $k")
    // same collision guard as asofJoin's '_asof_salt': a user column named
    // like our scratch column would be silently overwritten then dropped
    require(!df.columns.contains("__cap_rn"),
      "capPerGroup: the input already carries a '__cap_rn' column, which " +
        "this helper uses as scratch — rename it first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(rankCol).desc, col(tieCol).asc)
    df.withColumn("__cap_rn", row_number().over(w))
      .filter(col("__cap_rn") <= k).drop("__cap_rn")
  }

  /** Deterministic dataset split: appends `splitCol` assigning each row to
    * one of the named bands (weights sum to ~1; the last band absorbs
    * rounding). Use a different salt than any sampling pass so membership
    * and assignment stay decorrelated. Map-only.
    */
  def withSplit(df: DataFrame, keyCol: String, salt: String,
      bands: Seq[(String, Double)], splitCol: String = "split"): DataFrame = {
    require(bands.nonEmpty, "at least one split band")
    val h = substring(keyHash(col(keyCol), salt), 1, 8)
    val cuts = bands.init.scanLeft(0.0)(_ + _._2).tail // cumulative weights
    val expr0 = bands.init.zip(cuts).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cum)) =>
        val cond = h < hexThreshold(cum)
        Some(acc.fold(when(cond, name))(_.when(cond, name)))
    }
    val assigned = expr0.fold(lit(bands.head._1))(_.otherwise(bands.last._1))
    df.withColumn(splitCol, assigned)
  }

  /** Stratified quota sample: up to `quota` rows per stratum, picked in
    * deterministic salted-hash order (uniform within the stratum). The
    * row_number + filter pair plans as WindowGroupLimit, so each task
    * pre-truncates every stratum to the quota BEFORE the shuffle — a hot
    * stratum cannot blow up a task. Adds `rankCol` (1-based).
    */
  def sampleStratified(df: DataFrame, strataCol: String, keyCol: String,
      quota: Int, salt: String, rankCol: String = "rk"): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(col(strataCol))
          .orderBy(keyHash(col(keyCol), salt), col(keyCol))))
      .filter(col(rankCol) <= quota)

  /** Sequence packing (concat-then-chunk): assigns every row a `pack_id`
    * by running token cumsum in `orderCol` order, so documents fill fixed
    * `budget`-token training sequences and straddle pack boundaries
    * GPT-style. The cumsum window is sharded — partitioned by the strata
    * columns plus `orderCol div shardSize` — so no task sequences more
    * than shardSize rows however large a stratum is (hierarchical
    * pack-within-shards; stitch across shards by renumbering with shard
    * totals). Adds `shard`, `start` (token offset in shard), `pack_id`.
    */
  def packSequences(df: DataFrame, orderCol: String, tokensCol: String,
      budget: Int, shardSize: Int, strataCols: Seq[String] = Nil): DataFrame = {
    val w = Window
      .partitionBy(strataCols.map(col) :+ col("shard"): _*)
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("shard", (col(orderCol) / shardSize).cast("long"))
      .withColumn("start", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .withColumn("pack_id", (col("start") / budget).cast("long"))
  }

  /** Distinct word n-gram shingles of a text column (space-tokenized). */
  def wordShingles(text: Column, n: Int): Column = {
    require(n >= 1, "shingle width >= 1")
    val w = split(text, " ")
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(w) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*))))
  }

  /** N-gram Jaccard similarity join through a shared-shingle inverted
    * index: only documents sharing at least one surviving shingle are
    * ever paired. Returns (doc_a, doc_b, jaccard_bp) with doc_a < doc_b
    * and jaccard_bp = floor(10000·|A∩B| / |A∪B|) — integer basis points,
    * so the result is engine-exact (no float accumulation).
    *
    * `maxDocFreq` is the stop-shingle cap that keeps the self-join from
    * going quadratic at corpus scale: a shingle shared by df documents
    * contributes df·(df−1)/2 candidate pairs, so one stop-phrase shingle
    * ("of the and…") with df = 10⁶ would alone emit 5·10¹¹ pairs onto a
    * single reducer. Shingles with df > maxDocFreq are dropped from the
    * index AND from the per-document set sizes (standard stop-shingle
    * removal — near-duplicate signal lives in RARE shingles; the MinHash
    * banding path bounds candidates the same way implicitly), which
    * bounds per-shingle join work at O(maxDocFreq²) and keeps the
    * Jaccard numerator/denominator consistent over the same capped sets.
    * The hot-shingle list is found with one map-side-combining groupBy
    * (no raw-posting skew) and removed with a broadcast anti-join (the
    * list is tiny by construction).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccardBp: Int = 0,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    require(minJaccardBp >= 0 && minJaccardBp <= 10000,
      s"minJaccardBp $minJaccardBp must be in [0, 10000]")
    require(maxDocFreq >= 1, s"maxDocFreq $maxDocFreq must be >= 1")
    // Round 16 (optimization): the shingle explode is the operator's
    // dominant per-row cost and the plan evaluates it THREE times (the
    // hot-shingle aggregate, the self-join's reused exchange, and the
    // sizes aggregate), each at the SOURCE's scan parallelism — a
    // single-row-group or gzip input pins all three to one core (guide
    // §2.5: "one huge unsplittable file — repartition immediately after
    // the read"). When the scan's parallelism is below the cluster's,
    // fan the projected (id, text) rows out first; at healthy scan
    // parallelism the branch is a no-op, so nothing is added at scale.
    // Measured (sf0.1, 5k docs in one row group, 32 cores): q32
    // 12.9 → 2.3 s, and q93/q126 inherit the same edge builder.
    val projected = docs.select(col(idCol).as("__gid"), col(textCol).as("__gtxt"))
    val target = docs.sparkSession.sparkContext.defaultParallelism
    // streaming inputs: .rdd would throw AnalysisException, and micro-batch
    // parallelism is the source's admission control's business — skip the
    // batch-scan heuristic (round-17, ADVICE)
    val src = if (!docs.isStreaming && projected.rdd.getNumPartitions < target)
      projected.repartition(target) else projected
    val sh0 = src.select(col("__gid"),
      explode(wordShingles(col("__gtxt"), n)).as("sh"))
    val hot = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("sh"))
    val sh = if (maxDocFreq == Int.MaxValue) sh0
      else sh0.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizes = sh.groupBy(col("__gid")).agg(count(lit(1)).as("n"))
    sh.as("x").join(sh.as("y"), Seq("sh"))
      .filter(col("x.__gid") < col("y.__gid"))
      .groupBy(col("x.__gid").as("doc_a"), col("y.__gid").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("__gid").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("__gid").as("doc_b"), col("n").as("nb")), "doc_b")
      // basis points via pure integer division: engine-exact, no float
      .select(col("doc_a"), col("doc_b"),
        expr("(10000 * inter) DIV (na + nb - inter)").as("jaccard_bp"))
      .filter(col("jaccard_bp") >= minJaccardBp)
  }

  /** Benchmark decontamination screen: (corpusId, benchId, n_shared) for
    * every corpus document sharing at least `minShared` distinct word
    * n-gram shingles with a reference-set document. The reference side is
    * BROADCAST (eval suites are small by nature): the corpus streams
    * through map-only with no shuffle of the big side, and overlap counts
    * partial-aggregate map-side.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minShared: Int = 2): DataFrame = {
    def shingled(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
        explode(wordShingles(col(textCol), n)).as("sh"))
    // corpus-side shingling at the SOURCE's scan parallelism — same
    // under-parallelized-input guard as ngramJaccardPairs (guide §2.5);
    // no-op when the scan is already as parallel as the cluster
    val target = corpus.sparkSession.sparkContext.defaultParallelism
    val corpusSrc = {
      val projected = corpus.select(col(idCol), col(textCol))
      // same streaming guard as ngramJaccardPairs (round-17, ADVICE)
      if (!corpus.isStreaming && projected.rdd.getNumPartitions < target)
        projected.repartition(target) else projected
    }
    shingled(corpusSrc, "corpus_id")
      .join(broadcast(shingled(bench, "bench_id")), "sh")
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact dedup summary: one row per distinct content value with the
    * surviving id (first writer wins = min id) and the copy count. ONE
    * shuffle, on the md5 content fingerprint — content bytes never
    * co-locate, only their hashes.
    */
  def dedupExactSummary(df: DataFrame, idCol: String, contentCol: String)
      : DataFrame =
    df.groupBy(md5(col(contentCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Exact dedup: the surviving rows themselves (min id per content). */
  def dedupExact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val keep = dedupExactSummary(df, idCol, contentCol)
      .select(col("keeper").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Canonical text form for dedup (the CCNet/C4 normalization step
    * before fingerprinting): lowercase, collapse whitespace runs, trim.
    * Case and spacing variants of the same content then share one md5 —
    * feed the result to [[dedupExact]] / [[dedupIncremental]] /
    * [[minhashLshCandidates]] as the content column. Pure per-row column
    * work (map-only at any scale); the regex is RE2-safe, so the same
    * canonical form comes out of any engine.
    */
  def canonicalText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Incremental exact dedup — the daily-ingest shape: dedup a NEW batch
    * against the fingerprints of the corpus already ingested, without
    * touching the corpus itself (at 100 TB the index is the md5 column of
    * prior batches — corpus², or even corpus re-reads, are off the
    * table). Two steps, both single-shuffle on the 16-byte fingerprint:
    * self-dedup within the batch (min id per content), then anti-join
    * against the corpus fingerprint set. `corpusFps` is one
    * fingerprint column named `fp` (build it once per epoch with
    * [[dedupExactSummary]], or maintain it as a table the commit log
    * appends to).
    */
  def dedupIncremental(newBatch: DataFrame, corpusFps: DataFrame,
      idCol: String, contentCol: String): DataFrame = {
    require(corpusFps.columns.sameElements(Array("fp")),
      s"corpusFps must be a single 'fp' column, got: ${corpusFps.columns.mkString(", ")}")
    dedupExact(newBatch, idCol, contentCol)
      .withColumn("__fp", md5(col(contentCol)))
      .join(corpusFps, col("__fp") === col("fp"), "left_anti")
      .drop("__fp")
  }

  /** Mixture resampling (the domain-weighting step: given target shares
    * per stratum, deterministically downsample each stratum so the kept
    * corpus approaches the target mix at the largest total the data
    * supports). The math: T = min over strata of (n_s / w_s) is the
    * largest total with w_s*T <= n_s everywhere; each stratum keeps at
    * rate (w_s * T) / n_s via the salted-hash keyspace cut — so membership
    * stays reproducible and composable like every sampler here. The
    * per-stratum counts are collected to the driver: strata are domains
    * (dozens), not data.
    */
  def sampleToMixture(df: DataFrame, strataCol: String, keyCol: String,
      targetWeights: Map[String, Double], salt: String): DataFrame = {
    require(targetWeights.nonEmpty && targetWeights.values.forall(_ > 0),
      "every target weight must be positive")
    val counts = df.groupBy(col(strataCol)).count().collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    // a target stratum with no rows drives T (= min n_s/w_s) to 0 and the
    // whole result silently empty — that is always a caller mistake
    val missing = targetWeights.keys.filter(s => counts.getOrElse(s, 0L) == 0L)
    require(missing.isEmpty,
      s"target strata absent from the data (the mixture total would be 0): " +
        missing.toSeq.sorted.mkString(", "))
    val t = targetWeights.map { case (s, w) => counts.getOrElse(s, 0L) / w }.min
    val h = substring(keyHash(col(keyCol), salt), 1, 8)
    val cond = targetWeights.foldLeft(lit(false)) { case (acc, (s, w)) =>
      val n = counts.getOrElse(s, 0L)
      val rate = if (n == 0) 0.0 else w * t / n
      // the min stratum's rate can land just above 1.0 in floating math
      val thr = if (rate >= 1.0) "g" else hexThreshold(rate)
      acc || (col(strataCol) === s && h < thr)
    }
    df.filter(cond)
  }

  /** Temperature-weighted mixture sampling (the multilingual/domain
    * alpha-sampling step): per-stratum sampling mass ∝ count^alpha, so
    * low-resource strata keep a larger SHARE of the target than their raw
    * share (alpha < 1 flattens the distribution; alpha = 1 is
    * proportional). Keep rate per stratum = min(1, targetRows·c^α / Σc^α
    * / c), applied as the same salted-hash keyspace cut as every sampler
    * here — deterministic, reproducible, composable. Strata counts
    * collect to the driver (sorted before the Σc^α fold, so the floating
    * sum is order-stable): strata are domains, not data. MAP-ONLY after
    * the one counting aggregate.
    */
  def temperatureMixture(df: DataFrame, strataCol: String, keyCol: String,
      alpha: Double, targetRows: Long, salt: String): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    val countRows = df.groupBy(col(strataCol)).count().collect()
    // a NULL stratum would be silently dropped by the equality cut while
    // still inflating the weight denominator — always a caller mistake
    require(!countRows.exists(_.isNullAt(0)),
      s"temperatureMixture: NULL values in stratum column '$strataCol' " +
        "(filter or impute them first)")
    val counts = countRows
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toSeq.sortBy(_._1)
    require(counts.nonEmpty, "temperatureMixture over an empty frame")
    val totW = counts.map { case (_, c) => math.pow(c.toDouble, alpha) }.sum
    val h = substring(keyHash(col(keyCol), salt), 1, 8)
    val cond = counts.foldLeft(lit(false)) { case (acc, (sv, c)) =>
      val rate = math.min(1.0, targetRows * math.pow(c.toDouble, alpha) / totW / c)
      val thr = if (rate >= 1.0) "g" else hexThreshold(rate)
      acc || (col(strataCol) === sv && h < thr)
    }
    df.filter(cond)
  }

  /** l-diversity filter (the companion to [[kAnonymize]]): a group of
    * rows sharing quasi-identifier values is safe only if the SENSITIVE
    * attribute takes at least `l` distinct values inside it — k-anonymity
    * alone leaks when a large group is homogeneous in the secret. Keeps
    * rows whose quasi group is l-diverse; one window aggregate on the
    * quasi columns (approx_count_distinct is NOT used — exactness is the
    * point of a privacy gate).
    */
  def lDiversify(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      l: Int): DataFrame = {
    require(l >= 1, s"l must be >= 1, got $l")
    require(quasiCols.nonEmpty, "lDiversify needs at least one quasi-identifier column")
    val w = Window.partitionBy(quasiCols.map(col): _*)
    df.withColumn("__l", size(collect_set(col(sensitiveCol)).over(w)))
      .filter(col("__l") >= l)
      .drop("__l")
  }

  /** Email-address pattern: RE2-safe (no backtracking constructs), so the
    * same pattern means the same thing to Spark's Java regex and to
    * RE2-based engines.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** IPv4 pattern (word-bounded dotted quad), RE2-safe like the above. */
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction (the C4/Dolma scrubbing step): replaces every email
    * address and IPv4 literal in `textCol` with placeholder tokens.
    * MAP-ONLY — pure per-row regexp work, no shuffle at any scale. The
    * patterns avoid backtracking-only constructs so results agree across
    * regex engines (Java, RE2).
    */
  def redactPii(df: DataFrame, textCol: String,
      redactedCol: String = "redacted"): DataFrame =
    df.withColumn(redactedCol,
      regexp_replace(
        regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"))

  /** MinHash-LSH near-duplicate candidate pairs: distinct word shingles →
    * `numHashes` minhashes → `bands` bands hashed to buckets → self-join on
    * (band, bucket) — only documents sharing a band bucket are ever paired,
    * NEVER all-pairs — then Jaccard estimated from signature agreement.
    * The signature table is persisted before the self-join (hundreds of
    * bytes/doc vs KBs of text); at 100 TB make it a bucketed write on
    * `bucket` for a co-partitioned merge join. Returns
    * (id_a, id_b, jaccard_est) with id_a < id_b.
    *
    * Cache lifecycle: the persisted signature table lives until the
    * session evicts it — a long-lived session calling this repeatedly
    * should either pass `signatureStorage = StorageLevel.NONE` (recompute
    * instead of cache) or `spark.catalog.clearCache()` between calls;
    * the cache entry is keyed to this call's plan, so nothing else
    * releases it.
    *
    * `portableHash = true` swaps the xxhash64 family for the md5 32-bit-
    * lane idiom (4 lanes per digest, seeds in the preimage) — the SAME
    * candidate pairs and estimates are then reproducible in any engine
    * with md5 (cross-engine dedup reruns agree, and the gate gets an
    * exact DuckDB oracle). Default stays xxhash64: one 64-bit mix per
    * (lane, shingle) vs an md5 digest per 4 lanes — the hash is the hot
    * loop at corpus scale.
    */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      minJaccardEst: Double = 0.25,
      signatureStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      portableHash: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val rowsPerBand = numHashes / bands
    val sh = df.select(col(idCol),
        wordShingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    // lane hash h_i(t): md5 digests carry four 32-bit lanes (8 hex chars
    // each), seed group i DIV 4 rides the preimage — portable to any
    // md5-bearing engine; xxhash64 seeds directly (fast path)
    val laneHash =
      if (portableHash)
        "CAST(conv(substring(md5(concat(CAST(i DIV 4 AS STRING), ':', t)), " +
          "(i % 4) * 8 + 1, 8), 16, 10) AS BIGINT)"
      else "xxhash64(i, t)"
    val mh = sh.select(col(idCol), expr(
      s"""transform(sequence(0, ${numHashes - 1}),
            i -> array_min(transform(sh, t -> $laneHash)))""").as("mh"))
    // band bucket: 60-bit md5 prefix of the comma-joined band signature
    // (15 hex chars keep the unsigned value inside BIGINT) vs one xxhash64
    val bandCols = (0 until rowsPerBand).map(j => s"mh[b*$rowsPerBand+$j]")
    val bandHash =
      if (portableHash)
        s"CAST(conv(substring(md5(concat_ws(',', ${bandCols.mkString(", ")})), 1, 15), 16, 10) AS BIGINT)"
      else s"xxhash64(${bandCols.mkString(", ")})"
    val banded = mh.select(col(idCol), col("mh"),
        posexplode(expr(
          s"""transform(sequence(0, ${bands - 1}), b -> $bandHash)""")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val sigs =
      if (signatureStorage == org.apache.spark.storage.StorageLevel.NONE) banded
      else banded.persist(signatureStorage)
    val a = sigs.select(col(idCol).as("id_a"), col("mh").as("mh_a"), col("band"), col("bucket"))
    val b = sigs.select(col(idCol).as("id_b"), col("mh").as("mh_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr(s"round(size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v)) / CAST($numHashes AS DOUBLE), 4)")
          .as("jaccard_est"))
      .distinct()
      .filter(col("jaccard_est") >= minJaccardEst)
  }

  /** Non-empty whitespace token count of a text column. */
  def wsTokens(text: Column): Column =
    size(filter(split(text, " "), w => w =!= ""))

  /** BPE-style token estimate from pure integer arithmetic (~chars/3.5 —
    * 2 tokens per 7 characters), engine-portable.
    */
  def bpeTokenEstimate(text: Column): Column =
    floor((length(text) * 2) / lit(7)).cast("long")

  /** Fraction of whitespace tokens that appear in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val words = split(text, " ")
    size(filter(words, w => w.isin(stopwords: _*))) /
      size(filter(words, w => w =!= "")).cast("double")
  }

  /** Heuristic language ID: stopword-density thresholding (the cheap
    * n-gram-family screen corpora run before a real classifier). Emits
    * `hit` when the ratio exceeds `threshold`, else `miss`.
    */
  def langIdHeuristic(text: Column, stopwords: Seq[String],
      threshold: Double = 0.08, hit: String = "en", miss: String = "other"): Column =
    when(stopwordRatio(text, stopwords) > threshold, hit).otherwise(miss)

  /** Composite quality score in [0, 1]: half length (saturating at
    * `targetTokens`), half stopword density — the Gopher/C4-style cheap
    * quality signal family.
    */
  def qualityScore(text: Column, stopwords: Seq[String],
      targetTokens: Int = 80): Column =
    least(wsTokens(text) / (targetTokens + 0.0), lit(1.0)) * 0.5 +
      stopwordRatio(text, stopwords) * 0.5

  /** SimHash document fingerprints (md5-bit-vote family): bit b of the
    * fingerprint is the sign of the +1/-1 votes cast per token occurrence
    * by whether hex digit b of md5(token) has its high bit set. One
    * explode + one partial-combined aggregate per document; the md5
    * arithmetic is engine-portable, so fingerprints agree bit-for-bit
    * across engines. Returns (idCol, fingerprintCol) with the fingerprint
    * as a `bits`-character 0/1 string (near-dup distance = Hamming).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, fingerprintCol: String = "simhash"): DataFrame = {
    require(bits >= 1 && bits <= 32, "1..32 bits (one md5 hex digit each)")
    val voteExpr = s"concat(${(0 until bits).map(b =>
      s"CASE WHEN sum(CASE WHEN substring(md5(tok), ${b + 1}, 1) " +
        s"IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) >= 0 " +
        "THEN '1' ELSE '0' END").mkString(", ")})"
    df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col(idCol))
      .agg(expr(voteExpr).as(fingerprintCol))
  }

  /** Sign-LSH bucket id of a double-array vector column: bit i of the
    * result is the sign of the dot product with `planes(i)`. The planes
    * are configuration (O(bits), not data), so they travel as a literal;
    * bucketing is MAP-ONLY — pair near-duplicate vectors with one
    * self-equi-join on the bucket, never all-pairs.
    */
  def signLshBucket(vec: Column, planes: Seq[Seq[Double]]): Column = {
    require(planes.nonEmpty && planes.size <= 63, "1..63 hyperplanes")
    planes.zipWithIndex.map { case (p, i) =>
      val dot = aggregate(zip_with(vec, typedlit(p), (x, y) => x * y),
        lit(0d), (a, v) => a + v)
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Brute-force cosine top-k: every corpus vector scored against a SMALL
    * broadcast query set (the one legitimate cross join — the build side
    * is the handful of query vectors), ranked per query. Returns
    * (qid, rank, neighbor id, cos). For corpus-scale query sets use an
    * LSH/IVF route instead (see the q34/q52 gates).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "e",
      qidCol: String = "qid", qvecCol: String = "qe",
      excludeSelf: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val joined = corpus.crossJoin(broadcast(queries))
    val scored = (if (excludeSelf) joined.filter(col(idCol) =!= col(qidCol)) else joined)
      .select(col(qidCol), col(idCol),
        expr(s"cosine_sim($qvecCol, $vecCol)").as("cos"))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("cos").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank").cast("long").as("rank"),
        col(idCol).as("neighbor"), col("cos"))
  }

  /** Small-file compaction — corpus maintenance for sink-written layouts
    * (streaming epochs and fine-grained batch writes accumulate many
    * small part files; scan planning, listing, and sidecar reads all pay
    * per file). Reads the layout, re-partitions to ~`targetFileBytes`
    * per output file (estimated from the INPUT listing's bytes — honest
    * for uncompressed JSONL/CSV), optionally re-clusters on a column for
    * data skipping, and rewrites through the same sink — which refreshes
    * sidecars, blooms, and the per-directory manifest as a side effect.
    * Writes to a NEW directory: rewriting a layout in place can never be
    * atomic on a plain filesystem, so the caller swaps directories when
    * ready (exactly how Delta/Iceberg compaction keeps readers safe —
    * theirs swap a metadata pointer instead).
    */
  def compactLayout(spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String,
      targetFileBytes: Long = 128L << 20,
      format: String = "graft-json",
      schema: String = null,
      clusterBy: String = null): DataFrame = {
    require(inPath != outPath, "compaction writes to a NEW directory")
    val reader = spark.read.format(format)
    val df = (if (schema != null) reader.schema(schema) else reader).load(inPath)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nOut = ((bytes + targetFileBytes - 1) / targetFileBytes).toInt.max(1)
    val shaped =
      if (clusterBy != null)
        df.repartitionByRange(nOut, col(clusterBy)).sortWithinPartitions(clusterBy)
      else df.repartition(nOut)
    shaped.write.format(format).mode("overwrite").save(outPath)
    spark.read.format(format).schema(df.schema).load(outPath)
  }

  /** Order-independent table content digest: one row with (n_rows,
    * digest_sum, digest_xor) where each row contributes the 60-bit md5 of
    * its canonical rendering (columns joined with '|', nulls as a
    * sentinel) — summed mod 1e9+7 and bit-XORed, both order- and
    * partitioning-independent. The migration/replication check: two
    * tables (or the same table through two engines, or before/after a
    * rewrite) match iff all three numbers match. Pure map + one tiny
    * aggregate; engine-portable by construction (q168 recomputes it in
    * DuckDB SQL). Callers pick columns with deterministic string
    * renderings (integers/strings/decimals — not raw doubles).
    */
  def tableDigest(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableDigest needs at least one column")
    val canon = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("∅"))): _*)
    val h = conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
    df.select(h.as("h"))
      .agg(
        count(lit(1)).as("n_rows"),
        (sum(col("h") % 1000000007L) % 1000000007L).as("digest_sum"),
        expr("bit_xor(h)").as("digest_xor"))
  }

  /** k-anonymity suppression (Sweeney 2002): drop every row whose
    * quasi-identifier combination is shared by fewer than k rows — the
    * privacy scrub that runs after PII redaction, because rare attribute
    * COMBINATIONS re-identify even with direct identifiers gone. One
    * shuffle on the quasi columns (a window count, no join, no second
    * scan); rows keep their full schema.
    */
  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(quasiCols.nonEmpty, "kAnonymize needs at least one quasi-identifier column")
    val w = Window.partitionBy(quasiCols.map(col): _*)
    df.withColumn("__qid_n", count(lit(1)).over(w))
      .filter(col("__qid_n") >= k)
      .drop("__qid_n")
  }

  /** CONVERT-in-place for a PARTIAL log (the Delta `CONVERT TO DELTA`
    * shape): adopt every visible data file the log does not reference
    * into one commit, then clear the `_partial` marker so option-free
    * reads become log-mediated (snapshot-consistent, no recursive
    * listing). A log goes partial when an append CREATED it over a
    * pre-log legacy directory — the pre-existing files are real data the
    * log never covered. LIKE DELTA'S CONVERT, THE CALLER ASSERTS NO
    * WRITER IS IN FLIGHT: a racing writer's published-but-uncommitted
    * files are indistinguishable from legacy data and would be adopted.
    * Files any log entry already references (including RETIRED
    * originals, which are history, not data) are never adopted. Returns
    * the adopted root-relative paths.
    */
  def adoptUnlogged(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val log = graft.spark.GraftCommitLog
    val vs = log.versions(fs, root)
    require(vs.nonEmpty, s"adoptUnlogged needs a graft commit log under $dir")
    val (referenced, _) = log.allReferenced(fs, root)
    val found = Seq.newBuilder[String]
    def walk(p: Path, prefix: String): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith(".") && !n.startsWith("_")) {
          if (st.isDirectory) walk(st.getPath, prefix + n + "/")
          else found += (prefix + n)
        }
      }
    walk(root, "")
    val adopt = found.result().filterNot(referenced.contains).sorted
    if (adopt.nonEmpty)
      log.appendEntry(conf, dir, adds = adopt, opTag = "adopt-unlogged")
    fs.delete(new Path(log.logDir(root), log.PartialLogMarker), false)
    adopt
  }

  /** VACUUM for graft-sink directories: delete data files that the
    * commit log's LATEST snapshot does not reference — the debris of
    * failed/abandoned jobs and out-of-band copies that would otherwise be
    * picked up by un-pinned reads forever. The inverse guarantee is the
    * important one: a file named by ANY log entry, every hidden
    * planning artifact (a live file's sidecar, manifests, the log
    * itself), and anything under a dot/underscore name is never touched;
    * an orphan's own stats sidecar goes with it. Returns the root-relative
    * paths of the data files removed (in `dryRun`, those it would remove).
    * Driver-side listing + deletes — the same cost class as the planning listing
    * itself; at 100 TB this runs per-partition-directory.
    */
  def vacuumOrphans(spark: org.apache.spark.sql.SparkSession, dir: String,
      dryRun: Boolean = false, retainMillis: Long = 0L): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hconf)
    val vs = graft.spark.GraftCommitLog.versions(fs, root)
    require(vs.nonEmpty, s"vacuum needs a graft commit log under $dir")
    // referenced by ANY version, not just the latest: time travel to an
    // older snapshot must keep working after a vacuum — including files a
    // later DELETE/UPDATE retired (`r` actions), which older snapshots
    // still read
    val (live, liveDvs, liveCdc) =
      graft.spark.GraftCommitLog.allReferencedWithCdc(fs, root)
    val rootQ = fs.makeQualified(root).toString
    // age horizon (VACUUM RETAIN): an unreferenced file younger than the
    // horizon may be an in-flight writer's published-but-unlogged data —
    // reclaim only files not modified since `horizon` (Delta's VACUUM
    // modification-time discipline). The horizon is PHYSICAL clock, never
    // the logical commit-timestamp override: it compares against real
    // file mtimes, and a logical `now` behind the wall clock silently
    // no-ops the sweep while one ahead reclaims younger-than-retention
    // files, including an in-flight writer's. (expireRetired stays on the
    // logical clock — it compares against logical commit timestamps.)
    val horizon =
      if (retainMillis <= 0L) Long.MaxValue
      else System.currentTimeMillis() - retainMillis
    def walk(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (st.getModificationTime <= horizon) Seq(st.getPath)
        else Nil
      }
    val orphans = walk(root).filter { p =>
      val q = fs.makeQualified(p).toString
      val rel = if (q.startsWith(rootQ)) q.substring(rootQ.length).stripPrefix("/") else q
      !live.contains(rel)
    }
    val rels = orphans.map { p =>
      val q = fs.makeQualified(p).toString
      if (q.startsWith(rootQ)) q.substring(rootQ.length).stripPrefix("/") else q
    }
    // an orphan's stats sidecar goes with it: the walk skips dot-names,
    // so nothing else would ever reclaim it
    if (!dryRun) orphans.foreach { p =>
      fs.delete(p, false)
      fs.delete(graft.spark.FileStats.sidecarFor(p), false)
    }
    // deletion-vector debris rides the same sweep: artifacts no surviving
    // entry or checkpoint references (replaced vectors, aborted commits);
    // the reference set came from the single fold above
    val dvGone = graft.spark.DeletionVectors
      .reclaimUnreferenced(fs, root, dryRun, referenced = liveDvs,
        notModifiedSince = horizon)
      .map(n => s"${graft.spark.DeletionVectors.DirName}/$n")
    // change-data debris likewise (round 16): cdc files of aborted
    // rewrites (written, commit never landed) and of EXPIRED entries
    // (expireLogHistory dropped the `c` lines that referenced them),
    // plus abandoned `_tmp-*` staging dirs, all under the same age gate
    val cdcGone = {
      val cdcDir = graft.spark.GraftCommitLog.cdcDir(root)
      if (!fs.exists(cdcDir)) Nil
      else {
        val cdcQ = fs.makeQualified(cdcDir).toString
        def relOf(p: Path): String = {
          val q = fs.makeQualified(p).toString
          if (q.startsWith(cdcQ)) q.substring(cdcQ.length).stripPrefix("/") else q
        }
        // partitioned tables nest cdc files under k=v dirs: recurse, and
        // match referenced names by cdc-RELATIVE path
        val orphanFiles = Seq.newBuilder[Path]
        val tmpDirs = Seq.newBuilder[Path]
        def sweep(p: Path): Unit = fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory) {
            if (n.startsWith("_tmp-")) {
              if (st.getModificationTime <= horizon) tmpDirs += st.getPath
            } else if (!n.startsWith(".")) sweep(st.getPath)
          } else if (!n.startsWith(".") && !n.startsWith("_") &&
              !liveCdc.contains(relOf(st.getPath)) &&
              st.getModificationTime <= horizon)
            orphanFiles += st.getPath
        }
        sweep(cdcDir)
        val of = orphanFiles.result()
        val td = tmpDirs.result()
        if (!dryRun) {
          of.foreach(p => fs.delete(p, false))
          td.foreach(p => fs.delete(p, true))
        }
        (of ++ td).map(p => s".graft-cdc/${relOf(p)}")
      }
    }
    (rels ++ dvGone ++ cdcGone).sorted
  }

  /** Copy-on-write DELETE over a graft table (commit-log protocol v2,
    * docs/TABLE_FORMAT.md): rows matching `predicate` (a SQL boolean
    * expression over the table's columns) are removed by REWRITING only
    * the files that contain them and retiring the originals — the
    * Delta/Iceberg DELETE shape, at file granularity.
    *
    * Two phases, both distributed:
    *   1. CANDIDATES — scan with the predicate pushed down (stats
    *      sidecars, blooms, and partition pruning drop definitely-clean
    *      files at planning; the synthetic `_graft_file` column
    *      attributes each surviving match to its file). Files with no
    *      matching rows are never rewritten.
    *   2. REWRITE — re-read ONLY the candidate files, keep the rows the
    *      predicate does NOT delete (false or null — SQL DELETE
    *      semantics), and publish the rewrites together with `r` actions
    *      retiring the originals in ONE atomic log entry: pinned readers
    *      flip file sets atomically at the new version.
    *
    * `retainHistory = false` (default) also physically deletes the
    * retired files, so un-pinned raw-listing reads are immediately
    * correct; older snapshots then fail loudly (protocol strictness)
    * rather than read deleted rows. Immediate reclaim has NO READER
    * HORIZON: a concurrent snapshot-pinned scan (another session's
    * read, a racing deleteWhereDV's phase-1, a stream that admitted the
    * file but has not read it) can lose its file mid-scan. Maintenance
    * that runs while readers are live belongs on `retainHistory = true`
    * with an age-based [[expireRetired]] pass — the Delta
    * VACUUM-retention posture (CommitLogContentionSpec soaks exactly
    * this mode). `retainHistory = true` keeps every
    * snapshot readable — un-pinned readers must then pin
    * `versionAsOf` latest (raw listings still see retired files); run
    * [[expireRetired]] later to reclaim them.
    *
    * Crash windows (single-maintainer op, like Delta without a
    * coordination service): before the commit — staged debris only,
    * vacuumable; after the commit, before the physical deletes — pinned
    * reads are already exact, raw listings double the rewritten rows
    * until [[expireRetired]] finishes the job.
    *
    * Returns the root-relative files rewritten (empty = no row matched,
    * no version committed).
    */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, predicate: String, format: String = "graft-json",
      retainHistory: Boolean = false,
      changeDataFeed: Boolean = false): Seq[String] =
    rewriteWhere(spark, dir, schema, predicate, format, retainHistory,
      changeRows =
        if (!cdfOn(spark, changeDataFeed)) null
        else (df, cond) =>
          Seq("delete" -> df.filter(coalesce(cond, lit(false))))) {
      (df, cond) => df.filter(!coalesce(cond, lit(false)))
    }

  /** Copy-on-write UPDATE: rows matching `predicate` get each column in
    * `set` replaced by its SQL expression (evaluated against the OLD row,
    * standard UPDATE semantics — set expressions may reference columns
    * that are themselves being set); all other rows, and all non-matching
    * files, are untouched. Same two-phase machinery, atomicity, and
    * `retainHistory` contract as [[deleteWhere]].
    */
  def updateWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, predicate: String, set: Map[String, String],
      format: String = "graft-json", retainHistory: Boolean = false,
      changeDataFeed: Boolean = false): Seq[String] = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    rewriteWhere(spark, dir, schema, predicate, format, retainHistory,
      changeRows =
        if (!cdfOn(spark, changeDataFeed)) null
        else (df, cond) => {
          // Delta's UPDATE change types: the matched rows before and
          // after the SET (every expression sees the pre-update row)
          val matched = df.filter(coalesce(cond, lit(false)))
          val post = matched.select(df.columns.toSeq.map { c =>
            set.get(c).map(e => expr(e).as(c)).getOrElse(col(c))
          }: _*)
          Seq("update_preimage" -> matched, "update_postimage" -> post)
        }) { (df, cond) =>
      val missing = set.keySet -- df.columns.toSet
      require(missing.isEmpty, s"updateWhere SET names unknown column(s): " +
        missing.toSeq.sorted.mkString(", "))
      // one select, so every SET expression sees the pre-update row
      df.select(df.columns.toSeq.map { c =>
        set.get(c)
          .map(e => when(coalesce(cond, lit(false)), expr(e)).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    }
  }

  /** Merge-on-read DELETE — the Delta deletion-vector shape: rows matching
    * `predicate` are deleted WITHOUT rewriting any data file, in ONE
    * distributed pass: the latest snapshot is scanned with the predicate
    * pushed down (stats / blooms / partition pruning drop definitely-clean
    * files) and `withRowIndex` provenance on, so every match is an exact
    * (file, ordinal) address; the matches are repartitioned by file and
    * sorted, and each task streams its files' ordinals into one vector
    * artifact per file, merged with the file's prior vector (each
    * artifact is the file's full cumulative deleted set — see
    * [[writeVectors]]). The driver gets one (file, artifact) pair per
    * affected file and commits one atomic v4 entry attaching them. OCC: a
    * concurrent rewrite retiring a target, or a concurrent DELETE
    * replacing a vector this one merged from, aborts the commit loudly
    * (orphan artifacts are hidden and harmless).
    *
    * Reads apply vectors on every log-mediated path (versionAsOf /
    * snapshot / the COW maintenance reads) AND on raw-listing reads of
    * the table root (latest-state masks); `versionAsOf` BEFORE the delete
    * still shows the rows — exact time travel. Masked reads stay
    * vectorized/pruned/count-pushed (round 10); the residual trade is
    * whole-file partitions and no metadata-only answers until
    * [[materializeDeletes]] or [[optimizeTable]] rewrites clean.
    *
    * `dvMaxRatio` is the auto-materialize dial (Delta's shape): a file
    * whose cumulative mask density (prior vector ∪ this delete, over the
    * file's row count) would exceed it ESCALATES to a COW rewrite of its
    * post-delete survivors — committed in the SAME atomic entry as the
    * light files' vectors. The task that owns the file decides, once its
    * merged vector is written: below 1.0 it reads the row count (the
    * stats sidecar, or the avro block counts) and withdraws the vector of
    * a file that escalates, so no artifact is published for it. 1.0
    * (default) never escalates and reads no row count; files without one
    * never escalate (the dial must not guess). `retainHistory` applies to
    * escalated originals, as in [[deleteWhere]].
    *
    * Returns the root-relative files affected — vectored or escalated
    * (empty = no row matched, no version committed).
    */
  def deleteWhereDV(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, predicate: String,
      format: String = "graft-json",
      dvMaxRatio: Double = 1.0,
      retainHistory: Boolean = false,
      changeDataFeed: Boolean = false): Seq[String] = {
    require(format == "graft-json" || format == "graft-csv" ||
        format == "graft-avro",
      s"deleteWhereDV supports graft-json/graft-csv/graft-avro, not $format")
    require(dvMaxRatio > 0.0 && dvMaxRatio <= 1.0,
      s"dvMaxRatio must be in (0, 1], got $dvMaxRatio")
    val tbl = resolveCow(spark, dir, schema)
    val idxCol = graft.spark.GraftSources.RowIndexCol
    val scanSchema = org.apache.spark.sql.types.StructType(
      tbl.phase1Schema.fields :+ org.apache.spark.sql.types.StructField(
        idxCol, org.apache.spark.sql.types.LongType))
    import spark.implicits._
    val matches = spark.read.format(format).schema(scanSchema)
      .option("withfilepath", "true").option("withrowindex", "true")
      .option("versionasof", tbl.latest.toString).load(dir)
      .filter(expr(predicate))
      .select(col(graft.spark.GraftSources.FilePathCol).as("_f"), col(idxCol).as("_i"))
      .as[(String, Long)]
    // (file, artifact) per affected file; a null artifact = escalated
    val written = writeVectors(spark, dir, matches, tbl.state, dvMaxRatio,
      rowCountOf(format))
    if (written.isEmpty) return Nil
    val pairs = written.filter(_._2 != null).toSeq.map { case (f, n) => (n, f) }
    val dvBase: Map[String, String] =
      pairs.map { case (_, f) => f -> tbl.state.getOrElse(f, null) }.toMap
    val escalated = written.collect { case (f, null) => f }.toSeq.sorted
    if (escalated.isEmpty) {
      graft.spark.GraftCommitLog.appendEntry(spark.sparkContext.hadoopConfiguration,
        dir, adds = Nil, removes = Nil, dvs = pairs, dvBase = dvBase)
    } else {
      // ONE atomic entry: the escalated files' post-delete survivors
      // republish with the originals retired, AND the light files'
      // vectors attach — a reader never sees the delete half-applied
      val source = spark.read.format(format).schema(tbl.fullSchema)
        .option("restrictfiles",
          graft.spark.GraftSources.joinFileList(escalated, "restrictfiles"))
        // pinned: an escalated file's PRIOR mask must stay applied
        .option("versionasof", tbl.latest.toString).load(dir)
      // CHANGE DATA FEED (round 16): the ESCALATED files' deletes are a
      // COW retirement the feed cannot derive — record them as delete
      // artifacts in the same atomic entry; the light files' deltas stay
      // expressed by their `d` lines (readers compose both)
      val cdcNames: Seq[(String, String)] =
        if (!cdfOn(spark, changeDataFeed)) Nil
        else writeChangeData(spark, tbl, format,
          Seq("delete" -> source.filter(coalesce(expr(predicate), lit(false)))))
      var w = source.filter(!coalesce(expr(predicate), lit(false)))
        .write.format(format).mode("append")
        .option("commitremovesversion", tbl.latest.toString)
        .option("commitremoves",
          graft.spark.GraftSources.joinFileList(escalated, "commitremoves"))
      if (cdcNames.nonEmpty)
        w = w.option("commitchangefiles",
          cdcNames.map { case (ct, n) => s"$ct>$n" }.mkString(","))
      if (pairs.nonEmpty)
        w = w.option("commitdvs", graft.spark.GraftSources.joinDvList(pairs, "commitdvs"))
          .option("commitdvsbase",
            graft.spark.GraftSources.joinDvBase(dvBase, "commitdvsbase"))
      (if (tbl.partCols.nonEmpty)
         w.option("partitionby", tbl.partCols.mkString(","))
       else w).save(dir)
      if (!retainHistory) escalated.foreach { rel =>
        val p = new org.apache.hadoop.fs.Path(tbl.root, rel)
        tbl.fs.delete(graft.spark.FileStats.sidecarFor(p), false)
        tbl.fs.delete(p, false)
      }
    }
    written.map(_._1).toSeq.sorted
  }

  /** A data file's row count in the task that owns it, None when the
    * file has none to give: avro files sum their block counts, the text
    * formats read their stats sidecar.
    */
  private type RowCount = (org.apache.hadoop.fs.FileSystem,
    org.apache.hadoop.conf.Configuration, org.apache.hadoop.fs.Path) => Option[Long]

  private def rowCountOf(format: String): RowCount =
    if (format == "graft-avro") { (fs, hc, p) =>
      Some(graft.spark.GraftAvro.countRecords(hc, p, 0L, fs.getFileStatus(p).getLen))
    } else { (fs, _, p) =>
      graft.spark.FileStats.loadFor(fs, p, fs.getFileStatus(p).getLen).map(_.rows)
    }

  /** One artifact per affected file, written where the matches are: each
    * task owns whole files (repartition by file) and streams ordinals in
    * ascending order (sortWithinPartitions) straight to its artifact,
    * merging the file's prior vector — driver traffic is one
    * (file, artifact-name) pair per affected file.
    *
    * Escalation (`maxRatio` < 1, [[deleteWhereDV]]'s dial) is decided in
    * the same task, once the merged cardinality is known: `rowCount`
    * gives the file's row count, and a file whose merged density exceeds
    * `maxRatio` has its fresh artifact deleted and comes back with a null
    * name. At 1.0 no row count is read.
    */
  private def writeVectors(spark: org.apache.spark.sql.SparkSession,
      dir: String, matches: org.apache.spark.sql.Dataset[(String, Long)],
      state: Map[String, String], maxRatio: Double,
      rowCount: RowCount): Array[(String, String)] = {
    import spark.implicits._
    val conf = graft.spark.GraftSources.broadcastHadoopConf(spark)
    val rootStr = dir
    val stateB = spark.sparkContext.broadcast(state)
    matches
      .repartition(col("_f")).sortWithinPartitions(col("_f"), col("_i"))
      .mapPartitions { it =>
        val hc = conf.value.value
        val root = new org.apache.hadoop.fs.Path(rootStr)
        val fs = root.getFileSystem(hc)
        def rows(f: String): Option[Long] =
          try rowCount(fs, hc, new org.apache.hadoop.fs.Path(root, f))
          catch { case _: Exception => None }
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val bit = it.buffered
        while (bit.hasNext) {
          val f = bit.head._1
          val ords = new Iterator[Long] {
            def hasNext: Boolean = bit.hasNext && bit.head._1 == f
            def next(): Long = bit.next()._2
          }
          val (name, merged) = graft.spark.DeletionVectors.write(fs, root,
            f, ords, Option(stateB.value.getOrElse(f, null)),
            formatVersion = hc.getInt(graft.spark.DeletionVectors.FormatKey, 2),
            conf = hc)
          val escalate = maxRatio < 1.0 &&
            rows(f).exists(r => r > 0L && merged.toDouble / r > maxRatio)
          if (escalate)
            fs.delete(graft.spark.DeletionVectors.artifactPath(root, name), false)
          out += ((f, if (escalate) null else name))
        }
        out.iterator
      }.collect()
  }

  /** Merge-on-read UPDATE — the Delta DV-update shape: rows matching
    * `predicate` get each column in `set` replaced by its SQL expression
    * (evaluated against the OLD row), WITHOUT rewriting any untouched
    * row: the old versions are masked by deletion vectors and the
    * updated rows are appended as new files, both in ONE atomic v4
    * entry (two entries would expose a duplicate- or missing-row window
    * between them). Cost is O(matches), not O(candidate files) — the
    * [[updateWhere]] trade for update-heavy tables; the same scan
    * fast-path losses as [[deleteWhereDV]] apply until
    * [[materializeDeletes]]. SET on a partition column works naturally:
    * the new row lands in its new k=v directory, the old one is masked
    * in place. Returns the root-relative files that received vectors.
    */
  def updateWhereDV(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, predicate: String, set: Map[String, String],
      format: String = "graft-json"): Seq[String] = {
    require(format == "graft-json" || format == "graft-csv" ||
        format == "graft-avro",
      s"updateWhereDV supports graft-json/graft-csv/graft-avro, not $format")
    require(set.nonEmpty, "updateWhereDV needs at least one SET column")
    val tbl = resolveCow(spark, dir, schema)
    val fileCol = graft.spark.GraftSources.FilePathCol
    val idxCol = graft.spark.GraftSources.RowIndexCol
    val scanSchema = org.apache.spark.sql.types.StructType(
      tbl.phase1Schema.fields :+ org.apache.spark.sql.types.StructField(
        idxCol, org.apache.spark.sql.types.LongType))
    val missing = set.keySet -- tbl.fullSchema.fieldNames.toSet
    require(missing.isEmpty, s"updateWhereDV SET names unknown column(s): " +
      missing.toSeq.sorted.mkString(", "))
    import spark.implicits._
    // matched twice (ordinals → artifacts, rows → appends): persist so
    // the predicate scan runs once
    val matched = spark.read.format(format).schema(scanSchema)
      .option("withfilepath", "true").option("withrowindex", "true")
      .option("versionasof", tbl.latest.toString).load(dir)
      .filter(expr(predicate))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = writeVectors(spark, dir,
        matched.select(col(fileCol).as("_f"), col(idxCol).as("_i"))
          .as[(String, Long)], tbl.state, maxRatio = 1.0, rowCountOf(format))
      if (pairs.isEmpty) return Nil
      val dvBase: Map[String, String] =
        pairs.map { case (f, _) => f -> tbl.state.getOrElse(f, null) }.toMap
      // one select, so every SET expression sees the pre-update row
      val updated = matched.select(tbl.fullSchema.fieldNames.toSeq.map { c =>
        set.get(c).map(e => expr(e).cast(tbl.fullSchema(c).dataType).as(c))
          .getOrElse(col(c))
      }: _*)
      val w = updated.write.format(format).mode("append")
        .option("commitdvs", graft.spark.GraftSources.joinDvList(
          pairs.toSeq.map { case (f, n) => (n, f) }, "commitdvs"))
        .option("commitdvsbase",
          graft.spark.GraftSources.joinDvBase(dvBase, "commitdvsbase"))
      (if (tbl.partCols.nonEmpty)
         w.option("partitionby", tbl.partCols.mkString(","))
       else w).save(dir)
      pairs.map(_._1).toSeq.sorted
    } finally matched.unpersist()
  }

  /** Rewrite every file carrying a deletion vector WITHOUT its masked
    * rows and retire the originals in one atomic entry — the `REORG TABLE
    * ... APPLY (PURGE)` shape that restores the scan fast paths
    * [[deleteWhereDV]] trades away. Same `retainHistory` contract as
    * [[deleteWhere]]; replaced artifacts are reclaimed with the retired
    * data files (kept for pinned reads under `retainHistory = true`).
    * Returns the root-relative files rewritten.
    */
  def materializeDeletes(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, format: String = "graft-json",
      retainHistory: Boolean = false): Seq[String] = {
    val tbl = resolveCow(spark, dir, schema)
    val candidates = tbl.state.collect { case (f, dv) if dv != null => f }.toSeq.sorted
    // `materialize` is a NO-LOGICAL-CHANGE rewrite for the feed: the
    // masked rows' deletes were already emitted by the DV commits that
    // masked them — this pass only folds the masks into bytes
    val rewritten =
      cowRewrite(spark, dir, format, tbl, candidates, retainHistory,
        opTag = "materialize")(identity)
    if (!retainHistory) candidates.foreach { f =>
      tbl.fs.delete(
        graft.spark.DeletionVectors.artifactPath(tbl.root, tbl.state(f)), false)
    }
    rewritten
  }

  /** Synthetic change-type column emitted by [[changeFeed]] and the
    * `readchangefeed` streaming read (one shared name, Delta's).
    */
  val ChangeTypeCol: String = graft.spark.GraftSources.ChangeTypeCol

  /** Row-level CHANGE DATA FEED between two commit-log versions — the
    * Delta CDF shape, net-effect semantics: the returned DataFrame is the
    * exact row diff a consumer who processed `sinceVersion` must apply to
    * reach the latest snapshot.
    *
    *   - `_change_type = 'insert'`: rows of files ADDED after
    *     `sinceVersion` and still live, read under the LATEST masks (a
    *     row both inserted and DV-deleted inside the range never
    *     surfaces — the consumer never needed it).
    *   - `_change_type = 'delete'`: rows the range's deletion vectors
    *     masked on files the consumer already processed — each file's
    *     mask DELTA (latest − as-of-since), materialized by reading the
    *     pre-image at `sinceVersion` (true file ordinals) and keeping
    *     exactly the delta ordinals. O(changed rows) + one O(runs)
    *     driver-side artifact diff per changed file — never a table scan
    *     of unchanged files.
    *
    * COW rewrites remain inexpressible (a rewrite moves rows it did not
    * logically change; emitting them as delete+insert would flood
    * consumers with false changes): a file the consumer processed that
    * was RETIRED in the range fails loudly, exactly like
    * `changesSinceVersion` — after OPTIMIZE / materializeDeletes /
    * deleteWhere, a full refresh is required. DV history, the case that
    * used to refuse, now flows.
    *
    * `untilVersion` bounds the diff at a pinned version instead of the
    * latest (Delta's endingVersion) — a consumer catching up through a
    * long history in controlled steps; -1 = latest.
    */
  def changeFeed(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, sinceVersion: Long,
      format: String = "graft-json",
      untilVersion: Long = -1L): DataFrame = {
    require(format == "graft-json" || format == "graft-csv" ||
        format == "graft-avro",
      s"changeFeed supports graft-json/graft-csv/graft-avro, not $format")
    val tbl = resolveCow(spark, dir, schema)
    val log = graft.spark.GraftCommitLog
    val vs = log.versions(tbl.fs, tbl.root)
    // bounded CDF (Delta's endingVersion): diff up to `untilVersion`
    // instead of the latest — a consumer catching up in controlled steps
    val until = if (untilVersion < 0L) tbl.latest else untilVersion
    require(vs.contains(sinceVersion),
      s"changeFeed sinceVersion=$sinceVersion: unknown version " +
        s"(available: ${vs.min}..${vs.max})" +
        (if (sinceVersion < vs.min) " — history expired (expireLogHistory); " +
          "a full refresh is required" else ""))
    require(untilVersion < 0L || vs.contains(until),
      s"changeFeed untilVersion=$until: unknown version " +
        s"(available: ${vs.min}..${vs.max})")
    require(sinceVersion <= until,
      s"changeFeed: sinceVersion=$sinceVersion is after untilVersion=$until")
    require(!tbl.fullSchema.fieldNames.contains(ChangeTypeCol),
      s"changeFeed: the table already has a column named $ChangeTypeCol")
    import org.apache.spark.sql.types.{StructField, StructType, StringType, LongType}
    val outSchema = StructType(
      tbl.fullSchema.fields :+ StructField(ChangeTypeCol, StringType, nullable = false))
    def empty: DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    if (sinceVersion == until) return empty

    val s0 = log.liveStateAsOf(tbl.fs, tbl.root, sinceVersion)
    val s1 = log.liveStateAsOf(tbl.fs, tbl.root, until)
    // A COW rewrite of files the CONSUMER ALREADY PROCESSED moves rows
    // it did not logically change, so the ENDPOINT diff below cannot
    // express it. Since round 16 the PER-COMMIT walk takes over for such
    // ranges, provided every rewrite in range is either CDC-recorded
    // (`c` change-data files, the Delta shape), tagged no-logical-change
    // (OPTIMIZE / materializeDeletes), or a RESTORE; only an unrecorded,
    // untagged rewrite still demands a full refresh. The walk adds a
    // `_commit_version` column (Delta CDF's): its output is a SEQUENCE
    // of per-commit changes whose bag-union nets to the endpoint diff,
    // but per-commit replay needs the ordering column. Ranges without
    // processed-file retirements — including restores that only shrink
    // masks, and rewrites of files ADDED inside the range — keep the
    // endpoint diff's leaner schema and stronger net-effect contract.
    if ((s0.keySet -- s1.keySet).nonEmpty)
      return changeFeedAcrossRewrites(spark, dir, format, tbl,
        sinceVersion, until, vs)

    val conf = spark.sparkContext.hadoopConfiguration
    def mask(name: String, target: String): graft.spark.DeletionVectors.Mask =
      graft.spark.DeletionVectors.maskOf(conf, tbl.root, name, target)

    // per processed file, BOTH directions of the mask diff: ordinals
    // deleted since (the cumulative-delete case) and ordinals UN-deleted
    // since — a [[restoreTable]] re-attaching an older vector (or
    // detaching one) legally SHRINKS a mask, and net-effect CDF expresses
    // the resurfaced rows as inserts
    val maskDiffs: Map[String, (Array[(Long, Long)], Array[(Long, Long)])] =
      s0.keysIterator.flatMap { f =>
        val (d0, d1) = (s0(f), s1(f))
        if (d0 == d1) None
        else {
          val (m0, m1) = (mask(d0, f), mask(d1, f))
          val dels = m1.minus(m0)
          val ins = m0.minus(m1)
          if (dels.isEmpty && ins.isEmpty) None else Some(f -> (dels, ins))
        }
      }.toMap
    val delDeltas = maskDiffs.collect { case (f, (d, _)) if d.nonEmpty => f -> d }
    val insDeltas = maskDiffs.collect { case (f, (_, i)) if i.nonEmpty => f -> i }
    // CORRUPTION RAIL, restore-aware: outside a RESTORE, vectors are
    // cumulative — a successor mask missing ordinals its predecessor had
    // means the artifacts disagree with the merge contract (out-of-band
    // tamper / merge bug), and emitting those rows as inserts would
    // resurrect deleted data. A shrink is legal only when a restore entry
    // in the range touched the file (the v6 `o restore` tag).
    if (insDeltas.nonEmpty) {
      val restoreTouched: Set[String] = vs
        .filter(v => v > sinceVersion && v <= until)
        .filter(v => log.entryOp(tbl.fs, tbl.root, v).exists(_.startsWith("restore")))
        .flatMap(v => log.entryActions(tbl.fs, tbl.root, v).map(_.path)).toSet
      val illegal = (insDeltas.keySet -- restoreTouched).toSeq.sorted
      require(illegal.isEmpty,
        s"changeFeed: the deletion vector for '${illegal.headOption.getOrElse("")}' " +
          s"SHRANK between versions $sinceVersion and $until with no " +
          "RESTORE touching it in range — vectors are cumulative outside " +
          "restores; the artifacts disagree with the merge contract")
    }

    val fileCol = graft.spark.GraftSources.FilePathCol
    val idxCol = graft.spark.GraftSources.RowIndexCol
    val dataCols = tbl.fullSchema.fieldNames.toSeq

    val scanSchema = StructType(tbl.phase1Schema.fields :+
      StructField(idxCol, LongType))
    // ordinal-filtered read of specific rows in specific files, pinned at
    // the version where those ordinals are VISIBLE (not masked)
    def ordinalRows(runsByFile: Map[String, Array[(Long, Long)]],
        atVersion: Long, changeType: String): DataFrame = {
      val runsB = spark.sparkContext.broadcast(runsByFile)
      val inRuns = udf { (f: String, ord: Long) =>
        val runs = runsB.value.getOrElse(f, Array.empty[(Long, Long)])
        // runs are few per file; linear probe is fine map-side
        runs.exists { case (s, e) => ord >= s && ord < e }
      }
      spark.read.format(format).schema(scanSchema)
        .option("withfilepath", "true").option("withrowindex", "true")
        .option("versionasof", atVersion.toString)
        .option("restrictfiles", graft.spark.GraftSources.joinFileList(
          runsByFile.keys.toSeq.sorted, "restrictfiles"))
        .load(dir)
        .filter(inRuns(col(fileCol), col(idxCol)))
        .select(dataCols.map(col): _*)
        .withColumn(ChangeTypeCol, lit(changeType))
    }

    // rows deleted since: visible at sinceVersion (they were masked later)
    val deletes: Option[DataFrame] =
      if (delDeltas.isEmpty) None
      else Some(ordinalRows(delDeltas, sinceVersion, "delete"))
    // rows a restore un-deleted in range: visible at `until` (mask off)
    val resurfaced: Option[DataFrame] =
      if (insDeltas.isEmpty) None
      else Some(ordinalRows(insDeltas, until, "insert"))

    val added = (s1.keySet -- s0.keySet).toSeq.sorted
    val inserts: Option[DataFrame] = if (added.isEmpty) None else
      Some(spark.read.format(format).schema(tbl.fullSchema)
        .option("versionasof", until.toString)
        .option("restrictfiles",
          graft.spark.GraftSources.joinFileList(added, "restrictfiles"))
        .load(dir)
        .select(dataCols.map(col): _*)
        .withColumn(ChangeTypeCol, lit("insert")))

    (deletes.toSeq ++ resurfaced.toSeq ++ inserts.toSeq)
      .reduceOption(_ unionByName _).getOrElse(empty)
  }

  /** Synthetic commit-version column emitted by the per-commit change
    * feed (Delta CDF's `_commit_version`): present only when the range
    * crosses a COW rewrite and [[changeFeed]] switches to per-commit
    * output — per-commit replay needs the ordering.
    */
  val CommitVersionCol: String = "_commit_version"

  /** PER-COMMIT change feed for ranges the endpoint diff cannot express
    * (a COW rewrite retired files the consumer already processed): walk
    * every version in (since, until], folding the live state
    * incrementally, and emit each commit's row-level changes —
    *
    *   - a CDC-recorded rewrite (v8 `c` lines): its `.graft-cdc/` files
    *     ARE the commit's changes (delete / update_preimage /
    *     update_postimage), written by the rewrite itself; the physical
    *     add/remove movement contributes nothing;
    *   - OPTIMIZE / materializeDeletes (the `o` tag): no logical change,
    *     no rows (Delta's CDF skips compaction the same way);
    *   - appends: the added files' visible rows at that version as
    *     inserts;
    *   - DV commits: the mask DELTA's rows (read at the pre-delete
    *     version, exact ordinals) as deletes; a mask SHRINK outside a
    *     restore is the same corruption it is on the endpoint path;
    *   - RESTORE: the state flip itself — retired files' visible rows as
    *     deletes, re-added files' visible rows as inserts, mask deltas
    *     both ways;
    *   - an unrecorded, untagged rewrite: refuse — full refresh, as
    *     before round 16.
    *
    * The bag-union of the per-commit changes nets to the endpoint diff
    * (delete/insert multisets compose), and `_commit_version` orders them
    * for consumers that replay sequentially. Reading a mask delta or a
    * restore-retired file needs its PRE-state bytes: a rewrite that
    * physically reclaimed them (retainHistory=false + vacuum) fails the
    * pinned read loudly — record CDC or retain history on tables that
    * feed consumers.
    */
  private def changeFeedAcrossRewrites(spark: org.apache.spark.sql.SparkSession,
      dir: String, format: String, tbl: CowTable,
      sinceVersion: Long, until: Long, vs: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType, StringType, LongType}
    val log = graft.spark.GraftCommitLog
    val conf = spark.sparkContext.hadoopConfiguration
    require(!tbl.fullSchema.fieldNames.contains(CommitVersionCol),
      s"changeFeed: the table already has a column named $CommitVersionCol")
    val dataCols = tbl.fullSchema.fieldNames.toSeq
    val outSchema = StructType(tbl.fullSchema.fields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false)))
    val fileCol = graft.spark.GraftSources.FilePathCol
    val idxCol = graft.spark.GraftSources.RowIndexCol
    val scanSchema = StructType(tbl.phase1Schema.fields :+
      StructField(idxCol, LongType))

    def mask(name: String, target: String): graft.spark.DeletionVectors.Mask =
      graft.spark.DeletionVectors.maskOf(conf, tbl.root, name, target)

    // exact-ordinal read of specific rows in specific files, pinned where
    // those ordinals are visible (the endpoint path's ordinalRows twin)
    def ordinalRows(runsByFile: Map[String, Array[(Long, Long)]],
        atVersion: Long, changeType: String, commitV: Long): DataFrame = {
      val runsB = spark.sparkContext.broadcast(runsByFile)
      val inRuns = udf { (f: String, ord: Long) =>
        val runs = runsB.value.getOrElse(f, Array.empty[(Long, Long)])
        runs.exists { case (st, en) => ord >= st && ord < en }
      }
      spark.read.format(format).schema(scanSchema)
        .option("withfilepath", "true").option("withrowindex", "true")
        .option("versionasof", atVersion.toString)
        .option("restrictfiles", graft.spark.GraftSources.joinFileList(
          runsByFile.keys.toSeq.sorted, "restrictfiles"))
        .load(dir)
        .filter(inRuns(col(fileCol), col(idxCol)))
        .select(dataCols.map(col): _*)
        .withColumn(ChangeTypeCol, lit(changeType))
        .withColumn(CommitVersionCol, lit(commitV))
    }

    // all VISIBLE rows of `files` at `atVersion` (that version's masks
    // apply through the pinned read)
    def fileRows(files: Seq[String], atVersion: Long, changeType: String,
        commitV: Long): DataFrame =
      spark.read.format(format).schema(tbl.fullSchema)
        .option("versionasof", atVersion.toString)
        .option("restrictfiles",
          graft.spark.GraftSources.joinFileList(files.sorted, "restrictfiles"))
        .load(dir)
        .select(dataCols.map(col): _*)
        .withColumn(ChangeTypeCol, lit(changeType))
        .withColumn(CommitVersionCol, lit(commitV))

    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var prev: Map[String, String] = log.liveStateAsOf(tbl.fs, tbl.root, sinceVersion)
    var prevV = sinceVersion
    vs.filter(v => v > sinceVersion && v <= until).sorted.foreach { v =>
      val acts = log.entryActions(tbl.fs, tbl.root, v)
      val cur = acts.foldLeft(prev) { (st, a) =>
        a.kind match {
          case 'f' => st.updated(a.path, null)
          case 'r' => st - a.path
          case _   => if (st.contains(a.path)) st.updated(a.path, a.dv) else st
        }
      }
      val op = log.entryOp(tbl.fs, tbl.root, v).getOrElse("")
      val cdc = log.entryChangeFiles(tbl.fs, tbl.root, v)
      val removed = (prev.keySet -- cur.keySet).toSeq.sorted
      val added = (cur.keySet -- prev.keySet).toSeq.sorted
      val isRestore = op.startsWith("restore")
      if (cdc.nonEmpty) {
        // the rewrite recorded its own row-level changes for the files it
        // RETIRED; the add/remove movement is physical only. A dv rider
        // on the SAME entry (the deleteWhereDV escalation shape: light
        // files mask, heavy files rewrite) expresses the PERSISTING
        // files' deltas — composed additively below with the artifacts.
        cdc.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (ct, prs) =>
          parts += spark.read.format(format).schema(tbl.fullSchema)
            .option("restrictfiles", graft.spark.GraftSources.joinFileList(
              prs.map(_._2).sorted, "restrictfiles"))
            .load(graft.spark.GraftCommitLog.cdcDir(tbl.root).toString)
            .select(dataCols.map(col): _*)
            .withColumn(ChangeTypeCol, lit(ct))
            .withColumn(CommitVersionCol, lit(v))
        }
        val changedMask = cur.keysIterator
          .filter(f => prev.contains(f) && prev(f) != cur(f)).toSeq.sorted
        if (changedMask.nonEmpty) {
          val diffs = changedMask.map { f =>
            f -> mask(cur(f), f).minus(mask(prev(f), f))
          }.toMap.filter(_._2.nonEmpty)
          if (diffs.nonEmpty) parts += ordinalRows(diffs, prevV, "delete", v)
        }
      } else if (op == "optimize" || op == "materialize") {
        () // rows moved, none changed
      } else {
        if (removed.nonEmpty && !isRestore)
          throw new IllegalStateException(
            s"changeFeed sinceVersion=$sinceVersion: version $v retired " +
              s"${removed.size} file(s) the consumer already processed " +
              s"(e.g. '${removed.head}') without recording change-data " +
              "files — a rewrite moves rows it did not logically change, " +
              "which a row-level feed cannot express; re-run the rewrite " +
              "with changeDataFeed=true (or spark.hadoop.graft.cdf." +
              "enabled) or do a full refresh")
        if (removed.nonEmpty) parts += fileRows(removed, prevV, "delete", v)
        if (added.nonEmpty) parts += fileRows(added, v, "insert", v)
        // mask deltas on files present on both sides
        val changedMask = cur.keysIterator
          .filter(f => prev.contains(f) && prev(f) != cur(f)).toSeq.sorted
        if (changedMask.nonEmpty) {
          val diffs = changedMask.map { f =>
            val (m0, m1) = (mask(prev(f), f), mask(cur(f), f))
            f -> (m1.minus(m0), m0.minus(m1))
          }.toMap
          val grown = diffs.collect { case (f, (d, _)) if d.nonEmpty => f -> d }
          val shrunk = diffs.collect { case (f, (_, i)) if i.nonEmpty => f -> i }
          require(shrunk.isEmpty || isRestore,
            s"changeFeed: the deletion vector for " +
              s"'${shrunk.keys.toSeq.sorted.headOption.getOrElse("")}' SHRANK " +
              s"at version $v with no RESTORE tag — vectors are cumulative " +
              "outside restores; the artifacts disagree with the merge contract")
          if (grown.nonEmpty) parts += ordinalRows(grown, prevV, "delete", v)
          if (shrunk.nonEmpty) parts += ordinalRows(shrunk, v, "insert", v)
        }
      }
      prev = cur
      prevV = v
    }
    parts.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema))
  }

  /** RESTORE the table to `version` — Delta's RESTORE TABLE shape: ONE
    * atomic commit makes the latest state (live files + deletion vectors
    * + recorded schema) equal the state as of `version`, leaving every
    * intermediate version readable: the restore is just another commit,
    * nothing is erased, and time travel across it keeps working.
    *
    * METADATA-ONLY — zero data movement at any table size: files added
    * since `version` are retired (`r`), files retired since are re-pinned
    * (`f` — they must still exist physically), the target version's
    * deletion vectors are re-attached (`d`, the artifact must survive;
    * a vector may target a file re-pinned by the same entry), and a
    * vector present now but absent at `version` is detached by retiring
    * and re-pinning its file in the same entry. Files whose bytes were
    * physically reclaimed (a rewrite with retainHistory=false,
    * [[expireRetired]], [[vacuumOrphans]]) refuse LOUDLY — no metadata
    * commit can resurrect deleted bytes.
    *
    * Schema: if the recorded schema changed since `version` (ALTER,
    * mergeschema, widening), the target version's schema is re-recorded
    * in the same entry — a restore across a RENAME restores the old
    * logical name (the physical keys in the data files never moved). A
    * table whose tracking started after `version` keeps its current
    * recorded schema (there is no "un-record" line; name-keyed reads of
    * the older files are unaffected).
    *
    * Concurrency: the same OCC class as the other maintenance ops — a
    * racing DELETE/rewrite on any touched file aborts this commit loudly
    * (removesBase/dvBase validation); a racing plain append survives the
    * restore, exactly as it survives [[optimizeTable]].
    *
    * Incremental consumers: the restore entry carries removes/vectors, so
    * `changesSinceVersion`/followLog refuse it loudly (or skip it whole
    * under `skipchangecommits`), and [[changeFeed]] expresses it as
    * net-effect row diffs — rows a restore un-deletes surface as
    * `_change_type='insert'`.
    *
    * Returns the committed version, or -1 when the table is already in
    * the target state (no commit written).
    */
  def restoreTable(spark: org.apache.spark.sql.SparkSession, dir: String,
      version: Long): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = graft.spark.GraftCommitLog
    val vs = log.versions(fs, root)
    require(vs.nonEmpty, s"restoreTable needs a graft commit log under $dir")
    val latest = vs.max
    require(version <= latest,
      s"restoreTable: version $version is ahead of the latest ($latest)")
    // liveStateAsOf gives the targeted unknown-version / expired-history
    // errors; STRICT schema reads — an IO blip must abort the restore,
    // never silently skip its metadata half
    val target = log.liveStateAsOf(fs, root, version)
    val cur = log.liveStateAsOf(fs, root, latest)
    val targetSchema = log.schemaAsOfStrict(fs, root, version)
    val latestSchema = log.schemaAsOfStrict(fs, root, latest)
    val schemaChange: Option[(org.apache.spark.sql.types.StructType,
        org.apache.spark.sql.types.StructType)] =
      (targetSchema, latestSchema) match {
        case (Some(t), Some(l))
            if !graft.spark.GraftSink.sameTypeIgnoreNullability(t, l) =>
          Some((t, l))
        case _ => None
      }
    // detach = live in both but the vector must COME OFF (no `d <none>`
    // line exists): retire + re-pin the path in one entry
    val detach = target.keysIterator.filter(f =>
      cur.getOrElse(f, null) != null && target(f) == null).toSeq
    val removes = ((cur.keySet -- target.keySet) ++ detach).toSeq.sorted
    val repins = (target.keySet -- cur.keySet).toSeq
    val adds = (repins ++ detach).sorted
    val dvs = target.iterator.collect {
      case (f, d) if d != null && cur.getOrElse(f, null) != d => (d, f)
    }.toSeq.sortBy(_._2)
    val dvBase: Map[String, String] = dvs.collect {
      case (_, f) if cur.contains(f) => f -> cur(f)
    }.toMap
    if (removes.isEmpty && adds.isEmpty && dvs.isEmpty && schemaChange.isEmpty)
      return -1L
    val missing = repins.filterNot(f => fs.exists(new Path(root, f))).sorted
    require(missing.isEmpty,
      s"restoreTable to version $version under $dir: ${missing.size} file(s) " +
        s"retired since are physically gone (e.g. '${missing.headOption.getOrElse("")}') " +
        "— a rewrite with retainHistory=false, expireRetired, or vacuum " +
        "reclaimed them; restore is metadata-only and cannot resurrect " +
        "deleted bytes")
    val missingDv = dvs.collect { case (d, f) if !fs.exists(
      graft.spark.DeletionVectors.artifactPath(root, d)) => (d, f) }
    require(missingDv.isEmpty,
      s"restoreTable to version $version under $dir: deletion-vector " +
        s"artifact '${missingDv.headOption.map(_._1).getOrElse("")}' for " +
        s"'${missingDv.headOption.map(_._2).getOrElse("")}' is physically " +
        "gone — its masks cannot be re-attached")
    log.appendEntry(spark.sparkContext.hadoopConfiguration, dir,
      adds = adds, removes = removes,
      schema = schemaChange.map(_._1).orNull,
      schemaBase = schemaChange.map(_._2).orNull,
      dvs = dvs, dvBase = dvBase, removesBase = latest,
      // the v6 operation tag: a restore is the ONE operation that may
      // legally SHRINK a file's deletion vector, and changeFeed's
      // corruption rail keys shrink-legality on it
      opTag = s"restore $version")
  }

  /** [[restoreTable]] addressed by TIME instead of version (Delta's
    * `RESTORE TABLE ... TO TIMESTAMP AS OF`): resolves to the LATEST
    * version whose monotonic-clamped commit time is ≤ `epochMillis` —
    * the `timestampAsOf` read resolution, loud on before-first /
    * expired — EXCEPT that a timestamp after the latest commit resolves
    * to the latest version (Delta's canReturnLastCommit: "restore to the
    * state as of now" is the documented -1 no-op, not an error; the read
    * path's after-latest refusal exists to steer readers to
    * snapshot/versionAsOf, which restore has no analog of).
    */
  def restoreTableToTimestamp(spark: org.apache.spark.sql.SparkSession,
      dir: String, epochMillis: Long): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = graft.spark.GraftCommitLog
    val vs = log.versions(fs, root)
    require(vs.nonEmpty,
      s"restoreTableToTimestamp needs a graft commit log under $dir")
    val latestTs = log.resolvedTimestamps(fs, root).lastOption.map(_._2)
    val target =
      if (latestTs.exists(_ <= epochMillis)) vs.max
      else log.versionForTimestamp(fs, root, epochMillis)
    restoreTable(spark, dir, target)
  }

  /** Resolved maintenance context: the latest committed snapshot (its
    * version and live state — root-relative path -> deletion-vector
    * artifact, null = no vector), its partition columns, and the scan
    * schemas both COW phases read with. Resolved once per op; nothing
    * outlives the op.
    */
  private final case class CowTable(
      root: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem,
      latest: Long,
      state: Map[String, String],
      partCols: Seq[String],
      fullSchema: org.apache.spark.sql.types.StructType,
      phase1Schema: org.apache.spark.sql.types.StructType)

  private def resolveCow(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String): CowTable = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new graft.spark.GraftCommitLog.LogListing(fs, root)
    require(log.versions.nonEmpty,
      s"COW maintenance needs a graft commit log under $dir " +
        "(only graft batch sinks write .graft-log); for logless directories " +
        "rewrite to a new root instead")
    val latest = log.versions.max
    val state = graft.spark.GraftCommitLog.liveStateAsOf(log, latest)
    // the PARTITION LAYOUT of the snapshot the op works on, read off the
    // state's root-relative paths: every scan of the op is pinned to that
    // snapshot, so only its files can contribute partition columns — a
    // raw walk of the tree would list every directory (retired originals
    // and racers' not-yet-committed files included) to learn the same
    // thing. An EMPTY snapshot carries no paths (a delete of every row
    // commits one, and upsert's insert half resolves right after it), so
    // only then the layout comes from a raw walk: its emptied k=v
    // directories remain, and the walk of an empty table is cheap.
    val layout =
      if (state.nonEmpty) graft.spark.GraftSources.snapshotLayout(state.keys)
      else graft.spark.GraftSources.resolvePartitioned(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", dir, "rawlisting", "true")))
    // `schema` is the DATA schema; hive-style partition columns (typed
    // from the layout) and the synthetic provenance column ride on top —
    // a user-specified schema must name every column the scan serves
    val dataSchema = org.apache.spark.sql.types.StructType.fromDDL(schema)
    val recorded = graft.spark.GraftCommitLog.schemaAsOf(log, latest)
    requireCoversRecorded(recorded, dataSchema, layout.partCols, dir)
    // partition-column types: the RECORDED table schema is authoritative
    // (round 20, found by the lag-listing soak) — layout inference reads
    // directory VALUES, and a value set that happens to look numeric (or
    // not) would otherwise decide the type the rewrite commits, which a
    // type change refuses loudly. Inference remains the fallback for
    // untracked tables.
    val fullSchema = org.apache.spark.sql.types.StructType(dataSchema.fields ++
      graft.spark.GraftSources.partitionSchema(layout)
        .filterNot(f => dataSchema.fieldNames.contains(f.name))
        .map(f => recorded.flatMap(_.fields.find(_.name == f.name))
          .map(r => f.copy(dataType = r.dataType)).getOrElse(f)))
    val phase1Schema = org.apache.spark.sql.types.StructType(fullSchema.fields :+
      org.apache.spark.sql.types.StructField(graft.spark.GraftSources.FilePathCol,
        org.apache.spark.sql.types.StringType))
    CowTable(root, fs, latest, state, layout.partCols, fullSchema, phase1Schema)
  }

  /** SAFETY RAIL against silent column loss: a COW rewrite re-writes
    * candidate files with exactly the columns it read, so a stale DDL
    * that misses a column the table's RECORDED schema has (say, one a
    * later mergeschema append added) would drop that column's values
    * from every rewritten row — refuse loudly instead.
    */
  private def requireCoversRecorded(
      recorded: Option[org.apache.spark.sql.types.StructType],
      dataSchema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String], dir: String): Unit =
    recorded.foreach { recorded =>
      val missing = recorded.fieldNames
        .filterNot(n => dataSchema.fieldNames.contains(n) || partCols.contains(n))
      require(missing.isEmpty,
        s"COW maintenance schema for $dir misses recorded table column(s) " +
          missing.mkString("'", "', '", "'") +
          " — a rewrite would silently drop their values; pass the full " +
          "table schema (TrainingData.tableSchema(spark, dir) shows it)")
    }

  /** DEEP CLONE: copy the PINNED snapshot of `src` to `dst` — the live
    * data files (relative layout preserved, hive k=v directories
    * included), their deletion-vector artifacts, and their stats
    * sidecars — then commit ONE fresh version-0 entry at `dst` carrying
    * the recorded schema, the adds, and the mask attachments (the
    * RESTORE re-pin shape: `f` precedes `d`). The fork is fully
    * independent afterwards — own log, own files, own history — which
    * is the corpus-forking operation a training pipeline runs to pin an
    * experiment's input while the source keeps ingesting (Delta's
    * CLONE, deep form; a SHALLOW clone is impossible by design here —
    * the log stores root-relative paths only, so a table directory
    * stays self-contained and movable).
    *
    * File bytes copy ON EXECUTORS (one Spark task per slice of the copy
    * list) — the driver moves names, never bytes; at 100 TB the copy is
    * a cluster job, not a driver loop. Sidecars ride along when present
    * (attempted per file on the executor; absence is not an error), so
    * the clone keeps its stats/bloom/block acceleration without a
    * rebuild. The per-directory manifests are NOT copied — they are a
    * derived cache the first maintenance pass at `dst` regenerates.
    *
    * `versionAsOf` pins an older snapshot (default: latest). `dst` must
    * not exist or be empty. Returns the version committed at `dst` (0).
    */
  def cloneTable(spark: org.apache.spark.sql.SparkSession, src: String,
      dst: String, versionAsOf: Option[Long] = None): Long = {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    val srcRoot = new Path(src)
    val fs = srcRoot.getFileSystem(hconf)
    val vs = graft.spark.GraftCommitLog.versions(fs, srcRoot)
    require(vs.nonEmpty, s"cloneTable: no graft commit log under $src")
    val v = versionAsOf.getOrElse(vs.max)
    val state = graft.spark.GraftCommitLog.liveStateAsOf(fs, srcRoot, v)
    // STRICT schema read — a clone is a commit path: a transient IO blip
    // degrading to "no schema" would fork the table WITHOUT schema
    // tracking (and silently revert column mapping in the copy); abort
    // instead. Genuinely untracked sources still clone schemaless.
    val schema = graft.spark.GraftCommitLog.schemaAsOfStrict(fs, srcRoot, v)
    val dstRoot = new Path(dst)
    val dfs = dstRoot.getFileSystem(hconf)
    require(!dfs.exists(dstRoot) || dfs.listStatus(dstRoot).isEmpty,
      s"cloneTable: target $dst must not exist (or be an empty directory) " +
        "— a clone never merges into existing data")
    val files = state.keySet.toSeq.sorted
    val dvPairs = state.collect { case (t, dvn) if dvn != null => (dvn, t) }
      .toSeq.sortBy(_._1)
    // copy units, root-relative: every data file (sidecar attempted
    // alongside on the executor) + every referenced dv artifact
    val units: Seq[(String, Boolean)] = // (relPath, trySidecar)
      files.map((_, true)) ++
        dvPairs.map { case (n, _) =>
          (graft.spark.DeletionVectors.DirName + "/" + n, false) }
    val sconf = graft.spark.GraftSources.broadcastHadoopConf(spark)
    val srcQ = fs.makeQualified(srcRoot).toString
    val dstQ = dfs.makeQualified(dstRoot).toString
    // one task per ~16 files, capped by the unit count and floored at the
    // cluster's parallelism: a 1M-file clone on a 1000-executor cluster
    // must fan out to every core, not serialize through 64 slices
    val slices = math.max(1, math.min(units.size,
      math.max(spark.sparkContext.defaultParallelism, units.size / 16)))
    spark.sparkContext.parallelize(units, slices).foreach {
      case (rel, trySidecar) =>
        val c = sconf.value.value
        val sp = new Path(s"$srcQ/$rel")
        val dp = new Path(s"$dstQ/$rel")
        val sfs = sp.getFileSystem(c)
        val tfs = dp.getFileSystem(c)
        org.apache.hadoop.fs.FileUtil.copy(sfs, sp, tfs, dp, false, true, c)
        if (trySidecar) {
          val ssc = graft.spark.FileStats.sidecarFor(sp)
          if (sfs.exists(ssc))
            org.apache.hadoop.fs.FileUtil.copy(sfs, ssc, tfs,
              graft.spark.FileStats.sidecarFor(dp), false, true, c)
        }
    }
    graft.spark.GraftCommitLog.appendEntry(hconf, dst,
      adds = files, dvs = dvPairs,
      schema = schema.orNull,
      opTag = s"clone ${fs.makeQualified(srcRoot)}@$v")
  }

  /** ALTER TABLE ... ADD COLUMN for a schema-tracked graft table: a
    * SCHEMA-ONLY commit-log entry records the widened schema — no data
    * moves, existing rows read the new column back as null (the text
    * formats' natural missing-key semantics). `ddlType` is a DDL type
    * string ("DOUBLE", "STRUCT<a: BIGINT>"). Refuses when the table is
    * not schema-tracked or already has the column. Returns the version.
    */
  def alterTableAddColumn(spark: org.apache.spark.sql.SparkSession,
      dir: String, colName: String, ddlType: String): Long = {
    val (fs, root, cur) = recordedSchemaOrRefuse(spark, dir, "alterTableAddColumn")
    require(!colName.contains('`') && colName.nonEmpty,
      s"alterTableAddColumn: invalid column name '$colName'")
    // case-INSENSITIVE duplicate check: the analyzer resolves names
    // case-insensitively by default, so a case-variant duplicate would
    // make every name-based access AMBIGUOUS_REFERENCE
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(colName)),
      s"alterTableAddColumn: '$colName' already exists in $dir " +
        "(name resolution is case-insensitive)")
    val parsed = org.apache.spark.sql.types.StructType.fromDDL(s"`$colName` $ddlType")
    require(parsed.fields.length == 1,
      s"alterTableAddColumn: '$ddlType' parses to ${parsed.fields.length} " +
        "fields — pass one column's type (e.g. \"DOUBLE\")")
    val dt = parsed.fields.head.dataType
    // column-mapping injectivity: the new logical name must not collide
    // with a RENAMED column's physical key (old files' keys under that
    // name belong to the renamed column)
    require(!cur.fields.exists(f =>
        graft.spark.GraftSources.physicalName(f).equalsIgnoreCase(colName) &&
          !f.name.equalsIgnoreCase(colName)),
      s"alterTableAddColumn: '$colName' collides with the PHYSICAL name of " +
        s"a renamed column of $dir — pick a different name")
    val next = org.apache.spark.sql.types.StructType(cur.fields :+
      org.apache.spark.sql.types.StructField(colName, dt, nullable = true))
    graft.spark.GraftCommitLog.appendEntry(
      spark.sparkContext.hadoopConfiguration, dir, Nil, Nil, next,
      schemaBase = cur)
  }

  /** ALTER TABLE ... RENAME COLUMN — COLUMN MAPPING (the Delta shape,
    * name-based): the field keeps its PHYSICAL key (the name data files
    * store it under, fixed forever once data exists) and only the
    * LOGICAL name changes, recorded as field metadata in a schema-only
    * commit. Zero data movement; old files keep reading; appends and COW
    * rewrites serialize under the physical key; `versionAsOf` before the
    * rename reads the old name. Refused for partition columns (the
    * directory layout carries their names physically). Renaming BACK to
    * the physical name dissolves the mapping. The trade (documented,
    * also Delta's): filters/TopN/aggregate pushdown on a renamed column
    * fall back to unaccelerated-but-exact plans (the plate and sidecar
    * namespaces are physical). Returns the committed version.
    */
  def alterTableRenameColumn(spark: org.apache.spark.sql.SparkSession,
      dir: String, from: String, to: String): Long = {
    val (fs, root, cur) = recordedSchemaOrRefuse(spark, dir, "alterTableRenameColumn")
    require(to.nonEmpty && !to.contains('`'),
      s"alterTableRenameColumn: invalid target name '$to'")
    val exact = cur.fieldNames.filter(_ == from)
    val resolved =
      if (exact.length == 1) exact
      else cur.fieldNames.filter(_.equalsIgnoreCase(from))
    require(resolved.length == 1,
      s"alterTableRenameColumn: '$from' does not resolve to exactly one " +
        s"recorded column of $dir (${cur.fieldNames.mkString(", ")})")
    val fromExact = resolved.head
    require(!cur.fieldNames.exists(n => n != fromExact && n.equalsIgnoreCase(to)),
      s"alterTableRenameColumn: '$to' already exists in $dir " +
        "(name resolution is case-insensitive)")
    // rawlisting: only the PARTITION LAYOUT is wanted here (no row reads,
    // no state fold) — the raw walk keeps working even when the log holds
    // a racer's not-yet-landed file the log-first lane would check
    val listing = graft.spark.GraftSources.resolvePartitioned(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir, "rawlisting", "true")))
    require(!listing.partCols.exists(_.equalsIgnoreCase(fromExact)),
      s"alterTableRenameColumn: '$fromExact' is a partition column — the " +
        "directory layout carries it physically; rewrite to a fresh root " +
        "to rename it")
    // injectivity: `to` must not equal any OTHER field's physical key
    require(!cur.fields.exists(f => f.name != fromExact &&
        graft.spark.GraftSources.physicalName(f).equalsIgnoreCase(to)),
      s"alterTableRenameColumn: '$to' collides with the PHYSICAL name of " +
        s"another (renamed) column of $dir — pick a different name")
    val key = graft.spark.GraftSources.PhysicalNameKey
    val next = org.apache.spark.sql.types.StructType(cur.fields.map { f =>
      if (f.name != fromExact) f
      else {
        val phys = graft.spark.GraftSources.physicalName(f)
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        if (phys == to) f.copy(name = to, metadata = mb.remove(key).build())
        else f.copy(name = to, metadata = mb.putString(key, phys).build())
      }
    })
    graft.spark.GraftCommitLog.appendEntry(
      spark.sparkContext.hadoopConfiguration, dir, Nil, Nil, next,
      schemaBase = cur)
  }

  /** ALTER TABLE ... DROP COLUMN — a LOGICAL drop (the text formats keep
    * the key in the files on disk): a schema-only entry records the
    * narrowed schema, so schemaless reads stop serving the column (its
    * bytes now byte-skip — dropping a column makes reads FASTER, not a
    * rewrite), while `versionAsOf` before the drop still reads it —
    * time-travel-correct retention. Two documented deviations from
    * Delta's column-mapping drop: re-ADDING the same name later
    * RESURFACES the old values in pre-drop files (the data never left),
    * and a COW rewrite materializes the current schema (rewritten files
    * physically lose the column, so pre-drop pins over them read null).
    * Refuses for partition columns (they are the directory layout).
    */
  def alterTableDropColumn(spark: org.apache.spark.sql.SparkSession,
      dir: String, colName: String): Long = {
    val (fs, root, cur) = recordedSchemaOrRefuse(spark, dir, "alterTableDropColumn")
    // EXACT name first (a legacy schema holding case-variant duplicates
    // must stay droppable by exact name), then case-insensitive like the
    // analyzer's default resolution
    val exact = cur.fieldNames.filter(_ == colName)
    val resolved =
      if (exact.length == 1) exact
      else cur.fieldNames.filter(_.equalsIgnoreCase(colName))
    require(resolved.length == 1,
      s"alterTableDropColumn: '$colName' does not resolve to exactly one " +
        s"recorded column of $dir (${cur.fieldNames.mkString(", ")})")
    val colExact = resolved.head
    // rawlisting: only the PARTITION LAYOUT is wanted here (no row reads,
    // no state fold) — the raw walk keeps working even when the log holds
    // a racer's not-yet-landed file the log-first lane would check
    val listing = graft.spark.GraftSources.resolvePartitioned(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir, "rawlisting", "true")))
    require(!listing.partCols.exists(_.equalsIgnoreCase(colExact)),
      s"alterTableDropColumn: '$colExact' is a partition column — the directory " +
        "layout carries it; rewrite the table to a fresh root to de-partition")
    require(cur.fields.length > 1,
      s"alterTableDropColumn: cannot drop the only column of $dir")
    val next = org.apache.spark.sql.types.StructType(
      cur.fields.filterNot(_.name == colExact))
    graft.spark.GraftCommitLog.appendEntry(
      spark.sparkContext.hadoopConfiguration, dir, Nil, Nil, next,
      schemaBase = cur)
  }

  private def recordedSchemaOrRefuse(spark: org.apache.spark.sql.SparkSession,
      dir: String, op: String): (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path, org.apache.spark.sql.types.StructType) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = graft.spark.GraftCommitLog.versions(fs, root)
    require(vs.nonEmpty, s"$op needs a graft commit log under $dir")
    val cur = graft.spark.GraftCommitLog.schemaAsOf(fs, root, vs.max)
    require(cur.isDefined,
      s"$op: $dir is not schema-tracked (its log predates schema tracking) — " +
        "rewrite the table to a fresh root to start tracking")
    (fs, root, cur.get)
  }

  /** The table's commit-log-recorded logical schema (None when the
    * directory predates schema tracking) — the authoritative answer to
    * "what columns does this table have", including ones a later
    * `mergeschema` append added that older files do not carry.
    */
  def tableSchema(spark: org.apache.spark.sql.SparkSession, dir: String,
      versionAsOf: Option[Long] = None)
      : Option[org.apache.spark.sql.types.StructType] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = graft.spark.GraftCommitLog.versions(fs, root)
    if (vs.isEmpty) None
    else graft.spark.GraftCommitLog.schemaAsOf(fs, root,
      versionAsOf.getOrElse(vs.max))
  }

  /** Phase-1 scan: the latest snapshot with each row's source file
    * stamped — operate on the latest COMMITTED snapshot (the Delta
    * discipline): retired files from earlier retainHistory rewrites,
    * in-flight writers, and rogue uncommitted copies must not leak rows
    * back into the rewrite.
    */
  private def cowPhase1(spark: org.apache.spark.sql.SparkSession, dir: String,
      format: String, tbl: CowTable): DataFrame =
    spark.read.format(format).schema(tbl.phase1Schema)
      .option("withfilepath", "true").option("versionasof", tbl.latest.toString)
      .load(dir)

  /** The distinct source files of a phase-1 frame's rows, sorted — one
    * job: each partition keeps its distinct names and the driver merges
    * them; a shuffle `distinct()` would cost a second job. On a plain
    * scan a file's rows share a split, so the traffic is one name per
    * may-match file per split, the size class of the planning listing.
    * After a SHUFFLED join (deleteMatching past the broadcast threshold)
    * a file's names can come back from every shuffle partition: up to
    * files × partitions names.
    */
  private def candidateFiles(phase1: DataFrame): Seq[String] = {
    import phase1.sparkSession.implicits._
    phase1.select(col(graft.spark.GraftSources.FilePathCol)).as[String]
      .mapPartitions(_.toSet.iterator).collect().distinct.sorted.toSeq
  }

  /** Phase-2 publish: re-read ONLY `candidates`, apply `rewrite`, and
    * commit adds + `r` removes in one atomic v2 log entry; unless
    * `retainHistory`, also physically reclaim the retired originals.
    */
  private def cowRewrite(spark: org.apache.spark.sql.SparkSession, dir: String,
      format: String, tbl: CowTable, candidates: Seq[String],
      retainHistory: Boolean,
      changeRows: DataFrame => Seq[(String, DataFrame)] = null,
      opTag: String = null)(rewrite: DataFrame => DataFrame): Seq[String] = {
    import org.apache.hadoop.fs.Path
    if (candidates.isEmpty) return Nil
    val source = spark.read.format(format).schema(tbl.fullSchema)
      .option("restrictfiles",
        graft.spark.GraftSources.joinFileList(candidates, "restrictfiles"))
      // pin the snapshot the candidates came from: a candidate carrying a
      // deletion vector must rewrite only its LIVE rows — an unpinned
      // restrict read would resurrect the masked ones
      .option("versionasof", tbl.latest.toString).load(dir)
    // CHANGE DATA FEED (round 16, Delta's CDC-file shape): record the
    // rewrite's row-level pre/post images under `.graft-cdc/` BEFORE the
    // rewrite publishes, and attach them to the SAME atomic entry via
    // the `commitchangefiles` rider — an aborted rewrite leaves only
    // invisible dot-dir debris. O(changed files) extra read.
    val cdcNames: Seq[(String, String)] =
      if (changeRows == null) Nil
      else writeChangeData(spark, tbl, format, changeRows(source))
    var w = rewrite(source)
      .write.format(format).mode("append")
      // rewrite-side deletion-vector OCC: the commit validates the
      // candidates' dv state against the version this rewrite READ at —
      // a concurrent deleteWhereDV landing in between aborts the rewrite
      // (it would resurrect the concurrently deleted rows)
      .option("commitremovesversion", tbl.latest.toString)
      .option("commitremoves",
        graft.spark.GraftSources.joinFileList(candidates, "commitremoves"))
    if (cdcNames.nonEmpty)
      w = w.option("commitchangefiles",
        cdcNames.map { case (ct, n) => s"$ct>$n" }.mkString(","))
    if (opTag != null) w = w.option("committag", opTag)
    (if (tbl.partCols.nonEmpty) w.option("partitionby", tbl.partCols.mkString(","))
     else w).save(dir)
    if (!retainHistory) candidates.foreach { rel =>
      val p = new Path(tbl.root, rel)
      tbl.fs.delete(graft.spark.FileStats.sidecarFor(p), false)
      tbl.fs.delete(p, false)
    }
    candidates
  }

  private def rewriteWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, predicate: String, format: String, retainHistory: Boolean,
      changeRows: (DataFrame, Column) => Seq[(String, DataFrame)] = null)(
      rewrite: (DataFrame, Column) => DataFrame): Seq[String] = {
    val tbl = resolveCow(spark, dir, schema)
    // phase 1: exact candidate files (predicate pushdown prunes
    // definitely-clean files before any byte is read)
    val candidates = candidateFiles(cowPhase1(spark, dir, format, tbl)
      .filter(expr(predicate)))
    cowRewrite(spark, dir, format, tbl, candidates, retainHistory,
      changeRows =
        if (changeRows == null) null
        else df => changeRows(df, expr(predicate)))(
      df => rewrite(df, expr(predicate)))
  }

  /** Is CHANGE DATA FEED recording requested — the per-call flag, or the
    * session-wide default (`spark.hadoop.graft.cdf.enabled=true`, the
    * Delta `delta.enableChangeDataFeed` analog at session scope: the
    * graft log has no table-property store, so the always-on posture
    * rides the Hadoop conf instead).
    */
  private def cdfOn(spark: org.apache.spark.sql.SparkSession,
      flag: Boolean): Boolean =
    flag || spark.sparkContext.hadoopConfiguration
      .getBoolean("graft.cdf.enabled", false)

  /** Write a rewrite's change rows (one DataFrame of TABLE columns per
    * change type) as change-data files under `.graft-cdc/` and return
    * (change type, name) pairs for the commit's `c` lines. Every file
    * carries exactly one change type, so batch and streaming readers
    * stamp the type as a per-file constant instead of parsing it per
    * row. The rows land via the table's own format writer in a
    * dot-prefixed temp dir (its private commit log and sidecars vanish
    * with the dir), then the part files move out and the temp dir dies —
    * a crash leaves only invisible dot-dir debris.
    *
    * PARTITIONED tables (round 16): the change rows write partitioned by
    * the table's own partition columns and keep their `k=v` directory
    * structure under `.graft-cdc/<uuid>-<type>/…` — so both the batch
    * walk (a partitioned raw read of the cdc dir) and the streaming
    * reader (partition values parse from the file PATH, exactly as for
    * data files) serve partition columns without the files carrying
    * them inline. The recorded name is the cdc-relative PATH (slashes
    * and spaces are legal — the `c` line's name is everything after the
    * type token); a '>' inside a partition value would break the
    * commitchangefiles option join and refuses loudly, like every COW
    * rider (see joinDvList).
    */
  private def writeChangeData(spark: org.apache.spark.sql.SparkSession,
      tbl: CowTable, format: String,
      typed: Seq[(String, DataFrame)]): Seq[(String, String)] = {
    import org.apache.hadoop.fs.Path
    val uuid = java.util.UUID.randomUUID().toString
    val cdc = graft.spark.GraftCommitLog.cdcDir(tbl.root)
    tbl.fs.mkdirs(cdc)
    val pairs = typed.flatMap { case (ct, rows) =>
      val tmp = new Path(cdc, s"_tmp-$uuid-$ct")
      val w = rows.write.format(format).mode("overwrite")
      (if (tbl.partCols.nonEmpty)
         w.option("partitionby", tbl.partCols.mkString(","))
       else w).save(tmp.toString)
      val tmpQ = tbl.fs.makeQualified(tmp).toString
      def collect(p: Path): Seq[Path] =
        tbl.fs.listStatus(p).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith(".") || n.startsWith("_")) Nil
          else if (st.isDirectory) collect(st.getPath)
          else Seq(st.getPath)
        }
      val parts = collect(tmp).sortBy(_.toString)
      val moved = parts.zipWithIndex.map { case (part, k) =>
        val q = tbl.fs.makeQualified(part).toString
        val sub = q.substring(tmpQ.length).stripPrefix("/")
        val parent = // the k=v segments, if any
          if (sub.contains('/')) sub.substring(0, sub.lastIndexOf('/')) else ""
        val name = (if (parent.isEmpty) "" else parent + "/") +
          s"cdc-$uuid-$ct-$k-${part.getName}"
        require(!name.contains('>'),
          s"changeDataFeed: partition value in '$name' contains '>' — the " +
            "commitchangefiles rider cannot address it safely; rewrite the " +
            "table to a fresh root so values re-render escaped, then retry")
        val dest = new Path(cdc, name)
        tbl.fs.mkdirs(dest.getParent)
        require(tbl.fs.rename(part, dest),
          s"writeChangeData: rename of '$part' to '$dest' failed")
        (ct, name)
      }.toSeq
      tbl.fs.delete(tmp, true)
      moved
    }
    pairs
  }

  /** Copy-on-write DELETE of every row whose `keyCols` tuple appears in
    * `keys` — the JOIN-SHAPED merge primitive: the key set stays a
    * DataFrame end to end (no driver collect, no IN-list SQL), which is
    * what makes a streaming upsert scale past toy trigger sizes. Same
    * two-phase machinery, atomic v2 commit, and `retainHistory` contract
    * as [[deleteWhere]].
    *
    *   1. CANDIDATES — one tiny aggregate derives per-key-column min/max
    *      (driver traffic: 2 scalars per key column, never the keys), a
    *      coarse BETWEEN prefilter from those bounds pushes into the scan
    *      (stats sidecars / blooms / partition pruning drop
    *      definitely-clean files at planning), and a left-semi join
    *      against `keys` names the exact files to rewrite (broadcast when
    *      the key count is modest, AQE's choice otherwise).
    *   2. REWRITE — candidates anti-join `keys`; survivors republish with
    *      the originals retired in one atomic entry.
    *
    * Rows with a NULL in any key column never match (SQL join
    * discipline) — they always survive. Returns the rewritten files.
    */
  def deleteMatching(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, keys: DataFrame, keyCols: Seq[String],
      format: String = "graft-json", retainHistory: Boolean = false,
      changeDataFeed: Boolean = false): Seq[String] = {
    require(keyCols.nonEmpty, "deleteMatching needs at least one key column")
    val tbl = resolveCow(spark, dir, schema)
    val missing = keyCols.filterNot(c => tbl.fullSchema.fieldNames.contains(c))
    require(missing.isEmpty,
      s"deleteMatching key column(s) not in the table: ${missing.mkString(", ")}")
    val missingK = keyCols.filterNot(keys.columns.contains)
    require(missingK.isEmpty,
      s"deleteMatching key column(s) not in the keys DataFrame: ${missingK.mkString(", ")}")
    val k = keys.select(keyCols.map(col): _*).distinct()
    // one small aggregate: key count + per-column bounds (2 scalars per
    // key column to the driver — the keys themselves never leave the
    // cluster)
    val aggs = count(lit(1)) +: keyCols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val stats = k.agg(aggs.head, aggs.tail: _*).head()
    if (stats.getLong(0) == 0L) return Nil
    val rangePred: Option[Column] = keyCols.zipWithIndex.flatMap { case (c, i) =>
      val (lo, hi) = (stats.get(1 + 2 * i), stats.get(2 + 2 * i))
      if (lo == null || hi == null) None
      // lit() rejects exotic key types (arrays…): skip the coarse bound
      // for that column — correctness comes from the joins either way
      else scala.util.Try(col(c) >= lit(lo) && col(c) <= lit(hi)).toOption
    }.reduceOption(_ && _)
    // modest key sets broadcast (a micro-batch's keys under admission
    // control always are); past that, AQE plans the join
    val kSide = if (stats.getLong(0) <= 1000000L) broadcast(k) else k
    val base = cowPhase1(spark, dir, format, tbl)
    val candidates = candidateFiles(rangePred.map(base.filter).getOrElse(base)
      .join(kSide, keyCols, "left_semi"))
    cowRewrite(spark, dir, format, tbl, candidates, retainHistory,
      changeRows =
        if (!cdfOn(spark, changeDataFeed)) null
        else df => Seq("delete" -> df.join(kSide, keyCols, "left_semi")))(
      _.join(kSide, keyCols, "left_anti"))
  }

  /** UPSERT `batch` into a graft table by `keyCols` — the Delta
    * streaming-merge shape (whenMatched replace, whenNotMatched insert),
    * composed as [[deleteMatching]] (join-shaped, no driver key
    * round-trip) + one append, each a single atomic commit. Replaying
    * the same batch is idempotent in the final state: the delete makes
    * the re-append converge. The natural foreachBatch body:
    * {{{
    *   .foreachBatch { (b, _) => TrainingData.upsert(spark, dir, schema, b, Seq("id")) }
    * }}}
    */
  def upsert(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, batch: DataFrame, keyCols: Seq[String],
      format: String = "graft-json", retainHistory: Boolean = false): Unit = {
    deleteMatching(spark, dir, schema, batch, keyCols, format, retainHistory)
    val tbl = resolveCow(spark, dir, schema)
    val w = batch.write.format(format).mode("append")
    (if (tbl.partCols.nonEmpty) w.option("partitionby", tbl.partCols.mkString(","))
     else w).save(dir)
  }

  /** In-place OPTIMIZE — the Delta `OPTIMIZE [ZORDER BY]` analog the v2
    * commit protocol makes possible: rewrite the latest snapshot's files
    * into ~`targetFileBytes`-sized files (optionally range-clustered on
    * one column or Morton-interleaved on several, so the stats sidecars
    * get tight ranges), and publish adds + removes in ONE atomic entry —
    * readers never see a half-compacted table, unlike [[compactLayout]]
    * which writes a NEW directory with a fresh history. Same
    * `retainHistory` contract as [[deleteWhere]]: default physically
    * reclaims the fragmented originals; `true` keeps every snapshot
    * pinnable until [[expireRetired]]. Partitioned layouts rewrite
    * within their `k=v` directories (file sizing is then global, not
    * per-partition). Returns the root-relative files rewritten.
    *
    * SCOPING — what keeps OPTIMIZE from being a full-table rewrite at
    * 100 TB (the Delta bin-packing shape):
    *   - `smallFileBytes` ≥ 0: only files SMALLER than it are compacted
    *     (plus vector-carrying files regardless of size — OPTIMIZE purges
    *     masks it touches); already-right-sized files are never re-read
    *     or re-written, so repeated OPTIMIZE over a growing table costs
    *     O(new debris), not O(table).
    *   - `where`: a predicate over PARTITION columns scopes the pass to
    *     matching `k=v` directories (Delta's `OPTIMIZE ... WHERE`);
    *     references to non-partition columns fail analysis loudly.
    * With a dial engaged, a scope of fewer than two files with no vector
    * to purge is a no-op (compacting one file buys nothing). Both dials
    * compose with `clusterBy` — note a scoped clustering pass only
    * clusters WITHIN the scope.
    */
  def optimizeTable(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, targetFileBytes: Long = 128L << 20,
      clusterBy: Seq[String] = Nil, zorderBits: Int = 8,
      format: String = "graft-json", retainHistory: Boolean = false,
      smallFileBytes: Long = -1L, where: String = null): Seq[String] = {
    import org.apache.hadoop.fs.Path
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = graft.spark.GraftCommitLog
    val vs = log.versions(fs, root)
    require(vs.nonEmpty, s"optimizeTable needs a graft commit log under $dir")
    val latest = vs.max
    if (log.liveFilesAsOf(fs, root, latest).isEmpty) return Nil
    val listing = graft.spark.GraftSources.resolvePartitioned(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir, "versionasof", latest.toString)))
    val partCols = listing.partCols
    val dataSchema = org.apache.spark.sql.types.StructType.fromDDL(schema)
    requireCoversRecorded(graft.spark.GraftCommitLog.schemaAsOf(fs, root, latest),
      dataSchema, partCols, dir)
    val fullSchema = org.apache.spark.sql.types.StructType(dataSchema.fields ++
      graft.spark.GraftSources.partitionSchema(listing)
        .filterNot(f => dataSchema.fieldNames.contains(f.name)))
    // candidate scope: root-relative name -> listed file
    val rootQ = fs.makeQualified(root).toString
    def rel(p: String): String = {
      val q = fs.makeQualified(new Path(p)).toString
      if (q.startsWith(rootQ)) q.substring(rootQ.length).stripPrefix("/") else q
    }
    var scope: Seq[(String, graft.spark.GraftSources.ListedFile)] =
      listing.files.map(lf => rel(lf.path) -> lf).sortBy(_._1)
    if (where != null) {
      require(partCols.nonEmpty,
        s"optimizeTable(where = ...) scopes by PARTITION columns; the layout " +
          s"under $dir has none")
      // typed partition-value filter, driver-sized (one row per file —
      // the same traffic class as the listing itself). The frame holds
      // ONLY the partition columns, so a reference to anything else —
      // including internal names — fails analysis loudly; the predicate
      // is selected as the frame's single (nameless) output and zipped
      // back by row order, which a LocalRelation + narrow projection
      // preserves.
      import org.apache.spark.sql.types.{StructField, StructType, StringType}
      val raw = spark.createDataFrame(
        java.util.Arrays.asList(scope.map { case (_, lf) =>
          org.apache.spark.sql.Row.fromSeq(partCols.indices.map(i =>
            if (i < lf.partValues.length) lf.partValues(i) else null))
        }: _*),
        StructType(partCols.map(c => StructField(c, StringType)).toArray))
      val typed = raw.select(
        graft.spark.GraftSources.partitionSchema(listing).map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      val keep = typed.select(expr(where).cast("boolean")).collect()
        .map(r => !r.isNullAt(0) && r.getBoolean(0))
      scope = scope.zip(keep).collect { case (pair, true) => pair }
    }
    if (smallFileBytes >= 0L)
      scope = scope.filter { case (_, lf) => lf.len < smallFileBytes || lf.dv != null }
    val scoped = where != null || smallFileBytes >= 0L
    // compacting a single clean file buys nothing (scoped mode only — the
    // unscoped call keeps its rewrite-everything contract, which
    // clustering passes rely on)
    if (scope.isEmpty ||
        (scoped && scope.size < 2 && scope.forall(_._2.dv == null))) return Nil
    val candidates = scope.map(_._1)
    val totalBytes = scope.map(_._2.len).sum
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    var r = spark.read.format(format).schema(fullSchema)
      .option("versionasof", latest.toString)
    if (scoped) r = r.option("restrictfiles",
      graft.spark.GraftSources.joinFileList(candidates, "restrictfiles"))
    val df = r.load(dir)
    val shaped = clusterBy match {
      case Nil => df.repartition(nFiles)
      case Seq(c) => clusterForSkipping(df, nFiles, c)
      case cs => zorderBy(df, nFiles, cs, zorderBits)
    }
    val w = shaped.write.format(format).mode("append")
      // rewrite-side dv OCC (see cowRewrite): a delete racing the
      // OPTIMIZE must abort one of the two, never silently lose rows
      .option("commitremovesversion", latest.toString)
      .option("commitremoves",
        graft.spark.GraftSources.joinFileList(candidates, "commitremoves"))
      // NO-LOGICAL-CHANGE tag (round 16): compaction moves rows without
      // changing any — changeFeed / streaming CDF skip this commit
      // instead of demanding a full refresh (Delta's CDF does the same
      // for OPTIMIZE)
      .option("committag", "optimize")
    (if (partCols.nonEmpty) w.option("partitionby", partCols.mkString(","))
     else w).save(dir)
    if (!retainHistory) candidates.foreach { rel =>
      val p = new Path(root, rel)
      fs.delete(graft.spark.FileStats.sidecarFor(p), false)
      fs.delete(p, false)
    }
    // OPTIMIZE is the natural checkpoint moment: the live set was just
    // folded to its smallest. Best-effort, like the interval hook.
    try checkpointLog(spark, dir) catch { case _: Exception => () }
    candidates
  }

  /** DESCRIBE HISTORY — one row per READABLE commit-log version, newest
    * first (expired history has no rows; [[expireLogHistory]] retired its
    * entries): version, the resolved (monotonic-clamped) commit time in
    * epoch millis, the operation (the v6 `o` tag when recorded — e.g.
    * "restore 1" — else derived from the entry's action shape: append /
    * rewrite / delete-vector / append+delete-vector (updateWhereDV) /
    * rewrite+delete-vector / remove / schema),
    * action counts, and whether the entry records a schema. Driver-sized:
    * one small entry read per version — the same traffic class as
    * snapshot planning itself.
    */
  def tableHistory(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{StructField, StructType, StringType, LongType}
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = graft.spark.GraftCommitLog
    val vs = log.versions(fs, root)
    require(vs.nonEmpty, s"tableHistory needs a graft commit log under $dir")
    val ts: Map[Long, Long] = log.resolvedTimestamps(fs, root).toMap
    val rows = vs.sorted(Ordering[Long].reverse).map { v =>
      // one slurp per entry (entrySummary) — actions, op tag, and the
      // schema flag all come from the same read
      val (acts, opTag, schemaRecorded) = log.entrySummary(fs, root, v)
      val nA = acts.count(_.kind == 'f').toLong
      val nR = acts.count(_.kind == 'r').toLong
      val nD = acts.count(_.kind == 'd').toLong
      val op = opTag.getOrElse {
        if (nD > 0 && nR > 0) "rewrite+delete-vector"
        else if (nD > 0 && nA > 0) "append+delete-vector" // updateWhereDV's shape
        else if (nD > 0) "delete-vector"
        else if (nR > 0 && nA > 0) "rewrite"
        else if (nR > 0) "remove"
        else if (nA > 0) "append"
        else "schema"
      }
      val sch = if (schemaRecorded) 1L else 0L
      org.apache.spark.sql.Row(v, ts.getOrElse(v, 0L), op, nA, nR, nD, sch)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Array(
        StructField("version", LongType, nullable = false),
        StructField("ts_millis", LongType, nullable = false),
        StructField("operation", StringType, nullable = false),
        StructField("n_adds", LongType, nullable = false),
        StructField("n_removes", LongType, nullable = false),
        StructField("n_dvs", LongType, nullable = false),
        StructField("schema_recorded", LongType, nullable = false))))
  }

  /** Write a commit-log checkpoint at the table's LATEST version — the
    * folded live-file set as `.graft-log/<v>.checkpoint` plus the
    * `_last_checkpoint` pointer (the Delta shape). From then on snapshot
    * planning seeds from the checkpoint and folds only newer entries:
    * O(suffix) log reads instead of O(#commits) — load-bearing once a
    * streaming upsert commits per micro-batch. Checkpoints also land
    * automatically every `graft.commitlog.checkpoint.interval` commits
    * (default 20; set via `spark.hadoop.` prefix) and after
    * [[optimizeTable]]. Returns the checkpointed version.
    */
  def checkpointLog(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val log = graft.spark.GraftCommitLog
    val vs = log.versions(fs, root)
    require(vs.nonEmpty, s"checkpointLog needs a graft commit log under $dir")
    log.writeCheckpoint(conf, root, vs.max)
    vs.max
  }

  /** Retire raw log entries the latest checkpoint has replaced — the
    * log-compaction half of the retention story ([[expireRetired]] ages
    * out data files; this ages out the LOG). Deletes every entry and
    * older checkpoint STRICTLY BELOW the latest checkpoint's version;
    * the checkpoint itself and the entry at its version stay, so the
    * checkpointed version remains the earliest readable one. After this:
    * time travel, CDF (`changesSinceVersion`), and followLog restarts
    * that reach below the checkpoint fail LOUDLY with an
    * "expired" error (never a silently partial fold — snapshot
    * resolution refuses a fold that cannot reach version 0 or a readable
    * checkpoint).
    *
    * Files referenced ONLY by the expired entries — retained-retired
    * originals whose every snapshot just became unreadable — are
    * physically reclaimed here too (fuzz-found: leaving them would drop
    * them from [[expireRetired]]'s reference set while still shadowing
    * RAW directory reads with pre-rewrite rows). Files in the
    * checkpoint's live set or added by surviving entries are untouched.
    * Returns the versions whose entries were deleted (empty in `dryRun`).
    */
  def expireLogHistory(spark: org.apache.spark.sql.SparkSession, dir: String,
      dryRun: Boolean = false): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = graft.spark.GraftCommitLog
    val cks = log.checkpointVersions(fs, root)
    require(cks.nonEmpty,
      s"expireLogHistory needs a checkpoint under $dir/.graft-log — " +
        "run checkpointLog first (the checkpoint replaces what this deletes)")
    val cv = cks.max
    val ckptSet = log.readCheckpoint(fs, root, cv).getOrElse(
      throw new IllegalArgumentException(
        s"latest checkpoint $cv under $dir is unreadable — refusing to expire " +
          "the raw entries it must replace"))
    val vs = log.versions(fs, root)
    val expire = vs.filter(_ < cv)
    val survivingAdds = vs.filter(_ >= cv)
      .flatMap(v => log.entryActions(fs, root, v).filter(_.add).map(_.path)).toSet
    val orphaned = expire
      .flatMap(v => log.entryActions(fs, root, v).filter(_.add).map(_.path))
      .toSet -- ckptSet -- survivingAdds
    if (!dryRun) {
      // files before entries: a crash between the two leaves extra log
      // entries (harmless) rather than unreferenced files
      orphaned.toSeq.sorted.foreach { rel =>
        val p = new Path(root, rel)
        fs.delete(graft.spark.FileStats.sidecarFor(p), false)
        fs.delete(p, false)
      }
      expire.foreach(v => fs.delete(new Path(log.logDir(root), f"$v%020d"), false))
      cks.filter(_ < cv).foreach(v => fs.delete(log.checkpointFile(root, v), false))
      // deletion-vector artifacts referenced ONLY by the just-expired
      // entries are debris now (same rationale as the orphaned data
      // files above — reclaim against the SURVIVING log)
      graft.spark.DeletionVectors.reclaimUnreferenced(fs, root)
    }
    expire
  }

  /** Reclaim files the LATEST snapshot no longer references but older log
    * entries still do — the retired originals of `retainHistory = true`
    * rewrites (and the cleanup half of a crashed `retainHistory = false`
    * one). After this, snapshots that included those files fail loudly;
    * the latest snapshot and raw listings are exactly the live file set.
    * The log itself is never touched (history stays auditable).
    * `retainMillis > 0` keeps files retired more recently than the
    * horizon (the Delta `VACUUM ... RETAIN` discipline — the age that
    * makes online maintenance safe under pinned readers and streams;
    * SQL: `VACUUM <table> RETAIN <n> HOURS`). Returns
    * the root-relative paths deleted.
    */
  def expireRetired(spark: org.apache.spark.sql.SparkSession, dir: String,
      dryRun: Boolean = false, retainMillis: Long = 0L): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    val log = graft.spark.GraftCommitLog
    val vs = log.versions(fs, root)
    require(vs.nonEmpty, s"expireRetired needs a graft commit log under $dir")
    val retired =
      (log.allReferencedFiles(fs, root) -- log.liveFilesAsOf(fs, root, vs.max))
        .toSeq.sorted
    // retention horizon (the Delta VACUUM RETAIN discipline): a file
    // retired more recently than `retainMillis` may still be mid-scan
    // under a pinned reader, admitted-but-unread in a live stream, or
    // the restore target of an operator who just fat-fingered a rewrite
    // — reclaim only past the horizon. Retirement time = the RESOLVED
    // (monotonic) commit time of the newest entry removing the file;
    // `now` honors the commit-timestamp override for deterministic tests.
    val eligible =
      if (retainMillis <= 0L) retired
      else {
        val ts: Map[Long, Long] = log.resolvedTimestamps(fs, root).toMap
        // entryActionsAwait: ride out a claimed-but-unwritten entry from
        // an in-flight committer, like every other maintenance fold
        val retiredAt: Map[String, Long] = vs.iterator.flatMap(v =>
          log.entryActionsAwait(fs, root, v).iterator
            .filter(a => !a.add && !a.isDv).map(a => (a.path, v))).toMap
        val now = hconf.getLong(graft.spark.GraftCommitLog.CommitTimestampKey,
          System.currentTimeMillis())
        retired.filter { rel =>
          retiredAt.get(rel) match {
            case Some(v) => ts.get(v).forall(t => now - t >= retainMillis)
            case None => true // referenced but never `r`-removed: stray
          }
        }
      }
    // ghost filter LAST (after the horizon discarded recent retirees):
    // a retiree an earlier pass already reclaimed stays referenced by the
    // log forever — report only what is actually still on disk, and pay
    // the per-file exists() only for horizon-eligible candidates
    val present = eligible.filter(rel => fs.exists(new Path(root, rel)))
    if (!dryRun) present.foreach { rel =>
      val p = new Path(root, rel)
      fs.delete(graft.spark.FileStats.sidecarFor(p), false)
      fs.delete(p, false)
    }
    present
  }

  /** Single-column clustering for data skipping: range-partition into
    * ~`numFiles` files and sort within each, so sink-written files carry
    * TIGHT disjoint min/max ranges (every range filter on `col` prunes
    * to one file's worth of data) and the write-order `sorted` flag
    * (the scan then reports per-partition ordering). The layout pass is
    * one shuffle — amortized over every later filtered read.
    */
  def clusterForSkipping(df: DataFrame, numFiles: Int, colName: String): DataFrame =
    df.repartitionByRange(numFiles, col(colName)).sortWithinPartitions(colName)

  /** Z-order (Morton) clustering for MULTI-column data skipping — the
    * Delta `OPTIMIZE ZORDER BY` analog. A linear sort gives tight file
    * ranges on ONE column and useless full-span ranges on every other;
    * interleaving the bits of rank-normalized column values gives every
    * listed column partially-tight ranges, so filters on ANY of them
    * prune files through the stats sidecars.
    *
    * Mechanics: per-column approxQuantile cut points (driver traffic =
    * cols × 2^bits doubles — small by construction) rank-normalize each
    * value to a `bits`-bit bucket id; ids interleave into a Morton code;
    * rows range-partition + sort by it. The bucket lookup is a binary
    * search over a broadcast cut array inside a scalar UDF — a
    * deliberate exception to the functions-not-UDFs rule: this is a
    * WRITE-TIME layout pass, run once per corpus rewrite, where the
    * per-row log2(2^bits) comparisons are noise against the shuffle.
    * Numeric columns only (quantiles define the rank space); the layout
    * never affects query RESULTS, only how well files prune.
    */
  def zorderBy(df: DataFrame, numFiles: Int, cols: Seq[String],
      bits: Int = 8): DataFrame = {
    require(cols.nonEmpty, "at least one z-order column")
    require(bits >= 1 && bits <= 16, s"bits $bits outside [1, 16]")
    require(cols.size * bits <= 62, s"${cols.size} cols × $bits bits exceeds a Long")
    val n = 1 << bits
    val probs = (1 until n).map(_.toDouble / n).toArray
    // one pass per column; 0.005 relative error is plenty for bucketing
    val cuts: Seq[Array[Double]] =
      cols.map(c => df.stat.approxQuantile(c, probs, 0.005))
    val bucketOf = udf { (v: java.lang.Double, ci: Int) =>
      if (v == null) 0
      else {
        val a = cuts(ci)
        val i = java.util.Arrays.binarySearch(a, v)
        if (i >= 0) i + 1 else -(i + 1) // first bucket whose cut >= v
      }
    }
    // interleave: output bit (j*cols + ci) takes bucket bit j of column ci
    val morton = udf { (buckets: Seq[Int]) =>
      var z = 0L
      var j = 0
      while (j < bits) {
        var ci = 0
        while (ci < buckets.length) {
          if (((buckets(ci) >> j) & 1) == 1) z |= 1L << (j * buckets.length + ci)
          ci += 1
        }
        j += 1
      }
      z
    }
    val zc = "__graft_z"
    df.withColumn(zc, morton(array(
        cols.zipWithIndex.map { case (c, i) =>
          bucketOf(col(c).cast("double"), lit(i)) }: _*)))
      .repartitionByRange(numFiles, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
  }

  /** Sliding-window document chunking — the long-document → training-
    * window step: each document becomes ceil((len-width)/step)+1 chunks
    * of `width` characters starting every `step = width - overlap`
    * characters (the last window may run short; empty documents yield no
    * chunks). Pure per-row map work (sequence + substring — no UDF, no
    * shuffle), so it streams at any corpus size; chunk_idx is the
    * deterministic 0-based window index, so (id, chunk_idx) is a stable
    * chunk key across reruns. Character-addressed on purpose: byte/char
    * window arithmetic is engine-portable and exactly reproducible,
    * where tokenizer-addressed windows would pin a tokenizer version
    * (token BUDGET packing is [[packSequences]]).
    */
  def chunkByChars(df: DataFrame, idCol: String, textCol: String,
      width: Int, overlap: Int,
      chunkIdxCol: String = "chunk_idx", chunkCol: String = "chunk"): DataFrame = {
    require(width >= 1, s"width $width must be >= 1")
    require(overlap >= 0 && overlap < width,
      s"overlap $overlap must be in [0, width)")
    val step = width - overlap
    // CASE guards the empty doc OUTSIDE sequence(): sequence(0, -1) would
    // count DOWN (Spark infers step -1), not produce an empty array.
    // coalesce: length(NULL) is NULL, which would fall through to ELSE
    // and emit one NULL chunk — NULL text must chunk like empty text.
    df.select(col(idCol),
        posexplode(expr(
          s"""CASE WHEN coalesce(length($textCol), 0) <= 0 THEN CAST(array() AS array<string>)
              ELSE transform(
                sequence(0, greatest(CAST(ceil((length($textCol) - $width) / $step.0) AS INT), 0)),
                i -> substring($textCol, i * $step + 1, $width))
              END""")))
      .select(col(idCol), col("pos").as(chunkIdxCol), col("col").as(chunkCol))
  }

  /** Near-duplicate dedup by CLUSTER: resolve similarity-candidate pairs
    * into connected components and keep exactly the canonical (min-id)
    * row of every cluster — the transitively-correct version of
    * pairwise dropping, which over-deletes on chains A~B~C (B dies to A,
    * C dies to B, but C~A may not even hold). Rows absent from `pairs`
    * are singletons and always survive.
    */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxRounds: Int = 60): DataFrame = {
    val canonical = connectedComponents(df.select(col(idCol)), pairs,
        idCol, srcCol, dstCol, maxRounds)
      .filter(col("id") === col("comp"))
      .select(col("id").as(idCol))
    df.join(canonical, Seq(idCol), "left_semi")
  }

  /** Cluster-canonical "keep best" dedup: like [[dedupByComponents]], but
    * the survivor of each duplicate cluster is chosen by an explicit
    * caller-supplied quality order (e.g. longest text, best quality score,
    * newest crawl) instead of min-id — the policy real corpus dedup wants:
    * when a page was crawled five times, keep the best capture, not the
    * one with the smallest id. `rankCols` MUST totally order rows within
    * a cluster (append the id column as the final tiebreak) or the
    * survivor is nondeterministic. One row_number window partitioned on
    * the component key — bounded per-cluster work, one shuffle beyond the
    * component computation itself. Output keeps all of `df`'s columns
    * plus the `comp` cluster key.
    */
  def dedupKeepBest(df: DataFrame, idCol: String, pairs: DataFrame,
      rankCols: Seq[Column], srcCol: String = "src", dstCol: String = "dst",
      maxRounds: Int = 60): DataFrame = {
    require(rankCols.nonEmpty, "rankCols must not be empty")
    val comps = connectedComponents(df.select(col(idCol)), pairs,
        idCol, srcCol, dstCol, maxRounds)
      .select(col("id").as(idCol), col("comp"))
    val w = Window.partitionBy(col("comp")).orderBy(rankCols: _*)
    df.join(comps, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Connected components over an undirected edge list — the clustering
    * step after a similarity join: near-duplicate candidate PAIRS (from
    * [[minhashLshCandidates]], the n-gram Jaccard join, or an embedding
    * bucket join) become duplicate CLUSTERS, so a pipeline can keep one
    * canonical document per component rather than dropping only the
    * pairwise-second of each pair (pairwise drops over-delete on
    * transitive chains A~B~C).
    *
    * Algorithm: alternating large-star/small-star contraction (the
    * published MapReduce connected-components construction — Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014).
    * The edge set is rewritten each half-round:
    *
    *   - LARGE-STAR: per node u with neighborhood Γ(u), every neighbor
    *     LARGER than u re-attaches to m = min(Γ(u) ∪ {u});
    *   - SMALL-STAR: per node u, every neighbor at most u (and u
    *     itself) attaches to the min of that lower neighborhood.
    *
    * Both steps preserve connectivity and strictly contract toward a
    * star per component rooted at the component MINIMUM; convergence is
    * O(log² n) half-rounds on ANY graph shape — a million-node path
    * converges in tens of rounds where naive min-label propagation
    * needs a million (= its diameter). Each half-round is one
    * shuffle-grouped min + one co-keyed join, and the edge set only
    * shrinks-or-stays, so round cost is bounded by the input. Each
    * half-round CHECKPOINTS its edge set — the plan would otherwise
    * double per round (the edge frame feeds both the grouped min and
    * the re-attach join) and the driver dies planning long before the
    * data is big; a reliable checkpoint dir is used when the session
    * has one (`sparkContext.setCheckpointDir` — survives executor
    * loss, the production setting), else executor-memory
    * localCheckpoint. The convergence check (any edge rewritten?) is
    * the per-round action that materializes it.
    *
    * Returns (id, component) with component = min node id reachable;
    * nodes with no edges stay singleton components labeled by their own
    * id. Deterministic: mins over unordered sets.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      idCol: String = "id", srcCol: String = "src", dstCol: String = "dst",
      maxRounds: Int = 60): DataFrame = {
    val sc = nodes.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    def snap(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)
    // Dataset.checkpoint wraps the materialized RDD in a LogicalRDD; dig
    // it out so superseded rounds can be RELEASED — Spark never deletes
    // reliable checkpoint files on its own (cleanCheckpoints defaults to
    // false), so a 40-round contraction would otherwise leave 40 edge
    // sets on the checkpoint filesystem (and 40 pinned block sets in the
    // localCheckpoint case).
    def snapRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.headOption
    def release(rdd: org.apache.spark.rdd.RDD[_]): Unit =
      if (reliable) rdd.getCheckpointFile.foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(sc.hadoopConfiguration).delete(path, true)
      } else rdd.unpersist(blocking = false)
    // canonical undirected pairs (a < b); self-loops contribute nothing
    var e = snap(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    var eRdd = snapRdd(e)
    var round = 0
    var changed = true
    while (changed && round < maxRounds) {
      // LARGE-STAR. Group the full symmetric neighborhood of u; every
      // strictly-larger neighbor b re-attaches to m = min(Γ(u) ∪ {u}).
      // Emitted pairs are (m, b) with m < b — already canonical.
      val symL = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mL = symL.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = symL.join(mL, "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      // SMALL-STAR on the large-star output. Group only the ≤u side:
      // for node b its lower neighborhood {a : (a,b) ∈ E} plus b itself
      // attaches to m = min of that set; canonical pairs (a, b) already
      // orient lower → the group key is b.
      val mS = large.groupBy(col("b")).agg(min(col("a")).as("m"))
      // no .distinct() here: the fused classification aggregate below
      // dedups on (a,b) anyway — the r16 shape paid this exchange twice
      val small = large.join(mS, "b")
        .select(col("m").as("a"),
          when(col("a") === col("m"), col("b")).otherwise(col("a")).as("b"))
        .filter(col("a") =!= col("b"))
      // Converged when the round rewrote nothing (same canonical set).
      // Both sides are distinct, so |symmetric difference| = rows whose
      // (a,b) appears on exactly one side. Round 17 (VERDICT item 7): the
      // convergence count is FUSED into the materializing job — the
      // edge set to checkpoint is derived from the SAME (a,b)-grouped
      // aggregation that classifies each pair (min(side)=1 ⟺ present in
      // the new set), and `observe` hangs the changed-count on it as a
      // CollectMetrics accumulator that fills during the snap's own job.
      // One job per round where the r16 shape launched two (snap + count),
      // and the union-aggregate work the count job re-did now runs once.
      // (small may carry duplicate pairs now — min==max still marks
      // exactly the one-sided pairs, and min==1 keeps each pair once)
      val classified = small.select(col("a"), col("b"), lit(1).as("side"))
        .unionByName(e.select(col("a"), col("b"), lit(2).as("side")))
        .groupBy(col("a"), col("b"))
        .agg(min(col("side")).as("s1"), max(col("side")).as("s2"))
        // CollectMetrics is a pushdown barrier, so the filter above it
        // cannot reach below and starve the count (verified in the plan
        // by ConnectedComponentsSpec's fused-convergence test)
        .observe("cc_changed",
          coalesce(sum(when(col("s1") === col("s2"), 1L)), lit(0L)).as("n"))
        .filter(col("s1") === 1)
        .select(col("a"), col("b"))
      val next = snap(classified)
      // the snap's RDD job ran the whole plan incl. CollectMetrics: read
      // the fused count off the executed plan (Observation's listener
      // never fires for RDD-level actions like checkpoint)
      // Only "any edge rewritten?" is read, never the count itself: on the
      // reliable-checkpoint path Dataset.checkpoint runs the plan twice
      // (materialize, then write the files), so the accumulator can hold
      // about twice the symmetric difference.
      changed = org.apache.spark.sql.execution.CollectMetricsExec
        .collect(classified.queryExecution.executedPlan)("cc_changed").getLong(0) > 0
      // `next` is fully materialized (eager snap) and the convergence
      // count rode the same job over the old edge set — release it now
      eRdd.foreach(release)
      e = next
      eRdd = snapRdd(e)
      round += 1
    }
    require(!changed,
      s"connectedComponents: no fixpoint within $maxRounds rounds — " +
        "raise maxRounds (star contraction needs O(log^2 n) rounds)")
    // fixpoint = disjoint stars rooted at each component's min: every
    // node appears on the b side of at most one (root, node) pair
    nodes.select(col(idCol).as("id"))
      .join(e.select(col("b").as("id"), col("a").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("comp"))
  }
}
