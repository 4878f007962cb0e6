package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal plumbing row shapes (top-level for Encoder derivation). */
final case class MediaRow(doc_id: Long, source: String, media: Array[Byte])
final case class DecodedMedia(
    doc_id: Long, source: String, width: Int, height: Int, n_bytes: Long, fp: String)
final case class FrameRow(doc_id: Long, source: String, frame: String)
final case class PooledFrame(
    doc_id: Long, source: String, q00: Long, q01: Long, q10: Long, q11: Long)
final case class PixelImage(doc_id: Long, source: String, png: Array[Byte])
final case class PixelSum(doc_id: Long, source: String, n_px: Long, px_sum: Long)
final case class AudioMeta(doc_id: Long, source: String, dur_us: Long,
    frames: Long, n_bytes: Long, channels: Int)
final case class VideoMeta(doc_id: Long, source: String, dur_us: Long, n_bytes: Long)

/** LLM-training-data pipeline operators over `documents` / `embeddings`
  * (the north-star extensions): deduplication (exact, MinHash-LSH, SimHash,
  * n-gram Jaccard), similarity search (brute-force + LSH-bucketed ANN),
  * text analysis (language ID, quality scoring, token counting,
  * fingerprinting), and multimodal binary plumbing.
  *
  * Scale stance (100 TB): every similarity operator is BUCKETED — LSH bands
  * or shared-shingle inverted-index joins, never an all-pairs crossJoin
  * (the only cross join is 3 broadcast query vectors). Dedup is a single
  * hash-partitioned shuffle on the content fingerprint. Exact-oracle
  * queries restrict themselves to arithmetic both engines evaluate
  * identically (md5, integer math, IEEE double division).
  */
object Pipeline {

  private def T(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Brand-blocked candidate pairs for the fuzzy/linkage gates
    * (q116/q135/q163/q185) — round 17, VERDICT item 3.
    *
    * The r16 shape joined part to itself with the planner's default: a
    * sort-merge join whose brand exchange carries a few MB, which AQE
    * correctly coalesces to ~1 partition — and then the JOIN OUTPUT
    * explodes to ~|block|² candidate pairs whose kernel evaluations all
    * run inside that one task (round 16, OPTIMIZATION_r16.md: the kernel
    * is ~355 ns/eval and the pair table is the real workload, so the whole
    * gate serialized).
    * The deliberate shape instead (guide §3.1, the q03 discipline): the
    * dimension side BROADCASTS — the streamed side never exchanges, so
    * the pair explosion inherits the STREAMED side's parallelism — and
    * the streamed side fans out first under the change-7 guard (only
    * when its planned scan parallelism is below the cluster's, so at
    * healthy scan parallelism nothing is added). Candidate production
    * and kernel evaluation then scale with cores at any block shape,
    * instead of serializing on the post-coalesce exchange.
    */
  private def brandPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = T(s, d, "part").select($"p_partkey", $"p_brand", $"p_name")
    val target = s.sparkContext.defaultParallelism
    val streamed = if (p.rdd.getNumPartitions < target) p.repartition(target) else p
    streamed.toDF("key_a", "brand", "name_a")
      .join(broadcast(p.toDF("key_b", "brand", "name_b")), Seq("brand"))
      .filter($"key_a" < $"key_b")
  }

  // ---------------------------------------------------------------- q29
  // Exact dedup: one shuffle on the md5 content fingerprint. The corpus
  // unions the table with an id-shifted copy so every text has exactly one
  // duplicate (the driver data is dup-free); keeper = min id, like a
  // production "first writer wins" policy.
  private val q29 = GQuery(
    "q29_dedup_exact",
    "exact near-zero-memory dedup via content-hash groupBy (one shuffle)",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents").select($"doc_id", $"text")
      val corpus = docs.unionAll(docs.select(($"doc_id" + 1000000).as("doc_id"), $"text"))
      graft.api.TrainingData.dedupExactSummary(corpus, "doc_id", "text")
        .orderBy($"fp")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents)
            SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_copies
            FROM corpus
            GROUP BY md5(text)
            ORDER BY fp"""))

  // ---------------------------------------------------------------- q30
  // MinHash-LSH near-dup candidates: distinct word-3-shingles -> 16
  // minhashes -> 4 bands of 4 -> join docs sharing a band bucket (never
  // all-pairs), then estimate Jaccard from minhash agreement. EXACT
  // oracle (round 11): the portable md5-lane hash family makes the whole
  // pipeline — lane minima, band buckets, the candidate-pair set, and
  // the estimates — reproducible in DuckDB SQL to the digit (the q151
  // discipline applied to LSH; production defaults keep xxhash64).
  private val q30 = GQuery(
    "q30_minhash_lsh_neardup",
    "MinHash-LSH banded near-duplicate candidate join (bucketed, exact md5-lane oracle)",
    (s, d) => {
      import s.implicits._
      graft.api.TrainingData.minhashLshCandidates(
          T(s, d, "documents"), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, minJaccardEst = 0.25,
          portableHash = true)
        .select($"id_a".as("doc_a"), $"id_b".as("doc_b"), $"jaccard_est")
        .orderBy($"doc_a", $"doc_b")
    },
    Some("""WITH words AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS t
              FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) s(i)),
            mh AS (
              SELECT doc_id, i,
                     min(CAST(concat('0x', substring(md5(concat(CAST(i // 4 AS VARCHAR), ':', t)),
                                                     (i % 4) * 8 + 1, 8)) AS BIGINT)) AS h
              FROM sh, unnest(generate_series(0, 15)) s(i)
              GROUP BY doc_id, i),
            sig AS (SELECT doc_id, list(h ORDER BY i ASC) AS mh FROM mh GROUP BY doc_id),
            banded AS (
              SELECT doc_id, mh, b,
                     CAST(concat('0x', substring(md5(concat_ws(',',
                       CAST(mh[b*4+1] AS VARCHAR), CAST(mh[b*4+2] AS VARCHAR),
                       CAST(mh[b*4+3] AS VARCHAR), CAST(mh[b*4+4] AS VARCHAR))), 1, 15))
                       AS BIGINT) AS bucket
              FROM sig, unnest(generate_series(0, 3)) t(b)),
            cand AS (
              SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                              x.mh AS mh_a, y.mh AS mh_b
              FROM banded x JOIN banded y ON x.b = y.b AND x.bucket = y.bucket
              WHERE x.doc_id < y.doc_id)
            SELECT doc_a, doc_b,
                   round(CAST(len(list_filter(generate_series(1, 16),
                                              i -> mh_a[i] = mh_b[i])) AS DOUBLE) / 16.0, 4)
                     AS jaccard_est
            FROM cand
            WHERE CAST(len(list_filter(generate_series(1, 16),
                                       i -> mh_a[i] = mh_b[i])) AS DOUBLE) / 16.0 >= 0.25
            ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------- q31
  // SimHash (32-bit, md5 family): bit b votes +1/-1 per token occurrence by
  // whether hex digit b of md5(token) has its high bit set; the fingerprint
  // is the sign vector. Pure md5 + substr arithmetic -> exact oracle.
  private val q31 = GQuery(
    "q31_simhash_fingerprint",
    "SimHash document fingerprint (md5-family bit votes; portable arithmetic)",
    (s, d) => {
      import s.implicits._
      graft.api.TrainingData.simhash(T(s, d, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    },
    Some(s"""SELECT doc_id, concat(${(0 until 32).map(b =>
              s"CASE WHEN sum(CASE WHEN substring(md5(tok), ${b + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END").mkString(", ")}) AS simhash
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
             WHERE tok <> ''
             GROUP BY doc_id
             ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q32
  // n-gram Jaccard similarity join through the shared-shingle inverted
  // index: only docs sharing >= 1 shingle are ever paired (bucketed), then
  // |A∩B| / (|A|+|B|-|A∩B|). Integer counts + one IEEE division -> exact.
  // The maxDocFreq=100 stop-shingle cap is ENGAGED (and mirrored in the
  // oracle): a shingle shared by df docs emits df²/2 candidate pairs, so
  // the cap is what keeps this join linear-ish at corpus scale.
  private val q32 = GQuery(
    "q32_ngram_jaccard_join",
    "word-3-gram Jaccard similarity join (inverted-index bucketing, stop-shingle df cap)",
    (s, d) => {
      import s.implicits._
      graft.api.TrainingData.ngramJaccardPairs(
          T(s, d, "documents"), "doc_id", "text",
          n = 3, minJaccardBp = 1500, maxDocFreq = 100)
        .orderBy($"doc_a", $"doc_b")
    },
    Some("""WITH words AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh0 AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
              FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) t(i)),
            sh AS (
              SELECT * FROM sh0
              WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 100)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
              FROM sh x JOIN sh y USING (sh)
              WHERE x.doc_id < y.doc_id
              GROUP BY x.doc_id, y.doc_id)
            SELECT doc_a, doc_b,
                   (10000 * inter) // (sa.n + sb.n - inter) AS jaccard_bp
            FROM pairs
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE (10000 * inter) // (sa.n + sb.n - inter) >= 1500
            ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------- q33
  // Brute-force cosine top-k: 3 broadcast query vectors against the full
  // table (the ONLY cross join in the engine — the small side is 3 rows),
  // double-precision dot products, integer-only output so the oracle
  // cannot flip on float formatting.
  private val q33 = GQuery(
    "q33_ann_cosine_topk",
    "brute-force cosine top-k over embeddings (broadcast query vectors)",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val emb = T(s, d, "embeddings")
        .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      val q = emb.filter($"vec_id".isin(1, 2, 3))
        .select($"vec_id".as("qid"), $"e".as("qe"))
      // cosine runs through the native codegen'd cosine_sim expression:
      // fused dot+norms, same index-order sums as the oracle
      graft.api.TrainingData.cosineTopK(emb, q, k = 10, excludeSelf = true)
        .select($"qid", $"rank", $"neighbor")
        .orderBy($"qid", $"rank")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id IN (1, 2, 3)),
            scored AS (
              SELECT qid, vec_id,
                     list_dot_product(qe, e)
                       / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))) AS cos
              FROM q, e
              WHERE vec_id <> qid),
            ranked AS (
              SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored)
            SELECT qid, rank, vec_id AS neighbor
            FROM ranked
            WHERE rank <= 10
            ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q34
  // LSH-bucketed ANN (the 100 TB path): 6 data vectors act as fixed random
  // hyperplanes; every vector gets a 6-bit sign bucket; queries probe ONLY
  // their bucket (equi-join on bucket, not a scan). Approximate RECALL by
  // design — but every step is deterministic IEEE arithmetic (sequential
  // dot products, sign tests, power-of-two bucket codes, 4-decimal cosine
  // ranking), so the bucket assignment, the probed candidate set, and the
  // final top-5 all rebuild exactly in DuckDB (round 11; was rows-only).
  private val q34 = GQuery(
    "q34_ann_lsh_bucketed",
    "random-hyperplane LSH bucketed ANN (equi-join on sign bucket)",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val emb = T(s, d, "embeddings")
        .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      val planes = emb.filter($"vec_id".isin(10, 20, 30, 40, 50, 60))
        .select($"vec_id".as("pid"), $"e".as("pe"))
      val bucketed = emb.crossJoin(broadcast(planes))
        .select($"vec_id", $"e", $"pid",
          expr("CASE WHEN aggregate(zip_with(e, pe, (x, y) -> x * y), 0D, (a, v) -> a + v) >= 0 THEN 1 ELSE 0 END").as("bit"))
        .groupBy($"vec_id", $"e")
        .agg(sum(expr("bit * CAST(pow(2, pid / 10 - 1) AS BIGINT)")).as("bucket"))
      val q = bucketed.filter($"vec_id".isin(1, 2, 3))
        .select($"vec_id".as("qid"), $"e".as("qe"), $"bucket")
      q.join(bucketed, "bucket") // bucket equi-join: the scale path
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", expr("round(cosine_sim(qe, e), 4)").as("cos"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id".asc)))
        .filter($"rank" <= 5)
        .select($"qid", $"rank".cast("long").as("rank"), $"vec_id".as("neighbor"))
        .orderBy($"qid", $"rank")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            p AS (SELECT vec_id AS pid, e AS pe FROM e WHERE vec_id IN (10, 20, 30, 40, 50, 60)),
            bucketed AS (
              SELECT e.vec_id, e.e,
                     CAST(sum(CASE WHEN list_dot_product(e.e, p.pe) >= 0
                                   THEN CAST(pow(2, pid / 10 - 1) AS BIGINT)
                                   ELSE 0 END) AS BIGINT) AS bucket
              FROM e, p
              GROUP BY e.vec_id, e.e),
            q AS (SELECT vec_id AS qid, e AS qe, bucket
                  FROM bucketed WHERE vec_id IN (1, 2, 3)),
            cand AS (
              SELECT qid, b.vec_id,
                     round(list_dot_product(qe, b.e)
                       / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cos
              FROM q JOIN bucketed b USING (bucket)
              WHERE b.vec_id <> qid),
            ranked AS (
              SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
              FROM cand)
            SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor
            FROM ranked WHERE rank <= 5
            ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q52
  // IVF ANN (the trained-index scale path): a deterministic coarse
  // quantizer — every 25th vector, CAPPED at k=16 — stands in for k-means
  // centroids (real deployments train them offline with q65's integer-
  // space Lloyd trainer and persist a centroid table; the index mechanics
  // from here on are identical). The k centroids never touch the driver:
  // they are packed into ONE row (array of k (cid, vec) structs) and
  // BROADCAST-joined to the big side, so ASSIGNMENT IS MAP-ONLY — each
  // vector scores k centroids in a single projection (no N-x-K explode,
  // no shuffle) and lands in its inverted list. Queries probe nprobe=2
  // centroid lists via a broadcast hash join on the centroid id — the big
  // side never shuffles at all. Driver memory and plan size are O(k), not
  // O(N): at 100 TB only k changes (trained, a few thousand), and both
  // broadcasts stay kilobytes. Exact oracle: both engines evaluate the
  // same sequential IEEE double arithmetic.
  private val q52 = GQuery(
    "q52_ann_ivf",
    "IVF ANN: broadcast capped-k centroids, map-only assignment, nprobe=2 list probe",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val emb = T(s, d, "embeddings")
        .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      // coarse quantizer: every 25th vector, capped at k=16 — one row,
      // array<struct<cid,ce>>, sorted by cid for deterministic scoring
      val packed = emb
        .filter($"vec_id" % 25 === 0).orderBy($"vec_id").limit(16)
        .agg(expr(
          """array_sort(
               collect_list(struct(vec_id AS cid, e AS ce)),
               (l, r) -> CASE WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1
                              ELSE 0 END)""").as("cents"))
      val scored = emb
        .join(broadcast(packed)) // 1-row build side: assignment stays map-only
        .withColumn("scored", expr(
          """array_sort(
               transform(cents, s -> struct(
                 cosine_sim(e, s.ce) AS ccos,
                 s.cid AS cid)),
               (l, r) -> CASE WHEN l.ccos > r.ccos THEN -1 WHEN l.ccos < r.ccos THEN 1
                              WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1
                              ELSE 0 END)"""))
        .select($"vec_id", $"e", $"scored")
      val assigned = scored.select($"vec_id", $"e", expr("scored[0].cid").as("cid"))
      val probes = scored.filter($"vec_id".isin(1, 2, 3))
        .select($"vec_id".as("qid"), $"e".as("qe"),
          explode(expr("transform(slice(scored, 1, 2), s -> s.cid)")).as("cid"))
      broadcast(probes).join(assigned, "cid") // inverted-list probe: BHJ, 6-row build
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", expr("cosine_sim(qe, e)").as("cos"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"qid").orderBy($"cos".desc, $"vec_id".asc)))
        .filter($"rank" <= 5)
        .select($"qid", $"rank".cast("long").as("rank"), $"vec_id".as("neighbor"))
        .orderBy($"qid", $"rank")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id % 25 = 0
                  ORDER BY vec_id LIMIT 16),
            scored AS (
              SELECT e.vec_id, e.e, c.cid,
                     list_dot_product(e.e, c.ce)
                       / (sqrt(list_dot_product(e.e, e.e)) * sqrt(list_dot_product(c.ce, c.ce))) AS ccos,
                     row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_dot_product(e.e, c.ce)
                         / (sqrt(list_dot_product(e.e, e.e)) * sqrt(list_dot_product(c.ce, c.ce))) DESC,
                       c.cid ASC) AS crank
              FROM e, c),
            assigned AS (SELECT vec_id, e, cid FROM scored WHERE crank = 1),
            probes AS (SELECT vec_id AS qid, e AS qe, cid FROM scored
                       WHERE crank <= 2 AND vec_id IN (1, 2, 3)),
            cand AS (
              SELECT p.qid, a.vec_id,
                     list_dot_product(p.qe, a.e)
                       / (sqrt(list_dot_product(p.qe, p.qe)) * sqrt(list_dot_product(a.e, a.e))) AS cos
              FROM probes p JOIN assigned a USING (cid)
              WHERE a.vec_id <> p.qid),
            ranked AS (
              SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
              FROM cand)
            SELECT qid, rank, vec_id AS neighbor
            FROM ranked WHERE rank <= 5
            ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q53
  // Embedding-cosine near-dup dedup: 4 data vectors act as fixed random
  // hyperplanes (inlined as literals -> the 4-bit sign bucket is MAP-ONLY,
  // no explode/shuffle); candidate pairs come from a self-equi-join on the
  // bucket (the one shuffle), never all-pairs; pairs at cosine >= 0.35 mark
  // the larger id as a duplicate of the smaller (first-writer-wins). The
  // oracle replicates the bucketed algorithm exactly, so the gate checks
  // the algorithm, not LSH recall. At 100 TB: more planes + per-band
  // repetition, salting for hot buckets.
  private val q53 = GQuery(
    "q53_embedding_neardup",
    "embedding-cosine near-dup dedup (sign-LSH buckets, first-writer-wins)",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val emb = T(s, d, "embeddings")
        .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      val planes: Seq[Seq[Double]] = emb
        .filter($"vec_id".isin(100, 200, 300, 400)).orderBy($"vec_id")
        .collect().map(_.getSeq[Double](1)).toSeq
      val bucketed = emb
        .withColumn("bucket", graft.api.TrainingData.signLshBucket($"e", planes))
        .select($"vec_id", $"e", $"bucket")
      val left = bucketed.select($"bucket", $"vec_id".as("i"), $"e".as("ei"))
      val right = bucketed.select($"bucket", $"vec_id".as("j"), $"e".as("ej"))
      left.join(right, "bucket").filter($"i" < $"j")
        .withColumn("cos", expr("cosine_sim(ei, ej)"))
        .filter($"cos" >= 0.35)
        .groupBy($"j")
        .agg(min($"i").as("witness_id"), count(lit(1)).as("n_near"))
        .select($"j".as("dropped_id"), $"witness_id", $"n_near")
        .orderBy($"dropped_id")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            p AS (SELECT vec_id AS pid, e AS pe FROM e WHERE vec_id IN (100, 200, 300, 400)),
            bkt AS (SELECT e.vec_id,
                      sum(CASE WHEN list_dot_product(e.e, p.pe) >= 0
                               THEN CASE p.pid WHEN 100 THEN 1 WHEN 200 THEN 2 WHEN 300 THEN 4 ELSE 8 END
                               ELSE 0 END) AS bucket
                    FROM e, p GROUP BY e.vec_id),
            pairs AS (
              SELECT ba.vec_id AS i, bb.vec_id AS j,
                     list_dot_product(a.e, b.e)
                       / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos
              FROM bkt ba JOIN bkt bb ON ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id
              JOIN e a ON a.vec_id = ba.vec_id
              JOIN e b ON b.vec_id = bb.vec_id)
            SELECT j AS dropped_id, CAST(min(i) AS BIGINT) AS witness_id, count(*) AS n_near
            FROM pairs
            WHERE cos >= 0.35
            GROUP BY j
            ORDER BY dropped_id"""))

  // ---------------------------------------------------------------- q35
  // Heuristic language ID (stopword-ratio n-gram family) scored against
  // the labeled lang column as a confusion matrix. Portable arithmetic.
  private val stopwords = Seq("the", "a", "of", "to", "and", "in", "is")
  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")

  private val q35 = GQuery(
    "q35_lang_id_heuristic",
    "language-ID heuristic (stopword ratio) scored as a confusion matrix",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"lang",
          graft.api.TrainingData.langIdHeuristic($"text", stopwords).as("predicted"))
        .groupBy($"lang", $"predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"predicted")
    },
    Some(s"""SELECT lang,
                    CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ($stopList)))
                              / CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS DOUBLE) > 0.08
                         THEN 'en' ELSE 'other' END AS predicted,
                    count(*) AS n
             FROM documents
             GROUP BY 1, 2
             ORDER BY lang, predicted"""))

  // ---------------------------------------------------------------- q36
  // Quality scoring: length & stopword components via portable arithmetic
  // (replace/length/split only), aggregated per source.
  private val q36 = GQuery(
    "q36_quality_score",
    "document quality scoring (length + stopword-ratio components) per source",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"source",
          graft.api.TrainingData.qualityScore($"text", stopwords).as("score"))
        .groupBy($"source")
        .agg(round(avg($"score"), 4).as("avg_quality"), count(lit(1)).as("docs"))
        .orderBy($"source")
    },
    Some(s"""SELECT source,
                    round(avg(least(len(list_filter(string_split(text, ' '), w -> w <> '')) / 80.0, 1.0) * 0.5
                      + (len(list_filter(string_split(text, ' '), w -> w IN ($stopList)))
                         / CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS DOUBLE)) * 0.5), 4) AS avg_quality,
                    count(*) AS docs
             FROM documents
             GROUP BY source
             ORDER BY source"""))

  // ---------------------------------------------------------------- q37
  // Token counting: whitespace tokens + a BPE-ish estimate from pure
  // integer arithmetic (2 bytes-per-7 ~ chars/3.5), per source and total.
  private val q37 = GQuery(
    "q37_token_count",
    "corpus token accounting (whitespace + BPE-style estimate), ROLLUP total",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"source",
          graft.api.TrainingData.wsTokens($"text").cast("long").as("ws_tokens"),
          graft.api.TrainingData.bpeTokenEstimate($"text").as("bpe_est"))
        .rollup($"source")
        .agg(sum($"ws_tokens").as("ws_tokens"), sum($"bpe_est").as("bpe_tokens"))
        .select(coalesce($"source", lit("(total)")).as("source"), $"ws_tokens", $"bpe_tokens")
        .orderBy($"source")
    },
    Some("""SELECT coalesce(source, '(total)') AS source,
                   CAST(sum(ws) AS BIGINT) AS ws_tokens, CAST(sum(bpe) AS BIGINT) AS bpe_tokens
            FROM (SELECT source,
                         CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS ws,
                         (length(text) * 2) // 7 AS bpe
                  FROM documents) t
            GROUP BY ROLLUP (source)
            ORDER BY source"""))

  // ---------------------------------------------------------------- q38
  // Winnowing-style fingerprinting: md5 of every word-5-gram, kept as the
  // per-doc (min, max, distinct-count) sketch. Exact md5 oracle.
  private val q38 = GQuery(
    "q38_fingerprint_shingles",
    "rolling 5-gram md5 fingerprint sketch per document",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id", explode(expr(
          """CASE WHEN size(w) < 5 THEN array()
             ELSE transform(sequence(0, size(w) - 5),
                    i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))) END""")).as("fp"))
        .groupBy($"doc_id")
        .agg(min($"fp").as("min_fp"), max($"fp").as("max_fp"),
          count_distinct($"fp").as("n_distinct"))
        .orderBy($"doc_id")
    },
    Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            fp AS (
              SELECT doc_id,
                     md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) AS fp
              FROM words, unnest(generate_series(1, greatest(len(w) - 4, 0))) t(i))
            SELECT doc_id, min(fp) AS min_fp, max(fp) AS max_fp,
                   count(DISTINCT fp) AS n_distinct
            FROM fp
            GROUP BY doc_id
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q39
  // TRUE winnowing (MOSS-style): the 3-gram hash sequence slides a window
  // of 4, keeping each window's MINIMUM hash — the classic guarantee that
  // any sufficiently long match between documents shares a selected
  // fingerprint, at ~1/window the storage of q38's keep-everything sketch.
  // All md5-string comparisons -> identical in both engines; short docs
  // degenerate to one whole-sequence window (slicing clamps identically).
  private val q39 = GQuery(
    "q39_winnowing_select",
    "winnowing fingerprint selection (min hash per 4-window of 3-gram hashes)",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id", expr(
          """CASE WHEN size(w) < 3 THEN array()
             ELSE transform(sequence(0, size(w) - 3),
                    i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2]))) END""").as("hs"))
        // round 16 (optimization): carry size(hs) — one int — through the
        // explode instead of the whole hash array (each exploded row used
        // to duplicate the full n_grams-element array: O(n²) bytes per
        // document through the generator; measured 7.4 → 1.8 s at sf0.1)
        .select($"doc_id", size($"hs").as("ng"),
          explode(expr(
            "transform(sequence(0, greatest(size(hs) - 4, 0)), j -> array_min(slice(hs, j + 1, 4)))"))
            .as("fp"))
        .filter($"fp".isNotNull)
        .groupBy($"doc_id")
        .agg(
          count_distinct($"fp").as("n_selected"),
          first($"ng").as("n_grams"),
          min($"fp").as("min_fp"))
        .orderBy($"doc_id")
    },
    Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id, i, md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
              FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) t(i)),
            hs AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM grams GROUP BY doc_id),
            sel AS (
              SELECT doc_id, hs, list_min(hs[j:j+3]) AS fp
              FROM hs, unnest(generate_series(1, greatest(len(hs) - 3, 1))) t(j))
            SELECT doc_id, count(DISTINCT fp) AS n_selected,
                   CAST(max(len(hs)) AS INT) AS n_grams,
                   min(fp) AS min_fp
            FROM sel
            WHERE fp IS NOT NULL
            GROUP BY doc_id
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q40
  // Multimodal columns: media as an opaque binary column + typed metadata,
  // decoded by a REAL header parser ([[graft.functions.ImageHeaders]] —
  // PNG IHDR / JPEG SOF dimension extraction per the public format specs,
  // validated against JDK ImageIO output in ImageHeadersSpec). The sandbox
  // ships no image files, so each document fabricates a structurally valid
  // PNG or JFIF payload whose dims/size derive from its own fields; the
  // oracle recomputes those formulas directly, so the gate is exact — a
  // decoder that misread the header bytes would break the hash match.
  // Shape at 100 TB: one decoder pass per partition over header bytes
  // only; full pixel decode slots into the same mapPartitions batch —
  // q85 does exactly that with the JDK's real PNG codec.
  private val q40 = GQuery(
    "q40_multimodal_decode",
    "binary media column + partition-batched real PNG/JPEG header decode",
    (s, d) => {
      import s.implicits._
      val media = T(s, d, "documents")
        .select($"doc_id".cast("long").as("doc_id"), $"source",
          $"doc_id".cast("long").as("did"), $"n_chars".cast("long").as("nc"))
        .as[(Long, String, Long, Long)]
        .mapPartitions { rows =>
          rows.map { case (id, src, did, nc) =>
            val w = (nc % 61 + 16).toInt
            val h = (did % 47 + 16).toInt
            val pad = (nc % 101).toInt
            val bytes =
              if (did % 2 == 0) graft.functions.ImageHeaders.syntheticPng(w, h, pad)
              else graft.functions.ImageHeaders.syntheticJpeg(w, h, pad)
            MediaRow(id, src, bytes)
          }
        }
      val decoded = media.mapPartitions { rows =>
        // real decode: walk the container structure, read dims from the
        // header bytes — one decoder per partition (batch shape)
        rows.map { m =>
          val (fmt, w, h) = graft.functions.ImageHeaders.decodeDims(m.media)
            .getOrElse(throw new IllegalArgumentException(
              s"undecodable media for doc ${m.doc_id}"))
          DecodedMedia(m.doc_id, m.source, w, h, m.media.length.toLong, fmt)
        }
      }
      decoded.toDF()
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_media"),
          sum($"n_bytes").as("total_bytes"),
          round(avg($"width"), 4).as("avg_w"),
          round(avg($"height"), 4).as("avg_h"),
          sum(when($"fp" === "png", 1L).otherwise(0L)).as("n_png"))
        .orderBy($"source")
    },
    Some("""SELECT source,
                   count(*) AS n_media,
                   CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 39 END
                            + n_chars % 101) AS BIGINT) AS total_bytes,
                   round(avg(n_chars % 61 + 16), 4) AS avg_w,
                   round(avg(doc_id % 47 + 16), 4) AS avg_h,
                   CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_png
            FROM documents
            GROUP BY source
            ORDER BY source"""))

  // ---------------------------------------------------------------- q46
  // tf-idf: term frequency x inverse document frequency, top-5 terms per
  // document for the first 10 docs. Two aggregations (term-per-doc, then
  // doc-frequency) + a broadcast 1-row corpus count; ranking is a bounded
  // per-doc window. ln() agrees across engines at round(4).
  private val q46 = GQuery(
    "q46_tfidf_top_terms",
    "tf-idf scoring with per-document top-k term ranking",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      val toks = docs
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .filter($"term" =!= "")
      val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .select($"doc_id", $"term",
          round($"tf" * log($"n_docs" / $"df"), 4).as("tfidf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term".asc)
      scored.filter($"doc_id" < 10)
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"doc_id", $"rank".cast("long").as("rank"), $"term", $"tfidf")
        .orderBy($"doc_id", $"rank")
    },
    Some("""WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks
              WHERE term <> '' GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, tf.term AS term,
                     round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
              FROM tf JOIN dfreq ON tf.term = dfreq.term, n),
            ranked AS (
              SELECT doc_id, term, tfidf,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, term ASC) AS rank
              FROM scored WHERE doc_id < 10)
            SELECT doc_id, rank, term, tfidf
            FROM ranked WHERE rank <= 5
            ORDER BY doc_id, rank"""))

  // ---------------------------------------------------------------- q56
  // Multimodal frame pipeline: treat each document's payload as a "video",
  // sample every 4th 16-byte frame (declarative explode — codegen'd, no
  // serde), then run a REAL resize on each frame: the 16 bytes are a 4x4
  // grayscale tile, average-pooled 2x2 (integer mean of each quadrant) —
  // the exact arithmetic of a box-filter downscale, one scaler per
  // partition. Frame slicing, sampling stride, batch shape, and the
  // pooling math are all real; only the container parsing is elided (the
  // "frames" come from text bytes, which are ASCII in this corpus, so the
  // DuckDB oracle reproduces the integer pooling per character).
  private val q56 = GQuery(
    "q56_multimodal_framesample",
    "frame-sample (every 4th 16-byte frame) + partition-batched 4x4→2x2 average-pool resize",
    (s, d) => {
      import s.implicits._
      val frames = T(s, d, "documents")
        .select($"doc_id".cast("long").as("doc_id"), $"source", $"text")
        .filter(length($"text") >= 16)
        .withColumn("fidx",
          explode(expr("sequence(CAST(0 AS BIGINT), CAST(floor((length(text)-16)/64) AS BIGINT))")))
        .select($"doc_id", $"source",
          expr("substring(text, CAST(fidx*64+1 AS INT), 16)").as("frame"))
        .as[FrameRow]
      val resized = frames.mapPartitions { it =>
        // real 2x2 average-pool of the 4x4 tile (row-major bytes): the
        // partition-batched shape a decoder+scaler pipeline uses
        it.map { f =>
          val b = f.frame.getBytes("UTF-8")
          def pool(r: Int, c: Int): Long = {
            val i = r * 8 + c * 2 // top-left of the 2x2 quadrant, row stride 4
            (b(i) + b(i + 1) + b(i + 4) + b(i + 5)).toLong / 4L
          }
          PooledFrame(f.doc_id, f.source, pool(0, 0), pool(0, 1), pool(1, 0), pool(1, 1))
        }
      }
      resized.toDF()
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_frames"),
          sum($"q00").as("s00"), sum($"q01").as("s01"),
          sum($"q10").as("s10"), sum($"q11").as("s11"))
        .orderBy($"source")
    },
    Some("""WITH f AS (
              SELECT doc_id, source,
                     substring(text, CAST(g*64+1 AS BIGINT), 16) AS fr
              FROM documents,
                   unnest(generate_series(0, CAST(floor((strlen(text)-16)/64) AS BIGINT))) AS t(g)
              WHERE strlen(text) >= 16),
            p AS (
              SELECT source,
                     (ascii(substring(fr,1,1))+ascii(substring(fr,2,1))
                      +ascii(substring(fr,5,1))+ascii(substring(fr,6,1))) // 4 AS q00,
                     (ascii(substring(fr,3,1))+ascii(substring(fr,4,1))
                      +ascii(substring(fr,7,1))+ascii(substring(fr,8,1))) // 4 AS q01,
                     (ascii(substring(fr,9,1))+ascii(substring(fr,10,1))
                      +ascii(substring(fr,13,1))+ascii(substring(fr,14,1))) // 4 AS q10,
                     (ascii(substring(fr,11,1))+ascii(substring(fr,12,1))
                      +ascii(substring(fr,15,1))+ascii(substring(fr,16,1))) // 4 AS q11
              FROM f)
            SELECT source, count(*) AS n_frames,
                   CAST(sum(q00) AS BIGINT) AS s00, CAST(sum(q01) AS BIGINT) AS s01,
                   CAST(sum(q10) AS BIGINT) AS s10, CAST(sum(q11) AS BIGINT) AS s11
            FROM p
            GROUP BY source
            ORDER BY source"""))

  // ---------------------------------------------------------------- q85
  // FULL pixel decode — the boundary q40/q56 documented as stubbed is now
  // closed with a real codec: each document becomes a deterministic
  // grayscale image (pixel(r,c) = (doc_id*31 + r*7 + c*13) mod 256),
  // encoded to REAL PNG bytes with the JDK's ImageIO writer executor-side,
  // then decoded back with ImageIO.read and pixel-summed. PNG is lossless,
  // so decode∘encode is the identity and the DuckDB oracle reproduces the
  // pixel formula directly — a decoder that misread any pixel breaks the
  // hash match. Shape at 100 TB: encode and decode are both map-only
  // partition batches (one codec per partition, bounded image dims); the
  // binary column never co-locates with anything else.
  private val q85 = GQuery(
    "q85_multimodal_pixel_decode",
    "real PNG pixel decode (JDK ImageIO): deterministic grayscale encode → decode → pixel sums",
    (s, d) => {
      import s.implicits._
      val imgs = T(s, d, "documents")
        .select($"doc_id".cast("long").as("doc_id"), $"source")
        .as[(Long, String)]
        .mapPartitions { rows =>
          rows.map { case (id, src) =>
            val w = (id % 13 + 4).toInt
            val h = (id % 11 + 4).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val raster = img.getRaster
            var r = 0
            while (r < h) {
              var c = 0
              while (c < w) {
                raster.setSample(c, r, 0, ((id * 31 + r * 7 + c * 13) % 256).toInt)
                c += 1
              }
              r += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            PixelImage(id, src, bos.toByteArray)
          }
        }
      val decoded = imgs.mapPartitions { rows =>
        rows.map { m =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.png))
          require(img != null, s"undecodable png for doc ${m.doc_id}")
          val raster = img.getRaster
          var sum = 0L
          var r = 0
          while (r < img.getHeight) {
            var c = 0
            while (c < img.getWidth) { sum += raster.getSample(c, r, 0); c += 1 }
            r += 1
          }
          PixelSum(m.doc_id, m.source, img.getWidth.toLong * img.getHeight, sum)
        }
      }
      decoded.toDF()
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_imgs"),
          sum($"n_px").as("n_pixels"),
          sum($"px_sum").as("pixel_sum"))
        .orderBy($"source")
    },
    Some("""WITH dims AS (
              SELECT doc_id, source,
                     doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
              FROM documents),
            px AS (
              SELECT d.source, d.w * d.h AS n_px,
                     (SELECT sum((d.doc_id*31 + r.g*7 + c.g*13) % 256)
                      FROM unnest(generate_series(0, d.h - 1)) AS r(g),
                           unnest(generate_series(0, d.w - 1)) AS c(g)) AS s
              FROM dims d)
            SELECT source, count(*) AS n_imgs,
                   CAST(sum(n_px) AS BIGINT) AS n_pixels,
                   CAST(sum(s) AS BIGINT) AS pixel_sum
            FROM px GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- q89
  // Multimodal AUDIO lane: media as an opaque binary column decoded by a
  // REAL RIFF/WAV walker ([[graft.functions.AudioHeaders]] — little-
  // endian chunk framing, odd-size pad bytes, unknown-chunk skipping,
  // fmt/data field extraction per the RIFF spec, validated against the
  // JDK's javax.sound.sampled reader in AudioHeadersSpec). Each document
  // fabricates a structurally valid PCM WAV whose rate/channels/frames/
  // LIST-chunk size derive from its own fields; the oracle recomputes
  // duration, container byte length (incl. the odd-chunk pad), and
  // sample counts from the same formulas — a walker that misread any
  // size field breaks the hash match. Shape at 100 TB: header-only
  // metadata extraction reads a few dozen bytes per object; sample-level
  // DSP (rmsAndPeak) slots into the same mapPartitions batch and is
  // covered by the spec.
  private val q89 = GQuery(
    "q89_multimodal_audio",
    "binary audio column + real RIFF/WAV header walk: duration/bytes/sample audit",
    (s, d) => {
      import s.implicits._
      val wavs = T(s, d, "documents")
        .select($"doc_id".cast("long").as("doc_id"), $"source",
          $"n_chars".cast("long").as("nc"))
        .as[(Long, String, Long)]
        .mapPartitions { rows =>
          rows.map { case (id, src, nc) =>
            val rate = Array(8000, 16000, 44100)((id % 3).toInt)
            val ch = 1 + (id % 2).toInt
            val frames = (nc % 500 + 100).toInt
            val lb = (id % 9).toInt // odd sizes exercise the pad byte
            MediaRow(id, src,
              graft.functions.AudioHeaders.syntheticWav(rate, ch, frames, lb))
          }
        }
      val meta = wavs.mapPartitions { rows =>
        // real decode: walk the RIFF chunks, read the fmt/data fields —
        // one decoder per partition (batch shape), header bytes only
        rows.map { m =>
          val info = graft.functions.AudioHeaders.decodeWav(m.media)
            .getOrElse(throw new IllegalArgumentException(
              s"undecodable wav for doc ${m.doc_id}"))
          AudioMeta(m.doc_id, m.source, info.durationMicros, info.frames,
            m.media.length.toLong, info.channels)
        }
      }
      meta.toDF()
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_audio"),
          sum($"dur_us").as("total_dur_us"),
          sum($"n_bytes").as("total_bytes"),
          sum($"frames" * $"channels").as("total_samples"))
        .orderBy($"source")
    },
    Some("""WITH p AS (
              SELECT source,
                     CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                          ELSE 44100 END AS rate,
                     1 + doc_id % 2 AS ch,
                     n_chars % 500 + 100 AS frames,
                     doc_id % 9 AS lb
              FROM documents)
            SELECT source, count(*) AS n_audio,
                   CAST(sum(frames * 1000000 // rate) AS BIGINT) AS total_dur_us,
                   CAST(sum(44 + frames * ch * 2 +
                            CASE WHEN lb > 0 THEN 8 + lb + lb % 2 ELSE 0 END)
                        AS BIGINT) AS total_bytes,
                   CAST(sum(frames * ch) AS BIGINT) AS total_samples
            FROM p GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- q60
  // True Generator UDTF (SURVEY §2.11 UDF/UDAF/UDTF row): word_shingles
  // streams one (pos, shingle) row per 3-word window straight out of the
  // document bytes — no per-document shingle array is ever materialized
  // (contrast q32's transform(sequence(...)) + explode). Top shared
  // shingles with document reach and earliest position; integer-only
  // output so the oracle hash is exact.
  private val q60 = GQuery(
    "q60_shingle_generator",
    "word_shingles Generator UDTF: top 3-gram shingles (streamed, no array build)",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      T(s, d, "documents")
        .selectExpr("doc_id", "source", "word_shingles(text, 3) AS (pos, shingle)")
        .groupBy($"shingle")
        .agg(
          count(lit(1)).as("cnt"),
          count_distinct($"doc_id").as("n_docs"),
          min($"pos").as("first_pos"))
        .filter($"cnt" >= 3)
        .orderBy($"cnt".desc, $"shingle")
        .limit(25)
    },
    Some("""WITH words AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (
              SELECT doc_id, i AS pos, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) t(i))
            SELECT shingle, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs,
                   min(pos) AS first_pos
            FROM sh
            GROUP BY shingle
            HAVING count(*) >= 3
            ORDER BY cnt DESC, shingle
            LIMIT 25"""))

  // ---------------------------------------------------------------- q65
  // K-means TRAINING for IVF centroids (q52 probes a fixed coarse
  // quantizer; this trains one): 3 Lloyd iterations over integer-quantized
  // embeddings.
  // Everything is order-independent integer arithmetic — floor-quantize at
  // 1e3 (floor, not round: IEEE-identical in both engines), BIGINT squared
  // L2, truncating integer division for the centroid update, ties to the
  // lowest centroid id — so distributed k-means gets an EXACT SQL oracle
  // (3 unrolled CTE iterations in DuckDB). Scale shape: per iteration one
  // posexplode + (cid, pos) partial-aggregated shuffle (k*dim per
  // partition after map-side combine), centroids broadcast as literals.
  private def kmeansAssign(qTab: String, cTab: String): String =
    s"""SELECT vec_id, qe, cid, dist FROM (
          SELECT vec_id, qe, cid, dist,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM (SELECT q.vec_id, q.qe, c.cid,
                       CAST(list_sum(list_transform(list_zip(q.qe, c.c),
                            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
                FROM $qTab q CROSS JOIN $cTab c) x) y WHERE rn = 1"""

  private def kmeansUpdate(mTab: String): String =
    s"""SELECT cid, list(cv ORDER BY pos) AS c FROM (
          SELECT cid, i AS pos, CAST(sum(qe[i]) AS BIGINT) // count(*) AS cv
          FROM $mTab, unnest(generate_series(1, len(qe))) t(i)
          GROUP BY cid, i) z GROUP BY cid"""

  private val q65 = GQuery(
    "q65_kmeans_train",
    "integer-space k-means centroid training (3 Lloyd iterations, exact oracle)",
    (s, d) => {
      import s.implicits._
      val q = T(s, d, "embeddings")
        .select($"vec_id",
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("qe"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // read 4x
      var cents: Seq[(Int, Seq[Long])] = q.orderBy("vec_id").limit(8).collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Long](1)) }.toSeq
      def centsExpr: String = "array(" + cents.map { case (cid, c) =>
        s"struct(CAST($cid AS INT) AS cid, array(${c.map(_.toString + "L").mkString(",")}) AS c)"
      }.mkString(", ") + ")"
      // nearest centroid: array_min over (dist, cid) structs — lexicographic
      // struct ordering breaks distance ties toward the lowest centroid id
      def assigned = q.withColumn("best", expr(
        s"""array_min(transform($centsExpr, s ->
              struct(aggregate(zip_with(qe, s.c, (a, b) -> (a - b) * (a - b)),
                               CAST(0 AS BIGINT), (acc, x) -> acc + x) AS d,
                     s.cid AS cid)))"""))
      var it = 0
      while (it < 3) {
        val sums = assigned
          .select($"best.cid".as("cid"), posexplode($"qe"))
          .groupBy($"cid", $"pos")
          .agg(sum($"col").as("sv"), count(lit(1)).as("n"))
          .collect() // k*dim rows: the only driver traffic per iteration
        cents = sums.groupBy(_.getInt(0)).toSeq.map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(r => r.getLong(2) / r.getLong(3)).toSeq)
        }.sortBy(_._1)
        it += 1
      }
      assigned
        .groupBy($"best.cid".cast("long").as("cid"))
        .agg(count(lit(1)).as("n_members"),
          min($"vec_id").as("min_vec"),
          sum($"best.d").as("inertia"))
        .orderBy($"cid")
    },
    Some(s"""WITH q AS (
               SELECT vec_id,
                      list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
               FROM embeddings),
             c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe AS c
                    FROM (SELECT vec_id, qe FROM q ORDER BY vec_id LIMIT 8) s),
             m1 AS (${kmeansAssign("q", "c0")}),
             c1 AS (${kmeansUpdate("m1")}),
             m2 AS (${kmeansAssign("q", "c1")}),
             c2 AS (${kmeansUpdate("m2")}),
             m3 AS (${kmeansAssign("q", "c2")}),
             c3 AS (${kmeansUpdate("m3")}),
             mf AS (${kmeansAssign("q", "c3")})
             SELECT CAST(cid AS BIGINT) AS cid, count(*) AS n_members,
                    min(vec_id) AS min_vec, CAST(sum(dist) AS BIGINT) AS inertia
             FROM mf
             GROUP BY cid
             ORDER BY cid"""))

  // ---------------------------------------------------------------- q73
  // Deterministic hash sampling + dataset split: the reproducible analog of
  // rand()-Bernoulli a training pipeline actually wants — membership is a
  // pure function of the key (and a salt), so the sample is stable across
  // reruns, repartitions, backfills, and engines. The md5 keyspace is cut
  // into bands: hex < '2' keeps 2/16 = 12.5% of documents; the kept rows
  // get a train/val/test split from DISJOINT bands of a differently-salted
  // hash (salts decorrelate sample membership from split assignment).
  // MAP-ONLY at any scale — no shuffle anywhere but the gate's final sort.
  private val q73 = GQuery(
    "q73_deterministic_sample",
    "deterministic hash-Bernoulli sample + salted train/val/test split (map-only)",
    (s, d) => {
      import s.implicits._
      val sampled = graft.api.TrainingData.sampleDeterministic(
        T(s, d, "documents"), "doc_id", 0.125, "graft-sample:")
      graft.api.TrainingData.withSplit(sampled, "doc_id", "graft-split:",
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .select($"doc_id", $"source", $"n_chars", $"split")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, source, n_chars,
                   CASE WHEN md5('graft-split:' || CAST(doc_id AS VARCHAR)) < 'c' THEN 'train'
                        WHEN md5('graft-split:' || CAST(doc_id AS VARCHAR)) < 'e' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
            WHERE md5('graft-sample:' || CAST(doc_id AS VARCHAR)) < '2'
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q74
  // Stratified sampling: a fixed per-stratum quota (40 docs per source),
  // picked by deterministic hash order so the sample is reproducible and
  // uniform within each stratum. row_number + filter plans as
  // WindowGroupLimit (asserted in SamplingSpec): each task pre-truncates
  // every stratum to the quota BEFORE the shuffle, so at 100 TB the
  // exchange moves O(strata x quota x tasks) rows, not the corpus — and a
  // hot stratum can't blow up a task.
  private val q74 = GQuery(
    "q74_stratified_sample",
    "stratified per-source quota sample via hash-ordered WindowGroupLimit",
    (s, d) => {
      import s.implicits._
      graft.api.TrainingData.sampleStratified(
          T(s, d, "documents"), "source", "doc_id", 40, "graft-strat:")
        .select($"source", $"rk".cast("long").as("rk"), $"doc_id", $"n_chars")
        .orderBy($"source", $"rk")
    },
    Some("""SELECT source, rk, doc_id, n_chars FROM (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (PARTITION BY source ORDER BY
                       md5('graft-strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM documents)
            WHERE rk <= 40
            ORDER BY source, rk"""))

  // ---------------------------------------------------------------- q75
  // Benchmark decontamination: flag training documents that share n-gram
  // shingles with an evaluation suite (the standard pre-training hygiene
  // step — eval answers leaking into the training set inflate scores).
  // The eval suite (here: a deterministic 1/97 slice standing in for a
  // benchmark like MMLU) is SMALL by nature, so its shingle index is
  // BROADCAST: the training corpus streams through a map-only join —
  // no shuffle of the big side at any scale — and the per-(train, bench)
  // overlap count partial-aggregates map-side. Distinct from q32's
  // pairwise Jaccard: this is an asymmetric contains-style screen of a
  // huge corpus against a tiny reference set.
  private val q75 = GQuery(
    "q75_decontaminate",
    "benchmark decontamination screen (broadcast eval-suite shingle index, map-only)",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      graft.api.TrainingData.decontaminate(
          docs.filter($"doc_id" % 97 =!= 0), docs.filter($"doc_id" % 97 === 0),
          "doc_id", "text", n = 3, minShared = 2)
        .select($"corpus_id".as("train_id"), $"bench_id", $"n_shared")
        .orderBy($"train_id", $"bench_id")
    },
    Some("""WITH words AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
              FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) t(i)),
            bench AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id % 97 = 0),
            train AS (SELECT doc_id AS train_id, sh FROM sh WHERE doc_id % 97 <> 0)
            SELECT train_id, bench_id, count(*) AS n_shared
            FROM train JOIN bench USING (sh)
            GROUP BY train_id, bench_id
            HAVING count(*) >= 2
            ORDER BY train_id, bench_id"""))

  // ---------------------------------------------------------------- q76
  // Sequence packing: concat-then-chunk documents into fixed token-budget
  // training sequences (budget 512) — the step that turns a cleaned corpus
  // into pretraining batches. Each document's start offset is a running
  // token cumsum; its pack is start div budget (documents straddle pack
  // boundaries exactly as GPT-style packing does). The cumsum window is
  // SHARDED — partitioned by (source, doc_id div 200) — so no task ever
  // sequences more than 200 documents no matter how large a source is:
  // the hierarchical pack-within-shards pattern production packers use
  // (cross-shard packs are then stitched by renumbering, which needs only
  // shard totals). Reports per-pack document and token counts.
  private val q76 = GQuery(
    "q76_sequence_packing",
    "token-budget sequence packing via sharded cumsum windows (bounded tasks)",
    (s, d) => {
      import s.implicits._
      val toks = T(s, d, "documents")
        .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("toks"))
      graft.api.TrainingData.packSequences(toks, "doc_id", "toks",
          budget = 512, shardSize = 200, strataCols = Seq("source"))
        .groupBy($"source", $"shard", $"pack_id")
        .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"))
        .orderBy($"source", $"shard", $"pack_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, source, len(string_split(text, ' ')) AS toks,
                     doc_id // 200 AS shard
              FROM documents),
            packed AS (
              SELECT source, shard,
                     CAST(coalesce(sum(toks) OVER (PARTITION BY source, shard
                       ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       // 512 AS BIGINT) AS pack_id,
                     toks
              FROM toks)
            SELECT source, shard, pack_id, count(*) AS n_docs,
                   CAST(sum(toks) AS BIGINT) AS n_tokens
            FROM packed
            GROUP BY source, shard, pack_id
            ORDER BY source, shard, pack_id"""))

  // ---------------------------------------------------------------- q79
  // PII redaction (C4/Dolma scrubbing): the synthetic corpus carries no
  // PII, so the gate PLANTS deterministic contact strings (an email and an
  // IPv4 per document, derived from doc_id) and then redacts them through
  // the shared RE2-safe patterns — map-only per-row regexp work, no
  // shuffle. The summary proves every planted item was found: one email
  // and one IP per document, and redacted text shorter by the exact
  // planted-minus-placeholder length.
  private val q79 = GQuery(
    "q79_pii_redaction",
    "PII redaction screen (email + IPv4 scrub, map-only, engine-portable regex)",
    (s, d) => {
      import s.implicits._
      val contaminated = T(s, d, "documents")
        .withColumn("dirty", concat(
          $"text",
          lit(" contact user"), $"doc_id" % 97, lit("@mail"), $"doc_id" % 7,
          lit(".org from host "),
          $"doc_id" % 223, lit("."), ($"doc_id" * 7) % 251, lit(".0."),
          $"doc_id" % 254 + 1))
      val redacted = graft.api.TrainingData.redactPii(contaminated, "dirty")
      redacted
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(expr(
            s"size(regexp_extract_all(dirty, '${graft.api.TrainingData.EmailPattern}', 0))"))
            .as("n_emails"),
          sum(when(expr("redacted RLIKE '<EMAIL>'") && expr("redacted RLIKE '<IP>'"), 1L)
            .otherwise(0L)).as("n_scrubbed"),
          sum(length($"dirty") - length($"redacted")).as("chars_removed"))
        .orderBy($"source")
    },
    Some(s"""WITH dirty AS (
              SELECT source,
                     text || ' contact user' || (doc_id % 97) || '@mail' || (doc_id % 7) ||
                       '.org from host ' || (doc_id % 223) || '.' || ((doc_id * 7) % 251) ||
                       '.0.' || (doc_id % 254 + 1) AS dirty
              FROM documents),
            red AS (
              SELECT source, dirty,
                     regexp_replace(
                       regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS redacted
              FROM dirty)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
                   CAST(sum(CASE WHEN regexp_matches(redacted, '<EMAIL>')
                                  AND regexp_matches(redacted, '<IP>') THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed,
                   CAST(sum(len(dirty) - len(redacted)) AS BIGINT) AS chars_removed
            FROM red
            GROUP BY source
            ORDER BY source"""))

  // ---------------------------------------------------------------- q80
  // Repetition signals (Gopher-style quality rules): per document, the
  // fraction of word-2-grams held by the single most frequent 2-gram and
  // the fraction that are duplicates of an earlier occurrence — the two
  // ratios used to drop loopy/boilerplate documents from pretraining sets.
  // Integer basis points throughout (one DIV per ratio), so both engines
  // agree bit-for-bit. Shape: explode → (doc, gram) count → per-doc
  // aggregate; both aggregations partial-combine map-side, so the first
  // exchange moves distinct (doc, gram) pairs and the second only one
  // partial row per document per partition.
  private val q80 = GQuery(
    "q80_repetition_signals",
    "Gopher-style repetition ratios (top-2-gram and duplicate-2-gram basis points)",
    (s, d) => {
      import s.implicits._
      val grams = T(s, d, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .filter(size($"w") >= 2)
        .select($"doc_id", explode(expr(
          """transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i+1]))""")).as("g"))
      grams.groupBy($"doc_id", $"g").agg(count(lit(1)).as("cnt"))
        .groupBy($"doc_id")
        .agg(
          sum($"cnt").as("total_2grams"),
          expr("(10000 * max(cnt)) DIV sum(cnt)").as("top_bp"),
          expr("(10000 * (sum(cnt) - count(*))) DIV sum(cnt)").as("dup_bp"))
        .orderBy($"doc_id")
    },
    Some("""WITH grams AS (
              SELECT doc_id, w[i] || ' ' || w[i+1] AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                   unnest(generate_series(1, greatest(len(w) - 1, 0))) t(i)
              WHERE len(w) >= 2),
            counts AS (
              SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY doc_id, g)
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS total_2grams,
                   CAST((10000 * max(cnt)) // sum(cnt) AS BIGINT) AS top_bp,
                   CAST((10000 * (sum(cnt) - count(*))) // sum(cnt) AS BIGINT) AS dup_bp
            FROM counts
            GROUP BY doc_id
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q82
  // Mixture resampling (domain weighting, the Pile/Dolma step): given a
  // target share per source, deterministically downsample each source so
  // the kept corpus approaches the target mix at the largest total the
  // data supports (T = min n_s/w_s; stratum keep-rate = w_s*T/n_s via the
  // salted md5 keyspace cut). Uniform target here. EXACT oracle: both
  // engines evaluate the identical double expressions in the identical
  // order (divide, min, multiply-divide, floor to a 2^32 threshold), and
  // per-key membership is the same md5 comparison — so the kept set
  // matches row for row, not just in expectation.
  private val q82 = GQuery(
    "q82_mixture_resample",
    "deterministic mixture resampling to a uniform source mix (salted keyspace cut)",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      // driver-side stratum enumeration is bounded: strata are domains
      // (dozens), and a high-cardinality column here would mean the wrong
      // column was chosen — fail with a clear message, not an OOM
      val maxStrata = 10000
      val sources = docs.select($"source").distinct().limit(maxStrata + 1).collect()
        .map(_.getString(0)).sorted
      require(sources.length <= maxStrata,
        s"mixture weighting enumerates strata on the driver; 'source' has more " +
        s"than $maxStrata distinct values — pick a coarser stratum column or " +
        "derive weights from an aggregate")
      val w = 1.0 / sources.length
      graft.api.TrainingData.sampleToMixture(
          docs, "source", "doc_id", sources.map(_ -> w).toMap, "graft-mix:")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("chars_kept"))
        .orderBy($"source")
    },
    Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
                 k AS (SELECT count(*) AS ns FROM c),
                 t AS (SELECT min(n / (1.0 / ns)) AS t FROM c, k),
                 r AS (SELECT source, n, (1.0 / ns) * t / n AS rate FROM c, k, t),
                 kept AS (
                   SELECT d.source, d.n_chars
                   FROM documents d JOIN r USING (source)
                   WHERE substring(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 8) <
                         CASE WHEN rate >= 1 THEN 'g'
                              ELSE printf('%08x', CAST(floor(rate * 4294967296) AS BIGINT)) END)
            SELECT source, count(*) AS n_kept,
                   CAST(sum(n_chars) AS BIGINT) AS chars_kept
            FROM kept
            GROUP BY source
            ORDER BY source"""))

  // ---------------------------------------------------------------- q93
  // Connected-components duplicate clustering: the step AFTER a similarity
  // join — q32's candidate pairs become clusters (component = min reachable
  // doc id), so dedup keeps one canonical doc per transitive chain A~B~C
  // instead of over-deleting pairwise. Spark side: alternating large/small
  // star contraction (TrainingData.connectedComponents — bounded-lineage
  // shuffle rounds, O(log^2 n) of them). Oracle: the same reachable
  // set via a recursive CTE. Exact: integer ids, min over a set.
  private val q93 = GQuery(
    "q93_dedup_components",
    "connected-components duplicate clustering over the n-gram similarity graph (star contraction)",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      // same shared edge-builder as q32, stop-shingle df cap engaged
      val edges = graft.api.TrainingData.ngramJaccardPairs(
          docs, "doc_id", "text", n = 3, minJaccardBp = 1500, maxDocFreq = 100)
        .select($"doc_a".as("src"), $"doc_b".as("dst"))
      graft.api.TrainingData.connectedComponents(
          docs.select($"doc_id"), edges, idCol = "doc_id")
        .select($"id".as("doc_id"), $"comp".as("cluster_id"))
        .orderBy($"doc_id")
    },
    Some("""WITH RECURSIVE words AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh0 AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
              FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) t(i)),
            sh AS (
              SELECT * FROM sh0
              WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 100)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
              FROM sh x JOIN sh y USING (sh)
              WHERE x.doc_id < y.doc_id
              GROUP BY x.doc_id, y.doc_id),
            sim AS (
              SELECT doc_a, doc_b
              FROM pairs
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE (10000 * inter) // (sa.n + sb.n - inter) >= 1500),
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM sim
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM sim),
            reach(id, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
            SELECT id AS doc_id, min(r) AS cluster_id
            FROM reach
            GROUP BY id
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q101
  // Sliding-window document chunking (TrainingData.chunkByChars): long
  // documents become fixed-width overlapping training windows, pure
  // per-row map work (sequence + substring, no shuffle). The gate hashes
  // each chunk rather than shipping it — the oracle proves byte-identical
  // windows via md5, with bounded output.
  private val q101 = GQuery(
    "q101_chunk_documents",
    "sliding-window document chunking (width 200, overlap 40, map-only)",
    (s, d) => {
      import s.implicits._
      graft.api.TrainingData.chunkByChars(
          T(s, d, "documents"), "doc_id", "text", width = 200, overlap = 40)
        .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
          length($"chunk").cast("long").as("chunk_len"),
          md5($"chunk").as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_idx")
    },
    Some("""SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                   CAST(length(ch) AS BIGINT) AS chunk_len,
                   md5(ch) AS chunk_md5
            FROM (
              SELECT doc_id, i, substring(text, i * 160 + 1, 200) AS ch
              FROM documents,
                   unnest(generate_series(0,
                     greatest(CAST(ceil((length(text) - 200) / 160.0) AS INT), 0))) t(i)
              WHERE length(text) > 0) c
            ORDER BY doc_id, chunk_idx"""))

  // ---------------------------------------------------------------- q116
  // Blocked fuzzy match (edit-distance candidate generation): near-identical
  // part names within a brand block at levenshtein ≤ 2 — the canonical-entity
  // / catalog-dedup shape. The block key (brand) bounds each comparison
  // group, and the length-difference prefilter (|len a − len b| ≤ 2 is
  // implied by distance ≤ 2) rejects most pairs before the O(len²) DP runs.
  // At 100 TB the same shape holds with a stricter block key (brand ×
  // name-prefix) — never an unblocked all-pairs join.
  private val q116 = GQuery(
    "q116_fuzzy_blocked_join",
    "blocked fuzzy join: levenshtein ≤ 2 on part names within brand blocks",
    (s, d) => {
      import s.implicits._
      // round 17: candidate pairs via the broadcast+fan-out shape
      // (brandPairs above); the pair predicate itself is unchanged
      brandPairs(s, d)
        .filter(abs(length($"name_a") - length($"name_b")) <= 2)
        .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
        .filter($"dist" <= 2)
        .select($"key_a", $"key_b", $"dist")
        .orderBy($"key_a", $"key_b")
    },
    Some("""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
            FROM part a JOIN part b
              ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 2
            ORDER BY key_a, key_b"""))

  // ---------------------------------------------------------------- q117
  // Boilerplate-span detection (C4/CCNet-style corpus cleaning): word
  // 3-gram spans repeated across ≥ 5 distinct documents — the spans a
  // cleaning pass would strip (navigation chrome, license headers). Pure
  // explode → one count-distinct aggregate on the span; the HAVING bound
  // keeps output tiny. At 100 TB the distinct-doc count per span is the
  // same two-level hash aggregate, and a df cap on the explode (as the
  // jaccard path uses) bounds any stop-phrase hot keys.
  private val q117 = GQuery(
    "q117_boilerplate_spans",
    "cross-document repeated 3-gram span detection (boilerplate mining)",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id", explode(expr(
          "transform(sequence(1, greatest(size(w) - 2, 0)), i -> array_join(slice(w, i, 3), ' '))"
        )).as("span"))
        .groupBy($"span")
        .agg(countDistinct($"doc_id").as("ndocs"))
        .filter($"ndocs" >= 5)
        .orderBy($"ndocs".desc, $"span")
    },
    Some("""WITH words AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (
              SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS span
              FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) t(i))
            SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs
            FROM sh GROUP BY span
            HAVING count(DISTINCT doc_id) >= 5
            ORDER BY ndocs DESC, span"""))

  // ---------------------------------------------------------------- q125
  // Per-document unigram entropy — the distribution-shape quality signal
  // (gibberish and keyword-stuffed spam sit at the entropy extremes; q36's
  // ratio features can't see repetition structure). Computed exactly as
  // H = ln(total) − Σ c·ln(c) / total over the per-(doc, token) counts:
  // two hash aggregates sharing the doc_id key — the same two-level
  // shape as tf-idf (q46), no shuffle beyond them. round(5) pins the
  // float representation for the oracle, as q108 does.
  private val q125 = GQuery(
    "q125_unigram_entropy",
    "per-document unigram entropy (token distribution quality signal)",
    (s, d) => {
      import s.implicits._
      val cnt = T(s, d, "documents").filter($"doc_id" <= 300)
        .select($"doc_id", explode(split(lower($"text"), "[^a-z0-9]+")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      cnt.groupBy($"doc_id")
        .agg(sum($"c").as("total"), count(lit(1)).as("n_distinct"),
          sum(expr("c * ln(c)")).as("clnc"))
        .select($"doc_id", $"total", $"n_distinct",
          round(expr("ln(total) - clnc / total"), 5).as("entropy"))
        .orderBy($"doc_id")
    },
    Some("""WITH tok AS (
              SELECT doc_id, t.tok
              FROM documents,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) t(tok)
              WHERE doc_id <= 300 AND t.tok <> ''),
            cnt AS (
              SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY doc_id, tok)
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   round(ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(c)) / sum(c), 5) AS entropy
            FROM cnt GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q126
  // Cluster-canonical KEEP-BEST dedup (TrainingData.dedupKeepBest): the
  // near-dup clusters from the same capped n-gram similarity graph as
  // q93, but the survivor is the best-quality member (longest text,
  // doc_id tiebreak) rather than min-id — the policy production corpus
  // dedup actually ships. Same scale shape as q93 (star-contraction CC,
  // checkpointed rounds) plus one per-cluster row_number window.
  private val q126 = GQuery(
    "q126_dedup_keep_best",
    "cluster-canonical keep-best dedup (quality-ranked survivor per near-dup cluster)",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      val edges = graft.api.TrainingData.ngramJaccardPairs(
          docs, "doc_id", "text", n = 3, minJaccardBp = 1500, maxDocFreq = 100)
        .select($"doc_a".as("src"), $"doc_b".as("dst"))
      graft.api.TrainingData.dedupKeepBest(
          docs.select($"doc_id", $"n_chars"), "doc_id", edges,
          rankCols = Seq(col("n_chars").desc, col("doc_id")))
        .select($"doc_id", $"n_chars", $"comp".as("cluster_id"))
        .orderBy($"doc_id")
    },
    Some("""WITH RECURSIVE words AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh0 AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
              FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) t(i)),
            sh AS (
              SELECT * FROM sh0
              WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 100)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
              FROM sh x JOIN sh y USING (sh)
              WHERE x.doc_id < y.doc_id
              GROUP BY x.doc_id, y.doc_id),
            sim AS (
              SELECT doc_a, doc_b
              FROM pairs
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE (10000 * inter) // (sa.n + sb.n - inter) >= 1500),
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM sim
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM sim),
            reach(id, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
            SELECT d.doc_id, d.n_chars, c.cluster_id
            FROM documents d
            JOIN (SELECT id AS doc_id, min(r) AS cluster_id
                  FROM reach GROUP BY id) c USING (doc_id)
            QUALIFY row_number() OVER (PARTITION BY c.cluster_id
                    ORDER BY d.n_chars DESC, d.doc_id) = 1
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q130
  // Deterministic WEIGHTED sampling (TrainingData.sampleWeighted): each
  // document survives with probability proportional to its own quality
  // weight (here length-proportional in basis points, saturating at
  // 10000 = always keep) — quality-proportional corpus thinning / domain
  // re-weighting. Map-only like q73's uniform sample: the draw is a pure
  // function of (salt, key), so membership is reproducible across reruns,
  // repartitionings, and engines.
  private val q130 = GQuery(
    "q130_weighted_sample",
    "deterministic weighted Bernoulli sample (per-row basis-point weights, map-only)",
    (s, d) => {
      import s.implicits._
      graft.api.TrainingData.sampleWeighted(
          T(s, d, "documents"), "doc_id",
          least($"n_chars" * 2, lit(10000L)), "graft-wsample:")
        .select($"doc_id", $"source", $"n_chars")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, source, n_chars
            FROM documents
            WHERE CAST(concat('0x', substring(md5('graft-wsample:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
                  < least(n_chars * 2, 10000)
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q135
  // q116's blocked fuzzy join driven through the native BANDED
  // levenshtein_bounded(a, b, k) expression (functions/
  // LevenshteinBounded.scala), called by name from SQL via the function
  // registry (the SparkSessionExtensions surface). Semantics: exact
  // distance when ≤ k, else k+1 — so under the `<= 2` threshold it is
  // value-identical to the unbounded built-in, which is the oracle. The
  // banded kernel does O(k·n) work per pair instead of O(n·m): at corpus
  // scale the fuzzy-join predicate never needs distances beyond its own
  // threshold, and computing them is most of a naive join's cost.
  private val q135 = GQuery(
    "q135_bounded_fuzzy_join",
    "blocked fuzzy join via the banded levenshtein_bounded expression (SQL registry)",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      // round 17: same registry-resolved expression (expr() goes through
      // the SQL parser + function registry), candidate pairs via the
      // broadcast+fan-out shape (brandPairs above)
      brandPairs(s, d)
        .withColumn("dist",
          expr("CAST(levenshtein_bounded(name_a, name_b, 2) AS BIGINT)"))
        .filter($"dist" <= 2)
        .select($"key_a", $"key_b", $"dist")
        .orderBy($"key_a", $"key_b")
    },
    Some("""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
            FROM part a JOIN part b
              ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 2
            ORDER BY key_a, key_b"""))

  // ---------------------------------------------------------------- q138
  // Character-trigram log-probability scoring — the perplexity-proxy
  // quality filter (CCNet trains a KenLM and drops high-perplexity docs;
  // the portable analog is a char n-gram model trained on the corpus
  // itself). Two phases, both plain aggregates: (1) MODEL = trigram →
  // count over the whole corpus (one hash agg; the model is tiny — at
  // most |alphabet|³ rows — so it BROADCASTS); (2) SCORE = per-doc mean
  // ln(count/total) via a broadcast join of each doc's trigrams against
  // the model. No smoothing needed: every scored trigram is in the model
  // by construction. At 100 TB the model phase is a cheap global agg and
  // scoring stays map-side (broadcast), so the filter is one pass.
  private val q138 = GQuery(
    "q138_char_trigram_logprob",
    "char-trigram log-probability quality scoring (corpus model + broadcast scoring)",
    (s, d) => {
      import s.implicits._
      val t = T(s, d, "documents")
        .select($"doc_id", lower($"text").as("t"))
        .filter(length($"t") >= 3)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")).as("g"))
      val model = t.groupBy($"g").agg(count(lit(1)).as("c"))
      val total = model.agg(sum($"c").cast("double").as("n"))
      t.join(broadcast(model), "g").crossJoin(broadcast(total))
        .filter($"doc_id" <= 300)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tri"),
          round(avg(expr("ln(CAST(c AS DOUBLE) / n)")), 5).as("logprob"))
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (
              SELECT doc_id, lower(text) AS t FROM documents WHERE length(lower(text)) >= 3),
            tri AS (
              SELECT doc_id, substring(t, i, 3) AS g
              FROM d, unnest(generate_series(1, length(t) - 2)) s(i)),
            model AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM tri GROUP BY g),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM model)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
                   round(avg(ln(CAST(c AS DOUBLE) / (SELECT n FROM tot))), 5) AS logprob
            FROM tri JOIN model USING (g)
            WHERE doc_id <= 300
            GROUP BY doc_id
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q140
  // Cross-document duplicated-chunk ratio — the RefinedWeb/FineWeb dedup
  // SIGNAL (drop or trim documents whose content is mostly duplicated
  // elsewhere), as opposed to q29's whole-document dedup: chunk each doc
  // into fixed non-overlapping windows (chunkByChars, overlap 0), hash
  // them, and mark a chunk duplicated when its hash spans >1 distinct
  // document. One shuffle on the chunk hash (the exact-dedup shuffle) +
  // one per-doc rollup. The corpus unions a shifted copy of every 5th
  // doc so the fixture actually contains cross-doc duplication; those
  // docs score ratio 1.0, the rest ~0.
  private val q140 = GQuery(
    "q140_paragraph_dup_ratio",
    "cross-document duplicated-chunk ratio per doc (FineWeb-style dedup signal)",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents").select($"doc_id", $"text")
      val corpus = docs.unionByName(
        docs.filter($"doc_id" % 5 === 0)
          .select(($"doc_id" + 10000).as("doc_id"), $"text"))
      val chunks = graft.api.TrainingData.chunkByChars(
          corpus, "doc_id", "text", width = 100, overlap = 0)
        .select($"doc_id", md5($"chunk").as("h"))
      val dupHashes = chunks.groupBy($"h")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" > 1)
        .select($"h")
      chunks.join(dupHashes.withColumn("isdup", lit(1L)), Seq("h"), "left")
        .filter($"doc_id" < 10000)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(coalesce($"isdup", lit(0L))).as("n_dup"))
        .select($"doc_id", $"n_chunks", $"n_dup",
          round($"n_dup" / $"n_chunks", 4).as("dup_ratio"))
        .orderBy($"doc_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0),
            chunks AS (
              SELECT doc_id, md5(substring(text, i * 100 + 1, 100)) AS h
              FROM corpus,
                   unnest(generate_series(0,
                     greatest(CAST(ceil((length(text) - 100) / 100.0) AS INT), 0))) t(i)
              WHERE length(text) > 0),
            dup AS (
              SELECT h FROM chunks GROUP BY h HAVING count(DISTINCT doc_id) > 1)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(count_if(h IN (SELECT h FROM dup)) AS BIGINT) AS n_dup,
                   round(count_if(h IN (SELECT h FROM dup)) * 1.0 / count(*), 4) AS dup_ratio
            FROM chunks
            WHERE doc_id < 10000
            GROUP BY doc_id
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q144
  // Video multimodal lane: a real ISO BMFF (MP4) box walker
  // (functions/VideoHeaders.scala) — top-level box traversal with the
  // 64-bit largesize escape, unknown-box skipping at both levels, and
  // mvhd v0/v1 (timescale, duration) extraction, the video analog of
  // q89's RIFF/WAV chunk walker. Bytes are synthesized deterministically
  // per doc (ftyp + moov(free + mvhd) + free + mdat, closed-form byte
  // length), so the oracle audits duration and byte totals arithmetically
  // while the walker parses genuine MP4 structure. Frame decode would be
  // a codec library at this exact batch shape.
  private val q144 = GQuery(
    "q144_multimodal_video",
    "binary video column + real MP4 box walk: duration/bytes audit",
    (s, d) => {
      import s.implicits._
      val metas = T(s, d, "documents")
        .select($"doc_id".cast("long").as("doc_id"), $"source",
          $"n_chars".cast("long").as("nc"))
        .as[(Long, String, Long)]
        .mapPartitions { rows =>
          rows.map { case (id, src, nc) =>
            val ts = Array(600, 1000, 90000)((id % 3).toInt)
            val dur = nc % 5000 + 100
            val mp4 = graft.functions.VideoHeaders.syntheticMp4(
              ts, dur, pad = (id % 7).toInt, v1 = id % 2 == 1)
            val info = graft.functions.VideoHeaders.decodeMp4(mp4)
              .getOrElse(throw new IllegalArgumentException(
                s"undecodable mp4 for doc $id"))
            VideoMeta(id, src, info.durationMicros, mp4.length.toLong)
          }
        }
      metas.toDF()
        .groupBy($"source")
        .agg(count(lit(1)).as("n_videos"),
          sum($"dur_us").as("total_dur_us"),
          sum($"n_bytes").as("total_bytes"))
        .orderBy($"source")
    },
    Some("""WITH p AS (
              SELECT source,
                     CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                          ELSE 90000 END AS ts,
                     n_chars % 5000 + 100 AS dur,
                     doc_id % 7 AS pad,
                     doc_id % 2 AS v1
              FROM documents)
            SELECT source, CAST(count(*) AS BIGINT) AS n_videos,
                   CAST(sum((dur * 1000000) // ts) AS BIGINT) AS total_dur_us,
                   CAST(sum(CASE WHEN v1 = 1 THEN 180 ELSE 160 END + 2 * pad) AS BIGINT) AS total_bytes
            FROM p GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- q152
  // Column profiler (TrainingData.profile): the first query anyone runs
  // on an unfamiliar corpus drop — per-column rows/nulls/distincts and
  // deterministic min/max rendering — computed in ONE pass as ordinary
  // partial+final aggregates. The numeric min/max route through
  // DECIMAL(38,2) so both engines print identical fixed-scale strings
  // (no scientific-notation divergence), making the gate exact.
  private val q152 = GQuery(
    "q152_table_profile",
    "one-pass per-column profiling (rows/nulls/distincts/min/max)",
    (s, d) => {
      import s.implicits._
      graft.api.TrainingData.profile(
        T(s, d, "orders").select(
          $"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_orderpriority", $"o_totalprice"))
    },
    Some("""WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                                o_orderpriority, o_totalprice FROM orders)
            SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
                   CAST(CAST(min(o_custkey) AS DECIMAL(38,2)) AS VARCHAR) AS min_value,
                   CAST(CAST(max(o_custkey) AS DECIMAL(38,2)) AS VARCHAR) AS max_value
            FROM src
            UNION ALL
            SELECT 'o_orderkey', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderkey) AS BIGINT),
                   CAST(count(DISTINCT o_orderkey) AS BIGINT),
                   CAST(CAST(min(o_orderkey) AS DECIMAL(38,2)) AS VARCHAR),
                   CAST(CAST(max(o_orderkey) AS DECIMAL(38,2)) AS VARCHAR)
            FROM src
            UNION ALL
            SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderpriority) AS BIGINT),
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT),
                   min(o_orderpriority), max(o_orderpriority)
            FROM src
            UNION ALL
            SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderstatus) AS BIGINT),
                   CAST(count(DISTINCT o_orderstatus) AS BIGINT),
                   min(o_orderstatus), max(o_orderstatus)
            FROM src
            UNION ALL
            SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_totalprice) AS BIGINT),
                   CAST(count(DISTINCT o_totalprice) AS BIGINT),
                   CAST(CAST(min(o_totalprice) AS DECIMAL(38,2)) AS VARCHAR),
                   CAST(CAST(max(o_totalprice) AS DECIMAL(38,2)) AS VARCHAR)
            FROM src
            ORDER BY col_name"""))

  // ---------------------------------------------------------------- q154
  // Token-pair co-occurrence mining (collocations / phrase discovery):
  // distinct tokens per doc → document-frequency band filter (drops both
  // noise and — the scale property — caps the per-token posting list
  // BEFORE the self-join, so no hot token can go quadratic, the same
  // guard as ngramJaccardPairs.maxDocFreq) → per-doc pair expansion with
  // t1 < t2 → support count. The fixture corpus draws from a tiny shared
  // vocabulary (24 tokens of length ≥ 4, df ≈ 300-400 of 500 docs), so
  // the support threshold (310) is set to make a real cut there — on a
  // natural corpus the band+support pair is what separates collocations
  // from chance.
  private val q154 = GQuery(
    "q154_token_pair_cooccurrence",
    "frequent token-pair mining (df-banded inverted index, support-thresholded)",
    (s, d) => {
      import s.implicits._
      val tok = T(s, d, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("t"))
        .filter(length($"t") >= 4)
        .distinct()
      val banded = tok.groupBy($"t")
        .agg(count(lit(1)).as("df"))
        .filter($"df".between(5, 450))
        .select($"t")
      val tk = tok.join(banded, "t").select($"doc_id", $"t")
      tk.as("a").join(tk.as("b"),
          $"a.doc_id" === $"b.doc_id" && $"a.t" < $"b.t")
        .groupBy($"a.t".as("t1"), $"b.t".as("t2"))
        .agg(count(lit(1)).as("n_docs"))
        .filter($"n_docs" >= 310)
        .orderBy($"n_docs".desc, $"t1", $"t2")
    },
    Some("""WITH tok AS (
              SELECT DISTINCT doc_id, t
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                    FROM documents)
              WHERE length(t) >= 4),
            banded AS (
              SELECT t FROM (SELECT t, count(*) AS df FROM tok GROUP BY t)
              WHERE df BETWEEN 5 AND 450),
            tk AS (SELECT doc_id, t FROM tok JOIN banded USING (t))
            SELECT a.t AS t1, b.t AS t2, CAST(count(*) AS BIGINT) AS n_docs
            FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND a.t < b.t
            GROUP BY a.t, b.t
            HAVING count(*) >= 310
            ORDER BY n_docs DESC, t1, t2"""))

  // ---------------------------------------------------------------- q157
  // Feature hashing (the "hashing trick", Weinberger et al. 2009): token
  // features fold into a fixed 64-bucket vector via ENGINE-PORTABLE md5
  // bucketing, so the oracle rebuilds the identical sparse vectors in
  // SQL — the no-vocabulary featurizer whose memory is O(dim) however
  // large the corpus vocabulary grows. Pure map + one grouped count;
  // no vocabulary broadcast, no distinct pass.
  private val q157 = GQuery(
    "q157_feature_hash",
    "hashing-trick featurizer (md5-bucketed sparse vectors, exact oracle)",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .filter($"doc_id" < 40)
        .select($"doc_id", explode(split($"text", " ")).as("t"))
        .filter($"t" =!= "")
        .withColumn("bucket",
          expr("CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 64"))
        .groupBy($"doc_id", $"bucket")
        .agg(count(lit(1)).as("weight"))
        .orderBy($"doc_id", $"bucket")
    },
    Some("""SELECT doc_id,
                   CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT) % 64 AS bucket,
                   CAST(count(*) AS BIGINT) AS weight
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                  FROM documents WHERE doc_id < 40)
            WHERE t <> ''
            GROUP BY doc_id, bucket
            ORDER BY doc_id, bucket"""))

  // ---------------------------------------------------------------- q163
  // Record linkage via the native jaro_winkler expression (functions/
  // JaroWinkler.scala, SQL registry): the prefix-boosted similarity the
  // entity-resolution literature prefers for names/titles, where typos
  // rarely touch the first characters. Same blocked-join discipline as
  // q135 (block on p_brand, never all-pairs); the oracle is DuckDB's own
  // jaro_winkler_similarity, so the gate is a value-for-value
  // cross-IMPLEMENTATION differential of the whole algorithm (match
  // window, transposition counting, unconditional prefix boost) at
  // round(4).
  private val q163 = GQuery(
    "q163_jaro_winkler_linkage",
    "blocked record linkage via native jaro_winkler (cross-engine differential)",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      // round 17: same registry-resolved expression, candidate pairs via
      // the broadcast+fan-out shape (brandPairs above)
      brandPairs(s, d)
        .withColumn("__jw", expr("jaro_winkler(name_a, name_b)"))
        .filter($"__jw" >= 0.93)
        .select($"key_a", $"key_b", round($"__jw", 4).as("jw"))
        .orderBy($"key_a", $"key_b")
    },
    Some("""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                   round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
            FROM part a JOIN part b
              ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
            WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.93
            ORDER BY key_a, key_b"""))

  // ---------------------------------------------------------------- q164
  // k-anonymity suppression (TrainingData.kAnonymize): rows whose
  // quasi-identifier combination has < k peers are dropped — the
  // COMBINATION-level privacy scrub that complements q79's direct-PII
  // redaction. One window-count shuffle on the quasi columns. The gate
  // suppresses on (nationkey, mktsegment) at k=15 and rolls up survivors
  // per nation; the oracle recomputes the suppression as a HAVING join.
  private val q164 = GQuery(
    "q164_k_anonymity",
    "k-anonymity suppression over quasi-identifier groups",
    (s, d) => {
      import s.implicits._
      graft.api.TrainingData
        .kAnonymize(T(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"), 15)
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("kept"))
        .orderBy($"c_nationkey")
    },
    Some("""WITH g AS (
              SELECT c_nationkey, c_mktsegment, count(*) AS n
              FROM customer GROUP BY c_nationkey, c_mktsegment)
            SELECT c_nationkey, CAST(sum(n) AS BIGINT) AS kept
            FROM g WHERE n >= 15
            GROUP BY c_nationkey
            ORDER BY c_nationkey"""))

  // ---------------------------------------------------------------- q166
  // Sorted-neighborhood record linkage (Hernández & Stolfo 1995): sort on
  // the linkage key and compare each record only to its next W neighbors
  // — the classic alternative to LSH blocking, O(N·W) comparisons instead
  // of O(N²). Join-free: after ONE range-partitioned sort, lead(name, o)
  // materializes each neighbor pair inside the window, and the distance
  // predicate filters locally. The oracle recomputes the same pairs via a
  // rank self-join.
  private val q166 = GQuery(
    "q166_sorted_neighborhood",
    "sorted-neighborhood linkage via window leads (join-free O(N·W) comparisons)",
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window.orderBy($"p_name", $"p_partkey")
      val ranked = T(s, d, "part").select($"p_partkey", $"p_name")
        .withColumn("n1_key", lead($"p_partkey", 1).over(w))
        .withColumn("n1_name", lead($"p_name", 1).over(w))
        .withColumn("n2_key", lead($"p_partkey", 2).over(w))
        .withColumn("n2_name", lead($"p_name", 2).over(w))
      val p1 = ranked.select($"p_partkey".as("key_a"), $"n1_key".as("key_b"),
        levenshtein($"p_name", $"n1_name").as("dist"))
      val p2 = ranked.select($"p_partkey".as("key_a"), $"n2_key".as("key_b"),
        levenshtein($"p_name", $"n2_name").as("dist"))
      p1.union(p2)
        .filter($"key_b".isNotNull && $"dist" <= 4)
        .selectExpr("key_a", "key_b", "CAST(dist AS BIGINT) AS dist")
        .orderBy($"key_a", $"key_b")
    },
    Some("""WITH ranked AS (
              SELECT p_partkey, p_name,
                     row_number() OVER (ORDER BY p_name, p_partkey) AS r
              FROM part)
            SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
            FROM ranked a JOIN ranked b ON b.r - a.r BETWEEN 1 AND 2
            WHERE levenshtein(a.p_name, b.p_name) <= 4
            ORDER BY key_a, key_b"""))

  // ---------------------------------------------------------------- q168
  // Table content digest (TrainingData.tableDigest): order- and
  // partitioning-independent (n_rows, sum-mod, xor) fingerprint from
  // per-row md5 — the replication/migration check ("did the rewrite
  // preserve the data?") that costs one map pass. The oracle recomputes
  // the identical digest in DuckDB SQL, which is the point: the SAME
  // three numbers from two engines over the same rows.
  private val q168 = GQuery(
    "q168_table_digest",
    "order-independent table fingerprint (engine-portable md5 digest)",
    (s, d) => {
      graft.api.TrainingData.tableDigest(
        T(s, d, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(h % 1000000007) % 1000000007 AS BIGINT) AS digest_sum,
                   bit_xor(h) AS digest_xor
            FROM (
              SELECT CAST(concat('0x', substring(md5(
                       concat_ws('|',
                         coalesce(CAST(c_custkey AS VARCHAR), '∅'),
                         coalesce(c_name, '∅'),
                         coalesce(CAST(c_nationkey AS VARCHAR), '∅'),
                         coalesce(c_mktsegment, '∅'))), 1, 15)) AS BIGINT) AS h
              FROM customer)"""))

  // ---------------------------------------------------------------- q172
  // Duplicate-SPAN removal — the repeated-substring dedup shape (Lee et
  // al. 2022's ExactSubstr, at token-window granularity): mark every
  // 8-token window whose text occurs ≥2 times in the corpus, then merge
  // overlapping/adjacent marked windows per document into maximal spans
  // (gaps-and-islands with a running max-end) — the (doc, start, end)
  // ranges a training pipeline cuts out, rather than q29's whole-document
  // verdicts or q117's span STRINGS. Scale shape: one window-hash shuffle
  // for the df count + one broadcast-back join + one bounded per-doc
  // window — no all-pairs anything; at corpus scale the window hash
  // replaces the window text as the join key (same plan, 16-byte keys).
  private val q172 = GQuery(
    "q172_duplicate_spans",
    "repeated 8-token window spans per doc (ExactSubstr-shaped span merge)",
    (s, d) => {
      import s.implicits._
      val W = org.apache.spark.sql.expressions.Window
      val win = T(s, d, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        // guard BEFORE sequence: Spark's sequence(1, 0) is DESCENDING
        // ([1, 0], step -1), so a <8-token doc would produce a phantom
        // pos-0 window and slice() would throw; DuckDB's generate_series
        // is empty there, so the filter changes nothing vs the oracle
        .filter(size($"w") >= 8)
        .select($"doc_id", explode(expr(
          """transform(sequence(1, size(w) - 7),
            |          i -> named_struct('pos', CAST(i AS BIGINT),
            |                            'sh', array_join(slice(w, i, 8), ' ')))""".stripMargin
        )).as("x"))
        .select($"doc_id", $"x.pos".as("pos"), $"x.sh".as("sh"))
      val dup = win.groupBy($"sh").agg(count(lit(1)).as("c")).filter($"c" >= 2)
      val marked = win.join(dup.select($"sh"), "sh").select($"doc_id", $"pos")
      val prevEnd = max($"pos" + lit(7L)).over(
        W.partitionBy($"doc_id").orderBy($"pos")
          .rowsBetween(W.unboundedPreceding, -1))
      marked
        .withColumn("brk",
          when(coalesce($"pos" <= prevEnd + lit(1L), lit(false)), 0L).otherwise(1L))
        .withColumn("g", sum($"brk").over(W.partitionBy($"doc_id").orderBy($"pos")))
        .groupBy($"doc_id", $"g")
        .agg(min($"pos").as("span_start"), (max($"pos") + lit(7L)).as("span_end"),
          count(lit(1)).as("n_windows"))
        .select($"doc_id", $"span_start", $"span_end", $"n_windows")
        .orderBy($"doc_id", $"span_start")
    },
    Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            win AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                           array_to_string(w[i:i+7], ' ') AS sh
                    FROM words, unnest(generate_series(1, greatest(len(w) - 7, 0))) t(i)),
            dup AS (SELECT sh FROM win GROUP BY sh HAVING count(*) >= 2),
            mk AS (SELECT doc_id, pos FROM win WHERE sh IN (SELECT sh FROM dup)),
            isl AS (SELECT doc_id, pos,
                      CASE WHEN pos <= coalesce(max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 7, -9) + 1
                           THEN 0 ELSE 1 END AS brk
                    FROM mk),
            grp AS (SELECT doc_id, pos,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl)
            SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM grp GROUP BY doc_id, g
            ORDER BY doc_id, span_start"""))

  // ---------------------------------------------------------------- q173
  // Temperature (alpha) mixture sampling — the multilingual/domain
  // rebalancing step (sampling mass ∝ count^α flattens the source
  // distribution so low-resource domains are boosted): per-source keep
  // rates derive from ONE counting aggregate, membership is the salted
  // md5 keyspace cut shared by every sampler here, so the kept set is
  // deterministic and the oracle replays the identical arithmetic
  // (sqrt + one division chain + the same trunc-to-2^32 hex threshold).
  private val q173 = GQuery(
    "q173_temperature_mixture",
    "alpha-sampling by source (count^0.5 temperature rebalance, exact replay)",
    (s, d) => {
      import s.implicits._
      graft.api.TrainingData
        .temperatureMixture(T(s, d, "documents"), "source", "doc_id",
          alpha = 0.5, targetRows = 260, salt = "mix8")
        .groupBy($"source").agg(count(lit(1)).as("n_kept"))
        .orderBy($"source")
    },
    Some("""WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
            tot AS (SELECT sum(pow(cnt, 0.5) ORDER BY source) AS tw FROM c),
            th AS (SELECT source,
                     least(1.0, 260 * pow(cnt, 0.5) / (SELECT tw FROM tot) / cnt) AS rate
                   FROM c),
            cut AS (SELECT source,
                     CASE WHEN rate >= 1.0 THEN 'g'
                          ELSE lpad(lower(to_hex(CAST(trunc(rate * 4294967296) AS BIGINT))), 8, '0')
                     END AS t
                    FROM th)
            SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
            FROM documents d JOIN cut ON d.source = cut.source
            WHERE substring(md5(concat('mix8', CAST(d.doc_id AS VARCHAR))), 1, 8) < cut.t
            GROUP BY d.source
            ORDER BY d.source"""))

  // ---------------------------------------------------------------- q174
  // PMI collocations — corpus-linguistics association mining over
  // adjacent token pairs: pmi = ln(c_xy·N² / (P·c_x·c_y)), computed as a
  // SINGLE division of two exactly-representable integer products (all
  // counts < 2^53), so both engines see the identical double and ln/round
  // agree to the digit. Plan shape: one pair aggregate (lead over the
  // per-doc token window), one unigram aggregate, two broadcast joins of
  // the (tiny) vocabulary — the frequency tables are vocabulary-sized,
  // never corpus-sized.
  private val q174 = GQuery(
    "q174_pmi_collocations",
    "top adjacent-pair collocations by PMI (integer-exact ratio, ln once)",
    (s, d) => {
      Tables.register(s, d, "documents")
      s.sql("""
        |WITH toks AS (
        |  SELECT doc_id, pos, tok
        |  FROM documents LATERAL VIEW posexplode(split(text, ' ')) x AS pos, tok),
        |tk AS (SELECT doc_id, pos, tok FROM toks WHERE tok <> ''),
        |pairs AS (
        |  SELECT tok AS w1,
        |         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tk),
        |pc AS (SELECT w1, w2, count(*) AS c_xy
        |       FROM pairs WHERE w2 IS NOT NULL GROUP BY w1, w2),
        |uc AS (SELECT tok AS w, count(*) AS c FROM tk GROUP BY tok),
        |tot AS (SELECT (SELECT count(*) FROM tk) AS n, (SELECT sum(c_xy) FROM pc) AS p)
        |SELECT w1, w2, c_xy,
        |       round(ln(CAST(c_xy * n * n AS DOUBLE) / CAST(p * u1.c * u2.c AS DOUBLE)), 4) AS pmi
        |FROM pc JOIN uc u1 ON pc.w1 = u1.w JOIN uc u2 ON pc.w2 = u2.w CROSS JOIN tot
        |WHERE c_xy >= 25
        |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin)
    },
    Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            toks AS (SELECT doc_id, i AS pos, w[i] AS tok
                     FROM words, unnest(generate_series(1, len(w))) t(i)),
            tk AS (SELECT doc_id, pos, tok FROM toks WHERE tok <> ''),
            pairs AS (
              SELECT tok AS w1,
                     lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              FROM tk),
            pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
                   FROM pairs WHERE w2 IS NOT NULL GROUP BY w1, w2),
            uc AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY tok),
            tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tk) AS n,
                           (SELECT CAST(sum(c_xy) AS BIGINT) FROM pc) AS p)
            SELECT w1, w2, c_xy,
                   round(ln(CAST(c_xy * n * n AS DOUBLE) / CAST(p * u1.c * u2.c AS DOUBLE)), 4) AS pmi
            FROM pc JOIN uc u1 ON pc.w1 = u1.w JOIN uc u2 ON pc.w2 = u2.w CROSS JOIN tot
            WHERE c_xy >= 25
            ORDER BY pmi DESC, w1, w2 LIMIT 30"""))

  // ---------------------------------------------------------------- q175
  // Linear quality-model INFERENCE — the fasttext-shaped scoring pass
  // (hashed bag-of-words × weight vector → logistic score → decile
  // bucket) that grades every document in one map-side job. The weights
  // are pseudo-random integers derived from the bucket id (a stand-in
  // for trained parameters with the same plumbing); the logit accumulates
  // as an exact BIGINT dot product (tf·w_int), so the only floating step
  // is one division + exp — cross-engine deterministic at round(4).
  // Scale shape: per-doc aggregate, broadcast-nothing, no shuffle beyond
  // the doc_id hash agg.
  private val q175 = GQuery(
    "q175_quality_model",
    "hashed linear model scoring (integer-exact logit, logistic deciles)",
    (s, d) => {
      Tables.register(s, d, "documents")
      s.sql("""
        |WITH toks AS (
        |  SELECT doc_id, tok FROM documents
        |  LATERAL VIEW explode(split(text, ' ')) x AS tok),
        |tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |f AS (SELECT doc_id,
        |             CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % 64 AS b,
        |             count(*) AS tf
        |      FROM tk GROUP BY doc_id, b),
        |z AS (SELECT doc_id,
        |             sum(tf * ((b * 2654435761) % 997 - 498)) AS zi,
        |             sum(tf) AS nt
        |      FROM f GROUP BY doc_id),
        |sc AS (SELECT doc_id,
        |              1.0 / (1.0 + exp(-(CAST(zi AS DOUBLE) / (997.0 * nt)))) AS s
        |       FROM z)
        |SELECT doc_id, round(s, 4) AS score, CAST(floor(s * 10) AS BIGINT) AS decile
        |FROM sc ORDER BY doc_id""".stripMargin)
    },
    Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            toks AS (SELECT doc_id, unnest(w) AS tok FROM words),
            tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
            f AS (SELECT doc_id,
                         CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) % 64 AS b,
                         count(*) AS tf
                  FROM tk GROUP BY doc_id, b),
            z AS (SELECT doc_id,
                         CAST(sum(tf * ((b * 2654435761) % 997 - 498)) AS BIGINT) AS zi,
                         CAST(sum(tf) AS BIGINT) AS nt
                  FROM f GROUP BY doc_id),
            sc AS (SELECT doc_id,
                          1.0 / (1.0 + exp(-(CAST(zi AS DOUBLE) / (997.0 * nt)))) AS s
                   FROM z)
            SELECT doc_id, round(s, 4) AS score, CAST(floor(s * 10) AS BIGINT) AS decile
            FROM sc ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q176
  // l-diversity (TrainingData.lDiversify) — the release gate k-anonymity
  // (q164) cannot provide alone: a quasi-identifier group is safe only if
  // the SENSITIVE attribute takes ≥ l distinct values inside it (a large
  // but homogeneous group still leaks the secret). The gate reports the
  // surviving (lang, length-bin) groups with their sizes and diversity;
  // one window aggregate on the quasi columns, exact by construction.
  private val q176 = GQuery(
    "q176_l_diversity",
    "l-diversity privacy filter over (lang, length-bin) quasi groups",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
        .withColumn("len_bin", expr("CAST(n_chars DIV 100 AS BIGINT)"))
      graft.api.TrainingData.lDiversify(docs, Seq("lang", "len_bin"), "source", l = 3)
        .groupBy($"lang", $"len_bin")
        .agg(count(lit(1)).as("n"), countDistinct($"source").as("l"))
        .orderBy($"lang", $"len_bin")
    },
    Some("""WITH d AS (SELECT *, CAST(n_chars // 100 AS BIGINT) AS len_bin FROM documents),
            g AS (SELECT lang, len_bin, CAST(count(*) AS BIGINT) AS n,
                         CAST(count(DISTINCT source) AS BIGINT) AS l
                  FROM d GROUP BY lang, len_bin)
            SELECT lang, len_bin, n, l FROM g WHERE l >= 3
            ORDER BY lang, len_bin"""))

  // ---------------------------------------------------------------- q177
  // q172's span pipeline keyed on the NATIVE Karp–Rabin generator
  // (functions/RollingTokenHash.scala): `rolling_token_hash(text, 6)`
  // streams one (pos, 61-bit hash) row per 6-token window with an O(1)
  // rolling update and ZERO per-window string allocation — the 100 TB
  // form of repeated-substring detection, where the duplicate-count
  // shuffle moves 8-byte keys instead of multi-hundred-byte window
  // strings. The ORACLE stays string-keyed: the gate is the proof that
  // hash-equality grouping reproduces the exact text-equality duplicate
  // structure (any collision would split/merge a span and hash-mismatch).
  private val q177 = GQuery(
    "q177_rolling_hash_spans",
    "duplicate spans via native rolling-hash generator == string-keyed oracle",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val W = org.apache.spark.sql.expressions.Window
      Tables.register(s, d, "documents")
      val win = s.sql("""
        |SELECT doc_id, CAST(x.pos AS BIGINT) AS pos, x.hash AS h
        |FROM documents LATERAL VIEW rolling_token_hash(text, 6) x""".stripMargin)
      val dup = win.groupBy($"h").agg(count(lit(1)).as("c")).filter($"c" >= 2)
      val marked = win.join(dup.select($"h"), "h").select($"doc_id", $"pos")
      val prevEnd = max($"pos" + lit(5L)).over(
        W.partitionBy($"doc_id").orderBy($"pos")
          .rowsBetween(W.unboundedPreceding, -1))
      marked
        .withColumn("brk",
          when(coalesce($"pos" <= prevEnd + lit(1L), lit(false)), 0L).otherwise(1L))
        .withColumn("g", sum($"brk").over(W.partitionBy($"doc_id").orderBy($"pos")))
        .groupBy($"doc_id", $"g")
        .agg(min($"pos").as("span_start"), (max($"pos") + lit(5L)).as("span_end"),
          count(lit(1)).as("n_windows"))
        .select($"doc_id", $"span_start", $"span_end", $"n_windows")
        .orderBy($"doc_id", $"span_start")
    },
    Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            win AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                           array_to_string(w[i:i+5], ' ') AS sh
                    FROM words, unnest(generate_series(1, greatest(len(w) - 5, 0))) t(i)),
            dup AS (SELECT sh FROM win GROUP BY sh HAVING count(*) >= 2),
            mk AS (SELECT doc_id, pos FROM win WHERE sh IN (SELECT sh FROM dup)),
            isl AS (SELECT doc_id, pos,
                      CASE WHEN pos <= coalesce(max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 5, -9) + 1
                           THEN 0 ELSE 1 END AS brk
                    FROM mk),
            grp AS (SELECT doc_id, pos,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl)
            SELECT doc_id, min(pos) AS span_start, max(pos) + 5 AS span_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM grp GROUP BY doc_id, g
            ORDER BY doc_id, span_start"""))

  // ---------------------------------------------------------------- q178
  // Incremental exact dedup (TrainingData.dedupIncremental) — the
  // daily-ingest discipline: the new batch dedups against the CORPUS
  // FINGERPRINT INDEX (md5 column of everything already ingested), never
  // against the corpus rows — at 100 TB the index is ~3% of the corpus
  // and the whole operation is batch-sized: one self-dedup shuffle + one
  // fingerprint anti-join. The gate ingests docs <300 as the corpus
  // (a graft table whose summary IS the index), then ships a batch of
  // docs ≥300 polluted with corpus dups (+10000 ids) and in-batch dups
  // (+20000 ids); exactly docs 300..499 must survive.
  private val q178 = GQuery(
    "q178_incremental_dedup",
    "new-batch dedup against the corpus fingerprint index (batch-sized work)",
    (s, d) => {
      import s.implicits._
      val corpusDir = "/tmp/graft_tt/docs_corpus"
      val docs = T(s, d, "documents").select($"doc_id", $"text", $"source")
      docs.filter($"doc_id" < 300)
        .write.format("graft-json").mode("overwrite").save(corpusDir)
      val corpus = s.read.format("graft-json")
        .schema("doc_id BIGINT, text STRING, source STRING").load(corpusDir)
      val index = graft.api.TrainingData
        .dedupExactSummary(corpus, "doc_id", "text").select($"fp")
      val batch = docs.filter($"doc_id" >= 300)
        .unionByName(docs.filter($"doc_id" < 50)
          .withColumn("doc_id", $"doc_id" + 10000L))   // corpus dups
        .unionByName(docs.filter($"doc_id" >= 300 && $"doc_id" < 320)
          .withColumn("doc_id", $"doc_id" + 20000L))   // in-batch dups
      graft.api.TrainingData.dedupIncremental(batch, index, "doc_id", "text")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, source FROM documents
            WHERE doc_id >= 300
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q180
  // Canonicalize-then-dedup (TrainingData.canonicalText): web-scrape
  // corpora carry case/whitespace variants of identical content that raw
  // md5 dedup (q29) treats as distinct; the CCNet/C4 discipline is to
  // fingerprint the CANONICAL form (lowercase, collapsed whitespace).
  // The gate plants uppercase (+1000 ids) and doubled-space (+2000 ids)
  // variants of docs <150; canonical dedup must collapse each family to
  // its original — exactly docs 0..149 survive. Same single-shuffle
  // plan as q29; the canonicalization is map-only column work.
  private val q180 = GQuery(
    "q180_canonical_dedup",
    "dedup on canonical text form (case/whitespace variants collapse)",
    (s, d) => {
      import s.implicits._
      val base = T(s, d, "documents")
        .select($"doc_id", $"text", $"source").filter($"doc_id" < 150)
      val corpus = base
        .unionByName(base
          .withColumn("doc_id", $"doc_id" + 1000L)
          .withColumn("text", upper($"text")))
        .unionByName(base
          .withColumn("doc_id", $"doc_id" + 2000L)
          .withColumn("text", regexp_replace($"text", " ", "  ")))
      graft.api.TrainingData
        .dedupExact(
          corpus.withColumn("canon",
            graft.api.TrainingData.canonicalText($"text")),
          "doc_id", "canon")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, source FROM documents
            WHERE doc_id < 150
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q181
  // Per-label embedding centroids — the aggregation half of the vector
  // toolbox (q33/q52/q65 SEARCH the space; training-data curation also
  // needs per-cluster/per-label summary vectors for drift checks and
  // centroid-seeded ANN). Long-form explode → one (label, dim) hash
  // aggregate: at 100 TB this is the standard shuffle-light shape (the
  // alternative — array-wise UDAF — holds a 64-slot state per group
  // either way; long form lets Catalyst's partial aggregation do it).
  // Floats widen to double BEFORE averaging on both engines; round(4)
  // absorbs summation-order ulps.
  private val q181 = GQuery(
    "q181_embedding_centroids",
    "per-label centroid vectors via long-form (label, dim) aggregation",
    (s, d) => {
      import s.implicits._
      T(s, d, "embeddings")
        .select($"label", posexplode($"embedding"))
        .select($"label", ($"pos" + 1).cast("long").as("dim"),
          $"col".cast("double").as("v"))
        .groupBy($"label", $"dim")
        .agg(round(avg($"v"), 4).as("c"), count(lit(1)).as("n"))
        .orderBy($"label", $"dim")
    },
    Some("""SELECT label, CAST(i AS BIGINT) AS dim,
                   round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS c,
                   CAST(count(*) AS BIGINT) AS n
            FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
            GROUP BY label, i
            ORDER BY label, dim"""))

  // ---------------------------------------------------------------- q185
  // The q135 fuzzy join written the way a USER writes it — plain built-in
  // `levenshtein(a, b) <= 2` — optimized by the custom Catalyst rule
  // (functions/GraftOptimizerRules.scala, injected via
  // SparkSessionExtensions / GraftFunctions.register): every
  // literal-threshold comparison against the O(n·m) builtin rewrites to
  // the banded O(k·n) levenshtein_bounded, value-identically
  // (BoundedLevenshteinRuleSpec pins all ten comparison shapes + the
  // plan). The oracle runs DuckDB's levenshtein on the same predicate, so
  // the gate is an end-to-end proof the rewrite preserves semantics.
  private val q185 = GQuery(
    "q185_optimizer_bounded_lev",
    "user-written levenshtein<=k auto-rewritten to the banded kernel (Rule)",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      // round 17: the user-spelled builtin comparison is unchanged (the
      // Rule still rewrites it to the banded kernel); candidate pairs via
      // the broadcast+fan-out shape (brandPairs above)
      brandPairs(s, d)
        .filter(expr("levenshtein(name_a, name_b) <= 2"))
        .select($"key_a", $"key_b")
        .orderBy($"key_a", $"key_b")
    },
    Some("""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
            FROM part a JOIN part b
              ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 2
            ORDER BY key_a, key_b"""))

  // ---------------------------------------------------------------- q192
  // The curation pipeline END-TO-END in one gate — the composition the
  // individual operators exist for: language filter → canonical dedup
  // (the corpus is polluted with uppercase variants) → length-window
  // quality cut → deterministic 60% sample → per-source accounting.
  // Every stage is an API call (TrainingData.canonicalText / dedupExact /
  // sampleDeterministic), and every stage is engine-replayable, so the
  // WHOLE chain carries one exact oracle: four map-only stages + the one
  // dedup shuffle — the same plan shape at 100 TB.
  private val q192 = GQuery(
    "q192_curation_pipeline",
    "lang filter -> canonical dedup -> quality cut -> sample, one exact oracle",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      val polluted = docs.unionByName(
        docs.withColumn("doc_id", $"doc_id" + 5000L)
          .withColumn("text", upper($"text")))
      val en = polluted.filter($"lang" === "en")
      val deduped = graft.api.TrainingData.dedupExact(
        en.withColumn("canon", graft.api.TrainingData.canonicalText($"text")),
        "doc_id", "canon")
      val quality = deduped.filter($"n_chars".between(150L, 500L))
      val sampled = graft.api.TrainingData
        .sampleDeterministic(quality, "doc_id", 0.6, "cur1")
      sampled
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(filter(split($"text", " "), w => w =!= ""))).as("n_tokens"))
        .orderBy($"source")
    },
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_tokens
            FROM documents
            WHERE lang = 'en'
              AND n_chars BETWEEN 150 AND 500
              AND substring(md5(concat('cur1', CAST(doc_id AS VARCHAR))), 1, 8)
                  < lpad(lower(to_hex(CAST(trunc(0.6 * 4294967296) AS BIGINT))), 8, '0')
            GROUP BY source
            ORDER BY source"""))

  // ---------------------------------------------------------------- q201
  // Per-SOURCE quota cap (the Gopher/FineWeb mixture-balancing step: a
  // runaway crawl domain must not dominate the corpus): keep the top-50
  // docs per source by length with a deterministic doc_id tie-break —
  // TrainingData.capPerGroup, the canonical one-exchange window top-k.
  private val q201 = GQuery(
    "q201_per_source_quota",
    "per-source document cap (top-k by length, deterministic tie-break)",
    (s, d) => {
      import s.implicits._
      graft.api.TrainingData
        .capPerGroup(T(s, d, "documents"), "source", "n_chars", "doc_id", 50)
        .groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"),
          sum($"doc_id").as("id_sum"))
        .orderBy($"source")
    },
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS chars,
                   CAST(sum(doc_id) AS BIGINT) AS id_sum
            FROM (SELECT source, n_chars, doc_id,
                         row_number() OVER (PARTITION BY source
                           ORDER BY n_chars DESC, doc_id) AS rn
                  FROM documents)
            WHERE rn <= 50
            GROUP BY source
            ORDER BY source"""))

  val all: Seq[GQuery] = Seq(q29, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q46, q52, q53, q56, q60, q65, q73, q74, q75, q76, q79, q80, q82, q85, q89, q93, q101, q116, q117, q125, q126, q130, q135, q138, q140, q144, q152, q154, q157, q163, q164, q166, q168, q172, q173, q174, q175, q176, q177, q178, q180, q181, q185, q192, q201)
}
