package graft.queries

import graft.operators.{Dedup, MediaCodec, MediaFixtures, Multimodal, Sessionize, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import Q._

/** SparkEntry registrations for the training-data pipeline operators:
  * dedup, text analysis, similarity search, multimodal plumbing, plus
  * the relational headline queries. */
object PipelineQueries {

  /** Fixed merge table for `t_bpe_encode` (12 common English pairs,
    * rank order; compositions like t+h → th+e exercise the sequential
    * application). */
  val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r", "o" -> "n",
    "r" -> "e", "o" -> "r", "s" -> "t", "e" -> "n", "a" -> "t", "an" -> "d")

  /** Greedy rounds for `t_bpe_train` (each round is one vocab-bounded
    * pair-count job on both engines). */
  val bpeTrainRounds: Int = 6

  /** The shared BPE-training CTE chain (w0 word-frequency seed + k
    * greedy merge rounds p_k/m_k/w_k) used verbatim by BOTH
    * `t_bpe_train` and `t_bpe_pipeline` — one definition so the two
    * oracles can never silently assert different training semantics. */
  private def bpeTrainCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""p$r AS (SELECT ts[i+1] AS a, ts[i+2] AS b, freq
                  FROM (SELECT string_split(state, chr(31)) AS ts, freq FROM w${r - 1}),
                       unnest(range(1, len(ts) - 1)) AS t(i)
                  WHERE len(ts) >= 3),
          m$r AS MATERIALIZED (SELECT a, b FROM (
                  SELECT a, b, sum(freq) AS cnt FROM p$r GROUP BY a, b)
                ORDER BY cnt DESC, a, b LIMIT 1),
          w$r AS MATERIALIZED (SELECT
                  replace(state, chr(31)||m$r.a||chr(31)||m$r.b,
                          chr(31)||m$r.a||m$r.b) AS state, freq
                FROM w${r - 1} CROSS JOIN m$r)"""
    }
    s"""w0 AS MATERIALIZED (
          SELECT regexp_replace(w, '([\\s\\S])', chr(31) || '\\1', 'g') AS state,
                 count(*) AS freq
          FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
          WHERE length(w) >= 2 GROUP BY w),
        ${rounds.mkString(", ")}"""
  }

  /** 64-dim dot product expanded term-by-term for the DuckDB oracle —
    * identical summation order to Spark's aggregate() fold. Public:
    * FuzzBuilders' cosine-topk family reuses it. */
  def dotSql(a: String, b: String, dim: Int = 64): String =
    (1 to dim).map(i => s"$a[$i]::DOUBLE * $b[$i]::DOUBLE").mkString("(", " + ", ")")

  /** Subspace-mi slice dot (dims mi·sub+1 .. (mi+1)·sub), unrolled in
    * the same sequential fold order as the native ArrayDotProduct on
    * a Spark `slice()` — the PQ oracle building block. */
  private def subDotSql(a: String, b: String, mi: Int, sub: Int = 16): String =
    (mi * sub + 1 to (mi + 1) * sub)
      .map(i => s"$a[$i]::DOUBLE * $b[$i]::DOUBLE").mkString("(", " + ", ")")

  /** Shingle + MinHash signature CTEs over `documents`: 3-shingles
    * from a once-per-doc word split (inlining the regexp split into
    * the shingle lambda re-splits per shingle — O(words²), ~11 s at
    * sf0.1), then Kirsch-Mitzenmacher double hashing over the two
    * 48-bit halves of ONE md5 per shingle — exactly
    * Dedup.minhashSignatures' Md5 family (values < 2^53, so the
    * arithmetic is exact in both engines). MATERIALIZED: DuckDB
    * otherwise re-inlines the chain into each consumer. */
  private val minhashSigsSql: String =
    s"""w AS MATERIALIZED (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
          FROM documents
          WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3),
        sh AS MATERIALIZED (
          SELECT doc_id, list_transform(range(1, len(ws) - 1),
            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS s
          FROM w),
        hs0 AS MATERIALIZED (
          SELECT doc_id, list_transform(s, t -> list_transform([md5(t)],
                   m -> [${Q.hex12ToLongSql("m")}, ${Q.hex12ToLongSql("m", 12)}])[1]) AS hs
          FROM sh),
        sigs AS MATERIALIZED (
          SELECT doc_id, list_transform(range(0, 16), j ->
            list_min(list_transform(hs, h -> xor(h[1], j * h[2])))) AS sig
          FROM hs0)"""

  

  val all: Map[String, Q] = Map(
    // ----- relational headline -----
    "q1_agg" -> Q(
      // sums over DECIMAL(28,10): double summation is order-dependent
      // (distributed partial sums reorder vs DuckDB), which flips the
      // last ULP at larger SFs; decimal arithmetic is associative so
      // both engines agree at every scale. Final cast to DOUBLE — the
      // engines render decimal scale differently ("x.080000" vs
      // "x.08"), which breaks the driver's value hash even when the
      // numbers are identical. Averages divide the deterministic
      // decimal sum (as double) by the count, never avg() over doubles.
      // the big sums travel as fixed-scale DECIMAL(28,6) rendered to
      // VARCHAR: decimal sums are associative (identical at any SF and
      // partitioning) and both engines print decimals at full scale,
      // while every double path here is ULP-unstable — decimal→double
      // double-rounds differently across engines, and round(x,6) above
      // x·10⁶ > 2^52 diverges too (round-1/round-2 lessons)
      """SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DECIMAL(28,6)) AS VARCHAR) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DECIMAL(28,6)) AS VARCHAR) AS sum_base_price,
           CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DECIMAL(28,6)) AS VARCHAR) AS sum_disc_price,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_qty,
           round(CAST(sum(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_disc,
           count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""") {
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity").cast("decimal(28,10)")).cast("decimal(28,6)")
              .cast("string").as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(28,10)")).cast("decimal(28,6)")
              .cast("string").as("sum_base_price"),
            sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(28,10)"))
              .cast("decimal(28,6)").cast("string").as("sum_disc_price"),
            rd6(sum(col("l_quantity").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("avg_qty"),
            rd6(sum(col("l_discount").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order"))
    },

    "q2_join_agg" -> Q(
      """SELECT n_name, round(sum(o_totalprice),6) AS revenue, count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""") {
      (s, dir) =>
        r6(tbl(s, dir, "orders")
          .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(sum("o_totalprice").as("revenue"), count(lit(1)).as("n_orders")))
    },

    "q3_window_topk" -> Q(
      """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders) WHERE rnk <= 3""") {
      (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        tbl(s, dir, "orders")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
    },

    // as-of join (the custom time-series join; union + carry-forward
    // window, never a range join) — oracle = DuckDB's native ASOF JOIN
    "j_asof_backward" -> Q(
      """WITH h AS (SELECT user_id, date_trunc('hour', ts) AS h, avg(value) AS hourly_mean
                    FROM events GROUP BY 1, 2)
         SELECT e.user_id, e.event_id, round(h.hourly_mean, 6) AS hourly_mean
         FROM events e ASOF JOIN h ON e.user_id = h.user_id AND e.ts >= h.h""") {
      (s, dir) =>
        val evts = tbl(s, dir, "events").select("user_id", "ts", "event_id", "value")
        val hourly = evts
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg(avg(col("value")).as("hourly_mean"))
        r6(graft.operators.AsOfJoin.asofBackward(
          evts, hourly, Seq("user_id"), "ts", "h", Seq("hourly_mean"))
          .select("user_id", "event_id", "hourly_mean"))
    },

    // banded range join (bucketize + bin-adjacency equi-join, never a
    // theta join): events in the same user's trailing hour — oracle =
    // DuckDB inequality join on floor-epoch seconds
    "j_range_band" -> Q(
      """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events)
         SELECT l.user_id, l.event_id, count(r.t) AS n_in_band
         FROM e l LEFT JOIN e r
           ON l.user_id = r.user_id AND r.t >= l.t - 3600 AND r.t < l.t
         GROUP BY l.user_id, l.event_id""") {
      (s, dir) =>
        val evts = tbl(s, dir, "events").select("user_id", "ts", "event_id")
        graft.operators.RangeJoin.countInBand(evts, evts, Seq("user_id"),
          "ts", "ts", Seq("event_id"), widthSeconds = 3600L)
          .select("user_id", "event_id", "n_in_band")
    },

    // salted equi-join (hot-key mitigation: probe side salted on
    // event_id, per-user dim replicated 8x, join on key+salt) —
    // row-identical to the plain join, so the oracle IS the plain join
    "j_salted_join" -> Q(
      """WITH ua AS (SELECT user_id, avg(value) AS user_avg FROM events GROUP BY 1)
         SELECT e.user_id, count(*) AS n_events,
                round(max(abs(e.value - ua.user_avg)), 6) AS max_dev
         FROM events e JOIN ua USING (user_id)
         GROUP BY e.user_id""") {
      (s, dir) =>
        val evts = tbl(s, dir, "events").select("user_id", "event_id", "value")
        val ua = evts.groupBy("user_id").agg(avg(col("value")).as("user_avg"))
        r6(graft.operators.Skew.saltedJoin(evts, ua, Seq("user_id"), 8, col("event_id"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            max(abs(col("value") - col("user_avg"))).as("max_dev")))
    },

    // gap-based sessionization (30-min timeout) + per-session stats —
    // pure window algebra, one entity shuffle; floor-epoch seconds on
    // both sides (DuckDB CAST rounds, Spark truncates)
    "j_sessionize" -> Q(
      """WITH f AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR CAST(floor(epoch(ts)) AS BIGINT)
                            - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
                            > 1800
                       THEN 1 ELSE 0 END AS nw
           FROM events),
         s AS (
           SELECT user_id, ts,
                  CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM f)
         SELECT user_id, session_id, count(*) AS n_events,
                CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s
         FROM s GROUP BY user_id, session_id""") {
      (s, dir) =>
        val evts = tbl(s, dir, "events").select("user_id", "ts")
        Sessionize.sessionStats(evts, Seq("user_id"), "ts", gapSeconds = 1800L)
          .select("user_id", "session_id", "n_events", "duration_s")
    },

    // ----- dedup -----
    "d_exact_dedup" -> Q(
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY text""") {
      (s, dir) => Dedup.exactDedup(tbl(s, dir, "documents"), "doc_id", "text")
    },

    "d_shingle_stats" -> Q(
      """SELECT doc_id,
           CAST(len(list_distinct(list_transform(
             range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1),
             i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
                  regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
                  regexp_split_to_array(trim(text), '\s+')[i+2]))) AS BIGINT) AS n_shingles
         FROM documents""") {
      (s, dir) =>
        // distinct-shingle counts from shingle ROWS (split once per
        // doc); left join keeps <3-word docs at 0 like the oracle
        val docs = tbl(s, dir, "documents")
        val counts = Dedup.shingleRows(docs, "doc_id", "text", 3)
          .groupBy("doc_id").agg(count_distinct(col("__sh")).as("n_shingles"))
        docs.select("doc_id").join(counts, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n_shingles"), lit(0L)).as("n_shingles"))
    },

    // exact 3-gram Jaccard over all pairs of a doc subset — the
    // LSH-candidate VERIFY step, fully oracle-checked (set counts are
    // integers, so the division is deterministic on both engines)
    "d_ngram_jaccard" -> Q(
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1),
             i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
                  regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
                  regexp_split_to_array(trim(text), '\s+')[i+2])) AS s
           FROM documents WHERE doc_id < 30
             AND len(regexp_split_to_array(trim(text), '\s+')) >= 3)
         SELECT a.doc_id AS a, b.doc_id AS b,
                round(len(list_intersect(a.s, b.s))::DOUBLE /
                      len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id""") {
      (s, dir) =>
        val docs = tbl(s, dir, "documents").filter(col("doc_id") < 30)
        val ids = docs.select(col("doc_id"))
        val pairs = ids.select(col("doc_id").as("a"))
          .join(ids.select(col("doc_id").as("b")), col("a") < col("b"))
        r6(Dedup.jaccardVerify(pairs, docs, "doc_id", "text", shingleSize = 3)
          .select("a", "b", "jaccard"))
    },

    // MinHash over the engine-portable md5 double-hash family
    // (production default stays xxhash64 — Dedup.HashFamily): the whole
    // shingle → signature → band → candidate-pair pipeline replicates
    // in DuckDB verbatim
    "d_minhash_lsh" -> Q(
      s"""WITH $minhashSigsSql,
          bands AS (
            SELECT doc_id, b, sig[b*4+1 : b*4+4] AS key
            FROM sigs CROSS JOIN range(0, 4) t(b)),
          pairs AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
          est AS (
            SELECT p.a, p.b,
              list_sum(list_transform(range(1, 17),
                i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / CAST(16 AS DOUBLE) AS est_jaccard
            FROM pairs p JOIN sigs sa ON p.a = sa.doc_id JOIN sigs sb ON p.b = sb.doc_id)
          SELECT count(*) AS n_candidate_pairs,
                 coalesce(round(avg(est_jaccard), 6), CAST(0.0 AS DOUBLE)) AS mean_est_jaccard
          FROM est""") { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      // persist the signatures: the band self-join + two signature
      // join-backs otherwise re-shingle and re-hash the corpus four
      // times (plan audit showed 4 separate document scans)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", shingleSize = 3,
        numHashes = 16, family = Dedup.HashFamily.Md5).persist()
      val pairs = Dedup.minhashCandidatePairs(sigs, "doc_id", numHashes = 16, rowsPerBand = 4)
      pairs.agg(count(lit(1)).as("n_candidate_pairs"),
        coalesce(round(avg(col("est_jaccard")), 6), lit(0.0)).as("mean_est_jaccard"))
    },

    // engine-portable simhash (md5-derived bits, hex-string output);
    // the xxhash64/long production variant is covered in PipelineSpec
    "d_simhash" -> Q(
      """WITH words AS (
           SELECT doc_id, md5(unnest(regexp_split_to_array(trim(text), '\s+'))) AS h
           FROM documents),
         bitrows AS (
           SELECT doc_id, b,
             CASE WHEN ((strpos('0123456789abcdef', h[b//4 + 1]) - 1) >> (b % 4)) & 1 = 1
                  THEN 1 ELSE -1 END AS pm
           FROM words CROSS JOIN range(0, 64) t(b)),
         bitsum AS (
           SELECT doc_id, b, CASE WHEN sum(pm) > 0 THEN 1 ELSE 0 END AS bit
           FROM bitrows GROUP BY doc_id, b),
         nib AS (
           SELECT doc_id, b // 4 AS ci, sum(bit * (1 << (b % 4))) AS nv
           FROM bitsum GROUP BY doc_id, b // 4)
         SELECT doc_id, string_agg('0123456789abcdef'[CAST(nv AS INT) + 1], '' ORDER BY ci) AS simhash
         FROM nib GROUP BY doc_id""") { (s, dir) =>
      Dedup.simhashHex(tbl(s, dir, "documents"), "doc_id", "text")
    },

    // end-to-end near-dup pipeline: LSH candidates → connected
    // components → per-doc keep decision (docs in no component keep
    // themselves); oracle = same md5 banding + recursive-CTE transitive
    // closure (components are tiny, so the closure stays small)
    "d_neardup_groups" -> Q(
      s"""WITH RECURSIVE $minhashSigsSql,
          bands AS (
            SELECT doc_id, b, sig[b*4+1 : b*4+4] AS key
            FROM sigs CROSS JOIN range(0, 4) t(b)),
          pairs AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
          edges AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
          reach AS (
            SELECT s AS id, s AS lab FROM edges
            UNION
            SELECT e.s, r.lab FROM edges e JOIN reach r ON e.d = r.id),
          groups AS (SELECT id, min(lab) AS grp FROM reach GROUP BY id)
          SELECT d.doc_id, coalesce(g.grp, d.doc_id) AS "group",
                 d.doc_id = coalesce(g.grp, d.doc_id) AS keep
          FROM documents d LEFT JOIN groups g ON d.doc_id = g.id""") { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 16, family = Dedup.HashFamily.Md5).persist()
      // ids-only pair path: nearDupGroups needs just the edge list, so
      // skip the est_jaccard signature join-backs entirely
      val pairs = Dedup.minhashCandidatePairIds(sigs, "doc_id", numHashes = 16, rowsPerBand = 4)
      val groups = Dedup.nearDupGroups(pairs)
      docs.select(col("doc_id"))
        .join(groups.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("group"), col("doc_id")).as("group"))
        .withColumn("keep", col("doc_id") === col("group"))
    },

    // the operator's hyperplanes are drawn driver-side from a fixed
    // seed and inlined as literals — so the oracle inlines the SAME
    // doubles (Double.toString round-trips exactly through DuckDB's
    // strtod) and replicates bucket assignment + in-bucket cosine
    // bitwise
    "d_embedding_neardup" -> Q({
      val rnd = new scala.util.Random(42L)
      val planes = Array.fill(8, 64)(rnd.nextGaussian())
      def planeDot(j: Int) = (0 until 64)
        .map(i => s"embedding[${i + 1}]::DOUBLE * (${planes(j)(i)})")
        .mkString("(", " + ", ")")
      val bucket = (0 until 8)
        .map(j => s"(CASE WHEN ${planeDot(j)} >= 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
            p AS (SELECT ${dotSql("x.embedding", "y.embedding")} /
                    (sqrt(${dotSql("x.embedding", "x.embedding")}) *
                     sqrt(${dotSql("y.embedding", "y.embedding")})) AS cosine
                  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
          SELECT count(*) AS n_pairs FROM p WHERE cosine >= 0.9"""
    }) { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Dedup.embeddingNearDups(emb, "vec_id", "embedding", planes = 8, threshold = 0.9)
        .agg(count(lit(1)).as("n_pairs"))
    },

    // exact pairwise cosine over a vec subset — oracle-checked
    // ground truth for the LSH-bucketed near-dup path above (dotSql
    // expands the dot term-by-term in the same fold order as the
    // native array_dot expression, so the doubles match bitwise)
    "d_embedding_neardup_exact" -> Q(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 40)
          SELECT a.vec_id AS a, b.vec_id AS b,
                 round(${dotSql("a.embedding", "b.embedding")} /
                       (sqrt(${dotSql("a.embedding", "a.embedding")}) *
                        sqrt(${dotSql("b.embedding", "b.embedding")})), 6) AS cosine
          FROM e a JOIN e b ON a.vec_id < b.vec_id""") {
      (s, dir) =>
        val emb = tbl(s, dir, "embeddings").filter(col("vec_id") < 40)
        val l = emb.select(col("vec_id").as("a"), col("embedding").as("__va"))
        val rr = emb.select(col("vec_id").as("b"), col("embedding").as("__vb"))
        r6(l.join(rr, col("a") < col("b"))
          .select(col("a"), col("b"),
            Similarity.cosine(col("__va"), col("__vb")).as("cosine")))
    },

    // SemDedup (Abbas et al. 2023): embedding-space semantic dedup —
    // md5-ordered centroid sample (the s_ann_ivf idiom), per-vector
    // argmax cell assignment (ties → lowest cell), within-cluster
    // cosine ≥ τ against a lower-id mate marks a duplicate. Oracle
    // replays assignment + pair scan with dotSql's identical fold
    // order, so the τ threshold decides identically on both engines.
    "d_semdedup" -> Q(
      s"""WITH cent AS (
            SELECT rn - 1 AS cell, cv FROM (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn,
                     embedding AS cv
              FROM embeddings) WHERE rn <= 16),
          ca AS (
            SELECT vec_id, embedding, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS cr
            FROM (SELECT e.vec_id, e.embedding, c.cell,
                         ${dotSql("e.embedding", "c.cv")} / sqrt(${dotSql("c.cv", "c.cv")}) AS d
                  FROM embeddings e CROSS JOIN cent c)),
          asg AS (SELECT vec_id, embedding, cell FROM ca WHERE cr = 1),
          dup AS (SELECT DISTINCT b.vec_id
                  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  WHERE ${dotSql("a.embedding", "b.embedding")} /
                        (sqrt(${dotSql("a.embedding", "a.embedding")}) *
                         sqrt(${dotSql("b.embedding", "b.embedding")})) >= 0.9)
          SELECT s.vec_id, s.cell::BIGINT AS cluster,
                 (d.vec_id IS NOT NULL) AS is_dup
          FROM asg s LEFT JOIN dup d ON s.vec_id = d.vec_id""") {
      (s, dir) =>
        Dedup.semDedup(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          nClusters = 16, tau = 0.9)
    },

    // ----- text analysis -----
    "t_token_count" -> Q(
      """SELECT doc_id,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords
         FROM documents""") {
      (s, dir) =>
        tbl(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.bpeishCount(col("text")).cast("long").as("n_subwords"))
    },

    "t_quality_score" -> Q(
      s"""SELECT doc_id,
            round((length(text) - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')))::DOUBLE / length(text), 6) AS punct_ratio,
            round(len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("en")}'))::DOUBLE /
                  greatest(CASE WHEN len(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1), 6) AS stopword_ratio,
            round(length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE /
                  (CASE WHEN len(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END), 6) AS mean_word_len
          FROM documents""") {
      (s, dir) =>
        r6(tbl(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
          TextAnalysis.meanWordLen(col("text")).as("mean_word_len")))
    },

    "t_langid" -> Q(
      s"""SELECT doc_id,
            CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
                 WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                 WHEN de >= fr AND de >= es THEN 'de'
                 WHEN fr >= es THEN 'fr'
                 ELSE 'es' END AS lang_pred
          FROM (SELECT doc_id, text,
                  len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("en")}')) AS en,
                  len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("de")}')) AS de,
                  len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("fr")}')) AS fr,
                  len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("es")}')) AS es
                FROM documents)""") {
      (s, dir) =>
        tbl(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
    },

    // corpus vocabulary size (exact distinct tokens; the HLL-sketch
    // path for 100 TB is approx_count_distinct — parity asserted in
    // PipelineSpec, not oracle-comparable across engines)
    "t_vocab" -> Q(
      """SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_vocab
         FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
               FROM documents WHERE len(trim(text)) > 0)""") {
      (s, dir) =>
        tbl(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(explode(split(trim(col("text")), "\\s+")).as("w"))
          .agg(count_distinct(col("w")).as("n_vocab"))
    },

    "t_fingerprint" -> Q(
      """SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
         FROM documents""") {
      (s, dir) =>
        tbl(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    },

    // per-doc top-3 TF-IDF terms (sklearn smooth-idf). tf/df/N are
    // integers so the score doubles are bitwise cross-engine and the
    // (score desc, term asc) rank is stable.
    "t_tfidf" -> Q(
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (SELECT tf.doc_id, tf.term,
             tf.tf * (ln((1.0 + n.n) / (1.0 + dft.df)) + 1.0) AS tfidf
           FROM tf JOIN dft USING (term) CROSS JOIN n),
         ranked AS (SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rnk, term, tfidf FROM scored)
         SELECT doc_id, rnk, term, round(tfidf, 6) AS tfidf FROM ranked WHERE rnk <= 3""") {
      (s, dir) =>
        r6(TextAnalysis.tfidfTopTerms(tbl(s, dir, "documents"), "doc_id", "text", 3))
    },

    // BM25 top-10 docs for the fixed query {join, hash, scan}. The
    // score is a FIXED-ORDER sum of per-term contributions over
    // integer tf/df/dl — bitwise identical on both engines, so the
    // global top-k (TakeOrdered, no full sort) is stable.
    "t_bm25" -> Q(
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term FROM documents),
         perdoc AS (SELECT doc_id, count(*) AS dl,
             sum(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS tf_join,
             sum(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS tf_hash,
             sum(CASE WHEN term = 'scan' THEN 1 ELSE 0 END) AS tf_scan
           FROM toks WHERE term <> '' GROUP BY 1),
         stats AS (SELECT avg(dl) AS avgdl, count(*) AS n,
             sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
             sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
             sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS df_scan
           FROM perdoc),
         scored AS (SELECT doc_id,
             ln(1.0 + (n - df_join + 0.5) / (df_join + 0.5)) * CAST(tf_join AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_join AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
           + ln(1.0 + (n - df_hash + 0.5) / (df_hash + 0.5)) * CAST(tf_hash AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_hash AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
           + ln(1.0 + (n - df_scan + 0.5) / (df_scan + 0.5)) * CAST(tf_scan AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_scan AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) AS score
           FROM perdoc CROSS JOIN stats)
         SELECT doc_id, round(score, 6) AS score FROM scored
         WHERE score > 0.0 ORDER BY score DESC, doc_id ASC LIMIT 10""") {
      (s, dir) =>
        r6(TextAnalysis.bm25TopDocs(tbl(s, dir, "documents"), "doc_id", "text",
          Seq("join", "hash", "scan"), 10))
    },

    // Gopher-style within-doc repetition signals: duplicate word-
    // bigram fraction + top-bigram share (all-integer inputs →
    // deterministic ratios)
    "t_repetition" -> Q(
      """WITH w AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
           FROM documents),
         bg AS (SELECT doc_id, ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i AS INTEGER) + 1] AS bg
                FROM w, unnest(generate_series(1, len(ws) - 1)) t(i)
                WHERE len(ws) >= 2),
         pb AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
         SELECT doc_id,
                round(CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS dup_bigram_frac,
                round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
         FROM pb GROUP BY 1""") {
      (s, dir) =>
        r6(TextAnalysis.repetitionSignals(tbl(s, dir, "documents"), "doc_id", "text"))
    },

    // cross-doc duplicated 32-char-span fraction (exact substring-
    // dedup signal); windows shuffle as portable md5-half hashes so
    // the oracle replays the identical pipeline
    "d_substring_dup" -> Q(
      s"""WITH cleaned AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS c FROM documents),
          wins AS (SELECT doc_id, md5(substring(c, CAST(i AS INTEGER), 32)) AS mh
                   FROM cleaned, unnest(generate_series(1, len(c) - 31)) t(i)
                   WHERE len(c) >= 32),
          hs AS (SELECT doc_id, ${hex12ToLongSql("mh")} AS h FROM wins),
          dfw AS (SELECT h, count(DISTINCT doc_id) AS nd FROM hs GROUP BY 1)
          SELECT doc_id,
                 round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
                       CAST(count(*) AS DOUBLE), 6) AS dup_span_frac
          FROM hs JOIN dfw USING (h) GROUP BY 1""") {
      (s, dir) =>
        r6(Dedup.duplicatedSpanRatio(tbl(s, dir, "documents"), "doc_id", "text", span = 32))
    },

    // CCNet-style trigram-LM cross-entropy quality score, model
    // trained on the corpus itself (alphabet³-bounded → broadcast).
    "t_ngram_lm" -> Q(
      """WITH cleaned AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS c FROM documents),
         tris AS (SELECT doc_id, substring(c, CAST(i AS INTEGER), 3) AS tri
                  FROM cleaned, unnest(generate_series(1, len(c) - 2)) AS t(i)
                  WHERE len(c) >= 3),
         c3 AS (SELECT tri, count(*) AS c3 FROM tris GROUP BY 1),
         model AS (SELECT tri, ln((c3 + 1.0) / (sum(c3) OVER (PARTITION BY substring(tri, 1, 2)) + 37.0)) AS logp FROM c3)
         SELECT doc_id, round(-avg(logp), 6) AS cross_entropy
         FROM tris JOIN model USING (tri) GROUP BY 1""") {
      (s, dir) =>
        // the kernel twin (zero corpus-sized shuffle); the algebra path
        // it is pinned against IS this oracle's replica
        r6(TextAnalysis.trigramCrossEntropyKernel(tbl(s, dir, "documents"), "doc_id", "text"))
    },

    // CCNet-style perplexity bucketing (Wenzek et al. 2020 §3): rank
    // every doc by the corpus-trained trigram-LM cross-entropy and cut
    // the corpus into equal head/middle/tail thirds. The Spark side
    // computes the exact global rank with a sharded distributed prefix
    // (score-range shards -> driver cumsum -> per-shard window), never
    // a single-partition global window; the oracle is the direct
    // serial row_number, so identical ranks prove the sharded form
    // exact. Buckets use exact integer division on both engines.
    "t_perplexity_buckets" -> Q(
      """WITH cleaned AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS c FROM documents),
         tris AS (SELECT doc_id, substring(c, CAST(i AS INTEGER), 3) AS tri
                  FROM cleaned, unnest(generate_series(1, len(c) - 2)) AS t(i)
                  WHERE len(c) >= 3),
         c3 AS (SELECT tri, count(*) AS c3 FROM tris GROUP BY 1),
         model AS (SELECT tri, ln((c3 + 1.0) / (sum(c3) OVER (PARTITION BY substring(tri, 1, 2)) + 37.0)) AS logp FROM c3),
         scores AS (SELECT doc_id, round(-avg(logp), 6) AS cross_entropy
                    FROM tris JOIN model USING (tri) GROUP BY 1),
         ranked AS (SELECT doc_id, cross_entropy,
                           row_number() OVER (ORDER BY cross_entropy, doc_id) AS rank,
                           count(*) OVER () AS n FROM scores)
         SELECT doc_id, cross_entropy, CAST(rank AS BIGINT) AS rank,
                CAST((3 * (rank - 1)) // n AS BIGINT) AS bucket,
                CASE WHEN (3 * (rank - 1)) // n = 0 THEN 'head'
                     WHEN (3 * (rank - 1)) // n = 2 THEN 'tail'
                     ELSE 'middle' END AS bucket_label
         FROM ranked""") {
      (s, dir) =>
        graft.operators.DataSelection.perplexityBuckets(
          tbl(s, dir, "documents"), "doc_id", "text")
    },

    // CCNet buckets PER LANGUAGE (Wenzek et al. 2020 run the split
    // within each language slice). rankByScore keys its sharded prefix
    // on (lang, score-shard) — bounded counts, no per-language serial
    // window; the oracle is the direct PARTITION BY lang row_number.
    "t_perplexity_buckets_lang" -> Q(
      s"""WITH lang AS (SELECT doc_id,
            CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
                 WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                 WHEN de >= fr AND de >= es THEN 'de'
                 WHEN fr >= es THEN 'fr'
                 ELSE 'es' END AS lang
          FROM (SELECT doc_id, text,
                  len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("en")}')) AS en,
                  len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("de")}')) AS de,
                  len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("fr")}')) AS fr,
                  len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("es")}')) AS es
                FROM documents)),
         cleaned AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS c FROM documents),
         tris AS (SELECT doc_id, substring(c, CAST(i AS INTEGER), 3) AS tri
                  FROM cleaned, unnest(generate_series(1, len(c) - 2)) AS t(i)
                  WHERE len(c) >= 3),
         c3 AS (SELECT tri, count(*) AS c3 FROM tris GROUP BY 1),
         model AS (SELECT tri, ln((c3 + 1.0) / (sum(c3) OVER (PARTITION BY substring(tri, 1, 2)) + 37.0)) AS logp FROM c3),
         scores AS (SELECT doc_id, round(-avg(logp), 6) AS cross_entropy
                    FROM tris JOIN model USING (tri) GROUP BY 1),
         ranked AS (SELECT s.doc_id, l.lang, s.cross_entropy,
                           row_number() OVER (PARTITION BY l.lang
                             ORDER BY s.cross_entropy, s.doc_id) AS rank,
                           count(*) OVER (PARTITION BY l.lang) AS n
                    FROM scores s JOIN lang l USING (doc_id))
         SELECT doc_id, lang, cross_entropy, CAST(rank AS BIGINT) AS rank,
                CAST((3 * (rank - 1)) // n AS BIGINT) AS bucket,
                CASE WHEN (3 * (rank - 1)) // n = 0 THEN 'head'
                     WHEN (3 * (rank - 1)) // n = 2 THEN 'tail'
                     ELSE 'middle' END AS bucket_label
         FROM ranked""") {
      (s, dir) =>
        graft.operators.DataSelection.perplexityBuckets(
          tbl(s, dir, "documents")
            .withColumn("lang", TextAnalysis.langId(col("text"))),
          "doc_id", "text", byCols = Seq("lang"))
    },

    // PII detection + redaction. The synthetic corpus carries no real
    // PII, so the query injects deterministic doc_id-derived PII
    // identically on both engines, then counts matches on the raw
    // augmented text and fingerprints the redacted text — exercising
    // every pattern for real. Patterns are Java-regex ∩ RE2 syntax and
    // embedded verbatim from TextAnalysis.piiPatterns.
    "t_pii" -> Q({
      val counts = TextAnalysis.piiPatterns.map { case (name, pat, _) =>
        s"CAST(len(regexp_extract_all(aug, '$pat')) AS BIGINT) AS n_$name"
      }.mkString(", ")
      val redacted = TextAnalysis.piiPatterns.foldLeft("aug") {
        case (c, (_, pat, repl)) => s"regexp_replace($c, '$pat', '$repl', 'g')"
      }
      s"""WITH a AS (SELECT doc_id,
              text || ' contact u' || doc_id::VARCHAR ||
              '@mail.example.com from 10.' || (doc_id % 256)::VARCHAR ||
              '.0.7 call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
              '-0199 ssn 078-05-1120' AS aug
            FROM documents)
          SELECT doc_id, $counts, md5($redacted) AS redacted_fp FROM a"""
    }) { (s, dir) =>
      val aug = concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0.7 call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-0199 ssn 078-05-1120"))
      val docs = tbl(s, dir, "documents").withColumn("aug", aug)
      docs.select(
        col("doc_id") +: TextAnalysis.piiCounts(col("aug")) :+
          md5(TextAnalysis.piiRedact(col("aug")).cast("binary")).as("redacted_fp"): _*)
    },

    // benchmark decontamination: per training doc, the fraction of its
    // distinct word 5-grams that appear anywhere in the eval corpus
    // (docs with doc_id % 10 = 0 stand in for the benchmark set). The
    // eval n-gram set broadcasts — at 100 TB the benchmark suite is
    // tiny next to the training corpus, so this is one map-side join
    // pass over the training shingles. Integer-count ratios →
    // deterministic doubles on both engines.
    "d_decontaminate" -> Q(
      """WITH w AS MATERIALIZED (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents
           WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 5),
         g AS MATERIALIZED (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 3),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS sh
           FROM w),
         eg AS (SELECT DISTINCT sh FROM g WHERE doc_id % 10 = 0),
         sc AS (SELECT g.doc_id,
                  sum(CASE WHEN eg.sh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                    / count(*) AS cf
                FROM g LEFT JOIN eg USING (sh)
                WHERE g.doc_id % 10 <> 0 GROUP BY 1)
         SELECT d.doc_id, round(coalesce(sc.cf, 0.0), 6) AS contamination_frac,
                coalesce(sc.cf, 0.0) >= 0.5 AS contaminated
         FROM documents d LEFT JOIN sc USING (doc_id)
         WHERE d.doc_id % 10 <> 0""") {
      (s, dir) =>
        val docs = tbl(s, dir, "documents")
        r6(Dedup.decontaminationScores(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 5, threshold = 0.5))
    },

    // The composed end-to-end curation pipeline (FineWeb-shaped):
    // URL dedup -> Gopher quality -> PII redact -> corpus-LM
    // perplexity tail-drop -> temperature source mixing. ONE oracle
    // chains every stage's CTEs, so drift anywhere in the five
    // operators (or their composition order) mismatches. The plan is
    // the scale story in miniature: two bounded-key window shuffles
    // (canonical URL, score shard), everything else scan-width or
    // broadcast.
    "pipe_curate_full" -> Q({
      val urlChain = TextAnalysis.urlCanonSteps.foldLeft("c") {
        case (c, (pat, repl)) =>
          s"regexp_replace($c, '$pat', '${repl.replace("$", "\\")}', 'g')"
      }
      val redact = TextAnalysis.piiPatterns.foldLeft("text") {
        case (c, (_, pat, repl)) => s"regexp_replace($c, '$pat', '$repl', 'g')"
      }
      val tokOf = (c: String) =>
        s"(CASE WHEN len(trim($c)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim($c), '\\s+')) END)"
      s"""WITH urls AS (SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN 'http://example.com/a/item?id=' || (doc_id // 4)::VARCHAR || '&ref=home'
              WHEN 1 THEN 'HTTP://Example.COM/a/item?id=' || (doc_id // 4)::VARCHAR || '&ref=home'
              WHEN 2 THEN 'http://www.example.com:80/a/item?id=' || (doc_id // 4)::VARCHAR || '&ref=home'
              ELSE 'http://example.com/a/item?id=' || (doc_id // 4)::VARCHAR || '&ref=home&utm_source=news&utm_campaign=x#frag'
            END AS url FROM documents),
          cu0 AS (SELECT doc_id,
            lower(regexp_extract(url, '^([^/?#]*//[^/?#]*)', 1)) ||
              regexp_replace(url, '^[^/?#]*//[^/?#]*', '', 'g') AS c FROM urls),
          cu1 AS (SELECT doc_id, $urlChain AS cu FROM cu0),
          ukeep AS (SELECT doc_id FROM (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY cu) AS k FROM cu1) WHERE doc_id = k),
          d1 AS (SELECT d.doc_id, d.source, d.text FROM documents d JOIN ukeep USING (doc_id)),
          gm AS (SELECT doc_id, ${tokOf("text")} AS toks,
                   length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE AS chars,
                   len(regexp_extract_all(text, '(^|\\s)[^\\s]*[a-z][^\\s]*')) AS alpha,
                   len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("en")}')) AS stop
                 FROM d1),
          gk AS (SELECT doc_id FROM gm
                 WHERE toks >= 10 AND toks <= 100000
                   AND chars / greatest(toks, 1) >= 3.0 AND chars / greatest(toks, 1) <= 10.0
                   AND alpha::DOUBLE / greatest(toks, 1) >= 0.8 AND stop >= 2),
          d2 AS (SELECT d1.* FROM d1 JOIN gk USING (doc_id)),
          d3 AS MATERIALIZED (SELECT doc_id, source, $redact AS ct FROM d2),
          cleaned AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(ct), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS c FROM d3),
          tris AS (SELECT doc_id, substring(c, CAST(i AS INTEGER), 3) AS tri
                   FROM cleaned, unnest(generate_series(1, len(c) - 2)) AS t(i)
                   WHERE len(c) >= 3),
          tc3 AS (SELECT tri, count(*) AS c3 FROM tris GROUP BY 1),
          model AS (SELECT tri, ln((c3 + 1.0) / (sum(c3) OVER (PARTITION BY substring(tri, 1, 2)) + 37.0)) AS logp FROM tc3),
          scores AS (SELECT doc_id, round(-avg(logp), 6) AS cross_entropy
                     FROM tris JOIN model USING (tri) GROUP BY 1),
          ranked AS (SELECT doc_id, cross_entropy,
                            row_number() OVER (ORDER BY cross_entropy, doc_id) AS rank,
                            count(*) OVER () AS n FROM scores),
          lm AS (SELECT doc_id, cross_entropy,
                   CASE WHEN (3 * (rank - 1)) // n = 0 THEN 'head'
                        WHEN (3 * (rank - 1)) // n = 2 THEN 'tail'
                        ELSE 'middle' END AS bucket_label FROM ranked),
          d4 AS (SELECT d3.doc_id, d3.source, d3.ct, lm.cross_entropy, lm.bucket_label
                 FROM d3 JOIN lm USING (doc_id) WHERE lm.bucket_label <> 'tail'),
          tt AS (SELECT source, sum(${tokOf("ct")})::BIGINT AS tk FROM d4 GROUP BY 1),
          dn AS (SELECT list_reduce(list(sqrt(tk::DOUBLE) ORDER BY source), (a, b) -> a + b) AS dn FROM tt),
          rr AS (SELECT source, round(least(1.0, 10000.0 * (sqrt(tk::DOUBLE) / dn) / tk::DOUBLE), 6) AS rate
                 FROM tt CROSS JOIN dn),
          hh AS (SELECT d4.doc_id, d4.source, d4.ct, d4.cross_entropy, d4.bucket_label, rr.rate,
                   md5(d4.source || ':' || d4.doc_id::VARCHAR) AS m
                 FROM d4 JOIN rr USING (source)),
          uu AS (SELECT doc_id, source, ct, cross_entropy, bucket_label, rate,
                   (${hex12ToLongSql("m")})::DOUBLE / 281474976710656.0 AS u FROM hh)
          SELECT doc_id, source, cross_entropy, bucket_label, rate,
                 md5(ct) AS text_fp
          FROM uu WHERE u < rate"""
    }) { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val g = (col("doc_id") / 4).cast("long")
      val v = pmod(col("doc_id"), lit(4))
      val url = when(v === 0,
          concat(lit("http://example.com/a/item?id="), g, lit("&ref=home")))
        .when(v === 1,
          concat(lit("HTTP://Example.COM/a/item?id="), g, lit("&ref=home")))
        .when(v === 2,
          concat(lit("http://www.example.com:80/a/item?id="), g, lit("&ref=home")))
        .otherwise(concat(lit("http://example.com/a/item?id="), g,
          lit("&ref=home&utm_source=news&utm_campaign=x#frag")))
      val afterUrl = docs.join(
        Dedup.urlDedup(docs.withColumn("url", url), "doc_id", "url")
          .filter(col("keep")).select("doc_id"),
        "doc_id")
      val afterGopher = afterUrl.join(
        TextAnalysis.gopherRules(afterUrl, "doc_id", "text")
          .filter(col("keep")).select("doc_id"),
        "doc_id")
      val redacted = afterGopher
        .withColumn("ct", TextAnalysis.piiRedact(col("text")))
      val keptLm = graft.operators.DataSelection
        .perplexityBuckets(redacted, "doc_id", "ct")
        .filter(col("bucket_label") =!= "tail")
        .select(col("doc_id"), col("cross_entropy"), col("bucket_label"))
      val afterLm = redacted.join(keptLm, "doc_id")
      graft.operators.Sampling
        .temperatureMixture(afterLm, "doc_id", "source", "ct", 10000L)
        .select(col("doc_id"), col("source"), col("cross_entropy"),
          col("bucket_label"), col("rate"),
          md5(col("ct").cast("binary")).as("text_fp"))
    },

    // The reverse direction: per-eval-doc leakage census (is THIS
    // benchmark item compromised). Same eval/train split as
    // d_decontaminate; the eval n-gram set broadcasts and the training
    // corpus is scanned once map-side.
    "d_decontaminate_report" -> Q(
      """WITH w AS MATERIALIZED (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents
           WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 5),
         g AS MATERIALIZED (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 3),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS sh
           FROM w),
         tg AS (SELECT DISTINCT sh FROM g WHERE doc_id % 10 <> 0),
         pd AS (SELECT g.doc_id, count(*)::BIGINT AS n_grams,
                       sum(CASE WHEN tg.sh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_leaked
                FROM g LEFT JOIN tg USING (sh)
                WHERE g.doc_id % 10 = 0 GROUP BY 1)
         SELECT d.doc_id,
                coalesce(pd.n_grams, 0)::BIGINT AS n_grams,
                coalesce(pd.n_leaked, 0)::BIGINT AS n_leaked,
                round(coalesce(pd.n_leaked::DOUBLE / pd.n_grams::DOUBLE, 0.0), 6) AS leaked_frac
         FROM documents d LEFT JOIN pd USING (doc_id)
         WHERE d.doc_id % 10 = 0""") {
      (s, dir) =>
        val docs = tbl(s, dir, "documents")
        r6(Dedup.decontaminationReport(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 5))
    },

    // The 100-TB decontamination shape: Bloom-filter prefilter
    // (map-side bit probe, no broadcast hash set) + exact verify join
    // on the survivors only. Bit-identical to d_decontaminate by
    // construction (no false negatives; verify kills false positives)
    // — the oracle IS the exact computation, so a pass proves the
    // two-phase path loses nothing.
    "d_bloom_decontaminate" -> Q(
      """WITH w AS MATERIALIZED (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents
           WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 5),
         g AS MATERIALIZED (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 3),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS sh
           FROM w),
         eg AS (SELECT DISTINCT sh FROM g WHERE doc_id % 10 = 0),
         sc AS (SELECT g.doc_id,
                  sum(CASE WHEN eg.sh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                    / count(*) AS cf
                FROM g LEFT JOIN eg USING (sh)
                WHERE g.doc_id % 10 <> 0 GROUP BY 1)
         SELECT d.doc_id, round(coalesce(sc.cf, 0.0), 6) AS contamination_frac,
                coalesce(sc.cf, 0.0) >= 0.5 AS contaminated
         FROM documents d LEFT JOIN sc USING (doc_id)
         WHERE d.doc_id % 10 <> 0""") {
      (s, dir) =>
        val docs = tbl(s, dir, "documents")
        r6(Dedup.bloomDecontaminationScores(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 5, threshold = 0.5))
    },

    // URL-level dedup (the CommonCrawl first-pass key). The synthetic
    // corpus has no URL column, so the query injects deterministic
    // doc_id-derived URL VARIANTS (case-mangled authority, www + :80,
    // tracking params + fragment) that all canonicalize to one form
    // per group of 4 — exercising every canonicalization step for
    // real. Patterns are Java-regex ∩ RE2 and embedded verbatim from
    // TextAnalysis.urlCanonSteps (backrefs re-spelled \N).
    "d_url_dedup" -> Q({
      val chain = TextAnalysis.urlCanonSteps.foldLeft("c") {
        case (c, (pat, repl)) =>
          s"regexp_replace($c, '$pat', '${repl.replace("$", "\\")}', 'g')"
      }
      s"""WITH u AS (SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN 'http://example.com/a/item?id=' || (doc_id // 4)::VARCHAR || '&ref=home'
              WHEN 1 THEN 'HTTP://Example.COM/a/item?id=' || (doc_id // 4)::VARCHAR || '&ref=home'
              WHEN 2 THEN 'http://www.example.com:80/a/item?id=' || (doc_id // 4)::VARCHAR || '&ref=home'
              ELSE 'http://example.com/a/item?id=' || (doc_id // 4)::VARCHAR || '&ref=home&utm_source=news&utm_campaign=x#frag'
            END AS url FROM documents),
          c0 AS (SELECT doc_id,
            lower(regexp_extract(url, '^([^/?#]*//[^/?#]*)', 1)) ||
              regexp_replace(url, '^[^/?#]*//[^/?#]*', '', 'g') AS c FROM u),
          c1 AS (SELECT doc_id, $chain AS cu FROM c0)
          SELECT doc_id, cu AS canonical_url,
                 min(doc_id) OVER (PARTITION BY cu) AS keep_id,
                 count(*) OVER (PARTITION BY cu) AS n_copies,
                 doc_id = min(doc_id) OVER (PARTITION BY cu) AS keep
          FROM c1"""
    }) { (s, dir) =>
      val g = (col("doc_id") / 4).cast("long")
      val v = pmod(col("doc_id"), lit(4))
      val url = when(v === 0,
          concat(lit("http://example.com/a/item?id="), g, lit("&ref=home")))
        .when(v === 1,
          concat(lit("HTTP://Example.COM/a/item?id="), g, lit("&ref=home")))
        .when(v === 2,
          concat(lit("http://www.example.com:80/a/item?id="), g, lit("&ref=home")))
        .otherwise(concat(lit("http://example.com/a/item?id="), g,
          lit("&ref=home&utm_source=news&utm_campaign=x#frag")))
      Dedup.urlDedup(
        tbl(s, dir, "documents").withColumn("url", url), "doc_id", "url")
    },

    // Gopher-rule document filter: per-rule booleans + overall keep
    // (token band, mean-word-length band, alphabetic-token fraction,
    // minimum stopword hits) — all regexp/length column algebra
    "t_gopher_rules" -> Q(
      s"""WITH m AS (SELECT doc_id,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
             length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE AS chars,
             len(regexp_extract_all(text, '(^|\\s)[^\\s]*[a-z][^\\s]*')) AS alpha,
             len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("en")}')) AS stop
           FROM documents)
          SELECT doc_id,
                 toks >= 10 AND toks <= 100000 AS r_tokens,
                 chars / greatest(toks, 1) >= 3.0 AND chars / greatest(toks, 1) <= 10.0 AS r_word_len,
                 alpha::DOUBLE / greatest(toks, 1) >= 0.8 AS r_alpha,
                 stop >= 2 AS r_stopwords,
                 (toks >= 10 AND toks <= 100000)
                   AND (chars / greatest(toks, 1) >= 3.0 AND chars / greatest(toks, 1) <= 10.0)
                   AND (alpha::DOUBLE / greatest(toks, 1) >= 0.8) AND (stop >= 2) AS keep
          FROM m""") {
      (s, dir) =>
        TextAnalysis.gopherRules(tbl(s, dir, "documents"), "doc_id", "text")
    },

    // URL / link-density signals. Like t_pii, the corpus has no URLs,
    // so deterministic doc_id-derived links are injected identically
    // on both engines (every doc gets one; doc_id % 3 == 0 docs get a
    // second on a shared CDN host) — the signals then separate
    // link-heavy docs for real.
    "t_urls" -> Q(
      s"""WITH a AS (SELECT doc_id,
              text || ' see https://site' || (doc_id % 50)::VARCHAR ||
              '.example.com/p/' || doc_id::VARCHAR ||
              CASE WHEN doc_id % 3 = 0 THEN ' and http://cdn.example.net/x' ELSE '' END AS aug
            FROM documents)
          SELECT doc_id,
            CAST(len(regexp_extract_all(aug, '${TextAnalysis.urlPattern}')) AS BIGINT) AS n_urls,
            CAST(len(list_distinct(regexp_extract_all(aug, '${TextAnalysis.urlPattern}', 1))) AS BIGINT) AS n_domains,
            round(list_sum(list_transform(regexp_extract_all(aug, '${TextAnalysis.urlPattern}', 0),
                    u -> length(u)))::DOUBLE / greatest(length(aug), 1), 6) AS url_char_frac
          FROM a""") {
      (s, dir) =>
        val aug = concat(col("text"), lit(" see https://site"),
          (col("doc_id") % 50).cast("string"), lit(".example.com/p/"),
          col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0, " and http://cdn.example.net/x").otherwise(""))
        r6(tbl(s, dir, "documents").withColumn("aug", aug)
          .select(col("doc_id") +: TextAnalysis.urlSignals(col("aug")): _*))
    },

    // one-row corpus summary: doc count, token volume, vocabulary,
    // type-token ratio, mean doc length — the quick census a pipeline
    // prints before/after each filter stage. One token explode + two
    // tiny aggregates; integer inputs → deterministic ratios.
    "t_corpus_stats" -> Q(
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
                       FROM documents),
         t AS (SELECT count(*) AS n_tokens, count(DISTINCT term) AS n_vocab
               FROM toks WHERE term <> ''),
         d AS (SELECT count(*) AS n_docs FROM documents)
         SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(n_vocab AS BIGINT) AS n_vocab,
                round(n_vocab::DOUBLE / n_tokens, 6) AS type_token_ratio,
                round(n_tokens::DOUBLE / n_docs, 6) AS mean_doc_tokens
         FROM t CROSS JOIN d""") {
      (s, dir) =>
        val docs = tbl(s, dir, "documents")
        val t = TextAnalysis.tokens(docs, "doc_id", "text")
          .agg(count(lit(1)).as("n_tokens"), count_distinct(col("term")).as("n_vocab"))
        val d = docs.agg(count(lit(1)).as("n_docs"))
        r6(t.crossJoin(d).select(col("n_docs"), col("n_tokens"), col("n_vocab"),
          rd6(col("n_vocab").cast("double") / col("n_tokens")).as("type_token_ratio"),
          rd6(col("n_tokens").cast("double") / col("n_docs")).as("mean_doc_tokens")))
    },

    // REAL BPE (TextAnalysis.bpeEncode): tokenization state as a
    // U+001F-delimited string — each merge is ONE literal left-to-right
    // replace, a codegen'd builtin with identical semantics in DuckDB.
    // Fixed 12-merge English list applied in rank order; per-doc token
    // count falls out of the separator count.
    "t_bpe_encode" -> Q({
      val stages = PipelineQueries.bpeMerges.zipWithIndex.map { case ((a, b), i) =>
        s"""s${i + 1} AS MATERIALIZED (SELECT doc_id,
              replace(s, chr(31)||'$a'||chr(31)||'$b', chr(31)||'$a$b') AS s
            FROM s$i)"""
      }
      s"""WITH s0 AS MATERIALIZED (SELECT doc_id,
               regexp_replace(text, '([\\s\\S])', chr(31) || '\\1', 'g') AS s
             FROM documents),
          ${stages.mkString(", ")}
          SELECT doc_id,
                 (length(s) - length(replace(s, chr(31), '')))::BIGINT AS n_tokens
          FROM s${PipelineQueries.bpeMerges.length}"""
    }) { (s, dir) =>
      TextAnalysis.bpeEncode(tbl(s, dir, "documents"), "text", PipelineQueries.bpeMerges)
        .select(col("doc_id"), col("bpe_n_tokens").as("n_tokens"))
    },

    // Temperature-balanced source mixing (alpha = 1/2 -> sqrt, which
    // IEEE requires correctly rounded, so the rates are bit-identical
    // cross-engine where pow is not). Small sources upweight toward
    // the token budget; the keep draw is the portable hash filter.
    "d_temperature_mixture" -> Q(
      s"""WITH t AS (SELECT source,
               sum(CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT AS tk
             FROM documents GROUP BY 1),
          d AS (SELECT list_reduce(list(sqrt(tk::DOUBLE) ORDER BY source),
                                   (a, b) -> a + b) AS dn FROM t),
          r AS (SELECT source,
                  round(least(1.0, 20000.0 * (sqrt(tk::DOUBLE) / dn) / tk::DOUBLE), 6) AS rate
                FROM t CROSS JOIN d),
          h AS (SELECT doc_id, dd.source, rate,
                  md5(dd.source || ':' || doc_id::VARCHAR) AS m
                FROM documents dd JOIN r USING (source)),
          u AS (SELECT doc_id, source, rate,
                  (${hex12ToLongSql("m")})::DOUBLE / 281474976710656.0 AS u
                FROM h)
          SELECT doc_id, source, rate FROM u WHERE u < rate""") {
      (s, dir) =>
        graft.operators.Sampling.temperatureMixture(
          tbl(s, dir, "documents"), "doc_id", "source", "text", 20000L)
          .select("doc_id", "source", "rate")
    },

    // REAL BPE training (TextAnalysis.bpeTrain): corpus touched once
    // (distinct-word freq), then 6 vocab-bounded pair-count rounds with
    // (count desc, a, b) tie-breaks; the oracle unrolls the SAME six
    // greedy rounds over the word-frequency frame.
    "t_bpe_train" -> Q({
      val out = (1 to PipelineQueries.bpeTrainRounds)
        .map(k => s"SELECT $k AS rnk, a, b FROM m$k").mkString(" UNION ALL ")
      s"""WITH ${PipelineQueries.bpeTrainCtes(PipelineQueries.bpeTrainRounds)}
          SELECT rnk::BIGINT AS rnk, a, b FROM ($out)"""
    }) { (s, dir) =>
      val merges = TextAnalysis.bpeTrain(tbl(s, dir, "documents"), "text",
        PipelineQueries.bpeTrainRounds)
      val sp = s
      import sp.implicits._
      merges.zipWithIndex.map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("rnk", "a", "b")
    },

    // Composed tokenizer pipeline: train the merges, then encode the
    // SAME corpus with them — the oracle chains the training rounds'
    // m_k CTEs straight into the encode replace stages (correlated
    // CROSS JOINs), so a drift anywhere in either surface mismatches.
    "t_bpe_pipeline" -> Q({
      val k = PipelineQueries.bpeTrainRounds
      val encStages = (1 to k).map { r =>
        s"""e$r AS MATERIALIZED (SELECT doc_id,
              replace(s, chr(31)||m$r.a||chr(31)||m$r.b, chr(31)||m$r.a||m$r.b) AS s
            FROM e${r - 1} CROSS JOIN m$r)"""
      }
      s"""WITH ${PipelineQueries.bpeTrainCtes(k)},
          e0 AS MATERIALIZED (SELECT doc_id,
               regexp_replace(text, '([\\s\\S])', chr(31) || '\\1', 'g') AS s
             FROM documents),
          ${encStages.mkString(", ")}
          SELECT doc_id,
                 (length(s) - length(replace(s, chr(31), '')))::BIGINT AS n_tokens
          FROM e$k"""
    }) { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(docs, "text", PipelineQueries.bpeTrainRounds)
      TextAnalysis.bpeEncode(docs, "text", merges)
        .select(col("doc_id"), col("bpe_n_tokens").as("n_tokens"))
    },

    // data-mixture resampling: deterministic hash-draw per doc,
    // per-source target rates (full / half / quarter / tenth by source
    // band) — the corpus-mixing primitive; a pure filter, zero
    // shuffle, bit-reproducible on both engines
    "d_mixture_sample" -> Q(
      s"""WITH h AS (SELECT doc_id, source,
                            md5(source || ':' || doc_id::VARCHAR) AS m,
                            CAST(substr(source, 4) AS INT) // 5 AS band
                     FROM documents),
          u AS (SELECT doc_id, source, band,
                       (${hex12ToLongSql("m")})::DOUBLE / 281474976710656.0 AS u
                FROM h)
          SELECT doc_id, source FROM u
          WHERE u < CASE band WHEN 0 THEN 1.0 WHEN 1 THEN 0.5
                              WHEN 2 THEN 0.25 ELSE 0.1 END""") {
      (s, dir) =>
        val docs = tbl(s, dir, "documents")
        val band = floor(substring(col("source"), 4, 10).cast("int") / lit(5)).cast("int")
        val weight = when(band === 0, 1.0).when(band === 1, 0.5)
          .when(band === 2, 0.25).otherwise(0.1)
        graft.operators.Sampling.mixtureSample(docs,
          concat(col("source"), lit(":"), col("doc_id").cast("string")), weight)
          .select("doc_id", "source")
    },

    // exact-size per-stratum sample: the k smallest-md5(id) docs per
    // source — deterministic rank, guaranteed count (mixture sampling
    // only hits its rate in expectation); one shuffle on the stratum
    "d_stratified_sample" -> Q(
      """WITH r AS (SELECT doc_id, source,
                           row_number() OVER (PARTITION BY source
                             ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
                    FROM documents)
         SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 20""") {
      (s, dir) =>
        graft.operators.Sampling.stratifiedSample(
          tbl(s, dir, "documents"), Seq("source"), col("doc_id"), k = 20, rankCol = "rk")
          .select("doc_id", "source", "rk")
    },

    // C4-style line-level dedup with reassembly: first global
    // occurrence of each distinct line survives, docs are rebuilt from
    // surviving lines. The corpus is newline-free, so the "line" unit
    // here is a 10-word chunk (production: split(text, '\n+')).
    // Both engines decide keeps by row_number-1 over the 48-bit
    // md5-half hash partition in (doc, pos) order.
    "d_line_dedup" -> Q(
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
                     FROM documents),
          l0 AS (SELECT doc_id, i AS p,
                        array_to_string(ws[(10*i+1):(10*i+10)], ' ') AS line
                 FROM w, unnest(generate_series(0, (len(ws)-1)//10)) AS t(i)),
          l AS (SELECT doc_id, p, line, md5(line) AS m FROM l0 WHERE len(line) > 0),
          k AS (SELECT doc_id, p, line,
                       CASE WHEN row_number() OVER (
                              PARTITION BY ${hex12ToLongSql("m")}
                              ORDER BY doc_id, p) = 1
                            THEN 1 ELSE 0 END AS keep
                FROM l)
          SELECT doc_id,
                 coalesce(string_agg(CASE WHEN keep = 1 THEN line END, ' ' ORDER BY p), '') AS clean_text,
                 count(*) AS n_lines, sum(keep)::BIGINT AS n_kept
          FROM k GROUP BY 1 HAVING sum(keep) > 0""") { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val ws = filter(split(trim(col("text")), "\\s+"), w => w =!= "")
      val lines = transform(
        sequence(lit(0), ((size(ws) - lit(1)) / lit(10)).cast("int")),
        i => array_join(slice(ws, i * lit(10) + lit(1), lit(10)), " "))
      graft.operators.Dedup.lineDedup(docs, "doc_id", "text", lines, sep = " ")
    },

    // within-document repeated-line removal; the synthetic corpus is
    // newline-free and its ~30-word docs draw from a small vocabulary,
    // so the "line" unit here is the single word — real repeats to
    // remove in nearly every doc (production: split(text, '\n+')).
    "d_intradoc_dedup" -> Q(
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
                     FROM documents),
          l AS (SELECT doc_id, i AS p, ws[CAST(i + 1 AS INTEGER)] AS line, md5(ws[CAST(i + 1 AS INTEGER)]) AS m
                FROM w, unnest(generate_series(0, len(ws) - 1)) AS t(i)
                WHERE len(ws[CAST(i + 1 AS INTEGER)]) > 0),
          k AS (SELECT doc_id, p, line,
                       CASE WHEN p = min(p) OVER (
                              PARTITION BY doc_id, ${hex12ToLongSql("m")})
                            THEN 1 ELSE 0 END AS keep
                FROM l)
          SELECT doc_id,
                 string_agg(CASE WHEN keep = 1 THEN line END, ' ' ORDER BY p) AS clean_text,
                 count(*) AS n_lines, sum(keep)::BIGINT AS n_kept
          FROM k GROUP BY 1""") { (s, dir) =>
      graft.operators.Dedup.intraDocLineDedup(tbl(s, dir, "documents"),
        "doc_id", "text", split(trim(col("text")), "\\s+"), sep = " ")
    },

    // DSIR-style target-domain importance resampling (Xie et al. 2023):
    // char-trigram LMs for the target slice (lang='en') and the raw
    // corpus trained in one conditional aggregation; per-doc
    // length-normalized log importance ratio; deterministic hash draw
    // with probability min(1, exp(tau·ratio)). The draw compares the
    // exact 48-bit dyadic u against the 6-dp-rounded weight, so the
    // keep bit is stable across engines.
    "d_dsir_sample" -> Q(
      s"""WITH cleaned AS (SELECT doc_id, lang = 'en' AS tgt,
                 trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS c
               FROM documents),
          tris AS (SELECT doc_id, tgt, substring(c, CAST(i AS INTEGER), 3) AS tri
                   FROM cleaned, unnest(generate_series(1, len(c) - 2)) AS t(i)
                   WHERE len(c) >= 3),
          cnt AS (SELECT tri, count(*) AS cr,
                         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
                  FROM tris GROUP BY 1),
          model AS (SELECT tri,
                 ln((ct + 1.0) / (sum(ct) OVER (PARTITION BY substring(tri, 1, 2)) + 37.0))
               - ln((cr + 1.0) / (sum(cr) OVER (PARTITION BY substring(tri, 1, 2)) + 37.0)) AS dlogp
              FROM cnt),
          lr AS (SELECT doc_id, avg(dlogp) AS log_ratio
                 FROM tris JOIN model USING (tri) GROUP BY 1),
          wts AS (SELECT doc_id, round(log_ratio, 6) AS log_ratio,
                         round(least(1.0, exp(log_ratio * 50.0)), 6) AS weight,
                         md5(doc_id::VARCHAR) AS m
                  FROM lr)
          SELECT doc_id, log_ratio, weight,
                 ${hex12ToLongSql("m")}::DOUBLE / 281474976710656.0 < weight AS keep
          FROM wts""") { (s, dir) =>
      r6(graft.operators.DataSelection.dsirScores(
        tbl(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", tau = 50.0))
    },

    // model-based quality filtering: ridge-fit the linear scorer that
    // distills the Gopher rule decision (one moment-aggregate pass →
    // driver Cholesky; oracle re-derives the identical 5×5 solve in
    // SQL), then score every doc with the coefficients inlined.
    // keep thresholds the 6-dp-rounded score so the bit is stable.
    "t_quality_model" -> Q(
      s"""WITH f AS (SELECT doc_id,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
             length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE AS chars,
             len(regexp_extract_all(text, '(^|\\s)[^\\s]*[a-z][^\\s]*')) AS alpha,
             len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("en")}')) AS stop
           FROM documents),
          x AS (SELECT doc_id,
                  ln(1.0 + toks) AS x1,
                  chars / greatest(toks, 1) AS x2,
                  stop::DOUBLE / greatest(toks, 1) AS x3,
                  alpha::DOUBLE / greatest(toks, 1) AS x4,
                  CASE WHEN toks >= 10 AND toks <= 100000
                        AND chars / greatest(toks, 1) >= 3.0
                        AND chars / greatest(toks, 1) <= 10.0
                        AND alpha::DOUBLE / greatest(toks, 1) >= 0.8
                        AND stop >= 2 THEN 1.0 ELSE 0.0 END AS label
                FROM f),
          mom AS (SELECT ${olsMomentsSql(Seq("1.0", "x1", "x2", "x3", "x4"), "label", ridge = 0.001)}
                  FROM x),
          ${cholSolveSql(5, "mom")}
          SELECT doc_id, label::BIGINT AS label,
                 round(a_0 + a_1 * x1 + a_2 * x2 + a_3 * x3 + a_4 * x4, 6) AS score,
                 round(a_0 + a_1 * x1 + a_2 * x2 + a_3 * x3 + a_4 * x4, 6) >= 0.5 AS keep
          FROM x CROSS JOIN ${cholSolveLast(5)}""") { (s, dir) =>
      graft.operators.DataSelection.qualityClassifier(
        tbl(s, dir, "documents"), "doc_id", "text")
    },

    // sequence-packing manifest (concat-and-chunk layout for LM
    // training): global start offset per doc (one separator after
    // each) and the 128-token windows its tokens touch. Spark computes
    // the global prefix sum via sharded offsets (no single-partition
    // window); the oracle is the direct global cumsum — identical
    // integers prove the distributed prefix sum exact.
    "pipe_pack_manifest" -> Q(
      """WITH t AS (SELECT doc_id,
              (CASE WHEN len(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n
            FROM documents),
          c AS (SELECT doc_id, n,
                       (sum(n + 1) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - (n + 1))::BIGINT AS s
                FROM t)
          SELECT doc_id, n AS n_tokens, s AS start_offset,
                 (s // 128)::BIGINT AS bin_first,
                 ((s + greatest(n, 1) - 1) // 128)::BIGINT AS bin_last,
                 ((s + greatest(n, 1) - 1) // 128 - s // 128 + 1)::BIGINT AS n_bins
          FROM c""") { (s, dir) =>
      graft.operators.Packing.packManifest(tbl(s, dir, "documents"),
        "doc_id", "text", ctxLen = 128)
    },

    // Composed tokenize-and-pack: the packing manifest laid out in
    // REAL BPE tokens (the fixed 12-merge table of t_bpe_encode)
    // instead of whitespace tokens — tokenizer and layout drift are
    // both caught because the oracle chains the encode replace stages
    // straight into the packing cumsum.
    "pipe_pack_bpe" -> Q({
      val stages = PipelineQueries.bpeMerges.zipWithIndex.map { case ((a, b), i) =>
        s"""s${i + 1} AS MATERIALIZED (SELECT doc_id,
              replace(s, chr(31)||'$a'||chr(31)||'$b', chr(31)||'$a$b') AS s
            FROM s$i)"""
      }
      s"""WITH s0 AS MATERIALIZED (SELECT doc_id,
               regexp_replace(text, '([\\s\\S])', chr(31) || '\\1', 'g') AS s
             FROM documents),
          ${stages.mkString(", ")},
          t AS (SELECT doc_id,
                  (length(s) - length(replace(s, chr(31), '')))::BIGINT AS n
                FROM s${PipelineQueries.bpeMerges.length}),
          c AS (SELECT doc_id, n,
                       (sum(n + 1) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - (n + 1))::BIGINT AS s
                FROM t)
          SELECT doc_id, n AS n_tokens, s AS start_offset,
                 (s // 512)::BIGINT AS bin_first,
                 ((s + greatest(n, 1) - 1) // 512)::BIGINT AS bin_last,
                 ((s + greatest(n, 1) - 1) // 512 - s // 512 + 1)::BIGINT AS n_bins
          FROM c"""
    }) { (s, dir) =>
      val enc = TextAnalysis.bpeEncode(tbl(s, dir, "documents"), "text",
        PipelineQueries.bpeMerges)
      graft.operators.Packing.packManifest(enc, "doc_id", "text",
        ctxLen = 512, nTokens = Some(col("bpe_n_tokens")))
    },

    // packing-efficiency census per context window: docs starting in
    // the window + docs straddling out of it (the cross-boundary
    // fraction a packer wants low).
    "pipe_pack_census" -> Q(
      """WITH t AS (SELECT doc_id,
              (CASE WHEN len(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n
            FROM documents),
          c AS (SELECT doc_id, n,
                       (sum(n + 1) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - (n + 1))::BIGINT AS s
                FROM t)
          SELECT (s // 128)::BIGINT AS bin, count(*) AS n_docs_start,
                 sum(CASE WHEN (s + greatest(n, 1) - 1) // 128 > s // 128
                          THEN 1 ELSE 0 END)::BIGINT AS n_straddle_out
          FROM c GROUP BY 1""") { (s, dir) =>
      graft.operators.Packing.packCensus(
        graft.operators.Packing.packManifest(tbl(s, dir, "documents"),
          "doc_id", "text", ctxLen = 128))
    },

    // end-to-end corpus-clean pipeline: exact dedup (keep lowest id
    // per text) → Gopher rule filter → PII redaction → quality
    // columns. One composed plan — the dedup groupBy is the only
    // wide shuffle; filter + redact + score stay in the same
    // whole-stage-codegen pass over the survivors.
    "pipe_corpus_clean" -> Q(
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
          k AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
          m AS (SELECT doc_id, text,
                  CASE WHEN len(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
                  length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE AS chars,
                  len(regexp_extract_all(text, '(^|\\s)[^\\s]*[a-z][^\\s]*')) AS alpha,
                  len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern("en")}')) AS stop
                FROM k)
          SELECT doc_id, CAST(toks AS BIGINT) AS n_tokens,
                 md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '[EMAIL]', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g'),
                   '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
                   '\\b\\d{3}-\\d{3}-\\d{4}\\b', '[PHONE]', 'g')) AS clean_fp
          FROM m
          WHERE toks >= 10 AND toks <= 100000
            AND chars / greatest(toks, 1) >= 3.0 AND chars / greatest(toks, 1) <= 10.0
            AND alpha::DOUBLE / greatest(toks, 1) >= 0.8 AND stop >= 2""") {
      (s, dir) =>
        val docs = tbl(s, dir, "documents")
        // dedup keyed on md5(text), not text: the shuffle carries a
        // 16-byte hash instead of the full document (the exactDedup
        // idiom) — same kept-id set, corpus-width narrower exchange
        val kept = docs.join(
          docs.groupBy(md5(col("text").cast("binary")))
            .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        val survivors = kept.join(
          TextAnalysis.gopherRules(kept, "doc_id", "text")
            .filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        survivors.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          md5(TextAnalysis.piiRedact(col("text")).cast("binary")).as("clean_fp"))
    },

    // ----- similarity search -----
    "s_cosine_topk" -> FuzzBuilders.cosineTopK(nQueries = 10, k = 5),

    // IVF replicated end-to-end: portable md5-ordered centroid sample,
    // per-vector argmax cell assignment (ties -> lowest cell), within-
    // cell cosine top-k — every double computed in the same fold order
    "s_ann_ivf" -> Q(
      s"""WITH cent AS (
            SELECT rn - 1 AS cell, cv FROM (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn,
                     embedding AS cv
              FROM embeddings) WHERE rn <= 16),
          ca AS (
            SELECT vec_id, embedding, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS cr
            FROM (SELECT e.vec_id, e.embedding, c.cell,
                         ${dotSql("e.embedding", "c.cv")} / sqrt(${dotSql("c.cv", "c.cv")}) AS d
                  FROM embeddings e CROSS JOIN cent c)),
          asg AS (SELECT vec_id, embedding, cell FROM ca WHERE cr = 1),
          s AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                       ${dotSql("q.embedding", "n.embedding")} /
                       (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                        sqrt(${dotSql("n.embedding", "n.embedding")})) AS sim
                FROM asg q JOIN asg n ON q.cell = n.cell AND q.vec_id <> n.vec_id
                WHERE q.vec_id < 10)
          SELECT q_id, rnk, n_id, round(sim, 6) AS sim FROM (
            SELECT q_id, n_id, sim,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
            FROM s) WHERE rnk <= 5""") { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      r6(Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        k = 5, nCells = 16))
    },

    // multi-probe IVF (the recall knob): queries fan out to their 2
    // nearest cells (cr <= 2), corpus vectors stay in their single
    // home cell (cr = 1) — each (q, n) pair appears at most once
    "s_ann_ivf_probe" -> Q(
      s"""WITH cent AS (
            SELECT rn - 1 AS cell, cv FROM (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn,
                     embedding AS cv
              FROM embeddings) WHERE rn <= 16),
          ca AS (
            SELECT vec_id, embedding, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS cr
            FROM (SELECT e.vec_id, e.embedding, c.cell,
                         ${dotSql("e.embedding", "c.cv")} / sqrt(${dotSql("c.cv", "c.cv")}) AS d
                  FROM embeddings e CROSS JOIN cent c)),
          asg AS (SELECT vec_id, embedding, cell FROM ca WHERE cr = 1),
          qrb AS (SELECT vec_id, embedding, cell FROM ca WHERE cr <= 2 AND vec_id < 10),
          s AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                       ${dotSql("q.embedding", "n.embedding")} /
                       (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                        sqrt(${dotSql("n.embedding", "n.embedding")})) AS sim
                FROM qrb q JOIN asg n ON q.cell = n.cell AND q.vec_id <> n.vec_id)
          SELECT q_id, rnk, n_id, round(sim, 6) AS sim FROM (
            SELECT q_id, n_id, sim,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
            FROM s) WHERE rnk <= 5""") { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      r6(Similarity.ivfTopKWith(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        k = 5, Similarity.ivfCentroids(emb, "vec_id", "embedding", 16), nProbe = 2))
    },

    // PQ ANN replicated end-to-end: md5-ordered 8-vector codebook
    // sample sliced into 4×16-dim subspaces, per-subspace argmin code
    // assignment (metric -2·x·c + cᵀc, ties → lowest index), ADC
    // distance to the reconstruction — every double in the same fold
    // order as the native ArrayDotProduct loop, so ranks are stable
    "s_ann_pq" -> Q({
      val asgs = (0 until 4).map { mi =>
        s"""asg$mi AS (SELECT vec_id, j AS code_$mi FROM (
              SELECT e.vec_id, c.j,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${subDotSql("e.embedding", "c.cv", mi)} * -2 + ${subDotSql("c.cv", "c.cv", mi)}, c.j) AS r
              FROM embeddings e CROSS JOIN cent c) WHERE r = 1)"""
      }
      val terms = (0 until 4).map { mi =>
        s"""((${subDotSql("q.qv", "q.qv", mi)} + ${subDotSql(s"c$mi.cv", s"c$mi.cv", mi)}) - 2 * ${subDotSql("q.qv", s"c$mi.cv", mi)})"""
      }
      val centJoins = (0 until 4)
        .map(mi => s"JOIN cent c$mi ON c$mi.j = n.code_$mi").mkString(" ")
      s"""WITH cent AS (
            SELECT rn - 1 AS j, cv FROM (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn,
                     embedding AS cv
              FROM embeddings) WHERE rn <= 8),
          ${asgs.mkString(", ")},
          codes AS (SELECT a0.vec_id AS n_id, code_0, code_1, code_2, code_3
                    FROM asg0 a0 JOIN asg1 a1 ON a0.vec_id = a1.vec_id
                         JOIN asg2 a2 ON a0.vec_id = a2.vec_id
                         JOIN asg3 a3 ON a0.vec_id = a3.vec_id),
          q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
          pairs AS (SELECT q.q_id, n.n_id,
                      ${terms.mkString(" + ")} AS adist
                    FROM q JOIN codes n ON q.q_id <> n.n_id $centJoins)
          SELECT q_id, rnk, n_id, round(adist, 6) AS adist FROM (
            SELECT q_id, n_id, adist,
                   row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rnk
            FROM pairs) WHERE rnk <= 5"""
    }) { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      r6(Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        k = 5, m = 4, kCent = 8))
    },

    // ----- multimodal plumbing (decode stubbed; see Multimodal docs) -----
    // the stub "header parse" derives dims from the portable md5-based
    // 48-bit payload hash, so the whole fake is oracle-checkable
    "mm_media_meta" -> Q(
      s"""WITH b AS (SELECT doc_id, md5(text) AS h,
                            octet_length(encode(text))::BIGINT AS nb FROM documents),
            v AS (SELECT doc_id, ${hex12ToLongSql("h")} AS hv, nb FROM b)
          SELECT doc_id, hv % 1920 + 1 AS width, (hv // 65536) % 1080 + 1 AS height,
                 nb AS n_bytes FROM v""") { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
      Multimodal.withMediaMeta(docs, "payload")
        .select(col("doc_id"), col("media_meta.width").cast("long").as("width"),
          col("media_meta.height").cast("long").as("height"),
          col("media_meta.n_bytes"))
    },

    "mm_resize" -> Q(
      """SELECT doc_id, CAST(64 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
                LEAST(octet_length(encode(text)),
                      GREATEST(LEAST(octet_length(encode(text)), 4096), 1))::BIGINT AS n_bytes
         FROM documents""") { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
      Multimodal.resizeMedia(docs, "payload", width = 64, height = 64)
        .select(col("doc_id"), col("resized_meta.width").cast("long").as("width"),
          col("resized_meta.height").cast("long").as("height"),
          col("resized_meta.n_bytes").as("n_bytes"))
    },

    "mm_decode_features" -> Q(
      s"""WITH f AS (SELECT doc_id, i, md5(text || ' ' || i::VARCHAR) AS h
                     FROM documents CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS i))
          SELECT doc_id, i::BIGINT AS feat_idx,
                 CAST(CAST((${hex12ToLongSql("h")} % 1000) / 1000.0 AS REAL) AS DOUBLE) AS feat
          FROM f""") { (s, dir) =>
      // flattened to scalar rows: the driver's pandas canonicalizer
      // cannot sort/hash array cells. feat goes float→double on BOTH
      // sides (the stub's contract type is float) so the bits agree.
      val docs = tbl(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
      Multimodal.decodeToFeatures(docs, "payload")
        .select(col("doc_id"), posexplode(col("features")).as(Seq("feat_idx", "feat")))
        .select(col("doc_id"), col("feat_idx").cast("long").as("feat_idx"),
          col("feat").cast("double").as("feat"))
    },

    // REAL header parse (Multimodal.sniffMediaMeta): each doc becomes a
    // payload with a genuine PNG/GIF/BMP/JPEG/WAV header (format and
    // dims/rate chosen by the portable doc hash, ENCODED AS HEADER
    // BYTES), and the sniffer must recover them by parsing those bytes.
    // The oracle recomputes the embedded values arithmetically — any
    // byte-offset/endianness bug in the parser (or the encoders)
    // mismatches. -1 stands in for null so both engines agree on types.
    "mm_sniff_meta" -> Q(
      s"""WITH b AS (SELECT doc_id, md5(text) AS h,
                            octet_length(encode(text))::BIGINT AS nb FROM documents),
            v AS (SELECT doc_id, ${hex12ToLongSql("h")} AS hv, nb FROM b)
          SELECT doc_id,
            CASE hv % 5 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
                        WHEN 2 THEN 'image/bmp' WHEN 3 THEN 'image/jpeg'
                        ELSE 'audio/wav' END AS media_type,
            (CASE WHEN hv % 5 <= 3 THEN hv % 1920 + 1 ELSE -1 END)::BIGINT AS width,
            (CASE WHEN hv % 5 <= 3 THEN (hv // 65536) % 1080 + 1 ELSE -1 END)::BIGINT AS height,
            (CASE WHEN hv % 5 = 4 THEN 8000 + hv % 40000 ELSE -1 END)::BIGINT AS sample_rate,
            (CASE WHEN hv % 5 = 4 THEN hv % 2 + 1 ELSE -1 END)::BIGINT AS channels,
            (nb + CASE hv % 5 WHEN 0 THEN 29 WHEN 1 THEN 10 WHEN 2 THEN 26
                              WHEN 3 THEN 39 ELSE 44 END)::BIGINT AS n_bytes
          FROM v""") { (s, dir) =>
      val textBin = col("text").cast("binary")
      val hv = conv(substring(md5(textBin), 1, 12), 16, 10).cast("long")
      val fmt = hv % 5
      val w = (hv % 1920 + 1).cast("int")
      val h = (shiftright(hv, 16) % 1080 + 1).cast("int")
      val rate = (hv % 40000 + 8000).cast("int")
      val ch = (hv % 2 + 1).cast("int")
      val wav = concat(MediaFixtures.wavHeader(length(textBin), ch, rate), textBin)
      val docs = tbl(s, dir, "documents").withColumn("payload",
        when(fmt === 0, MediaFixtures.png(w, h, textBin))
          .when(fmt === 1, MediaFixtures.gif(w, h, textBin))
          .when(fmt === 2, MediaFixtures.bmp(w, h, textBin))
          .when(fmt === 3, MediaFixtures.jpeg(w, h, textBin))
          .otherwise(wav))
      Multimodal.sniffMediaMeta(docs, "payload")
        .select(col("doc_id"), col("media_meta.media_type").as("media_type"),
          coalesce(col("media_meta.width"), lit(-1)).cast("long").as("width"),
          coalesce(col("media_meta.height"), lit(-1)).cast("long").as("height"),
          coalesce(col("media_meta.sample_rate"), lit(-1)).cast("long").as("sample_rate"),
          coalesce(col("media_meta.channels"), lit(-1)).cast("long").as("channels"),
          col("media_meta.n_bytes").as("n_bytes"))
    },

    // REAL codec round-trip (MediaCodec, javax.imageio): each doc gets
    // a solid-color PNG/BMP encoded through the actual JDK codec; the
    // decoder must recover format, dimensions, and exact channel means
    // from the compressed bytes. Oracle recomputes arithmetically.
    "mm_decode_real" -> Q(
      s"""WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
            v AS (SELECT doc_id, ${hex12ToLongSql("h")} AS hv FROM b)
          SELECT doc_id,
            CASE hv % 2 WHEN 0 THEN 'image/png' ELSE 'image/bmp' END AS media_type,
            (3 + hv % 14)::BIGINT AS width, (3 + (hv // 65536) % 14)::BIGINT AS height,
            round((hv % 256)::DOUBLE, 6) AS mean_r,
            round(((hv // 256) % 256)::DOUBLE, 6) AS mean_g,
            round(((hv // 65536) % 256)::DOUBLE, 6) AS mean_b
          FROM v""") { (s, dir) =>
      val hv = conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10).cast("long")
      val docs = tbl(s, dir, "documents")
        .withColumn("fmt", when(hv % 2 === 0, "png").otherwise("bmp"))
        .withColumn("w", (hv % 14 + 3).cast("int"))
        .withColumn("h", (shiftright(hv, 16) % 14 + 3).cast("int"))
        .withColumn("r", (hv % 256).cast("int"))
        .withColumn("g", (shiftright(hv, 8) % 256).cast("int"))
        .withColumn("b", (shiftright(hv, 16) % 256).cast("int"))
      val enc = MediaCodec.withSolidImageFmt(docs, "payload", "fmt", "w", "h", "r", "g", "b")
      MediaCodec.withImageStats(enc, "payload")
        .select(col("doc_id"), col("image_stats.media_type").as("media_type"),
          col("image_stats.width").cast("long").as("width"),
          col("image_stats.height").cast("long").as("height"),
          rd6(col("image_stats.mean_r")).as("mean_r"),
          rd6(col("image_stats.mean_g")).as("mean_g"),
          rd6(col("image_stats.mean_b")).as("mean_b"))
    },

    // REAL resize: solid PNG → decode → nearest-neighbor rescale to
    // 16×16 → re-encode PNG → decode again; dims become the target and
    // the solid color survives bit-exactly.
    "mm_resize_real" -> Q(
      s"""WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
            v AS (SELECT doc_id, ${hex12ToLongSql("h")} AS hv FROM b)
          SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
                 round((hv % 256)::DOUBLE, 6) AS mean_r,
                 round(((hv // 256) % 256)::DOUBLE, 6) AS mean_g,
                 round(((hv // 65536) % 256)::DOUBLE, 6) AS mean_b
          FROM v""") { (s, dir) =>
      val hv = conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10).cast("long")
      val docs = tbl(s, dir, "documents")
        .withColumn("w", (hv % 14 + 3).cast("int"))
        .withColumn("h", (shiftright(hv, 16) % 14 + 3).cast("int"))
        .withColumn("r", (hv % 256).cast("int"))
        .withColumn("g", (shiftright(hv, 8) % 256).cast("int"))
        .withColumn("b", (shiftright(hv, 16) % 256).cast("int"))
      val enc = MediaCodec.withSolidImage(docs, "payload", "png", "w", "h", "r", "g", "b")
      val rz = MediaCodec.resizeReal(enc, "payload", 16, 16)
      MediaCodec.withImageStats(rz, "resized")
        .select(col("doc_id"),
          col("image_stats.width").cast("long").as("width"),
          col("image_stats.height").cast("long").as("height"),
          rd6(col("image_stats.mean_r")).as("mean_r"),
          rd6(col("image_stats.mean_g")).as("mean_g"),
          rd6(col("image_stats.mean_b")).as("mean_b"))
    },

    // REAL PCM parse: WAV payloads whose 16-bit LE samples derive from
    // the doc hash; the byte parser must recover mean/rms/zero-
    // crossings exactly. Runs Multimodal.wavSampleStatsFast (imperative
    // kernel UDF — the production path; the column-algebra twin
    // wavSampleStats is spec-pinned bit-identical, SCALE.md has the 60×
    // HOF story). Every per-sample square is an exact integer < 2^31
    // and their sum stays under 2^53, so summation order cannot drift
    // between engines.
    "mm_wav_stats" -> Q(
      s"""WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
            v AS (SELECT doc_id, ${hex12ToLongSql("h")} AS hv FROM b),
            s AS MATERIALIZED (
              SELECT doc_id, 16 + hv % 17 AS n,
                     list_transform(range(1, 17 + hv % 17),
                       i -> CASE WHEN (hv * i) % 65536 >= 32768
                                 THEN (hv * i) % 65536 - 65536
                                 ELSE (hv * i) % 65536 END) AS ss
              FROM v)
          SELECT doc_id, n::BIGINT AS n_samples,
                 round(list_sum(ss)::DOUBLE / n, 6) AS mean_amp,
                 round(sqrt(list_sum(list_transform(ss, x -> x::DOUBLE * x)) / n), 6) AS rms,
                 len(list_filter(range(2, n + 1),
                     i -> (ss[i] >= 0) != (ss[i-1] >= 0)))::BIGINT AS zero_crossings
          FROM s""") { (s, dir) =>
      val hv = conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10).cast("long")
      val n = (hv % 17 + 16).cast("int")
      val docs = tbl(s, dir, "documents").withColumn("payload",
        concat(MediaFixtures.wavHeader(n * 2, lit(1), lit(8000)),
          MediaFixtures.pcm(hv, n)))
      Multimodal.wavSampleStatsFast(docs, "payload")
        .select(col("doc_id"), col("wav_stats.n_samples").as("n_samples"),
          rd6(col("wav_stats.mean_amp")).as("mean_amp"),
          rd6(col("wav_stats.rms")).as("rms"),
          col("wav_stats.zero_crossings").as("zero_crossings"))
    },

    // REAL video container metadata (Multimodal.videoMetaKernel): each
    // doc becomes a canonical AVI (RIFF→LIST hdrl→avih) or MP4
    // (ftyp→free→moov→mvhd+trak→tkhd, with a free box so the walk
    // must skip) whose dims/duration are ENCODED AS CONTAINER BYTES;
    // the box/chunk walker must recover them. Frame decode stays
    // stubbed — this is the header surface a corpus router needs.
    "mm_video_meta" -> Q(
      s"""WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
            v AS (SELECT doc_id, ${hex12ToLongSql("h")} AS hv FROM b)
          SELECT doc_id,
            CASE hv % 2 WHEN 0 THEN 'video/avi' ELSE 'video/mp4' END AS media_type,
            (hv % 1920 + 1)::BIGINT AS width,
            ((hv // 65536) % 1080 + 1)::BIGINT AS height,
            (CASE hv % 2
               WHEN 0 THEN ((hv % 1000 + 1) * 33333) // 1000
               ELSE ((1000 + hv % 9000 + hv % 100000) * 1000) // (1000 + hv % 9000)
             END)::BIGINT AS duration_ms,
            (CASE hv % 2 WHEN 0 THEN hv % 1000 + 1 ELSE -1 END)::BIGINT AS n_frames
          FROM v""") { (s, dir) =>
      import Multimodal.{be32, le32}
      val hv = conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10).cast("long")
      val w = (hv % 1920 + 1).cast("int")
      val h = (shiftright(hv, 16) % 1080 + 1).cast("int")
      val nF = (hv % 1000 + 1).cast("int")
      val ts = (hv % 9000 + 1000).cast("int")
      val dur = (hv % 100000).cast("int") + ts
      val zeros = (n: Int) => unhex(lit("00" * n))
      val avi = concat(lit("RIFF").cast("binary"), le32(lit(80)),
        lit("AVI ").cast("binary"), lit("LIST").cast("binary"), le32(lit(68)),
        lit("hdrl").cast("binary"), lit("avih").cast("binary"), le32(lit(56)),
        le32(lit(33333)), zeros(12), le32(nF), zeros(4), le32(lit(1)), zeros(4),
        le32(w), le32(h), zeros(16))
      val matrix = concat(be32(lit(65536)), zeros(12), be32(lit(65536)),
        zeros(12), be32(lit(0x40000000)))
      val mp4 = concat(
        be32(lit(16)), lit("ftyp").cast("binary"),
        lit("isom").cast("binary"), be32(lit(0x200)),
        be32(lit(8)), lit("free").cast("binary"),
        be32(lit(216)), lit("moov").cast("binary"),
        be32(lit(108)), lit("mvhd").cast("binary"), zeros(12),
        be32(ts), be32(dur), be32(lit(65536)), unhex(lit("0100")), zeros(10),
        matrix, zeros(24), be32(lit(2)),
        be32(lit(100)), lit("trak").cast("binary"),
        be32(lit(92)), lit("tkhd").cast("binary"), be32(lit(7)), zeros(8),
        be32(lit(1)), zeros(4), be32(dur), zeros(16), matrix,
        be32(shiftleft(w.cast("long"), 16)), be32(shiftleft(h.cast("long"), 16)))
      val docs = tbl(s, dir, "documents").withColumn("payload",
        when(hv % 2 === 0, avi).otherwise(mp4))
      Multimodal.withVideoMeta(docs, "payload")
        .select(col("doc_id"), col("video_meta.media_type").as("media_type"),
          col("video_meta.width").cast("long").as("width"),
          col("video_meta.height").cast("long").as("height"),
          col("video_meta.duration_ms").as("duration_ms"),
          coalesce(col("video_meta.n_frames"), lit(-1L)).as("n_frames"))
    },

    // REAL video frame decode (MJPEG path): each doc gets a 3-frame
    // AVI whose 00dc chunks are real solid-color PNG/BMP bitstreams;
    // the operator walks LIST movi, samples 2 frames evenly
    // (⌊i·3/2⌋ → 0,1), and decodes each through the JDK codec. The
    // oracle predicts the decode output arithmetically — lossless
    // solid colors survive exactly (the mm_decode_real argument,
    // extended through the container walk).
    "mm_video_frames" -> Q(
      s"""WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
            v AS (SELECT doc_id, ${hex12ToLongSql("h")} AS hv FROM b),
            f AS (SELECT doc_id, hv, (i * 3) // 2 AS fi
                  FROM v, unnest(range(2)) AS t(i))
          SELECT doc_id, fi::BIGINT AS frame_idx,
                 CASE (hv + fi) % 2 WHEN 0 THEN 'image/png' ELSE 'image/bmp' END AS media_type,
                 (3 + (hv + fi) % 14)::BIGINT AS width,
                 (3 + ((hv // 65536) + fi) % 14)::BIGINT AS height,
                 round(((hv + 97 * fi) % 256)::DOUBLE, 6) AS mean_r,
                 round((((hv // 256) + 31 * fi) % 256)::DOUBLE, 6) AS mean_g,
                 round((((hv // 65536) + 7 * fi) % 256)::DOUBLE, 6) AS mean_b
          FROM f""") { (s, dir) =>
      val hv = conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10).cast("long")
      val buildAvi = udf((h: Long) => MediaFixtures.aviMjpegKernel(
        (0 until 3).map { f =>
          MediaCodec.encodeSolid(
            if ((h + f) % 2 == 0) "png" else "bmp",
            (3 + (h + f) % 14).toInt, (3 + (h / 65536 + f) % 14).toInt,
            ((h + 97L * f) % 256).toInt, ((h / 256 + 31L * f) % 256).toInt,
            ((h / 65536 + 7L * f) % 256).toInt)
        }))
      // scale-adaptive parallelism floor (guide §2.5/§6): the
      // single-row-group test parquet scans as ONE task, and with no
      // exchange below the per-row kernels the whole AVI build +
      // 2-frame JDK decode ran serial on one core (measured: 2.6 s
      // wall ≈ 3.6 s process-CPU). Repartition the 5k tiny text rows
      // BEFORE payload construction — never the built payloads
      // (guide §8: move heavy bytes zero times) — and only when the
      // scan's parallelism is actually below the session's cores, so
      // at 100 TB (thousands of splits) this is a provable no-op.
      val docs0 = tbl(s, dir, "documents")
      val nPar = s.sparkContext.defaultParallelism
      val docsP = if (docs0.rdd.getNumPartitions < nPar)
        docs0.repartition(nPar) else docs0
      val docs = docsP.withColumn("payload", buildAvi(hv))
      Multimodal.withVideoFrames(docs, "payload", n = 2)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_stats.media_type").as("media_type"),
          col("frame_stats.width").cast("long").as("width"),
          col("frame_stats.height").cast("long").as("height"),
          rd6(col("frame_stats.mean_r")).as("mean_r"),
          rd6(col("frame_stats.mean_g")).as("mean_g"),
          rd6(col("frame_stats.mean_b")).as("mean_b"))
    }
  )
}
