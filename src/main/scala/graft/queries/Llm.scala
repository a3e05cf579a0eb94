package graft.queries

import graft.Tables._
import graft.queries.Fragments._
import graft.engine.io.Storage
import graft.engine.ml.{Dedup, Similarity, Text}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** LLM training-data pipeline operators (SURVEY.md §2.10): dedup,
  * similarity search, text analysis, vector stats, multimodal features.
  * Thin wrappers over the `graft.engine.ml` verbs plus presentation
  * ordering; approximate/hash-seeded ops (MinHash, SimHash, ANN) have no
  * SQL oracle and are bounds-checked in ScalaTest instead.
  */
object Llm {

  private val P = 1000000007L

  /** Fixed query term set shared by the BM25 consumers. */
  private val Bm25Terms = Seq("join", "filter", "hash")

  /** Per-doc BM25 scores (k1=1.2, b=0.75, +1 idf) against
    * [[Bm25Terms]] — the ONE implementation text_bm25 declares and
    * rank_fusion_rrf fuses; a formula/term change edits exactly here. */
  private def bm25Scores(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    val tf = toks.filter(col("w").isin(Bm25Terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .withColumn("part",
        (log((col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5) + 1.0) * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") /
              (col("total_len").cast("double") / col("n_docs")))))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy("doc_id")
      .agg(round(sum(col("part")).cast("double"), 6).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** The identical BM25 chain as DuckDB CTEs ending in `bm(doc_id,
    * bm25, n_terms_hit)` — spliced into both consumers' oracles. */
  private val Bm25Cte: String = """toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
         dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         corpus AS (
           SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_len
           FROM dl),
         tf AS (
           SELECT doc_id, w, COUNT(*) AS tf FROM toks
           WHERE w IN ('join', 'filter', 'hash') GROUP BY 1, 2),
         df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
         bm AS (
           SELECT tf.doc_id,
                  ROUND(CAST(SUM(CAST(
                    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
                    (tf * 2.2) /
                    (tf + 1.2 * (0.25 + 0.75 * dl /
                      (CAST(total_len AS DOUBLE) / n_docs)))
                  AS DECIMAL(18,9))) AS DOUBLE), 6) AS bm25,
                  COUNT(*) AS n_terms_hit
           FROM tf
           JOIN df USING (w)
           JOIN dl USING (doc_id)
           CROSS JOIN corpus
           GROUP BY tf.doc_id)"""

  val qs: Seq[Q] = Seq(
    Q("dedup_exact",
      (s, d) => Dedup.exact(documents(s, d)).orderBy("doc_id"),
      """SELECT doc_id, digest FROM (
           SELECT doc_id, md5(text) AS digest,
                  ROW_NUMBER() OVER (PARTITION BY md5(text)
                    ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id"""),

    // URL-level dedup — the crawl pipeline's FIRST pass, upstream of
    // any content hashing: the same page arrives under many URL
    // spellings (scheme/host case, explicit default port, trailing
    // slash, utm_* tracking params, fragments), and canonicalizing
    // then keeping one fetch per canonical URL removes the bulk of
    // refetch duplicates before a byte of text is compared. URLs are
    // synthesized with deterministic per-doc noise (doc_id % 6 picks
    // the variant class; doc_id div 7 the page, so each page arrives
    // ~7 times) and the canonicalizer — lowercase scheme+host, strip
    // :443, drop the fragment, strip one trailing slash, drop utm_*
    // params while KEEPING the rest of the query — faces every class.
    // Map-side string work + one groupBy on the canonical key (the
    // exact-dedup shape: no joins, no windows over the corpus); the
    // oracle replays construction + canonicalization — exact.
    Q("dedup_url",
      (s, d) => {
        val urls = documents(s, d)
          .select(col("doc_id"),
            concat(lit("site"), expr("(doc_id div 7) % 50"),
              lit(".example.com")).as("host"),
            concat(lit("/page/"), expr("doc_id div 7")).as("path"),
            expr("doc_id % 6").as("v"))
          .withColumn("url", expr(
            """CASE v
                 WHEN 0 THEN 'https://' || host || path
                 WHEN 1 THEN 'HTTPS://' || upper(host) || path
                 WHEN 2 THEN 'https://' || host || ':443' || path
                 WHEN 3 THEN 'https://' || host || path || '/'
                 WHEN 4 THEN 'https://' || host || path ||
                   '?utm_source=feed&ref=rss'
                 ELSE 'https://' || host || path || '#frag'
               END"""))
        val canon = urls
          .withColumn("scheme",
            lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)))
          .withColumn("hostc", regexp_replace(
            lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)),
            ":443$", ""))
          .withColumn("rest", regexp_replace(
            regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+(.*)$", 1),
            "#.*$", ""))
          .withColumn("pathc", regexp_replace(
            regexp_extract(col("rest"), "^([^?]*)", 1), "/$", ""))
          .withColumn("q", regexp_extract(col("rest"), "\\?(.*)$", 1))
          .withColumn("qf", expr(
            """array_join(filter(split(q, '&'),
                 p -> p != '' AND p NOT LIKE 'utm_%'), '&')"""))
          .withColumn("canonical_url",
            concat(col("scheme"), lit("://"), col("hostc"), col("pathc"),
              when(col("qf") =!= "", concat(lit("?"), col("qf")))
                .otherwise(lit(""))))
        canon.groupBy("canonical_url")
          .agg(min(col("doc_id")).as("keep_doc_id"),
            count(lit(1)).as("n_variants"))
          .orderBy("canonical_url")
      },
      """WITH u AS (
           SELECT doc_id,
                  'site' || (doc_id // 7) % 50 || '.example.com' AS host,
                  '/page/' || (doc_id // 7) AS path,
                  doc_id % 6 AS v
           FROM documents),
         urls AS (
           SELECT doc_id,
                  CASE v
                    WHEN 0 THEN 'https://' || host || path
                    WHEN 1 THEN 'HTTPS://' || upper(host) || path
                    WHEN 2 THEN 'https://' || host || ':443' || path
                    WHEN 3 THEN 'https://' || host || path || '/'
                    WHEN 4 THEN 'https://' || host || path ||
                      '?utm_source=feed&ref=rss'
                    ELSE 'https://' || host || path || '#frag'
                  END AS url
           FROM u),
         parts AS (
           SELECT doc_id,
                  lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
                  regexp_replace(lower(regexp_extract(url,
                    '^[A-Za-z]+://([^/?#]+)', 1)), ':443$', '') AS hostc,
                  regexp_replace(regexp_extract(url,
                    '^[A-Za-z]+://[^/?#]+(.*)$', 1), '#.*$', '') AS rest
           FROM urls),
         pq AS (
           SELECT doc_id, scheme, hostc,
                  regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
                    '/$', '') AS pathc,
                  regexp_extract(rest, '\?(.*)$', 1) AS q
           FROM parts),
         canon AS (
           SELECT doc_id,
                  scheme || '://' || hostc || pathc ||
                    CASE WHEN qf <> '' THEN '?' || qf ELSE '' END
                    AS canonical_url
           FROM (SELECT doc_id, scheme, hostc, pathc,
                        array_to_string(list_filter(string_split(q, '&'),
                          p -> p <> '' AND p NOT LIKE 'utm_%'), '&') AS qf
                 FROM pq))
         SELECT canonical_url, MIN(doc_id) AS keep_doc_id,
                COUNT(*) AS n_variants
         FROM canon GROUP BY 1 ORDER BY 1"""),

    // MinHash-LSH near-dup, oracle-checked END TO END: every stage is
    // deterministic given the seeded coefficients (inlined below from
    // Dedup.minhashCoeffs so engine and oracle cannot drift), and each
    // maps to SQL — FNV-1a trigram hashing (HUGEINT mod-2^64 arithmetic
    // reproduces Java's wrapping multiply), 32 affine min-hashes, 4×8
    // banding (band equality ⇔ slice equality; the engine's xxhash64
    // band key only compresses the slice), the ±0.2 signature-estimate
    // pre-filter, and exact hashed-shingle Jaccard on survivors.
    Q("dedup_near",
      (s, d) => Dedup.nearMinHash(documents(s, d), 0.8,
          datasetTag = Some(d))
        .orderBy("doc_a", "doc_b"),
      s"""WITH $MinhashHashCte,
          $MinhashHpCte,
          sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ghash GROUP BY 1),
          $MinhashSigCte,
          $MinhashBandsCte,
          $MinhashCandCte,
          $MinhashEstCte,
          hlist AS (SELECT doc_id, list(h) AS hs FROM hp GROUP BY doc_id),
          verified AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(ha.hs, hb.hs)) AS n_common,
                   sa.sz AS sza, sb.sz AS szb
            FROM est
              JOIN hlist ha ON ha.doc_id = doc_a
              JOIN hlist hb ON hb.doc_id = doc_b
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
            WHERE sa.sz + sb.sz - len(list_intersect(ha.hs, hb.hs)) > 0)
          SELECT doc_a, doc_b,
                 ROUND(n_common / CAST(sza + szb - n_common AS DOUBLE), 4)
                   AS jaccard
          FROM verified
          WHERE n_common / CAST(sza + szb - n_common AS DOUBLE) >= 0.8
          ORDER BY doc_a, doc_b"""),

    // THE DEDUP RECALL KNOB, SURFACED: the LSH hot-bucket cap
    // (Dedup.capBuckets) silently drops degenerate buckets into a
    // driver accumulator — at 100 TB that is an unobserved recall
    // loss. This relation is the operational audit: per band, the
    // inverted-index entry total, the singleton entries (can never
    // pair), the entries a cap-4 screen would drop, and the survivors
    // feeding the candidate join. Deterministic given the cap, so the
    // oracle replays bucket sizes off the same signature pipeline
    // (bucket identity = the band slice itself — xxhash64 on the
    // engine side partitions identically absent a 64-bit collision,
    // the dedup_near precedent). Index-sized cost, never pair-sized.
    Q("dq_dedup_dropped",
      (s, d) => Dedup.bandAudit(documents(s, d), maxBucket = 4,
          datasetTag = Some(d))
        .orderBy("band_idx"),
      s"""WITH $MinhashHashCte,
          $MinhashHpCte,
          $MinhashSigCte,
          $MinhashBandsCte,
          buckets AS (
            SELECT band_idx, bandsig, COUNT(*) AS n
            FROM bands GROUP BY 1, 2)
          SELECT CAST(band_idx AS INT) AS band_idx,
                 CAST(SUM(n) AS BIGINT) AS entries_total,
                 CAST(SUM(CASE WHEN n = 1 THEN n ELSE 0 END) AS BIGINT)
                   AS entries_singleton,
                 CAST(SUM(CASE WHEN n > 4 THEN n ELSE 0 END) AS BIGINT)
                   AS entries_dropped_cap,
                 CAST(SUM(CASE WHEN n BETWEEN 2 AND 4 THEN n ELSE 0 END)
                   AS BIGINT) AS entries_kept
          FROM buckets GROUP BY 1 ORDER BY band_idx"""),

    // BAND-GEOMETRY TUNING — pick the s-curve knee BEFORE paying for
    // a run: for 2×16 / 4×8 / 8×4 splits of the 32-hash signature,
    // the candidate volume each geometry would push into verification
    // (pair emissions Σ n·(n−1)/2 from bucket sizes alone — no pair
    // materializes, cost stays index-sized). More bands = looser
    // knee = more candidates; this relation is the tuning table that
    // decision reads at 100 TB.
    Q("dedup_band_tuning",
      (s, d) => Dedup.bandTuning(documents(s, d), datasetTag = Some(d))
        .orderBy("bands"),
      s"""WITH $MinhashHashCte,
          hp AS (
            SELECT doc_id,
                   ((h % 2147483647) + 2147483647) % 2147483647 AS hp
            FROM ghash),
          $MinhashSigCte,
          cfg AS (
            SELECT 2 AS bands, 16 AS rows_per_band
            UNION ALL SELECT 4, 8
            UNION ALL SELECT 8, 4),
          banded AS (
            SELECT c.bands, c.rows_per_band, bi AS band_idx,
                   v.sig[bi * c.rows_per_band + 1 :
                         bi * c.rows_per_band + c.rows_per_band]
                     AS bandsig
            FROM sigvec v, cfg c,
                 LATERAL unnest(range(0, c.bands)) AS t(bi)),
          buckets AS (
            SELECT bands, rows_per_band, band_idx, bandsig,
                   COUNT(*) AS n
            FROM banded GROUP BY 1, 2, 3, 4)
          SELECT CAST(bands AS INT) AS bands,
                 CAST(rows_per_band AS INT) AS rows_per_band,
                 CAST(SUM(n) AS BIGINT) AS entries,
                 CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS buckets_ge2,
                 CAST(SUM(n * (n - 1) // 2) AS BIGINT)
                   AS pair_emissions
          FROM buckets GROUP BY 1, 2 ORDER BY bands"""),

    // SimHash near-dup IS exactly oracle-able: with 4×16-bit chunk
    // buckets, any pair within Hamming ≤ 3 must agree on one chunk
    // (pigeonhole) — recall is 1.0 BY CONSTRUCTION, so the emitted set
    // equals {all pairs with Hamming(simhash) ≤ 3}. The oracle
    // replicates the whole pipeline in SQL: FNV-1a per token (HUGEINT
    // arithmetic mod 2^64 reproduces Java's wrapping 64-bit multiply),
    // per-bit ±1 majority vote, pairwise popcount(xor).
    Q("dedup_simhash",
      (s, d) => Dedup.nearSimHash(documents(s, d), 3)
        .orderBy("doc_a", "doc_b"),
      s"""WITH $SimhashBitSumsCte,
         sim AS (
           SELECT doc_id,
                  CAST(SUM(CASE WHEN s > 0 THEN
                    CASE WHEN b = 63 THEN -9223372036854775808::HUGEINT
                         ELSE (1::BIGINT << CAST(b AS INT))::HUGEINT END
                    ELSE 0::HUGEINT END) AS BIGINT) AS sh
           FROM sums GROUP BY doc_id)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3
         ORDER BY doc_a, doc_b"""),

    // Exact n-gram Jaccard within (lang, source) groups — SQL-expressible
    // near-dup; the group equi-term bounds the pair space.
    Q("dedup_ngram",
      (s, d) => Dedup.ngramJaccardPairs(documents(s, d), 0.12)
        .orderBy("doc_a", "doc_b"),
      s"""WITH $BigramJaccardCte
         SELECT doc_a, doc_b,
                ROUND(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 4)
                  AS jaccard
         FROM common
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.12
         ORDER BY doc_a, doc_b"""),

    // Incremental ingest screen: every 5th doc plays the NEWLY-ARRIVED
    // batch, the rest the already-screened corpus. Only pairs touching
    // the batch are generated (Dedup.incrementalNearDups — the
    // existing×existing quadrant never exists); the oracle is the full
    // exact pair set restricted by the same touch predicate, so the
    // incremental path must find exactly what a full re-pair would.
    Q("dedup_incremental",
      (s, d) => {
        val docs = documents(s, d)
        // existing-side signatures come from the persisted store (fit
        // once per dataset, like the keep-list/quantizer artifacts);
        // only the batch is swept fresh
        Dedup.incrementalNearDups(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0), 0.05,
          existingTag = Some(s"${d}_inc"))
          .orderBy("doc_a", "doc_b")
      },
      s"""WITH $BigramJaccardCte
         SELECT doc_a, doc_b,
                ROUND(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 4)
                  AS jaccard
         FROM common
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.05
           AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
         ORDER BY doc_a, doc_b"""),

    // Pairs → keep-list: connected components over the exact n-gram
    // pair graph, canonical survivor = min doc_id. Threshold 0.05 is
    // deliberate: this synthetic corpus has almost no pair mass in
    // (0.12, 1.0) — 1 pair at sf0.01 — while 0.05 yields 201 pairs in
    // chained multi-node components, so transitive resolution is
    // actually exercised (real corpora would use the dedup threshold).
    // The oracle mirrors the fixpoint with a recursive closure CTE.
    Q("dedup_resolve",
      (s, d) => Dedup.keepListFor(documents(s, d), d, 0.05)
        .orderBy("doc_id"),
      s"""WITH RECURSIVE $BigramJaccardCte,
         $BigramClosureCte
         SELECT u AS doc_id, MIN(v) AS keep_id
         FROM reach GROUP BY u ORDER BY doc_id"""),

    // Cluster-size histogram of the resolved dup graph — the headline
    // number of every dedup report ("how big are my duplicate
    // clusters?"). Tiny consumer of the persisted keep-list artifact.
    Q("dedup_cluster_stats",
      (s, d) => Dedup.keepListFor(documents(s, d), d, 0.05)
        .groupBy("keep_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size"),
      s"""WITH RECURSIVE $BigramJaccardCte,
         $BigramClosureCte,
         keep AS (
           SELECT u AS doc_id, MIN(v) AS keep_id FROM reach GROUP BY u),
         csize AS (
           SELECT keep_id, COUNT(*) AS cluster_size FROM keep GROUP BY 1)
         SELECT cluster_size, COUNT(*) AS n_clusters
         FROM csize GROUP BY cluster_size ORDER BY cluster_size"""),

    // QUALITY-CANONICAL dedup resolution — the survivor policy
    // production curation actually wants: dedup_resolve keeps the
    // LOWEST-ID cluster member (stable, arbitrary); this keeps the
    // HIGHEST-QUALITY one (tie → lowest id), so near-dup clusters
    // contribute their best representative to training. Reuses the
    // persisted keep-list artifact as the cluster LABELING and joins
    // the map-side quality score — one cluster-keyed rank window
    // replaces nothing else; at 100 TB this is the same cost as
    // dedup_resolve plus a scan-local score.
    Q("dedup_resolve_quality",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val keep = Dedup.keepListFor(documents(s, d), d, 0.05)
        val q = Text.qualityScore(documents(s, d),
          Seq("join", "filter", "sort", "hash", "scan"))
          .select(col("doc_id"), col("quality"))
        val w = Window.partitionBy("keep_id")
          .orderBy(desc("quality"), col("doc_id"))
        keep.join(q, Seq("doc_id"))
          .withColumn("canonical_id",
            first(col("doc_id")).over(
              w.rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing)))
          .select(col("doc_id"), col("keep_id").as("cluster_id"),
            col("quality"), col("canonical_id"),
            (col("doc_id") === col("canonical_id")).as("is_canonical"))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE $BigramJaccardCte,
         $BigramClosureCte,
         keep AS (
           SELECT u AS doc_id, MIN(v) AS keep_id FROM reach GROUP BY u),
         q AS (
           SELECT doc_id,
                  ROUND(least(1.0, len(string_split(text, ' ')) / 200.0)
                    * (1.0 - len(list_filter(string_split(text, ' '),
                        t -> list_contains(
                          ['join','filter','sort','hash','scan'], t)))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE)), 4)
                    AS quality
           FROM documents),
         canon AS (
           SELECT keep_id, doc_id AS canonical_id FROM (
             SELECT keep_id, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY keep_id
                      ORDER BY quality DESC, doc_id) AS rn
             FROM keep JOIN q USING (doc_id))
           WHERE rn = 1)
         SELECT k.doc_id, k.keep_id AS cluster_id, q.quality,
                c.canonical_id,
                k.doc_id = c.canonical_id AS is_canonical
         FROM keep k
         JOIN q ON q.doc_id = k.doc_id
         JOIN canon c ON c.keep_id = k.keep_id
         ORDER BY k.doc_id"""),

    // SOFT dedup (down-WEIGHT, don't drop): every member of a resolved
    // near-dup cluster gets sampling weight 1/cluster_size, so the
    // cluster as a whole contributes one document's worth of
    // probability mass to training — the gentler alternative to
    // dedup_apply's hard keep-list (used when near-dups carry real
    // variation worth a fractional vote, e.g. templated pages with
    // differing payloads). Third consumer of the persisted keep-list
    // artifact: one tiny cluster-size aggregate joined back, map-side
    // weight arithmetic — the corpus is never rescanned.
    Q("dedup_soft_weights",
      (s, d) => {
        val keep = Dedup.keepListFor(documents(s, d), d, 0.05)
        val sizes = keep.groupBy("keep_id")
          .agg(count(lit(1)).as("cluster_size"))
        keep.join(sizes, Seq("keep_id"))
          .select(col("doc_id"), col("keep_id").as("cluster_id"),
            col("cluster_size"),
            round(lit(1.0) / col("cluster_size"), 6).as("weight"))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE $BigramJaccardCte,
         $BigramClosureCte,
         keep AS (
           SELECT u AS doc_id, MIN(v) AS keep_id FROM reach GROUP BY u),
         csize AS (
           SELECT keep_id, COUNT(*) AS cluster_size FROM keep GROUP BY 1)
         SELECT doc_id, keep_id AS cluster_id, cluster_size,
                ROUND(CAST(1.0 AS DOUBLE) / cluster_size, 6) AS weight
         FROM keep JOIN csize USING (keep_id)
         ORDER BY doc_id"""),

    // Deterministic train/val/test split — the terminal ML-prep op:
    // md5-bucket of the stable key → 90/5/5 assignment that is
    // reproducible across runs, engines, and retries (rand() is none
    // of those). Exact membership oracle-checked.
    Q("sample_split",
      (s, d) => documents(s, d)
        .withColumn("bucket",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8),
            16, 10).cast("long") % 100)
        .select(col("doc_id"), col("lang"),
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id"),
      """SELECT doc_id, lang,
                CASE WHEN CAST(('0x' || substring(md5(
                       CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 100 < 90 THEN 'train'
                     WHEN CAST(('0x' || substring(md5(
                       CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 100 < 95 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents ORDER BY doc_id"""),

    // GROUP-aware split — the leakage-safe variant of sample_split:
    // hashing doc ids sends near-identical documents (refetches of one
    // page, chunks of one source file) across the train/val boundary,
    // and the eval set silently overlaps training data. Hash the
    // LEAKAGE UNIT instead (here the page id every ~7 docs share —
    // the dedup_url collision group): every doc of a group lands in
    // the same split by construction, on any engine, at any scale —
    // still pure map-side assignment, no join against a split table.
    Q("sample_split_grouped",
      (s, d) => documents(s, d)
        .withColumn("page", expr("doc_id div 7"))
        .withColumn("bucket",
          conv(substring(md5(concat(col("page").cast("string"),
            lit("grp"))), 1, 8), 16, 10).cast("long") % 100)
        .select(col("doc_id"), col("page"),
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id"),
      """SELECT doc_id, doc_id // 7 AS page,
                CASE WHEN CAST(('0x' || substring(md5(
                       CAST(doc_id // 7 AS VARCHAR) || 'grp'), 1, 8))
                       AS BIGINT) % 100 < 90 THEN 'train'
                     WHEN CAST(('0x' || substring(md5(
                       CAST(doc_id // 7 AS VARCHAR) || 'grp'), 1, 8))
                       AS BIGINT) % 100 < 95 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents ORDER BY doc_id"""),

    // Keep-list APPLIED: the corpus a training run actually reads —
    // every document whose doc_id survives resolution (doc_id =
    // component min). The terminal operator of the dedup ladder.
    Q("dedup_apply",
      (s, d) => {
        val docs = documents(s, d)
        // reads the persisted curation artifact (see keepListFor) — a
        // real pipeline resolves once and applies on every read
        val resolved = Dedup.keepListFor(docs, d, 0.05)
        docs.join(resolved.filter(col("doc_id") === col("keep_id"))
            .select("doc_id"), Seq("doc_id"))
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE $BigramJaccardCte,
         $BigramClosureCte,
         resolved AS (
           SELECT u AS doc_id, MIN(v) AS keep_id FROM reach GROUP BY u)
         SELECT d.doc_id, d.lang, d.source, d.n_chars
         FROM documents d JOIN resolved r ON d.doc_id = r.doc_id
         WHERE r.doc_id = r.keep_id
         ORDER BY d.doc_id"""),

    // Within-label kNN graph: each vector's top-3 cosine neighbours —
    // the SemDeDup/cluster-curation neighbour structure. Exact within
    // the small-label regime (all labels at tested sf), IVF candidates
    // above the cap; fold arithmetic mirrored so scores hash-match.
    Q("knn_graph",
      (s, d) => Similarity.knnGraph(embeddings(s, d), 3,
          datasetTag = Some(d))
        .orderBy("vec_id", "rn"),
      s"""WITH scored AS (
           SELECT a.vec_id, b.vec_id AS nbr_id,
             ${cos64("a.embedding", "b.embedding")}
             AS cos
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id <> b.vec_id),
         ranked AS (
           SELECT vec_id, nbr_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, nbr_id ASC) AS rn
           FROM scored)
         SELECT vec_id, CAST(rn AS INT) AS rn, nbr_id,
                ROUND(cos, 6) AS score
         FROM ranked WHERE rn <= 3 ORDER BY vec_id, rn"""),

    // Embedding-cosine near-dup within label groups; fold arithmetic is
    // mirrored exactly (left fold over doubles) so scores hash-match.
    // The all-pairs oracle is valid because every label fits the
    // small-label exact regime at every tested sf (max ~218 rows/label
    // vs cap 4096); labels beyond the cap would route through the
    // documented-approximate IVF-cell path (see Similarity.scaladoc).
    // Threshold 0.4 is the synthetic corpus's measured cosine knee
    // (r13): within-label cosines top out at 0.45/0.47/0.51 across
    // sf0.001/0.01/0.1, so the r12 threshold of 0.8 made the
    // differential oracle a vacuous empty-set comparison. At 0.4 the
    // key emits 5/5/86 rows across the three SFs, and the nearest
    // pair sits >= 1.2e-4 from the cutoff at every SF — four orders
    // of magnitude beyond the engines' mirrored-fold agreement, so no
    // threshold-cliff flake is possible.
    Q("dedup_embedding",
      (s, d) => Similarity.embeddingNearDup(embeddings(s, d), 0.4,
          datasetTag = Some(d))
        .orderBy("vec_a", "vec_b"),
      s"""WITH pairs AS (
           SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
             ${cos64("a.embedding", "b.embedding")}
             AS cos
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT label, vec_a, vec_b, ROUND(cos, 6) AS score
         FROM pairs WHERE cos >= 0.4 ORDER BY vec_a, vec_b"""),

    // Rank-based companion to dedup_embedding (r13, verdict item #1):
    // the top-3 highest-cosine pairs PER LABEL with no threshold at
    // all, so the key is structurally non-empty on any corpus with
    // >= 2 vectors per label — the differential oracle always compares
    // real score sets, and the emitted scores DOCUMENT the corpus's
    // cosine knee (which is how the 0.4 threshold above was picked).
    // Ranking is on the full-precision cosine (identical left-folds on
    // both engines), ties broken by (vec_a, vec_b).
    Q("dedup_embedding_knee",
      (s, d) => Similarity.embeddingNearPairsTopK(embeddings(s, d), 3,
          datasetTag = Some(d))
        .orderBy("label", "rn"),
      s"""WITH pairs AS (
           SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
             ${cos64("a.embedding", "b.embedding")}
             AS cos
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id),
         ranked AS (
           SELECT label, vec_a, vec_b, cos,
                  ROW_NUMBER() OVER (PARTITION BY label
                    ORDER BY cos DESC, vec_a ASC, vec_b ASC) AS rn
           FROM pairs)
         SELECT label, CAST(rn AS INT) AS rn, vec_a, vec_b,
                ROUND(cos, 6) AS score
         FROM ranked WHERE rn <= 3 ORDER BY label, rn"""),

    Q("sim_search_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        Similarity.bruteForceTopK(emb, Similarity.probes(emb), 5)
          .orderBy("probe_id", "rn")
      },
      s"""WITH $ProbeCte,
         scored AS (
           SELECT p.probe_id, e.vec_id,
             ${cos64("p.probe_emb", "e.embedding")}
             AS cos
           FROM p CROSS JOIN embeddings e WHERE e.vec_id <> p.probe_id),
         ranked AS (
           SELECT probe_id, vec_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY cos DESC, vec_id ASC) AS rn
           FROM scored)
         SELECT probe_id, CAST(rn AS INT) AS rn, vec_id,
                ROUND(cos, 6) AS score
         FROM ranked WHERE rn <= 5 ORDER BY probe_id, rn"""),

    // HYBRID RETRIEVAL FUSION (reciprocal-rank fusion, k=60 — the
    // Cormack/Clarke constant everyone ships): lexical BM25 ranking
    // and dense cosine ranking disagree in exactly the ways that make
    // their fusion better than either, and RRF combines them with NO
    // score calibration — only ranks. Doc ids bridge the corpus and
    // the embedding table (synthetic alignment doc_id = vec_id,
    // construction-time truth). Scores are 1/(60+r) sums of exact
    // integer ranks pinned to decimals; rank ties broken by id on
    // both engines. The full-outer union is the real semantics: a doc
    // ranked by only one retriever still scores. One tiny join of two
    // top-50 rank relations — at 100 TB the inputs are the ANN/BM25
    // indexes' outputs, and fusion stays this cheap.
    Q("rank_fusion_rrf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // lexical leg: the SAME bm25Scores implementation text_bm25
        // declares — fusion quality claims are only meaningful if the
        // fused leg IS the deployed ranker
        // top-50 per leg via orderBy+limit (TakeOrderedAndProject —
        // per-partition heaps); the rank window numbering each leg
        // runs over its 50-row survivor set only, never the corpus
        val bm = bm25Scores(s, d).select("doc_id", "bm25")
        val wBm = Window.orderBy(desc("bm25"), col("doc_id"))
        val bmRank = bm.orderBy(desc("bm25"), col("doc_id")).limit(50)
          .withColumn("r_lex", row_number().over(wBm))
          .select("doc_id", "r_lex")
        // dense leg: cosine vs the lowest-id probe embedding
        val emb = embeddings(s, d)
        val probe = emb.orderBy("vec_id").limit(1)
          .select(col("embedding").as("probe_emb"))
        graft.engine.expr.GraftFunctions.ensureRegistered(s)
        val cos = emb.crossJoin(broadcast(probe))
          .select(col("vec_id").as("doc_id"),
            round(expr("graft_cosine(probe_emb, embedding)"), 6)
              .as("cosv"))
        val wCos = Window.orderBy(desc("cosv"), col("doc_id"))
        val cosRank = cos.orderBy(desc("cosv"), col("doc_id")).limit(50)
          .withColumn("r_dense", row_number().over(wCos))
          .select("doc_id", "r_dense")
        val fused = bmRank.join(cosRank, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("r_lex"), col("r_dense"),
            (coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
              .cast(org.apache.spark.sql.types.DecimalType(12, 9)) +
              coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0))
                .cast(org.apache.spark.sql.types.DecimalType(12, 9)))
              .as("rrf_d"))
        val wF = Window.orderBy(desc("rrf_d"), col("doc_id"))
        fused.withColumn("fused_rank", row_number().over(wF))
          .filter(col("fused_rank") <= 20)
          .select(col("fused_rank"), col("doc_id"), col("r_lex"),
            col("r_dense"),
            round(col("rrf_d").cast("double"), 9).as("rrf"))
          .orderBy("fused_rank")
      },
      s"""WITH $Bm25Cte,
         bm_rank AS (
           SELECT doc_id, r_lex FROM (
             SELECT doc_id, ROW_NUMBER() OVER (
               ORDER BY bm25 DESC, doc_id) AS r_lex FROM bm)
           WHERE r_lex <= 50),
         probe AS (
           SELECT embedding AS probe_emb FROM embeddings
           ORDER BY vec_id LIMIT 1),
         cos AS (
           SELECT e.vec_id AS doc_id,
                  ROUND(
                    ${cos64("p.probe_emb", "e.embedding")}, 6) AS cosv
           FROM embeddings e CROSS JOIN probe p),
         cos_rank AS (
           SELECT doc_id, r_dense FROM (
             SELECT doc_id, ROW_NUMBER() OVER (
               ORDER BY cosv DESC, doc_id) AS r_dense FROM cos)
           WHERE r_dense <= 50),
         fused AS (
           SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
                  r_lex, r_dense,
                  COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_lex), 0.0)
                    ::DECIMAL(12,9) +
                  COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_dense), 0.0)
                    ::DECIMAL(12,9) AS rrf_d
           FROM bm_rank b FULL OUTER JOIN cos_rank c
             ON b.doc_id = c.doc_id)
         SELECT CAST(fused_rank AS INT) AS fused_rank, doc_id,
                CAST(r_lex AS INT) AS r_lex,
                CAST(r_dense AS INT) AS r_dense,
                ROUND(CAST(rrf_d AS DOUBLE), 9) AS rrf
         FROM (
           SELECT doc_id, r_lex, r_dense, rrf_d,
                  ROW_NUMBER() OVER (ORDER BY rrf_d DESC, doc_id)
                    AS fused_rank
           FROM fused)
         WHERE fused_rank <= 20 ORDER BY fused_rank"""),

    // MATRYOSHKA TRUNCATION EVAL — the dimension-budget question every
    // embedding deployment asks: how much retrieval quality survives
    // if we keep only the first 16 of 64 dims (4× cheaper storage +
    // dot products)? Per probe: exact top-5 under full-dim cosine vs
    // top-5 under the 16-dim prefix, overlap = recall@5. Both
    // rankings are exact and rounded-then-ranked, so the recall curve
    // is hash-compared DATA — the measurement a Matryoshka-style
    // truncation decision reads. One broadcast-probe scan computes
    // both scores (the prefix fold reuses the same rows).
    Q("sim_dim_truncation",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = embeddings(s, d)
        graft.engine.expr.GraftFunctions.ensureRegistered(s)
        val scored = emb.crossJoin(broadcast(Similarity.probes(emb)))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            round(expr("graft_cosine(probe_emb, embedding)"), 6)
              .as("cos_full"),
            round(expr(
              "graft_cosine(slice(probe_emb, 1, 16), slice(embedding, 1, 16))"),
              6).as("cos_trunc"))
        def top5(scoreCol: String) = {
          val w = Window.partitionBy("probe_id")
            .orderBy(desc(scoreCol), asc("vec_id"))
          scored.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 5).select("probe_id", "vec_id")
        }
        top5("cos_full").join(top5("cos_trunc"),
            Seq("probe_id", "vec_id"))
          .groupBy("probe_id").agg(count(lit(1)).as("n_overlap"))
          .select(col("probe_id"), col("n_overlap"),
            round(col("n_overlap") / 5.0, 2).as("recall_at_5"))
          .orderBy("probe_id")
      },
      s"""WITH $ProbeCte,
         scored AS (
           SELECT p.probe_id, e.vec_id,
             ROUND(${cos64("p.probe_emb", "e.embedding")},
               6) AS cos_full,
             ROUND(list_reduce(list_transform(range(1, 17),
               i -> CAST(p.probe_emb[i] AS DOUBLE) *
                    CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y) /
             (sqrt(list_reduce(list_transform(range(1, 17),
               i -> CAST(p.probe_emb[i] AS DOUBLE) *
                    CAST(p.probe_emb[i] AS DOUBLE)), (x, y) -> x + y)) *
              sqrt(list_reduce(list_transform(range(1, 17),
               i -> CAST(e.embedding[i] AS DOUBLE) *
                    CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))),
               6) AS cos_trunc
           FROM p CROSS JOIN embeddings e WHERE e.vec_id <> p.probe_id),
         t_full AS (
           SELECT probe_id, vec_id FROM (
             SELECT probe_id, vec_id, ROW_NUMBER() OVER (
               PARTITION BY probe_id
               ORDER BY cos_full DESC, vec_id) AS rn
             FROM scored) WHERE rn <= 5),
         t_trunc AS (
           SELECT probe_id, vec_id FROM (
             SELECT probe_id, vec_id, ROW_NUMBER() OVER (
               PARTITION BY probe_id
               ORDER BY cos_trunc DESC, vec_id) AS rn
             FROM scored) WHERE rn <= 5)
         SELECT probe_id, COUNT(*) AS n_overlap,
                ROUND(CAST(COUNT(*) AS DOUBLE) / 5.0, 2) AS recall_at_5
         FROM t_full JOIN t_trunc USING (probe_id, vec_id)
         GROUP BY probe_id ORDER BY probe_id"""),

    // BINARY-HASH retrieval (sign binarization → 1 bit/dim) — the
    // bottom rung of the compression ladder (float32 → int8 re-rank →
    // PQ → THIS): a 64-dim vector collapses to ONE 64-bit word
    // (256× smaller), candidate ranking is bit_count(xor) — an
    // L1-cache-speed instruction, the shape binary recall stacks
    // (e.g. hash-based prefilters before exact re-rank) run at
    // billion-vector scale. Engine side genuinely packs (bit_or of
    // shifted sign bits) and XORs; the oracle computes the SAME
    // Hamming distance as a per-dim sign-disagreement count — equal
    // by construction, so the packed path is hash-checked against
    // first-principles arithmetic. Exact integer ranking, vec_id
    // tie-break (ties are heavy at 64-bit resolution — determinism is
    // the tie-break's job).
    Q("sim_search_hamming",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = embeddings(s, d)
        val sigs = emb
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
          .groupBy("vec_id")
          .agg(expr("""bit_or(CASE WHEN x >= 0
                       THEN shiftleft(1L, cast(p AS INT)) ELSE 0L END)""")
            .as("sig"))
        val probeIds = emb.groupBy("label")
          .agg(min(col("vec_id")).as("probe_id"))
        val probes = probeIds.join(sigs,
            col("probe_id") === col("vec_id"))
          .select(col("probe_id"), col("sig").as("psig"))
        val scored = sigs.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            expr("bit_count(sig ^ psig)").as("hamming"))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("hamming"), col("vec_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("probe_id"), col("rn").cast("int").as("rn"),
            col("vec_id"), col("hamming"))
          .orderBy("probe_id", "rn")
      },
      """WITH dims AS (
           SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i)),
         probe_ids AS (
           SELECT MIN(vec_id) AS probe_id FROM embeddings GROUP BY label),
         pd AS (
           SELECT probe_id, i, x AS px
           FROM probe_ids JOIN dims ON vec_id = probe_id),
         scored AS (
           SELECT pd.probe_id, d.vec_id,
                  CAST(SUM(CASE WHEN (d.x >= 0) <> (pd.px >= 0)
                           THEN 1 ELSE 0 END) AS INT) AS hamming
           FROM dims d JOIN pd ON pd.i = d.i
           WHERE d.vec_id <> pd.probe_id
           GROUP BY 1, 2),
         ranked AS (
           SELECT probe_id, vec_id, hamming,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY hamming, vec_id) AS rn
           FROM scored)
         SELECT probe_id, CAST(rn AS INT) AS rn, vec_id, hamming
         FROM ranked WHERE rn <= 5 ORDER BY probe_id, rn"""),

    // MAXIMUM INNER-PRODUCT search (MIPS) — the retrieval objective
    // recommenders and reward models actually rank by: the RAW dot
    // product, NOT length-normalized cosine (a long vector SHOULD
    // outrank a perfectly-aligned short one when scores carry
    // magnitude). Distinct top-k from sim_search_topk on the same
    // probes — which is the point: the engine exposes both metrics
    // over one broadcast-probe scan. The classic scale path is the
    // norm-augmentation reduction (append sqrt(M²−‖x‖²) ⇒ MIPS becomes
    // cosine ANN, reusing the whole IVF machinery); exact brute force
    // here is the oracle-checkable tier. Left-fold double dot product
    // mirrors DuckDB's list_reduce exactly (sim_search_topk device).
    Q("sim_search_dot",
      (s, d) => {
        val emb = embeddings(s, d)
        val scored = emb.crossJoin(broadcast(Similarity.probes(emb)))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            expr("""aggregate(zip_with(probe_emb, embedding,
                      (x, y) -> cast(x AS double) * cast(y AS double)),
                    0.0D, (a, v) -> a + v)""").as("dot"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("probe_id").orderBy(desc("dot"), asc("vec_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("probe_id"), col("rn").cast("int").as("rn"),
            col("vec_id"), round(col("dot"), 6).as("score"))
          .orderBy("probe_id", "rn")
      },
      s"""WITH $ProbeCte,
         scored AS (
           SELECT p.probe_id, e.vec_id,
             list_reduce(list_transform(range(1, 65),
               i -> CAST(p.probe_emb[i] AS DOUBLE) *
                    CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y)
             AS dot
           FROM p CROSS JOIN embeddings e WHERE e.vec_id <> p.probe_id),
         ranked AS (
           SELECT probe_id, vec_id, dot,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY dot DESC, vec_id ASC) AS rn
           FROM scored)
         SELECT probe_id, CAST(rn AS INT) AS rn, vec_id,
                ROUND(dot, 6) AS score
         FROM ranked WHERE rn <= 5 ORDER BY probe_id, rn"""),

    // The ANN rankings themselves depend on the seeded hyperplanes /
    // quantizer (engine-specific), so the DECLARED relation of each
    // sim_ann_* key is the deterministic recall AUDIT against the
    // exact metric top-k: per-probe floor + fleet-mean bound
    // (Similarity.recallAudit). If ANN quality regresses, a boolean
    // flips and the oracle hash-compare fails; SimilaritySpec keeps
    // the tighter numeric recall bounds on the raw rankings.
    //
    // Floors are the PRODUCTION tier since r7: per-probe >= 0.6,
    // fleet-mean >= 0.9 (raised from 0.2/0.5 via wider probing /
    // more hash tables / the re-rank tier), and every parameter
    // choice is measured, not hoped — tools/RecallProbe prints the
    // per-SF recall distribution behind each floor (observed mins
    // 0.8/0.96+ for LSH@5 tables, 0.8/0.97+ for IVF@nProbe=14).
    Q("sim_ann_lsh",
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = Similarity.probes(emb)
        recallAudit5(
          Similarity.annTopK(emb, probes, 5, numTables = 5,
            datasetTag = Some(d)),
          Similarity.groundTruthFor(emb, d, 5, "euclid"))
      },
      ProbeRecallOkSql),

    Q("sim_ann_ivf",
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = Similarity.probes(emb)
        // fit-once: the quantizer is cached per dataset (and persisted
        // to the warehouse), so repeat queries skip the fit entirely
        recallAudit5(
          Similarity.ivfTopKCached(emb, probes, 5, d, nProbe = 14),
          Similarity.groundTruthFor(emb, d, 5, "cosine"))
      },
      ProbeRecallOkSql),

    // Large-probe-set IVF (the probe relation is a TABLE, not a
    // broadcastable handful): both sides bucket to quantizer cells and
    // meet in a shuffle equi-join — shuffle volume |corpus| +
    // nProbe×|probes|, never |probes|×|corpus|; no cartesian
    // (PlanSpec-asserted). Audited per probe against the persisted
    // exact top-k for the same batch probe set.
    Q("sim_search_batch",
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = Similarity.batchProbes(emb)
        // nProbe=14: with a ~200-probe fleet the per-probe floor sees
        // the tail of the recall distribution, and the production 0.6
        // floor needs the widest probing of the family (measured min
        // 0.6 at sf0.1 even at 14; the fleet mean sits at 0.97+). The
        // nProbe/nCells ratio is an artifact of the test-scale
        // nCells=16 — production cell counts (~sqrt N) keep the probed
        // fraction small at the same absolute nProbe.
        recallAudit5(
          Similarity.ivfTopKBatch(emb, probes, 5, d, nProbe = 14),
          Similarity.batchGroundTruthFor(emb, d, 5))
      },
      """SELECT vec_id AS probe_id, CAST(5 AS BIGINT) AS n_ann,
                TRUE AS probe_ok, TRUE AS mean_ok
         FROM embeddings WHERE vec_id % 10 = 0 ORDER BY probe_id"""),

    // IVF over the cell-PARTITIONED index: the scan prunes to the
    // probed cells' files (ingest-time write, partition-pruned read —
    // the true corpus-scale IVF). The ranking is bit-equal to
    // sim_ann_ivf (equivalence-tested), so its audit relation and
    // bounds are identical.
    Q("sim_ann_ivf_indexed",
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = Similarity.probes(emb)
        val idx = Similarity.cellIndexFor(emb, d)
        recallAudit5(
          Similarity.ivfTopKIndexed(s, idx, probes, 5, nProbe = 14),
          Similarity.groundTruthFor(emb, d, 5, "cosine"))
      },
      ProbeRecallOkSql),

    // Incremental index maintenance — the operation that makes IVF
    // viable as a LIVING index: a new embedding batch (every 5th
    // vector here) is appended to the cell-partitioned index built on
    // the rest, assigned by the STORED quantizer, as new segment files
    // inside ONLY the touched cell directories (LSM shape; no refit,
    // no rewrite of untouched cells — at 100 TB rebuilding the index
    // for a 0.1% batch is the thing this exists to avoid). Search over
    // the appended index is audited against the exact top-k of the
    // FULL corpus — the recall a freshly-rebuilt index would be held
    // to. SimilaritySpec pins the stronger exact properties: appended
    // contents == base-quantizer assignment of base ∪ batch, untouched
    // cell files byte-identical, and search == the unindexed IVF path
    // over the union.
    Q("sim_index_append",
      (s, d) => {
        val emb = embeddings(s, d)
        val base = emb.filter(col("vec_id") % 5 =!= 0)
        val batch = emb.filter(col("vec_id") % 5 === 0)
        val idx = Similarity.appendedIndexFor(base, batch, d)
        recallAudit5(
          Similarity.ivfTopKIndexed(s, idx, Similarity.probes(emb), 5,
            nProbe = 14),
          Similarity.groundTruthFor(emb, d, 5, "cosine"))
      },
      ProbeRecallOkSql),

    // TWO-TIER re-ranked search — the production recall/cost shape:
    // an int8 first pass over widened probe cells (nProbe=14) keeps
    // the top-4k candidates per probe on integer dot products; the
    // exact float cosine re-scores ONLY those. At 100 TB the index
    // holds int8 (4x smaller scan) and float fetches touch m×|probes|
    // rows — recall tracks the wide probe set at a quarter of the
    // scan cost. Gated at the same production floors (measured
    // min 0.8 / mean 0.98 across SFs).
    Q("sim_search_rerank",
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = Similarity.probes(emb)
        recallAudit5(
          Similarity.ivfTopKRerank(emb, probes, 5, d),
          Similarity.groundTruthFor(emb, d, 5, "cosine"))
      },
      ProbeRecallOkSql),

    // LSM COMPACTION for the cell-partitioned index — the close of
    // the append loop: sim_index_append accumulates segment files per
    // touched cell; compaction rewrites ONLY cells over the segment
    // threshold (cost scales with appended-into cells, not the index
    // — cold cells are copied byte-identical, SimilaritySpec-pinned),
    // preserving rows, the stored quantizer, and the EXACT search
    // results. The declared relation is the
    // compaction audit: total vectors preserved (data-dependent — the
    // oracle counts the corpus), every cell down to one file, and
    // search-identical before/after computed in-engine.
    Q("sim_index_compact",
      (s, d) => {
        import s.implicits._
        val emb = embeddings(s, d)
        val base = emb.filter(col("vec_id") % 5 =!= 0)
        val batch = emb.filter(col("vec_id") % 5 === 0)
        val idx = Similarity.appendedIndexFor(base, batch, d)
        // _w1 versions the artifact with the r12 spherical quantizer
        // (a pre-whitening compacted index must not be reused — the
        // partition-sweep caught exactly this via loadQuantizer's
        // fail-fast)
        val compacted = graft.engine.io.Artifacts.fitOnce(emb,
          "graft_cell_index", d, "compact", Seq(16, 42, "w1")) { tmp =>
          Similarity.compactCellIndex(s, idx, tmp)
        }
        val probes = Similarity.probes(emb)
        def results(path: String) =
          Similarity.ivfTopKIndexed(s, path, probes, 5, nProbe = 14)
            .select("probe_id", "rn", "vec_id", "score")
        // tracked cache (r14): the two exceptAll directions each
        // reference both result sets, so the uncached form ran FOUR
        // IVF searches; cached, each index is searched once
        val rIdx = graft.engine.ml.Dedup.cacheTracked(results(idx))
        val rComp = graft.engine.ml.Dedup.cacheTracked(results(compacted))
        val identical = rIdx.exceptAll(rComp).isEmpty &&
          rComp.exceptAll(rIdx).isEmpty
        val filesAfter = Similarity.cellSegments(s, compacted).map(_._2).max
        val nVectors = Storage.readParquet(s, compacted).count()
        Seq((nVectors, filesAfter, identical))
          .toDF("n_vectors", "max_files_per_cell", "search_identical")
      },
      """SELECT COUNT(*) AS n_vectors, 1 AS max_files_per_cell,
                TRUE AS search_identical
         FROM embeddings"""),

    Q("text_wordcount",
      (s, d) => Text.wordCount(documents(s, d), 50),
      """SELECT word, COUNT(*) AS cnt FROM (
           SELECT unnest(string_split(lower(text), ' ')) AS word
           FROM documents)
         GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 50"""),

    Q("text_ngrams",
      (s, d) => Text.bigramCount(documents(s, d), 50),
      """SELECT bigram, COUNT(*) AS cnt FROM (
           SELECT unnest(list_transform(range(1, len(string_split(text,' '))),
             i -> string_split(text,' ')[i] || ' ' ||
                  string_split(text,' ')[i+1])) AS bigram
           FROM documents)
         GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 50"""),

    Q("text_lang_profile",
      (s, d) => Text.langProfile(documents(s, d)).orderBy("lang", "source"),
      """SELECT s.lang, s.source, n_docs, avg_chars, n_distinct_words
         FROM (SELECT lang, source, COUNT(*) AS n_docs,
                      ROUND(AVG(n_chars), 2) AS avg_chars
               FROM documents GROUP BY 1, 2) s
         JOIN (SELECT lang, source, COUNT(DISTINCT w) AS n_distinct_words
               FROM (SELECT lang, source,
                       unnest(string_split(text, ' ')) AS w
                     FROM documents)
               GROUP BY 1, 2) w
           ON s.lang = w.lang AND s.source = w.source
         ORDER BY s.lang, s.source"""),

    Q("text_quality",
      (s, d) => Text.qualityScore(documents(s, d),
        Seq("join", "filter", "sort", "hash", "scan")).orderBy("doc_id"),
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           ROUND((length(text) - (len(string_split(text, ' ')) - 1))
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 4)
             AS avg_token_len,
           ROUND(len(list_filter(string_split(text, ' '),
               t -> list_contains(['join','filter','sort','hash','scan'], t)))
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 4)
             AS stopword_ratio,
           ROUND(len(regexp_extract_all(text, '[.,!?;:]'))
             / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
           ROUND(least(1.0, len(string_split(text, ' ')) / 200.0)
             * (1.0 - len(list_filter(string_split(text, ' '),
                 t -> list_contains(['join','filter','sort','hash','scan'], t)))
               / CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS quality
         FROM documents ORDER BY doc_id"""),

    Q("text_tokencount",
      (s, d) => Text.tokenCounts(documents(s, d)).orderBy("doc_id"),
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS INT)
             AS re_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
           ROUND(length(text) / CAST(len(regexp_extract_all(text,
             '[a-z0-9]+|[^a-z0-9 ]')) AS DOUBLE), 4) AS chars_per_token
         FROM documents ORDER BY doc_id"""),

    Q("text_fingerprint",
      (s, d) => Text.fingerprint(documents(s, d)).orderBy("doc_id"),
      s"""SELECT doc_id,
            CASE WHEN length(text) < 1 THEN NULL ELSE
              list_reduce(list_transform(range(1, length(text) + 1),
                i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
                (a, c) -> (a * 31 + c) % $P) END AS doc_hash,
            CASE WHEN length(text) < 8 THEN NULL ELSE
              list_min(list_transform(range(1, length(text) - 6),
                i -> list_reduce(list_transform(range(0, 8),
                       j -> CAST(ascii(substring(text, i + j, 1)) AS BIGINT)),
                     (a, c) -> (a * 31 + c) % $P))) END AS min_8gram_hash
          FROM documents ORDER BY doc_id"""),

    // BM25 RANKING (Robertson k1=1.2, b=0.75, the +1 idf variant
    // Lucene uses so scores stay positive) against a fixed query term
    // set — the search-side scoring the corpus-analysis family lacked
    // (text_idf_score profiles documents; this RANKS them for a
    // query). All inputs are exact integers off ONE token exchange
    // (tf restricted to query terms map-side, doc lengths, per-term
    // df, corpus N/avgdl as broadcast scalars); the score is one
    // closed-form double expression on identical rationals, rounded
    // once. At 100 TB: the df/avgdl stats are a reusable fit-once
    // relation and scoring is a map-side join against the tiny term
    // stats — no inverted index needed for a fixed query set.
    Q("text_bm25",
      (s, d) => bm25Scores(s, d)
        .select("doc_id", "bm25", "n_terms_hit")
        .orderBy("doc_id"),
      s"""WITH $Bm25Cte
         SELECT doc_id, bm25, n_terms_hit
         FROM bm ORDER BY doc_id"""),

    // HASHING-TRICK featurization (hashingTF): bag-of-words projected
    // into a FIXED 16-dim space by hashing each token (md5 % 16) — the
    // featurizer that needs NO vocabulary fit, no broadcast, no
    // id-assignment pass, which is why it's the scalable front end for
    // linear quality classifiers at 100 TB (vocab_build's dense-id
    // path needs a fit; this is one stateless map-side projection +
    // one (doc, dim) partial-agg exchange). Long-form output (the
    // sparse representation — dims a doc never hits are absent);
    // collisions are the accepted trade, and the l2 column is the
    // per-doc norm a downstream cosine/logreg consumer uses.
    Q("text_hash_features",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tf = documents(s, d)
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("w"))
          .select(col("doc_id"),
            (conv(substring(md5(col("w")), 1, 8), 16, 10)
              .cast("long") % 16).as("dim"))
          .groupBy("doc_id", "dim")
          .agg(count(lit(1)).as("n"))
        val wDoc = Window.partitionBy("doc_id")
        tf.withColumn("l2",
            round(sqrt(sum(col("n") * col("n")).over(wDoc)
              .cast("double")), 6))
          .orderBy("doc_id", "dim")
      },
      """WITH tf AS (
           SELECT doc_id,
                  CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 16
                    AS dim,
                  COUNT(*) AS n
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents)
           GROUP BY 1, 2)
         SELECT doc_id, dim, n,
                ROUND(sqrt(CAST(SUM(n * n) OVER (PARTITION BY doc_id)
                  AS DOUBLE)), 6) AS l2
         FROM tf ORDER BY doc_id, dim"""),

    // Fully deterministic (integer overlap scoring, alphabetical
    // tie-break), so the whole train-profile → classify pipeline is
    // SQL-expressible and oracle-checked end to end. The profile comes
    // from the fit-once persisted store (langIdProfileFor).
    Q("text_langid",
      (s, d) => Text.langIdPredict(documents(s, d), datasetTag = Some(d))
        .orderBy("doc_id"),
      s"""WITH $LangIdOverlapCte
         SELECT doc_id, lang AS predicted_lang, n AS overlap FROM (
           SELECT doc_id, lang, n, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY n DESC, lang ASC) AS rn
           FROM overlap) WHERE rn = 1
         ORDER BY doc_id"""),

    Q("vec_norm_stats",
      (s, d) => Similarity.normStats(embeddings(s, d)).orderBy("label"),
      """SELECT label, COUNT(*) AS n_vectors,
                CAST(MIN(len(embedding)) AS INT) AS dim,
                ROUND(AVG(norm), 4) AS avg_norm,
                ROUND(MIN(norm), 4) AS min_norm,
                ROUND(MAX(norm), 4) AS max_norm
         FROM (SELECT label, embedding,
                 sqrt(list_reduce(list_transform(range(1, 65),
                   i -> CAST(embedding[i] AS DOUBLE) *
                        CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y))
                   AS norm
               FROM embeddings)
         GROUP BY label ORDER BY label"""),

    // FILTERED vector search — similarity under a metadata predicate
    // (the shape modern vector stores call "filtered ANN": WHERE +
    // ORDER BY distance). Exact baseline: the predicate composes with
    // the broadcast-probe scan, so the filter prunes BEFORE scoring —
    // at scale the same predicate prunes IVF cells/files first. Probes
    // carry their label; candidates must be cross-label and in the
    // vec_id%3 slice.
    Q("sim_search_filtered",
      (s, d) => {
        graft.engine.expr.GraftFunctions.ensureRegistered(s)
        import org.apache.spark.sql.expressions.Window
        val emb = embeddings(s, d)
        val probeIds = emb.groupBy("label")
          .agg(min(col("vec_id")).as("vec_id"))
        val probes = emb.join(probeIds.select("vec_id"), "vec_id")
          .select(col("vec_id").as("probe_id"),
            col("label").as("probe_label"),
            col("embedding").as("probe_emb"))
        val w = Window.partitionBy("probe_id")
          .orderBy(desc("cos"), asc("vec_id"))
        emb.filter(col("vec_id") % 3 === 0)
          .crossJoin(broadcast(probes))
          .filter(col("label") =!= col("probe_label"))
          .select(col("probe_id"), col("vec_id"),
            expr("graft_cosine(probe_emb, embedding)").as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("probe_id"), col("rn"), col("vec_id"),
            round(col("cos"), 6).as("score"))
          .orderBy("probe_id", "rn")
      },
      s"""WITH probe_ids AS (
           SELECT MIN(vec_id) AS probe_id FROM embeddings GROUP BY label),
         p AS (SELECT e.vec_id AS probe_id, e.label AS probe_label,
                      e.embedding AS probe_emb
               FROM embeddings e JOIN probe_ids ON e.vec_id = probe_id),
         scored AS (
           SELECT p.probe_id, e.vec_id,
             ${cos64("p.probe_emb", "e.embedding")}
             AS cos
           FROM embeddings e CROSS JOIN p
           WHERE e.vec_id % 3 = 0 AND e.label <> p.probe_label),
         ranked AS (
           SELECT probe_id, vec_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY cos DESC, vec_id ASC) AS rn
           FROM scored)
         SELECT probe_id, rn, vec_id, ROUND(cos, 6) AS score
         FROM ranked WHERE rn <= 5 ORDER BY probe_id, rn"""),

    // Per-vector symmetric int8 quantization — the 4× storage compression
    // a 100 TB embedding store runs at ingest (scale = max|v|/127,
    // q_i = round(v_i/scale)). Map-only; emits the quantizer audit every
    // compression job reports: the scale, an exact integer checksum of
    // the quantized codes, and the reconstruction MSE. All arithmetic is
    // a left fold over doubles, mirrored exactly by the oracle's
    // list_reduce so the folds hash-match (same pattern as
    // dedup_embedding's cosine). An all-zero vector has scale 0 — the
    // divides guard with nullif so the degenerate row reports
    // deterministic NULL codes/MSE on BOTH engines instead of an
    // engine-specific divide-by-zero (Inf/NaN) disagreement.
    Q("vec_quantize",
      (s, d) => embeddings(s, d)
        .withColumn("scale",
          expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
                    (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127.0"""))
        .select(col("vec_id"), round(col("scale"), 8).as("scale_r"),
          expr("""aggregate(transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) /
                      nullif(scale, CAST(0.0 AS DOUBLE))) AS BIGINT)),
                    CAST(0 AS BIGINT), (acc, q) -> acc + abs(q))""")
            .as("abs_code_sum"),
          round(expr("""aggregate(transform(embedding,
                    x -> pow(CAST(x AS DOUBLE) -
                         round(CAST(x AS DOUBLE) /
                           nullif(scale, CAST(0.0 AS DOUBLE))) * scale, 2)),
                    CAST(0.0 AS DOUBLE), (acc, e) -> acc + e) / 64.0"""),
            12).as("mse"))
        .orderBy("vec_id"),
      """WITH scaled AS (
           SELECT vec_id, embedding,
                  list_reduce(list_transform(range(1, 65),
                    i -> abs(CAST(embedding[i] AS DOUBLE))),
                    (x, y) -> greatest(x, y)) / 127.0 AS scale
           FROM embeddings)
         SELECT vec_id, ROUND(scale, 8) AS scale_r,
                CAST(list_reduce(list_transform(range(1, 65),
                  i -> abs(CAST(round(CAST(embedding[i] AS DOUBLE) /
                           nullif(scale, 0.0))
                           AS BIGINT))), (x, y) -> x + y) AS BIGINT)
                  AS abs_code_sum,
                ROUND(list_reduce(list_transform(range(1, 65),
                  i -> pow(CAST(embedding[i] AS DOUBLE) -
                           round(CAST(embedding[i] AS DOUBLE) /
                             nullif(scale, 0.0)) *
                           scale, 2)), (x, y) -> x + y) / 64.0, 12) AS mse
         FROM scaled ORDER BY vec_id"""),

    // Training-mixture sampling: per-language rates (en 40%, others 10%)
    // over a reproducible md5 bucket of doc_id — the weighted-interleave
    // step of corpus assembly, exact-membership checked by the oracle.
    // Class-balanced downsample: every language contributes exactly
    // min-class-count docs, selected by deterministic md5 rank (stable
    // across runs/engines/partitionings — never rand()). The balancing
    // verb a training mix applies before sample_mixture's weighted
    // draw; one shuffle for the rank window, the 1-row target
    // broadcasts.
    Q("sample_balanced",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = documents(s, d)
        val target = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
          .agg(min("cnt").as("target"))
        val w = Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        docs.select(col("doc_id"), col("lang"))
          .withColumn("rk", row_number().over(w))
          .crossJoin(broadcast(target))
          .filter(col("rk") <= col("target"))
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      """WITH tgt AS (
           SELECT MIN(cnt) AS target FROM (
             SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1)),
         ranked AS (
           SELECT doc_id, lang,
                  ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         SELECT doc_id, lang FROM ranked, tgt
         WHERE rk <= target ORDER BY doc_id"""),

    Q("sample_mixture",
      (s, d) => documents(s, d)
        .withColumn("bucket",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8),
            16, 10).cast("long") % 100)
        .filter(col("bucket") <
          when(col("lang") === "en", 40).otherwise(10))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
           FROM documents)
         WHERE bucket < CASE WHEN lang = 'en' THEN 40 ELSE 10 END
         ORDER BY doc_id"""),

    // Sequence packing: greedily pack documents (in doc_id order, per
    // source) into 4096-token context windows — running token sum →
    // bin id. Token counts are REAL subword counts from the trained
    // BPE merge table (graft.engine.ml.Bpe — fit-once artifact,
    // map-side encode), not the old len/4 estimate; the oracle replays
    // the whole trainer+encoder in DuckDB so the packing is checked
    // against exact counts. The windowed-cumsum shape scales: one
    // shuffle on the pack key, sequential packing only within a group.
    Q("pack_sequences",
      (s, d) => {
        packedBins(s, d)
          .select("source", "doc_id", "n_tokens", "bin")
          .orderBy("source", "doc_id")
      },
      graft.engine.ml.Bpe.tokensCtePrefix + """
SELECT source, doc_id, n_tokens,
       CAST(floor((cum_tokens - n_tokens) / 4096) AS BIGINT) AS bin
FROM (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM dtok)
ORDER BY source, doc_id"""),

    // PACKING-EFFICIENCY audit — the padding-waste number a training
    // pipeline watches per source (pack_sequences assigns bins; this
    // reports what the assignment COSTS): bins consumed, tokens
    // packed, capacity = bins·4096, and fill efficiency. Rides the
    // same BPE token store + source-keyed cumsum window, collapsed to
    // one source-keyed aggregate — source-bounded output. Ratios are
    // identical doubles over exact integer counts.
    Q("pack_efficiency",
      (s, d) => {
        packedBins(s, d)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            (max(col("bin")) + 1L).as("n_bins"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_bins"), (col("n_bins") * 4096L).as("capacity"),
            round(col("n_tokens").cast("double") /
              (col("n_bins") * 4096L).cast("double"), 6)
              .as("fill_efficiency"))
          .orderBy("source")
      },
      graft.engine.ml.Bpe.tokensCtePrefix + """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MAX(bin) + 1 AS BIGINT) AS n_bins,
       CAST((MAX(bin) + 1) * 4096 AS BIGINT) AS capacity,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) /
             CAST((MAX(bin) + 1) * 4096 AS DOUBLE), 6)
         AS fill_efficiency
FROM (
  SELECT source, n_tokens,
         CAST(floor((cum_tokens - n_tokens) / 4096) AS BIGINT) AS bin
  FROM (
    SELECT source, doc_id, n_tokens,
           SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_tokens
    FROM dtok))
GROUP BY source ORDER BY source"""),

    // Multimodal: opaque bytes + derived features, fully deterministic.
    // The real batch-decode plumbing lives in engine.ml.Multimodal
    // (ScalaTest); this query checks the byte-level feature math.
    Q("multimodal_features",
      (s, d) => documents(s, d).select(
        col("doc_id"),
        octet_length(col("text")).as("byte_len"),
        expr(s"""CASE WHEN length(text) < 1 THEN NULL ELSE
                   aggregate(transform(sequence(1, length(text)),
                     i -> cast(ascii(substring(text, i, 1)) AS bigint)),
                   0L, (a, c) -> (a * 31 + c) % $P) END""").as("checksum"),
        // serialized, not a raw list — list columns crash the driver's
        // pandas comparator (unhashable ndarray)
        expr("""CASE WHEN length(text) < 4 THEN NULL ELSE
                  concat_ws(',', transform(sequence(1, 4),
                    i -> cast(ascii(substring(text, i, 1)) AS string)))
                END""").as("head_features"))
        .orderBy("doc_id"),
      s"""SELECT doc_id,
            CAST(octet_length(CAST(text AS BLOB)) AS INT) AS byte_len,
            CASE WHEN length(text) < 1 THEN NULL ELSE
              list_reduce(list_transform(range(1, length(text) + 1),
                i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
                (a, c) -> (a * 31 + c) % $P) END AS checksum,
            CASE WHEN length(text) < 4 THEN NULL ELSE
              array_to_string(list_transform(range(1, 5),
                i -> CAST(ascii(substring(text, i, 1)) AS VARCHAR)), ',')
            END AS head_features
          FROM documents ORDER BY doc_id"""),

    // Frame sampling through the real multimodal pipeline shape
    // (Multimodal.sampleFrames: typed Dataset[MediaRow] →
    // partition-local flatMap → Dataset[FrameRow]) — every stride-th
    // fixed-size window of the payload becomes a frame row, the
    // stand-in for video frame extraction with the codec stubbed.
    // Media bytes never shuffle: frames are digested in the same
    // narrow stage. Oracle reconstructs each frame from the SOURCE
    // text (construction-time truth, like scan_binaryfile): the corpus
    // is ASCII so char windows == byte windows.
    Q("multimodal_framesample",
      (s, d) => {
        import s.implicits._
        val media = documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, t) =>
            graft.engine.ml.Multimodal.MediaRow(id, t.getBytes("UTF-8"),
              graft.engine.ml.Multimodal.MediaMeta("text/plain", 0, 0, 0L))
          }
        graft.engine.ml.Multimodal.sampleFrames(media, 256, 2)
          .select(col("media_id"), col("frame_idx").cast("bigint"),
            octet_length(col("frame")).cast("bigint").as("frame_len"),
            md5(col("frame")).as("digest"))
          .orderBy("media_id", "frame_idx")
      },
      """SELECT doc_id AS media_id, fi AS frame_idx,
                CAST(octet_length(CAST(substring(text,
                  CAST(fi * 256 + 1 AS INT), 256) AS BLOB)) AS BIGINT)
                  AS frame_len,
                md5(substring(text, CAST(fi * 256 + 1 AS INT), 256))
                  AS digest
         FROM (SELECT doc_id, text,
                      unnest(range(0, CAST(ceil(length(text) / 256.0)
                        AS BIGINT))) AS fi
               FROM documents WHERE doc_id < 40)
         WHERE fi % 2 = 0
         ORDER BY media_id, frame_idx"""),

    // REAL byte-level audio decode (round 11 — closes the "multimodal
    // operates on magic-sniffed synthetic bytes" gap): per document, a
    // deterministic PCM16 waveform is ENCODED into spec-conformant
    // RIFF/WAVE bytes and decoded back by parsing the actual 44-byte
    // header + little-endian samples (engine/ml/Multimodal.WavCodec —
    // an endianness, offset or chunk-length bug breaks the decode; the
    // JDK's independent javax.sound parser accepts the same bytes in
    // MultimodalWavSpec). The oracle CANNOT parse WAV, so it replays
    // the closed-form waveform and recomputes the identical all-integer
    // statistics — Spark's numbers come from the decoded bytes, DuckDB's
    // from the definition, and the hash compare proves the byte
    // round-trip is lossless. Per-row map-side work, no shuffle; at
    // 100 TB this is the ingest-time decode shape (bytes never
    // shuffle, stats extracted before any wide op).
    Q("multimodal_wav_decode",
      (s, d) => {
        import s.implicits._
        documents(s, d).select(col("doc_id")).as[Long]
          .map(id =>
            graft.engine.ml.Multimodal.wavRoundTripStats(id, 8000))
          .toDF()
          .select(col("media_id"), col("n_bytes"), col("header_ok"),
            col("sample_rate"), col("n_samples"), col("peak_abs"),
            col("sum_sq"), col("zero_crossings"))
          .orderBy("media_id")
      },
      """WITH docs AS (
           SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         samp AS (
           -- id folded into the modulus before the multiply (matches
           -- wavRoundTripStats): identical waveform mod 2001, but no
           -- BIGINT-overflow envelope at extreme doc_id
           SELECT doc_id, n, i,
                  ((doc_id % 2001) * 31 + i * 17) % 2001 - 1000 AS s
           FROM (SELECT doc_id, n, UNNEST(range(0, n)) AS i
                 FROM docs)),
         lagged AS (
           SELECT doc_id, n, s,
                  LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM samp)
         SELECT doc_id AS media_id,
                CAST(44 + 2 * MAX(n) AS BIGINT) AS n_bytes,
                TRUE AS header_ok,
                CAST(8000 AS BIGINT) AS sample_rate,
                CAST(MAX(n) AS BIGINT) AS n_samples,
                CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
                CAST(SUM(s * s) AS BIGINT) AS sum_sq,
                CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND (prev < 0) <> (s < 0)
                          THEN 1 ELSE 0 END) AS BIGINT)
                  AS zero_crossings
         FROM lagged GROUP BY doc_id ORDER BY media_id"""),

    // REAL byte-level IMAGE decode (round 12) — the WavCodec
    // discipline applied to stills: each doc_id deterministically
    // becomes an uncompressed 24-bit BMP (14+40-byte headers,
    // bottom-up BGR rows padded to 4 bytes — no external library
    // needed), the Spark side round-trips the actual bytes through
    // BmpCodec and computes all-integer stats FROM THE DECODED
    // PIXELS (channel sums + horizontal luminance-gradient edge
    // count — the latter is pixel-ORDER sensitive, so a stride,
    // padding or row-flip bug in the parse changes the answer). The
    // oracle replays the closed-form image (construction-time
    // truth), so the hash match proves the byte round-trip lossless;
    // javax.imageio independently accepts the bytes and returns the
    // same pixels (MultimodalBmpSpec). Per-row map-side work, no
    // shuffle — the 100 TB ingest-time decode shape, like the WAV
    // key above.
    Q("multimodal_bmp_decode",
      (s, d) => {
        import s.implicits._
        documents(s, d).select(col("doc_id")).as[Long]
          .map(id => graft.engine.ml.Multimodal.bmpRoundTripStats(id))
          .toDF()
          .select(col("media_id"), col("n_bytes"), col("header_ok"),
            col("width"), col("height"), col("b_sum"), col("g_sum"),
            col("r_sum"), col("edges"))
          .orderBy("media_id")
      },
      """WITH docs AS (
           SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
                  doc_id % 251 AS dd
           FROM documents),
         rows_y AS (
           SELECT doc_id, w, h, dd, UNNEST(range(0, h)) AS y
           FROM docs),
         px AS (
           SELECT doc_id, w, h, y,
                  (dd * 3 + x * 7 + y * 11) % 256 AS b,
                  (dd * 5 + x * 13 + y * 3) % 256 AS g,
                  (dd * 7 + x * 2 + y * 17) % 256 AS r,
                  x
           FROM (SELECT doc_id, w, h, dd, y,
                        UNNEST(range(0, w)) AS x
                 FROM rows_y)),
         lagged AS (
           SELECT doc_id, w, h, b, g, r, b + g + r AS lum,
                  LAG(b + g + r)
                    OVER (PARTITION BY doc_id, y ORDER BY x) AS prev
           FROM px)
         SELECT doc_id AS media_id,
                CAST(54 + MAX(h) * ((3 * MAX(w) + 3) // 4 * 4)
                  AS BIGINT) AS n_bytes,
                TRUE AS header_ok,
                CAST(MAX(w) AS BIGINT) AS width,
                CAST(MAX(h) AS BIGINT) AS height,
                CAST(SUM(b) AS BIGINT) AS b_sum,
                CAST(SUM(g) AS BIGINT) AS g_sum,
                CAST(SUM(r) AS BIGINT) AS r_sum,
                CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND ABS(lum - prev) > 128
                          THEN 1 ELSE 0 END) AS BIGINT) AS edges
         FROM lagged GROUP BY doc_id ORDER BY media_id"""),

    // REAL COMPRESSED-image decode (round 13 — the first multimodal
    // format with a real compression layer): each doc_id becomes a
    // genuine PNG (zlib IDAT via java.util.zip, per-row scanline
    // filter (id + y) % 5 so all five filter types appear across the
    // corpus), and the Spark side runs the full chunk/CRC32/inflate/
    // unfilter parse, computing all-integer stats FROM THE DECODED
    // PIXELS. The oracle replays the closed-form pixel function and
    // the closed-form INFLATED stream length (1 + 3w) * h — the
    // compressed byte count is a zlib implementation detail and is
    // deliberately not an output. Map-side per-row work, no shuffle;
    // at 100 TB this is the decode-at-ingest shape: bytes never move.
    Q("multimodal_png_decode",
      (s, d) => {
        import s.implicits._
        documents(s, d).select(col("doc_id")).as[Long]
          .map(id => graft.engine.ml.Multimodal.pngRoundTripStats(id))
          .toDF()
          .select(col("media_id"), col("raw_len"), col("header_ok"),
            col("width"), col("height"), col("r_sum"), col("g_sum"),
            col("b_sum"), col("edges"))
          .orderBy("media_id")
      },
      """WITH docs AS (
           SELECT doc_id, 8 + doc_id % 11 AS w, 8 + doc_id % 5 AS h,
                  doc_id % 239 AS dd
           FROM documents),
         px AS (
           SELECT doc_id, w, h, y,
                  (dd * 2 + x * 5 + y * 13) % 256 AS r,
                  (dd * 11 + x * 3 + y * 7) % 256 AS g,
                  (dd * 5 + x * 17 + y * 2) % 256 AS b,
                  x
           FROM (SELECT doc_id, w, h, dd, y,
                        UNNEST(range(0, w)) AS x
                 FROM (SELECT doc_id, w, h, dd, UNNEST(range(0, h)) AS y
                       FROM docs))),
         lagged AS (
           SELECT doc_id, w, h, b, g, r, b + g + r AS lum,
                  LAG(b + g + r)
                    OVER (PARTITION BY doc_id, y ORDER BY x) AS prev
           FROM px)
         SELECT doc_id AS media_id,
                CAST(MAX(h) * (1 + 3 * MAX(w)) AS BIGINT) AS raw_len,
                TRUE AS header_ok,
                CAST(MAX(w) AS BIGINT) AS width,
                CAST(MAX(h) AS BIGINT) AS height,
                CAST(SUM(r) AS BIGINT) AS r_sum,
                CAST(SUM(g) AS BIGINT) AS g_sum,
                CAST(SUM(b) AS BIGINT) AS b_sum,
                CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND ABS(lum - prev) > 128
                          THEN 1 ELSE 0 END) AS BIGINT) AS edges
         FROM lagged GROUP BY doc_id ORDER BY media_id"""),

    // REAL byte-level VIDEO decode (round 12) — the last stub in the
    // multimodal family replaced: each doc_id becomes an uncompressed
    // -DIB AVI (a nested RIFF container: hdrl{avih,strl{strh,strf}} +
    // movi{'00db' frames} + idx1 — frames are BMP pixel arrays without
    // the file header, so no external library is needed), the Spark
    // side walks the actual chunk tree (AviCodec) and computes
    // all-integer stats FROM THE DECODED FRAMES: channel sums plus a
    // MOTION count (same-pixel luminance jumps > 128 between
    // consecutive frames — frame-ORDER sensitive, so a movi-order,
    // nesting or stride bug changes the answer). The oracle replays
    // the closed-form clip; n_bytes is the full container size, so
    // even the header/index layout arithmetic is parity-checked.
    // Per-row map-side work, no shuffle.
    Q("multimodal_avi_decode",
      (s, d) => {
        import s.implicits._
        documents(s, d).select(col("doc_id")).as[Long]
          .map(id => graft.engine.ml.Multimodal.aviRoundTripStats(id))
          .toDF()
          .select(col("media_id"), col("n_bytes"), col("header_ok"),
            col("width"), col("height"), col("n_frames"),
            col("b_sum"), col("g_sum"), col("r_sum"), col("motion"))
          .orderBy("media_id")
      },
      """WITH docs AS (
           SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h,
                  4 + doc_id % 4 AS nf, doc_id % 251 AS dd
           FROM documents),
         rows_y AS (
           SELECT doc_id, w, h, nf, dd, UNNEST(range(0, h)) AS y
           FROM docs),
         rows_xy AS (
           SELECT doc_id, w, h, nf, dd, y, UNNEST(range(0, w)) AS x
           FROM rows_y),
         px AS (
           SELECT doc_id, w, h, nf, x, y, f,
                  (dd * 3 + x * 7 + y * 11 + f * 19) % 256 AS b,
                  (dd * 5 + x * 13 + y * 3 + f * 23) % 256 AS g,
                  (dd * 7 + x * 2 + y * 17 + f * 29) % 256 AS r
           FROM (SELECT doc_id, w, h, nf, dd, x, y,
                        UNNEST(range(0, nf)) AS f
                 FROM rows_xy)),
         lagged AS (
           SELECT doc_id, w, h, nf, b, g, r, b + g + r AS lum,
                  LAG(b + g + r) OVER (PARTITION BY doc_id, x, y
                    ORDER BY f) AS prev
           FROM px)
         SELECT doc_id AS media_id,
                CAST(232 + MAX(nf) *
                  (24 + MAX(h) * ((3 * MAX(w) + 3) // 4 * 4))
                  AS BIGINT) AS n_bytes,
                TRUE AS header_ok,
                CAST(MAX(w) AS BIGINT) AS width,
                CAST(MAX(h) AS BIGINT) AS height,
                CAST(MAX(nf) AS BIGINT) AS n_frames,
                CAST(SUM(b) AS BIGINT) AS b_sum,
                CAST(SUM(g) AS BIGINT) AS g_sum,
                CAST(SUM(r) AS BIGINT) AS r_sum,
                CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND ABS(lum - prev) > 128
                          THEN 1 ELSE 0 END) AS BIGINT) AS motion
         FROM lagged GROUP BY doc_id ORDER BY media_id"""),

    // Exact top-k by EUCLIDEAN distance — the third metric of the
    // search family (dot / cosine / hamming already declared). The
    // squared distance sums per-dim (x−y)² as exact DECIMAL(20,10)
    // (float→double casts exact, decimal add order-free), so the
    // ranking key is bit-stable under any partitioning; ranking is a
    // per-probe bounded window over the broadcast-probe scan — at
    // 100 TB the same IVF cell-pruning path as the cosine keys applies
    // (triangle-inequality pruning on the residual metric).
    Q("sim_search_l2",
      (s, d) => {
        val emb = embeddings(s, d)
        // plain-double fold: aggregate/list_reduce are SEQUENTIAL
        // left-to-right per row, so the IEEE sum order is fixed and
        // identical in both engines (sim_search_dot precedent) — no
        // decimal pinning needed, and the HOF stays cheap
        val scored = emb.crossJoin(broadcast(Similarity.probes(emb)))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            expr("""aggregate(zip_with(probe_emb, embedding,
                      (x, y) -> (cast(x AS double) - cast(y AS double))
                        * (cast(x AS double) - cast(y AS double))),
                    0.0D, (a, v) -> a + v)""").as("d2"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("probe_id").orderBy(asc("d2"), asc("vec_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("probe_id"), col("rn").cast("int").as("rn"),
            col("vec_id"),
            round(sqrt(col("d2").cast("double")), 6).as("dist"))
          .orderBy("probe_id", "rn")
      },
      s"""WITH $ProbeCte,
         scored AS (
           SELECT p.probe_id, e.vec_id,
             list_reduce(list_transform(range(1, 65),
               i -> (CAST(p.probe_emb[i] AS DOUBLE) -
                     CAST(e.embedding[i] AS DOUBLE)) *
                    (CAST(p.probe_emb[i] AS DOUBLE) -
                     CAST(e.embedding[i] AS DOUBLE))), (x, y) -> x + y)
             AS d2
           FROM p CROSS JOIN embeddings e WHERE e.vec_id <> p.probe_id),
         ranked AS (
           SELECT probe_id, vec_id, d2,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY d2 ASC, vec_id ASC) AS rn
           FROM scored)
         SELECT probe_id, CAST(rn AS INT) AS rn, vec_id,
                ROUND(SQRT(CAST(d2 AS DOUBLE)), 6) AS dist
         FROM ranked WHERE rn <= 5 ORDER BY probe_id, rn"""),

    // MIPS → L2 reduction audit (Shrivastava & Li's asymmetric-LSH
    // norm-augmentation trick, the standard way to serve max-inner-
    // product from an L2/cosine index): corpus vectors gain one extra
    // dimension sqrt(M² − ‖v‖²) with M = max corpus norm, probes gain
    // 0 — then augmented-L2 NN order equals inner-product order. The
    // declared relation is the top-5-by-dot per probe ANNOTATED with
    // the augmented distance and a per-row monotonicity flag
    // (aug-L2 rank == dot rank), all on exact decimal sums — the
    // audit that justifies pointing the existing IVF index at MIPS
    // workloads. M²−‖v‖² is clamped at ≥0 (M is the max, so exact-
    // arithmetic equality at the max vector itself).
    Q("vec_mips",
      (s, d) => {
        val emb = embeddings(s, d)
        val withN2 = emb.withColumn("n2",
          expr("""aggregate(embedding, cast(0 AS decimal(38,20)),
                    (a, v) -> cast(a + cast(cast(v AS double) *
                      cast(v AS double) AS decimal(20,10))
                      AS decimal(38,20)))"""))
        val m2 = withN2.agg(max(col("n2")).as("m2"))
        val scored = withN2.crossJoin(broadcast(m2))
          .crossJoin(broadcast(Similarity.probes(emb)))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            expr("""aggregate(zip_with(probe_emb, embedding,
                      (x, y) -> cast(cast(x AS double) * cast(y AS double)
                        AS decimal(20,10))),
                    cast(0 AS decimal(38,20)),
                    (a, v) -> cast(a + v AS decimal(38,20)))""")
              .as("dot"),
            expr("""aggregate(zip_with(probe_emb, probe_emb,
                      (x, y) -> cast(cast(x AS double) * cast(y AS double)
                        AS decimal(20,10))),
                    cast(0 AS decimal(38,20)),
                    (a, v) -> cast(a + v AS decimal(38,20)))""")
              .as("q2"),
            col("n2"), col("m2"))
          // augmented squared L2: ‖q‖² + M² − 2·q·v  (the sqrt(M²−‖v‖²)
          // aug-dim contributes M²−‖v‖² and cancels ‖v‖²) — exact
          // decimal arithmetic end to end
          .withColumn("aug_d2",
            col("q2") + col("m2") - col("dot") - col("dot"))
        val wDot = org.apache.spark.sql.expressions.Window
          .partitionBy("probe_id").orderBy(desc("dot"), asc("vec_id"))
        val wAug = org.apache.spark.sql.expressions.Window
          .partitionBy("probe_id").orderBy(asc("aug_d2"), asc("vec_id"))
        scored
          .withColumn("rn_dot", row_number().over(wDot))
          .withColumn("rn_aug", row_number().over(wAug))
          .filter(col("rn_dot") <= 5)
          .select(col("probe_id"), col("rn_dot").cast("int").as("rn"),
            col("vec_id"),
            round(col("dot").cast("double"), 6).as("ip_score"),
            round(col("aug_d2").cast("double"), 6).as("aug_d2"),
            (col("rn_aug") === col("rn_dot")).as("order_preserved"))
          .orderBy("probe_id", "rn")
      },
      s"""WITH $ProbeCte,
         n2t AS (
           SELECT vec_id, embedding,
                  list_reduce(list_transform(range(1, 65),
                    i -> CAST(CAST(embedding[i] AS DOUBLE) *
                         CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,10))),
                    (x, y) -> CAST(x + y AS DECIMAL(38,20))) AS n2
           FROM embeddings),
         m2t AS (SELECT MAX(n2) AS m2 FROM n2t),
         scored AS (
           SELECT p.probe_id, e.vec_id,
             list_reduce(list_transform(range(1, 65),
               i -> CAST(CAST(p.probe_emb[i] AS DOUBLE) *
                    CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(20,10))),
               (x, y) -> CAST(x + y AS DECIMAL(38,20))) AS dot,
             list_reduce(list_transform(range(1, 65),
               i -> CAST(CAST(p.probe_emb[i] AS DOUBLE) *
                    CAST(p.probe_emb[i] AS DOUBLE) AS DECIMAL(20,10))),
               (x, y) -> CAST(x + y AS DECIMAL(38,20))) AS q2,
             e.n2, m2t.m2
           FROM p CROSS JOIN n2t e CROSS JOIN m2t
           WHERE e.vec_id <> p.probe_id),
         aug AS (
           SELECT probe_id, vec_id, dot,
                  q2 + m2 - dot - dot AS aug_d2
           FROM scored),
         ranked AS (
           SELECT probe_id, vec_id, dot, aug_d2,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY dot DESC, vec_id ASC) AS rn_dot,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY aug_d2 ASC, vec_id ASC) AS rn_aug
           FROM aug)
         SELECT probe_id, CAST(rn_dot AS INT) AS rn, vec_id,
                ROUND(CAST(dot AS DOUBLE), 6) AS ip_score,
                ROUND(CAST(aug_d2 AS DOUBLE), 6) AS aug_d2,
                rn_aug = rn_dot AS order_preserved
         FROM ranked WHERE rn_dot <= 5 ORDER BY probe_id, rn"""),

    // IVF nProbe TUNING SWEEP — the ANN analog of dedup_band_tuning /
    // dedup_threshold_curve: the same probe fleet audited at three
    // probing widths. The declared relation is the per-probe recall
    // audit at floors that RISE with nProbe (0.2/0.5 at 4, 0.4/0.8
    // at 8, 0.6/0.9 at 14) — exactly the curve read before fixing the
    // production nProbe; a quality regression at any width flips a
    // boolean and the hash breaks. Quantizer and ground truth come
    // from the persisted fit-once artifacts (no refits per width).
    // Floors are MEASURED (tools/RecallProbe, all three SFs): nProbe=4
    // mean 0.42–0.70 / min 0.0 → floors 0.0/0.3; nProbe=8 mean 0.78+
    // / min 0.4 → floors 0.2/0.6; nProbe=14 keeps the proven
    // production tier 0.6/0.9.
    Q("sim_ann_nprobe_sweep",
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = Similarity.probes(emb)
        val gt = Similarity.groundTruthFor(emb, d, 5, "cosine")
        def leg(nProbe: Int, fProbe: Double, fMean: Double) =
          Similarity.recallAudit(
              Similarity.ivfTopKCached(emb, probes, 5, d, nProbe = nProbe),
              gt, 5, minRecall = fProbe, minMeanRecall = fMean)
            .select(lit(nProbe).as("n_probe"), col("probe_id"),
              col("probe_ok"), col("mean_ok"))
        leg(4, 0.0, 0.3).unionByName(leg(8, 0.2, 0.6))
          .unionByName(leg(14, 0.6, 0.9))
          .orderBy("n_probe", "probe_id")
      },
      """WITH probe_ids AS (
           SELECT MIN(vec_id) AS probe_id FROM embeddings GROUP BY label),
         widths AS (SELECT unnest([4, 8, 14]) AS n_probe)
         SELECT n_probe, probe_id, TRUE AS probe_ok, TRUE AS mean_ok
         FROM probe_ids CROSS JOIN widths
         ORDER BY n_probe, probe_id"""),

    // IMPORTANCE (quality-proportional) downsampling with Horvitz–
    // Thompson correction — the principled way to thin a corpus
    // without biasing downstream statistics: keep each doc with
    // p ∝ quality proxy (here length, clamped to 1), carry weight 1/p
    // so Σweights over the kept set estimates the full count. The
    // accept draw is md5-derived (both engines replay it exactly) and
    // the HT weight is computed in exact 1e-6 integer units — the
    // whole sample is hash-checkable data. Map-side only: one filter,
    // no shuffle at any scale.
    Q("sample_importance",
      (s, d) => {
        val D = 2000.0
        documents(s, d)
          .withColumn("p_keep",
            least(col("n_chars").cast("double") / D, lit(1.0)))
          .withColumn("u",
            conv(substring(md5(concat(lit("imp:"),
              col("doc_id").cast("string"))), 1, 8), 16, 10)
              .cast("long").cast("double") / 4294967296.0)
          .filter(col("u") < col("p_keep"))
          // HT weight = 1/p = D/n_chars for short docs, 1 otherwise —
          // exact 1e-6 integer units (rational ties, cohort_ltv rule)
          .withColumn("ht_e6",
            when(col("n_chars") >= D.toLong,
              lit(1000000L))
              .otherwise(expr(s"(${D.toLong} * 1000000L + " +
                "n_chars div 2) div n_chars")))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            round(col("p_keep"), 6).as("p_keep"),
            (col("ht_e6").cast("double") / 1000000.0).as("ht_weight"))
          .orderBy("doc_id")
      },
      """WITH s AS (
           SELECT doc_id, lang, n_chars,
                  LEAST(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) AS p_keep,
                  CAST(('0x' || substring(md5('imp:' ||
                      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0 AS u
           FROM documents)
         SELECT doc_id, lang, n_chars,
                ROUND(p_keep, 6) AS p_keep,
                CAST(CASE WHEN n_chars >= 2000 THEN 1000000
                          ELSE (2000 * 1000000 + n_chars // 2) // n_chars
                     END AS DOUBLE) / 1000000.0 AS ht_weight
         FROM s WHERE u < p_keep ORDER BY doc_id"""),

    // MINHASH ESTIMATOR-ERROR audit — the calibration table behind
    // every "32 hashes is enough" decision: for each LSH candidate
    // pair, the signature-agreement estimate k/32 (exactly dyadic —
    // never a rounding tie) against the true shingle Jaccard, with the
    // absolute error. Mean |err| should sit near the 1/√32 ≈ 0.18
    // binomial bound; a regression here means the hash family or band
    // geometry broke. Candidates and signatures come from the SAME
    // persisted stores the production dedup path reads — the audit
    // costs one candidate-keyed join, no new corpus pass.
    Q("dedup_minhash_error",
      (s, d) => {
        graft.engine.expr.GraftFunctions.ensureRegistered(s)
        val state = Dedup.minhashStoreFor(documents(s, d), d)
        Dedup.lshCandidates(state)
          .join(state.select(col("doc_id").as("doc_a"),
            col("sh_h").as("sh_a"), col("sig").as("sig_a")), Seq("doc_a"))
          .join(state.select(col("doc_id").as("doc_b"),
            col("sh_h").as("sh_b"), col("sig").as("sig_b")), Seq("doc_b"))
          // 32.0D: a bare decimal-point literal parses as DECIMAL in
          // Spark SQL (DuckDB reads it as DOUBLE) — force the double
          .withColumn("est_j", expr(
            """size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),
                 v -> v)) / 32.0D"""))
          .filter(col("est_j") >= 0.5)
          .withColumn("n_common",
            expr("graft_intersect_count(sh_a, sh_b)"))
          .withColumn("uni",
            size(col("sh_a")) + size(col("sh_b")) - col("n_common"))
          .filter(col("uni") > 0)
          .withColumn("exact_j",
            round(col("n_common") / col("uni").cast("double"), 4))
          .select(col("doc_a"), col("doc_b"),
            round(col("est_j"), 4).as("est_j"), col("exact_j"),
            round(abs(round(col("est_j"), 4) - col("exact_j")), 4)
              .as("abs_err"))
          .orderBy("doc_a", "doc_b")
      },
      s"""WITH $MinhashHashCte,
          $MinhashHpCte,
          sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ghash GROUP BY 1),
          $MinhashSigCte,
          $MinhashBandsCte,
          $MinhashCandCte,
          est AS (
            SELECT doc_a, doc_b,
                   len(list_filter(range(1, 33),
                     i -> sa.sig[i] = sb.sig[i])) / 32.0 AS est_j
            FROM cand
              JOIN sigvec sa ON sa.doc_id = doc_a
              JOIN sigvec sb ON sb.doc_id = doc_b
            WHERE len(list_filter(range(1, 33),
                    i -> sa.sig[i] = sb.sig[i])) / 32.0 >= 0.5),
          hlist AS (SELECT doc_id, list(h) AS hs FROM hp GROUP BY doc_id),
          verified AS (
            SELECT doc_a, doc_b, est_j,
                   len(list_intersect(ha.hs, hb.hs)) AS n_common,
                   sa.sz AS sza, sb.sz AS szb
            FROM est
              JOIN hlist ha ON ha.doc_id = doc_a
              JOIN hlist hb ON hb.doc_id = doc_b
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
            WHERE sa.sz + sb.sz - len(list_intersect(ha.hs, hb.hs)) > 0)
          SELECT doc_a, doc_b, ROUND(est_j, 4) AS est_j,
                 ROUND(n_common / CAST(sza + szb - n_common AS DOUBLE), 4)
                   AS exact_j,
                 ROUND(ABS(ROUND(est_j, 4) -
                   ROUND(n_common / CAST(sza + szb - n_common AS DOUBLE),
                         4)), 4) AS abs_err
          FROM verified ORDER BY doc_a, doc_b"""),

    // ROLLING-ORIGIN TIME FOLDS — the expanding-window cross-
    // validation split (never shuffle-split time series): fold k
    // trains on everything before month 24+12k and validates on the
    // following 6 months. The fold spec is a 4-row broadcast; rows
    // classify map-side by exact integer month index and one
    // (fold)-keyed aggregate emits the census a backtest harness
    // consumes. Leakage-proof by construction: train_end ==
    // valid_start, and both boundaries are part of the declared
    // relation so the oracle re-proves it.
    Q("sample_time_folds",
      (s, d) => {
        val anchor = 1995 * 12
        val o = orders(s, d).select(
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1
            - anchor).as("rel"))
        val folds = s.range(0, 4).select(col("id").cast("int").as("fold"),
          (lit(24) + col("id") * 12).cast("int").as("train_end"),
          (lit(30) + col("id") * 12).cast("int").as("valid_end"))
        o.crossJoin(broadcast(folds))
          .groupBy("fold", "train_end", "valid_end")
          .agg(
            sum(when(col("rel") < col("train_end"), 1L).otherwise(0L))
              .as("train_rows"),
            sum(when(col("rel") >= col("train_end") &&
              col("rel") < col("valid_end"), 1L).otherwise(0L))
              .as("valid_rows"))
          .select(col("fold"), col("train_end"), col("valid_end"),
            col("train_rows"), col("valid_rows"))
          .orderBy("fold")
      },
      """WITH o AS (
           SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1
                    - 1995 * 12 AS rel
           FROM orders),
         folds AS (
           SELECT CAST(k AS INTEGER) AS fold,
                  CAST(24 + k * 12 AS INTEGER) AS train_end,
                  CAST(30 + k * 12 AS INTEGER) AS valid_end
           FROM unnest(range(0, 4)) AS t(k))
         SELECT fold, train_end, valid_end,
                CAST(SUM(CASE WHEN rel < train_end THEN 1 ELSE 0 END)
                  AS BIGINT) AS train_rows,
                CAST(SUM(CASE WHEN rel >= train_end AND rel < valid_end
                         THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows
         FROM o CROSS JOIN folds
         GROUP BY 1, 2, 3 ORDER BY fold"""),

    // LANG-ID CONFUSION MATRIX — the eval table for the trigram
    // classifier: true label × predicted label counts, off the SAME
    // persisted profile artifact the production text_langid path
    // reads (the prediction join costs one doc-keyed join on top).
    // The standard companion to any classifier key — text_langid
    // ships predictions, this ships its error structure.
    Q("text_langid_confusion",
      (s, d) => {
        val pred = Text.langIdPredict(documents(s, d),
          datasetTag = Some(d))
          .select(col("doc_id"), col("predicted_lang"))
        documents(s, d).select(col("doc_id"), col("lang"))
          .join(pred, Seq("doc_id"))
          .groupBy("lang", "predicted_lang")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "predicted_lang")
      },
      s"""WITH $LangIdOverlapCte,
         $LangIdPredCte
         SELECT dd.lang, p.predicted_lang, COUNT(*) AS n_docs
         FROM documents dd JOIN pred p USING (doc_id)
         GROUP BY 1, 2 ORDER BY lang, predicted_lang"""),

    // LANG-ID MISMATCH worklist — the actionable row-level companion
    // to the confusion matrix: documents whose DECLARED language
    // disagrees with the trigram classifier (either the metadata is
    // wrong — common in web crawls — or the doc is code-switched).
    // Same persisted profile artifact; one doc-keyed join + filter.
    Q("text_langid_mismatch",
      (s, d) => {
        val pred = Text.langIdPredict(documents(s, d),
          datasetTag = Some(d))
          .select(col("doc_id"), col("predicted_lang"))
        documents(s, d).select(col("doc_id"), col("lang"),
            col("n_chars"))
          .join(pred, Seq("doc_id"))
          .filter(col("lang") =!= col("predicted_lang"))
          .select(col("doc_id"), col("lang").as("declared_lang"),
            col("predicted_lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      s"""WITH $LangIdOverlapCte,
         $LangIdPredCte
         SELECT doc_id, dd.lang AS declared_lang, p.predicted_lang,
                n_chars
         FROM documents dd JOIN pred p USING (doc_id)
         WHERE dd.lang <> p.predicted_lang
         ORDER BY doc_id"""),

    // CROSS-SOURCE DUPLICATION MATRIX — where the near-dups COME FROM:
    // the verified MinHash pair stream (same persisted stores as
    // dedup_near) joined to each side's source, counted per
    // (source_a, source_b) cell. The mirror-site / re-crawl detector:
    // an off-diagonal hot cell means two "sources" are shipping the
    // same corpus. Two doc-keyed joins on the pair stream — pairs are
    // the small relation by construction.
    Q("dedup_source_matrix",
      (s, d) => {
        val pairs = Dedup.nearMinHash(documents(s, d), 0.8,
          datasetTag = Some(d))
        val src = documents(s, d).select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("doc_a"),
            col("source").as("sa")), Seq("doc_a"))
          .join(src.select(col("doc_id").as("doc_b"),
            col("source").as("sb")), Seq("doc_b"))
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_dup_pairs"))
          .orderBy("source_a", "source_b")
      },
      s"""WITH $MinhashHashCte,
          $MinhashHpCte,
          sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ghash GROUP BY 1),
          $MinhashSigCte,
          $MinhashBandsCte,
          $MinhashCandCte,
          $MinhashEstCte,
          hlist AS (SELECT doc_id, list(h) AS hs FROM hp GROUP BY doc_id),
          verified AS (
            SELECT doc_a, doc_b
            FROM est
              JOIN hlist ha ON ha.doc_id = doc_a
              JOIN hlist hb ON hb.doc_id = doc_b
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
            WHERE sa.sz + sb.sz - len(list_intersect(ha.hs, hb.hs)) > 0
              AND len(list_intersect(ha.hs, hb.hs)) /
                  CAST(sa.sz + sb.sz - len(list_intersect(ha.hs, hb.hs))
                    AS DOUBLE) >= 0.8),
          cells AS (
            SELECT LEAST(da.source, db.source) AS source_a,
                   GREATEST(da.source, db.source) AS source_b
            FROM verified
              JOIN documents da ON da.doc_id = doc_a
              JOIN documents db ON db.doc_id = doc_b)
          SELECT source_a, source_b, COUNT(*) AS n_dup_pairs
          FROM cells GROUP BY 1, 2 ORDER BY source_a, source_b"""),

    // DEDUP THRESHOLD CURVE — how many verified near-dup pairs each
    // candidate cutoff keeps (the tuning table read before committing
    // a threshold to curate_corpus): exact Jaccard per LSH candidate
    // (same stores as dedup_near), folded into cumulative counts at
    // 0.80/0.85/0.90/0.95 in ONE aggregate, stacked to rows. The
    // curve's shape (how fast pairs evaporate as t rises) is the
    // corpus's duplication-intensity signature.
    Q("dedup_threshold_curve",
      (s, d) => {
        graft.engine.expr.GraftFunctions.ensureRegistered(s)
        val state = Dedup.minhashStoreFor(documents(s, d), d)
        val ex = Dedup.lshCandidates(state)
          .join(state.select(col("doc_id").as("doc_a"),
            col("sh_h").as("sh_a")), Seq("doc_a"))
          .join(state.select(col("doc_id").as("doc_b"),
            col("sh_h").as("sh_b")), Seq("doc_b"))
          .withColumn("n_common",
            expr("graft_intersect_count(sh_a, sh_b)"))
          .withColumn("uni",
            size(col("sh_a")) + size(col("sh_b")) - col("n_common"))
          .filter(col("uni") > 0)
          .withColumn("j",
            round(col("n_common") / col("uni").cast("double"), 4))
        ex.agg(
            sum(when(col("j") >= 0.80, 1L).otherwise(0L)).as("n80"),
            sum(when(col("j") >= 0.85, 1L).otherwise(0L)).as("n85"),
            sum(when(col("j") >= 0.90, 1L).otherwise(0L)).as("n90"),
            sum(when(col("j") >= 0.95, 1L).otherwise(0L)).as("n95"))
          .select(expr("""stack(4, 0.80D, n80, 0.85D, n85,
                          0.90D, n90, 0.95D, n95)
                          AS (threshold, n_pairs)"""))
          .orderBy("threshold")
      },
      s"""WITH $MinhashHashCte,
          $MinhashHpCte,
          sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ghash GROUP BY 1),
          $MinhashSigCte,
          $MinhashBandsCte,
          $MinhashCandCte,
          hlist AS (SELECT doc_id, list(h) AS hs FROM hp GROUP BY doc_id),
          ex AS (
            SELECT doc_a, doc_b,
                   ROUND(len(list_intersect(ha.hs, hb.hs)) /
                     CAST(sa.sz + sb.sz -
                          len(list_intersect(ha.hs, hb.hs)) AS DOUBLE),
                     4) AS j
            FROM cand
              JOIN hlist ha ON ha.doc_id = doc_a
              JOIN hlist hb ON hb.doc_id = doc_b
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
            WHERE sa.sz + sb.sz - len(list_intersect(ha.hs, hb.hs)) > 0),
          agg AS (
            SELECT SUM(CASE WHEN j >= 0.80 THEN 1 ELSE 0 END) AS n80,
                   SUM(CASE WHEN j >= 0.85 THEN 1 ELSE 0 END) AS n85,
                   SUM(CASE WHEN j >= 0.90 THEN 1 ELSE 0 END) AS n90,
                   SUM(CASE WHEN j >= 0.95 THEN 1 ELSE 0 END) AS n95
            FROM ex)
          SELECT threshold, CAST(n_pairs AS BIGINT) AS n_pairs FROM (
            SELECT CAST(0.80 AS DOUBLE) AS threshold, n80 AS n_pairs
            FROM agg
            UNION ALL SELECT CAST(0.85 AS DOUBLE), n85 FROM agg
            UNION ALL SELECT CAST(0.90 AS DOUBLE), n90 FROM agg
            UNION ALL SELECT CAST(0.95 AS DOUBLE), n95 FROM agg)
          ORDER BY threshold"""),

    // WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken, the
    // MOSS algorithm) — the guarantee text_fingerprint's single
    // min-hash lacks: selecting the MINIMUM 8-gram hash of every
    // 4-window means any match of length ≥ w + k − 1 = 11 chars
    // between two documents shares at least one selected fingerprint.
    // The declared relation is the per-doc selection audit: gram
    // count, distinct selected fingerprints, and selection density
    // (expected ≈ 2/(w+1) = 0.4 for random hashes). Everything is
    // per-document: the gram hash is the same rolling polynomial as
    // text_fingerprint, the window min is partitioned by doc_id over
    // a ≤ |text| frame of 4 rows, and the density is an exact
    // 1e-6-unit integer division — at 100 TB this is embarrassingly
    // parallel (partition by doc, no cross-doc exchange until the
    // final per-doc aggregate).
    Q("text_winnow_fingerprint",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val grams = documents(s, d)
          .filter(length(col("text")) >= 8)
          .select(col("doc_id"),
            explode(sequence(lit(1), length(col("text")) - 7)).as("i"),
            col("text"))
          .select(col("doc_id"), col("i"),
            expr(s"""aggregate(transform(sequence(0, 7),
                       j -> CAST(ascii(substring(text, i + j, 1))
                         AS BIGINT)),
                     CAST(0 AS BIGINT), (a, c) -> (a * 31 + c) % $P)""")
              .as("h"))
        val wD = Window.partitionBy("doc_id").orderBy("i")
          .rowsBetween(0, 3)
        val wAll = Window.partitionBy("doc_id")
        val wins = grams
          .withColumn("ng", count(lit(1)).over(wAll))
          .withColumn("wmin", min(col("h")).over(wD))
          .filter(col("i") <= col("ng") - 3)
        wins.groupBy("doc_id", "ng")
          .agg(countDistinct("wmin").as("n_selected"))
          .select(col("doc_id"), col("ng").as("n_grams"),
            col("n_selected"),
            (expr("""(n_selected * 1000000 + (ng - 3) div 2)
                     div (ng - 3)""").cast("double") / 1000000.0)
              .as("density"))
          .orderBy("doc_id")
      },
      s"""WITH docs AS (
            SELECT doc_id, text FROM documents WHERE length(text) >= 8),
          pos AS (
            SELECT doc_id, text,
                   UNNEST(range(1, length(text) - 6)) AS i
            FROM docs),
          grams AS (
            SELECT doc_id, i,
                   list_reduce(list_transform(range(0, 8),
                     j -> CAST(ascii(substring(text, i + j, 1))
                       AS BIGINT)),
                     (a, c) -> (a * 31 + c) % $P) AS h
            FROM pos),
          wins AS (
            SELECT doc_id, i,
                   COUNT(*) OVER (PARTITION BY doc_id) AS ng,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
            FROM grams),
          m AS (
            SELECT doc_id, ng,
                   CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_selected
            FROM wins WHERE i <= ng - 3 GROUP BY 1, 2)
          SELECT doc_id, ng AS n_grams, n_selected,
                 CAST((n_selected * 1000000 + (ng - 3) // 2)
                   // (ng - 3) AS DOUBLE) / 1000000.0 AS density
          FROM m ORDER BY doc_id"""),

    // WORD BURSTINESS (Church & Gale): variance-to-mean ratio of
    // per-document counts for the top-20 corpus words. VMR ≈ 1 is
    // Poisson (function words spread evenly); VMR ≫ 1 flags bursty
    // topical words that concentrate in few documents — the signal
    // separating stopword-like from content-bearing terms without any
    // language resource. Candidate set is a TakeOrdered top-20 off
    // the word-count exchange (never a global sort), per-doc counts
    // ride one broadcast semi-join + partial-agg exchange, and VMR =
    // (N·Σc² − (Σc)²)/(N·Σc) is an exact integer rational emitted via
    // 1e-6-unit division (Cauchy–Schwarz keeps the numerator ≥ 0, so
    // engine truncation semantics agree).
    Q("text_burstiness",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w0"))
        val top = toks.groupBy("w0").agg(count(lit(1)).as("tc"))
          .orderBy(desc("tc"), col("w0")).limit(20)
        val perDoc = toks.join(broadcast(top.select("w0")), Seq("w0"))
          .groupBy("w0", "doc_id").agg(count(lit(1)).as("c"))
        val nDocs = documents(s, d).agg(count(lit(1)).as("nd_all"))
        perDoc.groupBy("w0")
          // nd_all·scc and sc² are corpus² — DECIMAL(38,0) operand
          // casts (raw LONG sc·sc overflows at ~3e9 occurrences)
          .agg(count(lit(1)).as("n_docs_with"), sum("c").as("sc"),
            sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("scc"))
          .crossJoin(nDocs)
          .select(col("w0").as("word"), col("n_docs_with"),
            col("sc").as("total_count"),
            (expr("""((nd_all * scc - CAST(sc AS DECIMAL(38,0)) * sc)
                        * 1000000
                      + (CAST(nd_all AS DECIMAL(38,0)) * sc) div 2)
                     div (CAST(nd_all AS DECIMAL(38,0)) * sc)""")
              .cast("double") / 1000000.0).as("vmr"))
          .orderBy("word")
      },
      """WITH toks AS (
           SELECT doc_id, UNNEST(string_split(text, ' ')) AS w0
           FROM documents),
         top AS (SELECT w0 FROM toks GROUP BY w0
                 ORDER BY COUNT(*) DESC, w0 LIMIT 20),
         pd AS (SELECT t.w0, doc_id, CAST(COUNT(*) AS BIGINT) AS c
                FROM toks t JOIN top USING (w0) GROUP BY 1, 2),
         nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd_all
                FROM documents),
         m AS (SELECT w0, CAST(COUNT(*) AS BIGINT) AS n_docs_with,
                      CAST(SUM(c) AS BIGINT) AS sc,
                      SUM(CAST(c AS HUGEINT) * c) AS scc
               FROM pd GROUP BY 1)
         SELECT w0 AS word, n_docs_with, sc AS total_count,
                CAST(((nd_all * scc - CAST(sc AS HUGEINT) * sc)
                        * 1000000
                      + (CAST(nd_all AS HUGEINT) * sc) // 2)
                     // (CAST(nd_all AS HUGEINT) * sc)
                  AS DOUBLE) / 1000000.0 AS vmr
         FROM m, nd ORDER BY word"""),

    // RANGE (radius) SEARCH — all corpus vectors within cosine ≥ 0.3
    // of each probe, the fixed-similarity complement of
    // sim_search_topk's fixed-count contract: dedup wants "everything
    // closer than τ", not "the 5 closest whatever their distance".
    // Engine shape is the broadcast-probe scan with the SEQUENTIAL
    // plain-double HOF fold (sim_search_l2 precedent — IEEE order
    // fixed in both engines, no decimal pinning); at 100 TB the same
    // τ-filter runs after IVF cell pruning (cells whose centroid
    // bound can't reach τ are skipped), which the indexed family
    // already demonstrates — the declared relation pins the exact
    // semantics that path must preserve.
    Q("sim_search_radius",
      (s, d) => {
        val emb = embeddings(s, d)
        emb.crossJoin(broadcast(graft.engine.ml.Similarity.probes(emb)))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            expr("""aggregate(zip_with(probe_emb, embedding,
                      (x, y) -> cast(x AS double) * cast(y AS double)),
                    0.0D, (a, v) -> a + v)""").as("dot"),
            expr("""aggregate(transform(probe_emb,
                      x -> cast(x AS double) * cast(x AS double)),
                    0.0D, (a, v) -> a + v)""").as("np"),
            expr("""aggregate(transform(embedding,
                      x -> cast(x AS double) * cast(x AS double)),
                    0.0D, (a, v) -> a + v)""").as("ne"))
          .select(col("probe_id"), col("vec_id"),
            (col("dot") / (sqrt(col("np")) * sqrt(col("ne"))))
              .as("cos"))
          .filter(col("cos") >= 0.3)
          .select(col("probe_id"), col("vec_id"),
            round(col("cos"), 6).as("cos_sim"))
          .orderBy("probe_id", "vec_id")
      },
      s"""WITH probe_ids AS (
           SELECT MIN(vec_id) AS probe_id FROM embeddings
           GROUP BY label),
         p AS (SELECT e.vec_id AS probe_id, e.embedding AS probe_emb
               FROM embeddings e JOIN probe_ids ON e.vec_id = probe_id),
         scored AS (
           SELECT p.probe_id, e.vec_id,
             ${cos64("p.probe_emb", "e.embedding")}
               AS cos
           FROM p CROSS JOIN embeddings e WHERE e.vec_id <> p.probe_id)
         SELECT probe_id, vec_id, ROUND(cos, 6) AS cos_sim
         FROM scored WHERE cos >= CAST(0.3 AS DOUBLE)
         ORDER BY probe_id, vec_id"""),

    // MAXIMAL MARGINAL RELEVANCE retrieval (Carbonell & Goldstein) —
    // the diversified top-k that raw cosine ranking lacks: after the
    // most-relevant hit, each next pick maximizes
    // λ·sim(probe, x) − (1−λ)·max_{s∈S} sim(x, s) with λ = 0.5, so
    // near-duplicates of an already-selected result are penalized —
    // the retrieval-side counterpart of SemDeDup's corpus-side
    // pruning. Greedy selection is inherently sequential in k, so it
    // runs as 4 unrolled selection stages over a top-16 candidate
    // pool per probe (pool from the usual broadcast-probe scan +
    // per-probe TakeOrdered window; the 16×16 pair-similarity
    // relation is domain-sized). Parity: every cosine is the
    // SEQUENTIAL plain-double HOF fold (bit-identical across
    // engines), argmax ties break on vec_id, and each stage's argmax
    // is a rank-1 window over a ≤16-row partition — deterministic
    // selection, no order-sensitive float aggregation anywhere.
    Q("sim_search_mmr",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        graft.engine.expr.GraftFunctions.ensureRegistered(s)
        val emb = embeddings(s, d)
        // native fused cosine (codegen) — bit-identical to the
        // HOF-composed fold (CosineSimilarity scaladoc) and ~10×
        // cheaper on the corpus-sized candidate scan
        val scoredAll = emb
          .crossJoin(broadcast(graft.engine.ml.Similarity.probes(emb)))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), col("embedding"),
            expr("graft_cosine(probe_emb, embedding)").as("cos"))
        val wP = Window.partitionBy("probe_id")
          .orderBy(desc("cos"), col("vec_id"))
        // EAGER CHECKPOINT of the one corpus-cost stage: the rank
        // window runs over NARROW (probe, vec, cos) rows — attaching
        // the 64-float arrays before the window would shuffle them
        // for every scored row; instead the 160 winners re-join the
        // embedding relation afterwards. Unmaterialized, the greedy
        // recursion below re-ran this scan ~15× (measured 15 s at
        // sf0.1); checkpointed it runs once.
        // (r14 note: a lazy tracked cache was tried here instead of the
        // eager localCheckpoints — planning re-exploded to 19 s because
        // only checkpointing truncates the LOGICAL plan; cache
        // substitution still carries the 2^rounds analyzed tree. The
        // eager checkpoints stay.)
        val cand = scoredAll.drop("embedding")
          .withColumn("rn", row_number().over(wP))
          .filter(col("rn") <= 16).drop("rn")
          .join(emb.select(col("vec_id"), col("embedding")),
            Seq("vec_id"))
          .localCheckpoint(true)
        val pairs = cand.select(col("probe_id"), col("vec_id").as("av"),
            col("embedding").as("aemb"))
          .join(cand.select(col("probe_id"), col("vec_id").as("bv"),
            col("embedding").as("bemb")), Seq("probe_id"))
          .filter(col("av") =!= col("bv"))
          .select(col("probe_id"), col("av"), col("bv"),
            expr("graft_cosine(aemb, bemb)").as("pc"))
          .localCheckpoint(true)
        var sel = cand.withColumn("r0", row_number().over(wP))
          .filter(col("r0") === 1)
          .select(col("probe_id"), col("vec_id"),
            lit(1L).as("rk"), col("cos").as("mmr"))
        (2 to 5).foreach { t =>
          val pen = pairs
            .join(sel.select(col("probe_id"), col("vec_id").as("bv")),
              Seq("probe_id", "bv"))
            .groupBy(col("probe_id"), col("av"))
            .agg(max("pc").as("pen"))
          val scored = cand
            .join(sel.select(col("probe_id"), col("vec_id")),
              Seq("probe_id", "vec_id"), "left_anti")
            .join(pen.select(col("probe_id"), col("av").as("vec_id"),
              col("pen")), Seq("probe_id", "vec_id"))
            .withColumn("score",
              lit(0.5) * col("cos") - lit(0.5) * col("pen"))
          val wS = Window.partitionBy("probe_id")
            .orderBy(desc("score"), col("vec_id"))
          val pick = scored.withColumn("r", row_number().over(wS))
            .filter(col("r") === 1)
            .select(col("probe_id"), col("vec_id"),
              lit(t.toLong).as("rk"), col("score").as("mmr"))
          // checkpoint the ≤40-row selection each stage: pick_t
          // references sel_{t-1} twice (penalty join + anti-join), so
          // the deferred chain doubles per stage — 2^4 nested
          // subplans at collect time (measured 7 s of pure planning/
          // scheduling on 2400 rows)
          sel = sel.unionByName(pick).localCheckpoint(true)
        }
        sel.select(col("probe_id"), col("rk"), col("vec_id"),
            round(col("mmr"), 6).as("mmr_score"))
          .orderBy("probe_id", "rk")
      }, {
        val steps = (2 to 5).map { t =>
          s"""pen$t AS (
                SELECT pr.probe_id, pr.av, MAX(pr.pc) AS pen
                FROM pairs pr JOIN sel${t - 1} s
                  ON s.probe_id = pr.probe_id AND s.vec_id = pr.bv
                GROUP BY 1, 2),
              sc$t AS (
                SELECT c.probe_id, c.vec_id,
                       0.5 * c.cos - 0.5 * pn.pen AS score
                FROM cand c JOIN pen$t pn
                  ON pn.probe_id = c.probe_id AND pn.av = c.vec_id
                WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} s
                  WHERE s.probe_id = c.probe_id
                    AND s.vec_id = c.vec_id)),
              s$t AS (
                SELECT probe_id, vec_id, CAST($t AS BIGINT) AS rk,
                       score AS mmr
                FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                        ORDER BY score DESC, vec_id) AS rn FROM sc$t)
                WHERE rn = 1),
              sel$t AS (SELECT * FROM sel${t - 1}
                        UNION ALL SELECT * FROM s$t)"""
        }.mkString(",\n            ")
        s"""WITH probe_ids AS (
              SELECT MIN(vec_id) AS probe_id FROM embeddings
              GROUP BY label),
            p AS (SELECT e.vec_id AS probe_id,
                         e.embedding AS probe_emb
                  FROM embeddings e
                  JOIN probe_ids ON e.vec_id = probe_id),
            scored AS (
              SELECT p.probe_id, e.vec_id, e.embedding AS emb,
                ${cos64("p.probe_emb", "e.embedding")} AS cos
              FROM p CROSS JOIN embeddings e
              WHERE e.vec_id <> p.probe_id),
            cand AS (
              SELECT probe_id, vec_id, emb, cos
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                      ORDER BY cos DESC, vec_id) AS rn FROM scored)
              WHERE rn <= 16),
            pairs AS (
              SELECT a.probe_id, a.vec_id AS av, b.vec_id AS bv,
                ${cos64("a.emb", "b.emb")}
                  AS pc
              FROM cand a JOIN cand b
                ON a.probe_id = b.probe_id AND a.vec_id <> b.vec_id),
            sel1 AS (
              SELECT probe_id, vec_id, CAST(1 AS BIGINT) AS rk,
                     cos AS mmr
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                      ORDER BY cos DESC, vec_id) AS rn FROM cand)
              WHERE rn = 1),
            $steps
            SELECT probe_id, rk, vec_id, ROUND(mmr, 6) AS mmr_score
            FROM sel5 ORDER BY probe_id, rk"""
      }),

    // SIMHASH BIT-BALANCE AUDIT — the sketch-quality diagnostic the
    // simhash family needs in production: each of the 64 signature
    // bits should split the corpus ~50/50; a biased bit (here ≥5
    // points off balance) carries less than one bit of information,
    // inflating collision rates in the 16-bit chunk index and
    // silently degrading dedup_simhash recall. One pass over the
    // per-doc signatures (same engine code path as dedup_simhash —
    // Dedup.simHash), a 64-way map-side explode, and a bit-keyed
    // partial agg; the share and the bias flag are exact integer
    // arithmetic, so nothing can drift between engines.
    Q("dedup_simhash_balance",
      (s, d) => {
        val sigs = Dedup.simHash(documents(s, d))
        val tot = sigs.agg(count(lit(1)).as("nd"))
        sigs.select(col("simhash"),
            explode(sequence(lit(0), lit(63))).as("b"))
          .withColumn("bit", expr("shiftright(simhash, b) & 1"))
          .groupBy("b").agg(sum("bit").as("n_set"))
          .crossJoin(tot)
          .select(col("b"), col("n_set"),
            (expr("(n_set * 1000000 + nd div 2) div nd")
              .cast("double") / 1000000.0).as("pct_set"),
            (abs(lit(2) * col("n_set") - col("nd")) * 10 >= col("nd"))
              .as("biased"))
          .orderBy("b")
      },
      s"""WITH $SimhashBitSumsCte,
         n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
               FROM sums),
         bits AS (
           SELECT b, CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_set
           FROM sums GROUP BY b)
         SELECT CAST(b AS INT) AS b, n_set,
                CAST((n_set * 1000000 + nd // 2) // nd AS DOUBLE)
                  / 1000000.0 AS pct_set,
                abs(2 * n_set - nd) * 10 >= nd AS biased
         FROM bits, n ORDER BY b"""),

    // HARD-NEGATIVE TRIPLET MINING — the contrastive-training data
    // miner: per anchor, the nearest SAME-label vector (positive) and
    // the nearest OTHER-label vector (the hard negative an easy random
    // negative never finds); margin = pos − neg is the triplet-loss
    // headroom. One broadcast of the |labels| anchors against the
    // un-exploded corpus stream (the sim_search plan shape — at 100 TB
    // swap the scan for the IVF cell-pruned index, same contract);
    // selection is max_by over (cos, −vec_id) so ties break on id
    // without a window. Scores use the native codegen graft_cosine.
    Q("vec_hard_negatives",
      (s, d) => {
        graft.engine.expr.GraftFunctions.ensureRegistered(s)
        val emb = embeddings(s, d)
        val anchors = emb.join(
            emb.groupBy("label").agg(min(col("vec_id")).as("vec_id"))
              .select("vec_id"),
            Seq("vec_id"))
          .select(col("vec_id").as("anchor_id"),
            col("label").as("anchor_label"),
            col("embedding").as("anchor_emb"))
        emb.crossJoin(broadcast(anchors))
          .filter(col("vec_id") =!= col("anchor_id"))
          .select(col("anchor_id"), col("anchor_label"), col("vec_id"),
            (col("label") === col("anchor_label")).as("same"),
            expr("graft_cosine(anchor_emb, embedding)").as("cos"))
          .groupBy("anchor_id", "anchor_label")
          .agg(
            expr("""max_by(vec_id, named_struct('c', cos, 'i', -vec_id))
                    FILTER (WHERE same)""").as("pos_id"),
            expr("ROUND(max(cos) FILTER (WHERE same), 6) + 0.0D")
              .as("pos_cos"),
            expr("""max_by(vec_id, named_struct('c', cos, 'i', -vec_id))
                    FILTER (WHERE NOT same)""").as("neg_id"),
            expr("ROUND(max(cos) FILTER (WHERE NOT same), 6) + 0.0D")
              .as("neg_cos"))
          .withColumn("margin",
            expr("ROUND(pos_cos - neg_cos, 6) + 0.0D"))
          .orderBy("anchor_id")
      },
      s"""WITH a_ids AS (
           SELECT MIN(vec_id) AS anchor_id FROM embeddings GROUP BY label),
         a AS (SELECT e.vec_id AS anchor_id, e.label AS anchor_label,
                      e.embedding AS anchor_emb
               FROM embeddings e JOIN a_ids ON e.vec_id = anchor_id),
         scored AS (
           SELECT a.anchor_id, a.anchor_label, e.vec_id,
                  e.label = a.anchor_label AS same,
             ${cos64("a.anchor_emb", "e.embedding")}
             AS cos
           FROM a CROSS JOIN embeddings e WHERE e.vec_id <> a.anchor_id),
         ranked AS (
           SELECT anchor_id, anchor_label, vec_id, same, cos,
                  ROW_NUMBER() OVER (PARTITION BY anchor_id, same
                    ORDER BY cos DESC, vec_id ASC) AS rn
           FROM scored)
         SELECT anchor_id, anchor_label,
                max(CASE WHEN same THEN vec_id END) AS pos_id,
                ROUND(max(CASE WHEN same THEN cos END), 6) + 0.0
                  AS pos_cos,
                max(CASE WHEN NOT same THEN vec_id END) AS neg_id,
                ROUND(max(CASE WHEN NOT same THEN cos END), 6) + 0.0
                  AS neg_cos,
                ROUND((ROUND(max(CASE WHEN same THEN cos END), 6) + 0.0)
                      - (ROUND(max(CASE WHEN NOT same THEN cos END), 6)
                         + 0.0), 6) + 0.0 AS margin
         FROM ranked WHERE rn = 1
         GROUP BY anchor_id, anchor_label
         ORDER BY anchor_id"""),

    // PRECISION@K — retrieval-quality scoring of the exact top-5
    // cosine neighbours against the label ground truth: per anchor,
    // how many of the 5 nearest share its label. Reuses the
    // bruteForceTopK plan (broadcast probes over the un-exploded
    // corpus, per-probe TakeOrdered heap) + two key-equi label joins;
    // p@5 = n/5 is dyadic-exact, no rounding needed. The recall-side
    // twin of the IVF family's RecallProbe audits.
    Q("vec_precision_at_k",
      (s, d) => {
        graft.engine.expr.GraftFunctions.ensureRegistered(s)
        val emb = embeddings(s, d)
        val lab = emb.select(col("vec_id"), col("label"))
        graft.engine.ml.Similarity.bruteForceTopK(emb,
            graft.engine.ml.Similarity.probes(emb), 5)
          .join(broadcast(lab
            .withColumnRenamed("vec_id", "probe_id")
            .withColumnRenamed("label", "anchor_label")), Seq("probe_id"))
          .join(lab, Seq("vec_id"))
          .groupBy("probe_id", "anchor_label")
          .agg(sum(when(col("label") === col("anchor_label"), 1L)
            .otherwise(0L)).as("n_match"))
          .select(col("probe_id"), col("anchor_label"), col("n_match"),
            expr("n_match / 5.0D").as("p_at_5"))
          .orderBy("probe_id")
      },
      s"""WITH $LabeledProbeCte,
         $LabeledRankCte
         SELECT probe_id, anchor_label,
                CAST(sum(CASE WHEN label = anchor_label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_match,
                CAST(sum(CASE WHEN label = anchor_label THEN 1 ELSE 0 END)
                  AS BIGINT) / 5.0 AS p_at_5
         FROM ranked WHERE rn <= 5
         GROUP BY probe_id, anchor_label
         ORDER BY probe_id"""),

    // NDCG@5 — position-discounted retrieval quality over the same
    // exact top-5 + label ground truth as vec_precision_at_k. The
    // discount weights 1/log2(rank+1) are pinned as 12-dp DECIMAL
    // LITERALS on both engines (a libm log2 in the data path could
    // drift a ulp); DCG/IDCG are exact decimal sums, IDCG places the
    // min(5, #relevant-in-corpus) ideal hits first. Ratio rounds once.
    Q("vec_ndcg_at_k",
      (s, d) => {
        graft.engine.expr.GraftFunctions.ensureRegistered(s)
        val emb = embeddings(s, d)
        val lab = emb.select(col("vec_id"), col("label"))
        val relTot = lab.groupBy("label")
          .agg((count(lit(1)) - 1).as("n_rel"))   // corpus hits excl. self
        val topk = graft.engine.ml.Similarity.bruteForceTopK(emb,
            graft.engine.ml.Similarity.probes(emb), 5)
          .join(broadcast(lab
            .withColumnRenamed("vec_id", "probe_id")
            .withColumnRenamed("label", "anchor_label")), Seq("probe_id"))
          .join(lab, Seq("vec_id"))
        topk
          .withColumn("w", expr(
            """CASE rn WHEN 1 THEN CAST(1.000000000000 AS DECIMAL(18,12))
                       WHEN 2 THEN CAST(0.630929753571 AS DECIMAL(18,12))
                       WHEN 3 THEN CAST(0.500000000000 AS DECIMAL(18,12))
                       WHEN 4 THEN CAST(0.430676558073 AS DECIMAL(18,12))
                       ELSE CAST(0.386852807235 AS DECIMAL(18,12)) END"""))
          .groupBy("probe_id", "anchor_label")
          .agg(sum(when(col("label") === col("anchor_label"), col("w"))
            .otherwise(expr("CAST(0 AS DECIMAL(18,12))"))).as("dcg"))
          .join(broadcast(relTot
            .withColumnRenamed("label", "anchor_label")),
            Seq("anchor_label"))
          .withColumn("idcg", expr(
            """CAST(1.000000000000 AS DECIMAL(18,12))
               + CASE WHEN n_rel >= 2
                 THEN CAST(0.630929753571 AS DECIMAL(18,12))
                 ELSE CAST(0 AS DECIMAL(18,12)) END
               + CASE WHEN n_rel >= 3
                 THEN CAST(0.500000000000 AS DECIMAL(18,12))
                 ELSE CAST(0 AS DECIMAL(18,12)) END
               + CASE WHEN n_rel >= 4
                 THEN CAST(0.430676558073 AS DECIMAL(18,12))
                 ELSE CAST(0 AS DECIMAL(18,12)) END
               + CASE WHEN n_rel >= 5
                 THEN CAST(0.386852807235 AS DECIMAL(18,12))
                 ELSE CAST(0 AS DECIMAL(18,12)) END"""))
          .select(col("probe_id"), col("anchor_label"),
            expr("ROUND(CAST(dcg AS DOUBLE), 6)").as("dcg"),
            expr("""ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
                    + 0.0D""").as("ndcg"))
          .orderBy("probe_id")
      },
      s"""WITH $LabeledProbeCte,
         rel_tot AS (SELECT label AS anchor_label,
                            CAST(count(*) - 1 AS BIGINT) AS n_rel
                     FROM embeddings GROUP BY label),
         $LabeledRankCte,
         dcgs AS (
           SELECT probe_id, anchor_label,
             sum(CASE WHEN label = anchor_label THEN
               CASE rn WHEN 1 THEN CAST(1.000000000000 AS DECIMAL(18,12))
                       WHEN 2 THEN CAST(0.630929753571 AS DECIMAL(18,12))
                       WHEN 3 THEN CAST(0.500000000000 AS DECIMAL(18,12))
                       WHEN 4 THEN CAST(0.430676558073 AS DECIMAL(18,12))
                       ELSE CAST(0.386852807235 AS DECIMAL(18,12)) END
               ELSE CAST(0 AS DECIMAL(18,12)) END) AS dcg
           FROM ranked WHERE rn <= 5 GROUP BY probe_id, anchor_label),
         withi AS (
           SELECT d.probe_id, d.anchor_label, d.dcg,
             CAST(1.000000000000 AS DECIMAL(18,12))
             + CASE WHEN n_rel >= 2
               THEN CAST(0.630929753571 AS DECIMAL(18,12))
               ELSE CAST(0 AS DECIMAL(18,12)) END
             + CASE WHEN n_rel >= 3
               THEN CAST(0.500000000000 AS DECIMAL(18,12))
               ELSE CAST(0 AS DECIMAL(18,12)) END
             + CASE WHEN n_rel >= 4
               THEN CAST(0.430676558073 AS DECIMAL(18,12))
               ELSE CAST(0 AS DECIMAL(18,12)) END
             + CASE WHEN n_rel >= 5
               THEN CAST(0.386852807235 AS DECIMAL(18,12))
               ELSE CAST(0 AS DECIMAL(18,12)) END AS idcg
           FROM dcgs d JOIN rel_tot USING (anchor_label))
         SELECT probe_id, anchor_label,
                ROUND(CAST(dcg AS DOUBLE), 6) AS dcg,
                ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
                  + 0.0 AS ndcg
         FROM withi ORDER BY probe_id"""),

    // EMBEDDING ANISOTROPY AUDIT — ‖μ‖²/(Σ‖v‖²/N): how far the
    // corpus mean vector sits from the isotropy origin, the QA
    // number behind "should we mean-center before cosine" (Ethayarajh
    // 2019's anisotropy diagnosis). Per-dimension sums go through one
    // 64-way posexplode exchange pinned to DECIMAL (at 100 TB this is
    // a treeAggregate over 64-float buffers instead — same contract);
    // per-row norms are sequential HOF folds pinned ONCE to decimal
    // before the row-order-agnostic sum.
    Q("vec_anisotropy",
      (s, d) => {
        val emb = embeddings(s, d)
        val dims = emb
          .select(posexplode(col("embedding")).as(Seq("i", "v")))
          .groupBy("i")
          .agg(expr("CAST(sum(CAST(v AS DECIMAL(18,8))) AS DOUBLE)")
            .as("sd"))
        val norms = emb.agg(
          count(lit(1)).as("n"),
          expr("""CAST(sum(CAST(aggregate(embedding, 0.0D,
                    (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                  AS DECIMAL(28,8))) AS DOUBLE)""").as("sn2"))
        dims.crossJoin(broadcast(norms))
          .agg(first("n").as("n_vecs"),
            expr("sum((sd / n) * (sd / n))").as("mu_norm2"),
            first(expr("sn2 / n")).as("mean_norm2"))
          .select(col("n_vecs"),
            expr("ROUND(mu_norm2, 6) + 0.0D").as("mu_norm2"),
            expr("ROUND(mean_norm2, 6) + 0.0D").as("mean_norm2"),
            expr("ROUND(mu_norm2 / mean_norm2, 6) + 0.0D")
              .as("anisotropy"))
      },
      """WITH dims AS (
           SELECT r.range AS i,
                  CAST(sum(CAST(embedding[r.range] AS DECIMAL(18,8)))
                    AS DOUBLE) AS sd
           FROM embeddings CROSS JOIN range(1, 65) r
           GROUP BY r.range),
         norms AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (a, b) -> a + b) AS DECIMAL(28,8))) AS DOUBLE) AS sn2
           FROM embeddings)
         SELECT n AS n_vecs,
                ROUND(sum((sd / n) * (sd / n)), 6) + 0.0 AS mu_norm2,
                ROUND(min(sn2 / n), 6) + 0.0 AS mean_norm2,
                ROUND(sum((sd / n) * (sd / n)) / min(sn2 / n), 6) + 0.0
                  AS anisotropy
         FROM dims CROSS JOIN norms GROUP BY n"""),

    // MAGIC-BYTE FILE-TYPE SNIFFING — the first gate of any
    // multimodal ingest: trust the CONTENT's signature, not the
    // extension/metadata. Binary payloads are planted with real
    // signatures (PNG \x89PNG, JPEG \xFF\xD8\xFF, PDF %PDF, else
    // raw) by doc_id rule; detection reads ONLY the first 8 bytes of
    // each blob (at 100 TB: a range-request of the object head, never
    // a full download). Hex prefixes compare as uppercase strings on
    // both engines.
    Q("multimodal_magic_sniff",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          expr("""unhex(concat(
                    CASE CAST(doc_id % 4 AS INT)
                      WHEN 0 THEN '89504E470D0A1A0A'
                      WHEN 1 THEN 'FFD8FFE000104A46'
                      WHEN 2 THEN '255044462D312E37'
                      ELSE '0000000000000000' END,
                    md5(CAST(doc_id AS STRING))))""").as("payload"))
        .select(col("doc_id"),
          expr("""CASE substring(hex(payload), 1, 8)
                    WHEN '89504E47' THEN 'png'
                    WHEN 'FFD8FFE0' THEN 'jpeg'
                    WHEN '25504446' THEN 'pdf'
                    ELSE 'unknown' END""").as("sniffed"),
          expr("CAST(length(payload) AS INT)").as("n_bytes"))
        .groupBy("sniffed")
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_bytes").cast("long")).as("total_bytes"))
        .orderBy("sniffed"),
      """WITH p AS (SELECT doc_id,
             unhex(concat(
               CASE CAST(doc_id % 4 AS INT)
                 WHEN 0 THEN '89504E470D0A1A0A'
                 WHEN 1 THEN 'FFD8FFE000104A46'
                 WHEN 2 THEN '255044462D312E37'
                 ELSE '0000000000000000' END,
               md5(CAST(doc_id AS VARCHAR)))) AS payload
           FROM documents),
         sn AS (SELECT doc_id,
             CASE substring(hex(payload), 1, 8)
               WHEN '89504E47' THEN 'png'
               WHEN 'FFD8FFE0' THEN 'jpeg'
               WHEN '25504446' THEN 'pdf'
               ELSE 'unknown' END AS sniffed,
             octet_length(payload) AS n_bytes
           FROM p)
         SELECT sniffed, CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(n_bytes) AS BIGINT) AS total_bytes
         FROM sn GROUP BY sniffed ORDER BY sniffed"""),

    // MEAN RECIPROCAL RANK — the "where does the FIRST relevant hit
    // land" retrieval metric next to vec_ndcg_at_k (graded relevance)
    // and vec_precision_at_k (set overlap): same brute-force cosine
    // top-5 per probe, first same-label rank per probe via one
    // conditional MIN, and because ranks live in 1..5 the reciprocal
    // ranks are EXACT in 1/60 units (lcm 1..5) — MRR and the hit rate
    // land via the half-up idiom, no float sum anywhere. One scan of
    // the top-k relation; probes are a K-row set by construction.
    Q("vec_mrr",
      (s, d) => {
        val emb = embeddings(s, d)
        val lab = emb.select(col("vec_id"), col("label"))
        val topk = Similarity.bruteForceTopK(emb,
            Similarity.probes(emb), 5)
          .join(broadcast(lab
            .withColumnRenamed("vec_id", "probe_id")
            .withColumnRenamed("label", "anchor_label")),
            Seq("probe_id"))
          .join(lab, Seq("vec_id"))
        topk.groupBy("probe_id")
          .agg(min(when(col("label") === col("anchor_label"),
            col("rn"))).as("minrn"))
          .agg(count(lit(1)).as("p"),
            sum(when(col("minrn").isNotNull, 1L).otherwise(0L))
              .as("hits"),
            sum(expr("""CASE minrn WHEN 1 THEN 60L WHEN 2 THEN 30L
                        WHEN 3 THEN 20L WHEN 4 THEN 15L WHEN 5 THEN 12L
                        ELSE 0L END""")).as("rr60"))
          .select(col("p").as("n_probes"), col("hits").as("hits_at_5"),
            expr("""(2 * CAST(rr60 AS DECIMAL(38,0)) * 1000000
                     + 60 * p) div (120 * p) / 1000000.0D""").as("mrr"),
            expr("""(2 * CAST(hits AS DECIMAL(38,0)) * 1000000 + p)
                    div (2 * p) / 1000000.0D""").as("hit_rate"))
      },
      s"""WITH $LabeledProbeCte,
         $LabeledRankCte,
         firsts AS (
           SELECT probe_id,
                  MIN(CASE WHEN label = anchor_label THEN rn END)
                    AS minrn
           FROM ranked WHERE rn <= 5 GROUP BY 1),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS p,
                  CAST(SUM(CASE WHEN minrn IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS hits,
                  CAST(SUM(CASE minrn WHEN 1 THEN 60 WHEN 2 THEN 30
                       WHEN 3 THEN 20 WHEN 4 THEN 15 WHEN 5 THEN 12
                       ELSE 0 END) AS BIGINT) AS rr60
           FROM firsts)
         SELECT p AS n_probes, hits AS hits_at_5,
                (2 * CAST(rr60 AS HUGEINT) * 1000000 + 60 * p)
                  // (120 * p) / 1000000.0 AS mrr,
                (2 * CAST(hits AS HUGEINT) * 1000000 + p) // (2 * p)
                  / 1000000.0 AS hit_rate
         FROM m"""),
  )
}
