package graft.queries

import graft.Tables._
import graft.queries.Fragments._
import graft.engine.ml.Text
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation operators a training-data pipeline runs between raw
  * ingest and tokenization: benchmark decontamination, PII masking,
  * domain-mixture weighting, and context-window chunking. All four are
  * map-heavy shapes — the scan does the work; shuffles touch only
  * per-doc or per-domain aggregates.
  */
object Curation {

  // one (lang, source) slice plays the benchmark/eval corpus; the rest
  // of the table is the training corpus being screened
  private val BenchSource = "src1"

  /** Shared oracle CTE prefix for the curation composites: the near-dup
    * keep-list (bigram Jaccard ≥ 0.05 pair graph → recursive-CTE
    * connected components, survivor = component min) and the n=5
    * benchmark-contamination set. `curate_corpus` aggregates these into
    * the audit; `curate_apply` emits the surviving rows. */
  private val curateCtes: String =
    s"""WITH RECURSIVE $BigramJaccardCte,
          $BigramClosureCte,
          keep AS (
            SELECT u AS doc_id, MIN(v) AS keep_id FROM reach GROUP BY u),
          w5 AS (
            SELECT doc_id, source, string_split(text, ' ') AS ws
            FROM documents),
          g5 AS (
            SELECT doc_id, source,
                   unnest(list_transform(range(1, len(ws) - 4 + 1),
                     i -> array_to_string(ws[i:i+4], ' '))) AS g
            FROM w5 WHERE len(ws) >= 5),
          bench AS (SELECT DISTINCT g FROM g5 WHERE source = '$BenchSource'),
          contam AS (
            SELECT DISTINCT t.doc_id FROM g5 t JOIN bench USING (g)
            WHERE t.source <> '$BenchSource')"""

  /** Oracle CTE chain for line-level dedup (see Text.lineDedup): chunk
    * every doc into non-overlapping 10-word "lines", keep the globally
    * first occurrence of each distinct chunk (ROW_NUMBER over
    * md5(chunk) ordered by doc_id, position), rebuild the text.
    * `ldstats` = (doc_id, n_chunks, n_kept, text_dedup) for every doc. */
  private val lineDedupCtes: String =
    """lb AS (
         SELECT doc_id, w, CAST(floor(len(w) / 10) AS BIGINT) AS nf
         FROM (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents)),
       lchunks AS (
         SELECT doc_id, i AS pos,
                array_to_string(w[i*10+1 : i*10+10], ' ') AS chunk_text
         FROM lb, LATERAL unnest(range(0, nf)) AS t(i)),
       lkept AS (
         SELECT doc_id, pos, chunk_text FROM (
           SELECT doc_id, pos, chunk_text,
                  ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                                     ORDER BY doc_id, pos) AS rn
           FROM lchunks) WHERE rn = 1),
       lka AS (
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                string_agg(chunk_text, ' ' ORDER BY pos) AS kept_text
         FROM lkept GROUP BY doc_id),
       ldstats AS (
         SELECT lb.doc_id, lb.nf AS n_chunks,
                CAST(COALESCE(lka.n_kept, 0) AS BIGINT) AS n_kept,
                concat_ws(' ', nullif(lka.kept_text, ''),
                  nullif(array_to_string(w[nf*10+1 : len(w)], ' '), ''))
                  AS text_dedup
         FROM lb LEFT JOIN lka ON lb.doc_id = lka.doc_id)"""

  /** Render the curate_corpus audit into the markdown report a data
    * team circulates: per-domain rows + a totals line + the global
    * survival rate. Pure presentation over the already-aggregated
    * audit relation (tiny — one row per domain), so the collect is
    * bounded by domain count, never corpus size. */
  def renderReport(audit: org.apache.spark.sql.DataFrame): String = {
    val rows = audit.orderBy("lang", "source").collect()
    val sb = new StringBuilder
    sb.append("# Corpus curation report\n\n")
    sb.append("| lang | source | docs | drop:len | drop:dup | " +
      "drop:contam | drop:linedup | kept | kept% |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|\n")
    var (docs, len, dup, contam, ld, kept) = (0L, 0L, 0L, 0L, 0L, 0L)
    def pct(k: Long, n: Long): Double = if (n == 0) 0.0 else 100.0 * k / n
    rows.foreach { r =>
      val (n, l, du, c, li, k) = (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))
      docs += n; len += l; dup += du; contam += c; ld += li; kept += k
      sb.append(f"| ${r.getString(0)} | ${r.getString(1)} | $n | $l | " +
        f"$du | $c | $li | $k | ${pct(k, n)}%.1f |\n")
    }
    sb.append(f"| **total** | | $docs | $len | $dup | $contam | $ld " +
      f"| $kept | ${pct(kept, docs)}%.1f |\n")
    sb.toString
  }

  val qs: Seq[Q] = Seq(
    // n=5 rather than the published 13 because the synthetic corpus is
    // ~100-word documents — 5 keeps planted near-dup overlap visible at
    // every SF while random 5-gram collisions stay at zero
    Q("decontaminate",
      (s, d) => {
        val docs = documents(s, d)
        Text.decontaminate(
          docs.filter(col("source") =!= BenchSource),
          docs.filter(col("source") === BenchSource), n = 5)
          .orderBy("doc_id")
      },
      s"""WITH w AS (
            SELECT doc_id, source, string_split(text, ' ') AS ws
            FROM documents),
          grams AS (
            SELECT doc_id, source,
                   unnest(list_transform(range(1, len(ws) - 4 + 1),
                     i -> array_to_string(ws[i:i+4], ' '))) AS g
            FROM w WHERE len(ws) >= 5),
          bench AS (SELECT DISTINCT g FROM grams
                    WHERE source = '$BenchSource'),
          hits AS (SELECT DISTINCT t.doc_id, t.g
                   FROM grams t JOIN bench USING (g)
                   WHERE t.source <> '$BenchSource')
          SELECT doc_id, COUNT(*) AS n_hit_grams
          FROM hits GROUP BY doc_id ORDER BY doc_id"""),

    // deterministic synthetic PII (the corpus itself is clean): build a
    // contact line per doc, then mask emails and phone-like digit runs.
    // Identical construction on both engines; Java and RE2 regexes
    // agree on this character-class subset.
    Q("text_pii_mask",
      (s, d) => {
        val withPii = documents(s, d).select(col("doc_id"),
          concat(lit("reach user"), col("doc_id"),
            lit("@mail.example.org or +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" re: "), substring(col("text"), 1, 40)).as("contact"))
        withPii.select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("contact"),
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "\\+?[0-9][0-9-]{7,}", "<PHONE>").as("masked"))
          .orderBy("doc_id")
      },
      """SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 'reach user' || doc_id || '@mail.example.org or +1-555-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                   ' re: ' || substr(text, 1, 40),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\+?[0-9][0-9-]{7,}', '<PHONE>', 'g') AS masked
          FROM documents ORDER BY doc_id"""),

    // temperature-scaled domain sampling weights (α=0.5, the standard
    // square-root rebalance): w_d ∝ tokens_d^α, normalized. Token
    // counts are REAL subword counts from the trained BPE merge table
    // (graft.engine.ml.Bpe — fit-once artifact, map-side encode); the
    // oracle replays the trainer+encoder in DuckDB. The normalizer is
    // a one-row aggregate of the post-agg relation (one row per
    // domain), broadcast back — no single-partition window.
    Q("mix_weights",
      (s, d) => {
        val tok = graft.engine.ml.Bpe.tokensStoreFor(documents(s, d), d)
          .groupBy("lang", "source")
          .agg(sum(col("n_tokens")).as("n_tokens"))
        val total = tok.agg(
          sum(pow(col("n_tokens"), 0.5)).as("w_total"))
        tok.crossJoin(broadcast(total))
          .select(col("lang"), col("source"), col("n_tokens"),
            round(pow(col("n_tokens"), 0.5) / col("w_total"), 6)
              .as("weight"))
          .orderBy("lang", "source")
      },
      graft.engine.ml.Bpe.tokensCtePrefix + """,
tok AS (
  SELECT lang, source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM dtok GROUP BY 1, 2)
SELECT lang, source, n_tokens,
       ROUND(pow(n_tokens, 0.5) /
             (SELECT SUM(pow(n_tokens, 0.5)) FROM tok), 6) AS weight
FROM tok ORDER BY lang, source"""),

    // The capstone composite: the whole curation pipeline as ONE
    // declared operator — length rule, near-dup keep-list (the
    // persisted dedup_resolve artifact), and benchmark decontamination
    // — emitting the per-domain audit every curation run reports
    // (independent per-rule drop counts + docs surviving all rules).
    // Each stage keeps its standalone scale shape: the keep-list is a
    // doc_id-keyed artifact join, contamination a broadcast gram join,
    // the rules scan-local expressions.
    Q("curate_corpus",
      (s, d) => {
        val docs = documents(s, d)
        val train = docs.filter(col("source") =!= BenchSource)
        val keep = graft.engine.ml.Dedup.keepListFor(docs, d, 0.05)
        val contam = graft.engine.ml.Text.decontaminate(
          train, docs.filter(col("source") === BenchSource), n = 5)
          .select(col("doc_id"), lit(1).as("hit"))
        // rule 4 (line-level): a doc that loses over half its 10-word
        // chunks to the globally-first-occurrence rule is template
        // chrome, not content — drop it (the chunk dedup relation is
        // computed corpus-wide, like the keep-list)
        val linedup = Text.lineDedup(docs, 10)
          .select(col("doc_id"),
            (col("n_chunks") > 0 &&
              col("n_kept") * 2 < col("n_chunks")).cast("long")
              .as("line_dup"))
        val flagged = train
          .join(keep, Seq("doc_id")) // keep-list has every doc: inner
          .join(contam, Seq("doc_id"), "left")
          .join(linedup, Seq("doc_id"))
          .select(col("lang"), col("source"),
            (col("n_chars") < 100 || col("n_chars") > 520)
              .cast("long").as("bad_len"),
            (col("doc_id") =!= col("keep_id")).cast("long").as("dup"),
            col("hit").isNotNull.cast("long").as("contam"),
            col("line_dup"))
        flagged.groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum("bad_len").as("drop_len"),
            sum("dup").as("drop_dup"),
            sum("contam").as("drop_contam"),
            sum("line_dup").as("drop_linedup"),
            sum(when(col("bad_len") + col("dup") + col("contam") +
              col("line_dup") === 0, 1L)
              .otherwise(0L)).as("n_kept"))
          .orderBy("lang", "source")
      },
      s"""$curateCtes,
          $lineDedupCtes,
          flagged AS (
            SELECT d.lang, d.source,
                   CASE WHEN d.n_chars < 100 OR d.n_chars > 520
                        THEN 1 ELSE 0 END AS bad_len,
                   CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END AS dup,
                   CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contam,
                   CASE WHEN l.n_chunks > 0 AND l.n_kept * 2 < l.n_chunks
                        THEN 1 ELSE 0 END AS line_dup
            FROM documents d
              JOIN keep k ON k.doc_id = d.doc_id
              LEFT JOIN contam c ON c.doc_id = d.doc_id
              JOIN ldstats l ON l.doc_id = d.doc_id
            WHERE d.source <> '$BenchSource')
          SELECT lang, source,
                 COUNT(*) AS n_docs,
                 CAST(SUM(bad_len) AS BIGINT) AS drop_len,
                 CAST(SUM(dup) AS BIGINT) AS drop_dup,
                 CAST(SUM(contam) AS BIGINT) AS drop_contam,
                 CAST(SUM(line_dup) AS BIGINT) AS drop_linedup,
                 CAST(SUM(CASE WHEN bad_len + dup + contam + line_dup = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          FROM flagged GROUP BY lang, source ORDER BY lang, source"""),

    // curate_apply: the row-level companion of curate_corpus — emit the
    // SURVIVING corpus (the rows a tokenizer would actually consume)
    // instead of the audit. Same three rules, same persisted keep-list
    // artifact; the plan is the audit's minus the final aggregate, so
    // at 100 TB it stays a scan + artifact join + broadcast gram join
    // with no added shuffle.
    Q("curate_apply",
      (s, d) => {
        val docs = documents(s, d)
        val train = docs.filter(col("source") =!= BenchSource)
        val keep = graft.engine.ml.Dedup.keepListFor(docs, d, 0.05)
        val contam = graft.engine.ml.Text.decontaminate(
          train, docs.filter(col("source") === BenchSource), n = 5)
          .select(col("doc_id"), lit(1).as("hit"))
        val linedup = Text.lineDedup(docs, 10)
          .select(col("doc_id"),
            (col("n_chunks") > 0 &&
              col("n_kept") * 2 < col("n_chunks")).as("line_dup"))
        train
          .join(keep, Seq("doc_id"))
          .join(contam, Seq("doc_id"), "left")
          .join(linedup, Seq("doc_id"))
          .filter(col("n_chars") >= 100 && col("n_chars") <= 520 &&
            col("doc_id") === col("keep_id") && col("hit").isNull &&
            !col("line_dup"))
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      s"""$curateCtes,
          $lineDedupCtes
          SELECT d.doc_id, d.lang, d.source, d.n_chars
          FROM documents d
            JOIN keep k ON k.doc_id = d.doc_id
            LEFT JOIN contam c ON c.doc_id = d.doc_id
            JOIN ldstats l ON l.doc_id = d.doc_id
          WHERE d.source <> '$BenchSource'
            AND d.n_chars >= 100 AND d.n_chars <= 520
            AND d.doc_id = k.keep_id
            AND c.doc_id IS NULL
            AND NOT (l.n_chunks > 0 AND l.n_kept * 2 < l.n_chunks)
          ORDER BY d.doc_id"""),

    // Per-document lexical richness: mean inverse document frequency of
    // the doc's distinct words (ln N/df). Low scores mark boilerplate /
    // templated text — a standard curation quality signal. Two shuffles
    // (word distinct + df agg) and a word-keyed join back; df for a real
    // corpus is Zipfian, but the join key is (word), whose skew the
    // AQE skew-join handles, and the final per-doc agg is uniform.
    Q("text_idf_score",
      (s, d) => {
        val docs = documents(s, d)
        val dw = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("w")).distinct()
        val wdf = dw.groupBy("w").agg(count(lit(1)).as("df"))
        val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
        dw.join(wdf, "w")
          .crossJoin(broadcast(total))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            round(avg(log(col("n_docs") / col("df"))), 6).as("avg_idf"))
          .orderBy("doc_id")
      },
      """WITH dw AS (
           SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
         wdf AS (SELECT w, COUNT(*) AS df FROM dw GROUP BY 1),
         total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
         SELECT doc_id, COUNT(*) AS n_words,
                ROUND(AVG(LN(n_docs / df)), 6) AS avg_idf
         FROM dw JOIN wdf USING (w) CROSS JOIN total
         GROUP BY doc_id ORDER BY doc_id"""),

    // Gopher-style repetition filter: fraction of a document's word
    // 3-grams that are repeats of an earlier gram in the same document.
    // High ratios mark degenerate/looping text. One map-only pass
    // (Text.repetitionProfile): the per-doc counts are computed inside
    // the scan partition, so there is NO shuffle — the shape that
    // survives any corpus size.
    Q("text_repetition",
      (s, d) => graft.engine.ml.Text
        .repetitionProfile(documents(s, d), 3)
        .filter(col("n_grams") > 0)
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          round((col("n_grams") - col("n_distinct")) /
            col("n_grams").cast("double"), 6).as("dup_ratio"))
        .orderBy("doc_id"),
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(ws) - 1),
                    i -> array_to_string(ws[i:i+2], ' '))) AS g
           FROM w WHERE len(ws) >= 3)
         SELECT doc_id, COUNT(*) AS n_grams,
                COUNT(DISTINCT g) AS n_distinct,
                ROUND((COUNT(*) - COUNT(DISTINCT g)) /
                      CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
         FROM g GROUP BY doc_id ORDER BY doc_id"""),

    // Exact heavy hitters at sketch cost: per-partition Misra-Gries
    // candidates (narrow pass, bounded memory), then an exact recount
    // of the tiny candidate union — output EQUALS the exact frequent-
    // words answer (the stopword list every tokenizer/quality pass
    // wants), so the plain GROUP BY oracle checks it directly.
    Q("agg_heavy_hitters",
      (s, d) => Text.heavyHitters(documents(s, d), 100)
        .orderBy("w"),
      """WITH w AS (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_words FROM w)
         SELECT w, COUNT(*) AS cnt
         FROM w CROSS JOIN tot
         GROUP BY w, n_words
         HAVING COUNT(*) > n_words / 100
         ORDER BY w"""),

    // Tokenizer-prep: the frequency-ranked vocabulary (min count 10,
    // ids dense by count desc / word asc — the deterministic order a
    // reproducible tokenizer needs). Ids are assigned WITHOUT a
    // single-task global sort (the r9 verdict's last one-task window):
    // range-repartition the lexicon by the rank key, rank LOCALLY per
    // partition, then add per-partition offsets computed from a
    // #partitions-row count table. The only unpartitioned window left
    // runs over that offset table, which carries a literal limit(P) —
    // structurally bounded, no census allowlist needed. Ids are
    // identical to the global form because range partitioning totally
    // orders partitions and (cnt desc, w) is a strict total order.
    Q("vocab_build",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val nParts = 32
        val freq = documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 10)
        val parted = freq
          .repartitionByRange(nParts, desc("cnt"), asc("w"))
          .withColumn("pid", spark_partition_id())
        val local = parted.withColumn("lrn", row_number().over(
          Window.partitionBy("pid").orderBy(desc("cnt"), asc("w"))))
        val offsets = local.groupBy("pid")
          .agg(count(lit(1)).as("pcnt"))
          .limit(nParts) // no-op bound: range exchange emits <= nParts
          .withColumn("offset", coalesce(
            sum(col("pcnt")).over(Window.orderBy("pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("pid", "offset")
        local.join(broadcast(offsets), Seq("pid"))
          .select((col("offset") + col("lrn")).cast("int").as("vocab_id"),
            col("w"), col("cnt"))
          .orderBy("vocab_id")
      },
      """SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, w ASC) AS vocab_id,
                w, cnt
         FROM (SELECT w, COUNT(*) AS cnt FROM (
                 SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents)
               GROUP BY w HAVING COUNT(*) >= 10)
         ORDER BY vocab_id"""),

    // ...and the OOV audit against that vocabulary: per-document
    // out-of-vocabulary token fraction — the number that decides
    // whether the vocab (or the corpus slice) is usable. Vocab is
    // broadcast; the scan stays map-side.
    Q("text_oov_rate",
      (s, d) => {
        val vocab = documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 10)
          .select("w")
        documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .join(broadcast(vocab.withColumn("in_vocab", lit(1L))),
            Seq("w"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
              .as("n_oov"))
          .select(col("doc_id"), col("n_tokens"), col("n_oov"),
            round(col("n_oov") / col("n_tokens").cast("double"), 6)
              .as("oov_rate"))
          .orderBy("doc_id")
      },
      """WITH vocab AS (
           SELECT w FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY w HAVING COUNT(*) >= 10),
         toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents)
         SELECT doc_id, COUNT(*) AS n_tokens,
                CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov,
                ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) /
                      CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
         FROM toks LEFT JOIN vocab v USING (w)
         GROUP BY doc_id ORDER BY doc_id"""),

    // Canonicalization before dedup/fingerprinting: lowercase, strip
    // non-alphanumerics, collapse runs of whitespace, trim. Pure
    // map-side string work; emits the normalized text plus the shrink
    // audit (chars before/after). Dirt is injected deterministically so
    // the rules all fire on this clean corpus.
    Q("text_normalize",
      (s, d) => documents(s, d)
        .withColumn("dirty",
          concat(lit("  "), upper(substring(col("text"), 1, 30)),
            lit(" ,. !!  "), col("text"), lit("   ")))
        .select(col("doc_id"),
          trim(regexp_replace(
            regexp_replace(lower(col("dirty")), "[^a-z0-9 ]", ""),
            " +", " ")).as("norm_text"),
          length(col("dirty")).as("n_before"))
        .withColumn("n_after", length(col("norm_text")))
        .orderBy("doc_id"),
      """SELECT doc_id,
                trim(regexp_replace(
                  regexp_replace(
                    lower('  ' || upper(substr(text, 1, 30)) ||
                          ' ,. !!  ' || text || '   '),
                    '[^a-z0-9 ]', '', 'g'),
                  ' +', ' ', 'g')) AS norm_text,
                CAST(length('  ' || upper(substr(text, 1, 30)) ||
                     ' ,. !!  ' || text || '   ') AS BIGINT) AS n_before,
                CAST(length(trim(regexp_replace(
                  regexp_replace(
                    lower('  ' || upper(substr(text, 1, 30)) ||
                          ' ,. !!  ' || text || '   '),
                    '[^a-z0-9 ]', '', 'g'),
                  ' +', ' ', 'g'))) AS BIGINT) AS n_after
         FROM documents ORDER BY doc_id"""),

    Q("chunk_overlap",
      (s, d) => Text.chunkOverlap(documents(s, d), 32, 24)
        .orderBy("doc_id", "chunk_id"),
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         c AS (
           SELECT doc_id, ws,
                  unnest(range(0,
                    CASE WHEN len(ws) <= 32 THEN 1
                         ELSE 1 + (len(ws) - 32 + 23) // 24 END))
                    AS chunk_id
           FROM w)
         SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
                array_to_string(ws[chunk_id*24+1 : chunk_id*24+32], ' ')
                  AS chunk_text,
                len(ws[chunk_id*24+1 : chunk_id*24+32]) AS n_words
         FROM c ORDER BY doc_id, chunk_id"""),

    // Cross-document boilerplate detection (the CCNet/RefinedWeb move:
    // a passage repeated across documents is template/nav chrome, not
    // content): fingerprint every 10-word chunk, count per-chunk
    // document frequency on DISTINCT (doc, chunk), and score each doc
    // by its fraction of corpus-repeated chunks. One shuffle builds the
    // chunk-frequency relation; the repeated-chunk set is tiny by the
    // Zipf of real corpora, so it broadcasts back onto the narrow chunk
    // stream (were it ever large, the join key `ch` is already the
    // shuffle key — flip to sort-merge, same plan family).
    Q("text_boilerplate",
      (s, d) => {
        val chunks = documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), explode(expr(
            """CASE WHEN size(w) < 10 THEN array()
               ELSE transform(sequence(0, size(w) div 10 - 1),
                 i -> md5(array_join(slice(w, i * 10 + 1, 10), ' ')))
               END""")).as("ch"))
        val freq = chunks.select("doc_id", "ch").distinct()
          .groupBy("ch").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2)
          .select(col("ch"), lit(1).as("hit"))
        chunks.join(broadcast(freq), Seq("ch"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(coalesce(col("hit"), lit(0))).as("n_boiler"))
          .select(col("doc_id"), col("n_chunks"), col("n_boiler"),
            round(col("n_boiler").cast("double") / col("n_chunks"), 4)
              .as("boiler_frac"))
          .orderBy("doc_id")
      },
      """WITH chunks AS (
           SELECT doc_id,
                  md5(array_to_string(w[i * 10 + 1 : i * 10 + 10], ' '))
                    AS ch
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents),
                LATERAL unnest(range(0,
                  CAST(floor(len(w) / 10) AS BIGINT))) AS t(i)),
         dch AS (SELECT DISTINCT doc_id, ch FROM chunks),
         freq AS (SELECT ch FROM dch GROUP BY ch HAVING COUNT(*) >= 2),
         per_doc AS (
           SELECT c.doc_id, COUNT(*) AS n_chunks,
                  COUNT(*) FILTER (WHERE f.ch IS NOT NULL) AS n_boiler
           FROM chunks c LEFT JOIN freq f ON c.ch = f.ch
           GROUP BY c.doc_id)
         SELECT doc_id, n_chunks, n_boiler,
                ROUND(CAST(n_boiler AS DOUBLE) / n_chunks, 4)
                  AS boiler_frac
         FROM per_doc ORDER BY doc_id"""),

    // EXACT-SUBSTRING duplication coverage (the "Deduplicating
    // Training Data Makes LMs Better" metric): per document, the
    // fraction of TOKENS lying inside any ≥10-token window that also
    // appears verbatim in another document. Differs from
    // text_boilerplate in both stride and unit: stride-1 windows (a
    // duplicated span is caught at every offset, not only at aligned
    // decile chunks) and OVERLAPPING matched windows merged into
    // maximal runs (interval_coverage's running-max islands on token
    // offsets) so a token is counted once no matter how many windows
    // cover it. Shape: map-side window fingerprints, one distinct
    // (doc, ch) exchange for the shared set, matched positions join,
    // one doc_id window family for the merge — never a suffix array,
    // which is the point: the suffix-automaton metric reduced to
    // relational ops that scale.
    Q("text_dup_coverage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val chunks = t.select(col("doc_id"),
            size(col("w")).cast("long").as("n_tokens"),
            explode(expr(
              """CASE WHEN size(w) < 10 THEN
                   array() ELSE transform(sequence(1, size(w) - 9),
                   i -> struct(i AS st,
                     md5(array_join(slice(w, i, 10), ' ')) AS ch))
                 END""")).as("c"))
          .select(col("doc_id"), col("n_tokens"),
            col("c.st").as("st"), col("c.ch").as("ch"))
        val shared = chunks.select("doc_id", "ch").distinct()
          .groupBy("ch").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2).select("ch")
        val iv = chunks.join(shared, Seq("ch"))
          .select(col("doc_id"), col("st"), (col("st") + 9).as("en"))
        val wOrd = Window.partitionBy("doc_id").orderBy("st", "en")
        val runs = iv
          .withColumn("prev_max",
            max(col("en")).over(wOrd.rowsBetween(
              Window.unboundedPreceding, -1)))
          .withColumn("ni",
            (col("prev_max").isNull || col("st") > col("prev_max"))
              .cast("int"))
          .withColumn("island", sum(col("ni")).over(wOrd))
          .groupBy("doc_id", "island")
          .agg(min(col("st")).as("s"), max(col("en")).as("e"))
          .groupBy("doc_id")
          .agg(sum(col("e") - col("s") + 1).as("covered"))
        chunks.select("doc_id", "n_tokens").distinct()
          .join(runs, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("covered"), lit(0L)).as("covered_tokens"),
            round(coalesce(col("covered"), lit(0L)).cast("double") /
              col("n_tokens"), 6).as("dup_frac"))
          .orderBy("doc_id")
      },
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         chunks AS (
           SELECT doc_id, len(w) AS n_tokens, i AS st,
                  md5(array_to_string(w[i : i + 9], ' ')) AS ch
           FROM t, LATERAL unnest(range(1,
             CASE WHEN len(w) < 10 THEN 1 ELSE len(w) - 8 END)) AS u(i)),
         shared AS (
           SELECT ch FROM (SELECT DISTINCT doc_id, ch FROM chunks)
           GROUP BY ch HAVING COUNT(*) >= 2),
         iv AS (
           SELECT c.doc_id, c.st, c.st + 9 AS en
           FROM chunks c JOIN shared s ON c.ch = s.ch),
         m AS (
           SELECT doc_id, st, en,
                  MAX(en) OVER (PARTITION BY doc_id ORDER BY st, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
           FROM iv),
         isl AS (
           SELECT doc_id, st, en,
                  SUM(CASE WHEN prev_max IS NULL OR st > prev_max
                           THEN 1 ELSE 0 END) OVER (
                    PARTITION BY doc_id ORDER BY st, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS island
           FROM m),
         runs AS (
           SELECT doc_id, island, MIN(st) AS s, MAX(en) AS e
           FROM isl GROUP BY 1, 2),
         cov AS (
           SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS covered
           FROM runs GROUP BY 1),
         docs AS (
           SELECT DISTINCT doc_id, n_tokens FROM chunks)
         SELECT doc_id, n_tokens,
                COALESCE(covered, 0) AS covered_tokens,
                ROUND(CAST(COALESCE(covered, 0) AS DOUBLE) / n_tokens, 6)
                  AS dup_frac
         FROM docs LEFT JOIN cov USING (doc_id)
         ORDER BY doc_id"""),

    // Content-defined chunking: boundaries from a rolling hash over
    // the last 4 words (avg chunk ~8 words), so an edit early in a doc
    // moves boundaries only LOCALLY and chunk-hash dedup still matches
    // the unchanged remainder — what fixed-stride chunk_overlap can't
    // give. Exact integer arithmetic end to end; the oracle replays
    // word hash → window hash → boundary cumsum → chunk rebuild.
    Q("chunk_cdc",
      (s, d) => Text.cdcChunks(documents(s, d), 4, 8)
        .orderBy("doc_id", "chunk_id"),
      """WITH words AS (
           SELECT doc_id, i - 1 AS pos, w[i] AS word,
                  list_reduce(list_transform(
                    range(1, len(w[i]) + 1),
                    j -> CAST(ascii(substring(w[i], j, 1)) AS BIGINT)),
                    (a, c) -> (a * 31 + c) % 1000000007) AS h
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents),
                LATERAL unnest(range(1, len(w) + 1)) AS t(i)),
         hashed AS (
           SELECT doc_id, pos, word,
                  ((((LAG(h, 3) OVER wd * 31 + LAG(h, 2) OVER wd)
                     % 1000000007) * 31 + LAG(h, 1) OVER wd)
                     % 1000000007) * 31 + h AS g_pre
           FROM words
           WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
         flagged AS (
           SELECT doc_id, pos, word,
                  CASE WHEN pos >= 3 AND (g_pre % 1000000007) % 8 = 0
                       THEN 1 ELSE 0 END AS boundary
           FROM hashed),
         assigned AS (
           SELECT doc_id, pos, word,
                  CAST(COALESCE(SUM(boundary) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS chunk_id
           FROM flagged)
         SELECT doc_id, chunk_id,
                CAST(COUNT(*) AS BIGINT) AS n_words,
                string_agg(word, ' ' ORDER BY pos) AS chunk_text,
                md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_hash
         FROM assigned GROUP BY doc_id, chunk_id
         ORDER BY doc_id, chunk_id"""),

    // Token-budget allocation — the step after mix_weights in a real
    // training-mix pipeline: turn normalized domain weights into
    // concrete token quotas against a fixed budget, with the
    // oversampling factor (epochs) each domain runs at. Pure
    // deterministic arithmetic over the per-domain REAL BPE token
    // counts; one tiny post-agg relation.
    Q("mix_allocate",
      (s, d) => {
        val budget = 1000000L
        val tok = graft.engine.ml.Bpe.tokensStoreFor(documents(s, d), d)
          .groupBy("lang", "source")
          .agg(sum(col("n_tokens")).as("n_tokens"))
        val total = tok.agg(
          sum(pow(col("n_tokens"), 0.5)).as("w_total"))
        tok.crossJoin(broadcast(total))
          .select(col("lang"), col("source"), col("n_tokens"),
            round(pow(col("n_tokens"), 0.5) / col("w_total"), 6)
              .as("weight"))
          .withColumn("alloc_tokens",
            floor(col("weight") * budget).cast("long"))
          .withColumn("epochs",
            round(col("alloc_tokens") /
              col("n_tokens").cast("double"), 4))
          .orderBy("lang", "source")
      },
      graft.engine.ml.Bpe.tokensCtePrefix + """,
tok AS (
  SELECT lang, source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM dtok GROUP BY 1, 2),
wt AS (
  SELECT lang, source, n_tokens,
         ROUND(pow(n_tokens, 0.5) /
               (SELECT SUM(pow(n_tokens, 0.5)) FROM tok), 6) AS weight
  FROM tok)
SELECT lang, source, n_tokens, weight,
       CAST(floor(weight * 1000000) AS BIGINT) AS alloc_tokens,
       ROUND(CAST(floor(weight * 1000000) AS BIGINT) /
             CAST(n_tokens AS DOUBLE), 4) AS epochs
FROM wt ORDER BY lang, source"""),

    // Quality-bucketed sampling — the classifier-bucket mix move
    // (keep high-quality docs at full rate, downsample the tail):
    // exact quartile boundaries over the quality score (explicit
    // boundary compare, NOT ntile — tie handling differs between
    // engines), deterministic md5-keyed keep decision per doc, audit
    // per bucket. Boundaries are a one-row aggregate broadcast back;
    // the bucket/keep pass is scan-local.
    Q("mix_by_quality",
      (s, d) => {
        val q = Text.qualityScore(documents(s, d),
          Seq("join", "filter", "sort", "hash", "scan"))
          .select(col("doc_id"), col("quality"))
        val b = q.agg(expr(
          "percentile(quality, array(0.25D, 0.5D, 0.75D))").as("qs"))
        val rate = when(col("bucket") === 1, 10)
          .when(col("bucket") === 2, 25)
          .when(col("bucket") === 3, 50).otherwise(100)
        q.crossJoin(broadcast(b))
          .select(col("doc_id"), col("quality"),
            when(col("quality") <= expr("qs[0]"), 1)
              .when(col("quality") <= expr("qs[1]"), 2)
              .when(col("quality") <= expr("qs[2]"), 3)
              .otherwise(4).as("bucket"))
          .withColumn("kept",
            (conv(substring(md5(col("doc_id").cast("string")), 1, 8),
              16, 10).cast("long") % 100 < rate).cast("long"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
          .orderBy("bucket")
      },
      """WITH q AS (
           SELECT doc_id,
                  ROUND(least(1.0, len(string_split(text, ' ')) / 200.0)
                    * (1.0 - len(list_filter(string_split(text, ' '),
                        t -> list_contains(
                          ['join','filter','sort','hash','scan'], t)))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE)), 4)
                    AS quality
           FROM documents),
         b AS (SELECT quantile_cont(quality, [0.25, 0.5, 0.75]) AS qs
               FROM q),
         bucketed AS (
           SELECT doc_id, quality,
                  CASE WHEN quality <= qs[1] THEN 1
                       WHEN quality <= qs[2] THEN 2
                       WHEN quality <= qs[3] THEN 3
                       ELSE 4 END AS bucket,
                  CASE WHEN CAST(('0x' ||
                         substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 <
                       CASE WHEN quality <= qs[1] THEN 10
                            WHEN quality <= qs[2] THEN 25
                            WHEN quality <= qs[3] THEN 50
                            ELSE 100 END
                       THEN 1 ELSE 0 END AS kept
           FROM q, b)
         SELECT bucket, COUNT(*) AS n_docs,
                CAST(SUM(kept) AS BIGINT) AS n_kept
         FROM bucketed GROUP BY bucket ORDER BY bucket"""),

    // Incremental line dedup: the batch (every 5th doc) screened
    // against existing ∪ batch with the same globally-first keep rule
    // — existing×existing never aggregated (semi-filter first, the
    // dedup_incremental move at chunk granularity). Oracle = the full
    // rule restricted to batch docs.
    Q("dedup_lines_incremental",
      (s, d) => {
        val docs = documents(s, d)
        Text.lineDedupIncremental(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0), 10)
          .orderBy("doc_id")
      },
      """WITH b AS (
           SELECT doc_id, string_split(text, ' ') AS w,
                  CAST(floor(len(string_split(text, ' ')) / 10) AS BIGINT)
                    AS nf
           FROM documents),
         chunks AS (
           SELECT doc_id, i AS pos,
                  md5(array_to_string(w[i*10+1 : i*10+10], ' ')) AS ch
           FROM b, LATERAL unnest(range(0, nf)) AS t(i)),
         firsts AS (
           SELECT ch, MIN({'doc_id': doc_id, 'pos': pos}) AS f
           FROM chunks
           WHERE ch IN (SELECT ch FROM chunks WHERE doc_id % 5 = 0)
           GROUP BY ch),
         perdoc AS (
           SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                  CAST(SUM(CASE WHEN (f).doc_id = c.doc_id
                                 AND (f).pos = c.pos
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           FROM chunks c JOIN firsts USING (ch)
           WHERE c.doc_id % 5 = 0
           GROUP BY c.doc_id)
         SELECT d.doc_id,
                COALESCE(p.n_chunks, 0) AS n_chunks,
                COALESCE(p.n_kept, 0) AS n_kept
         FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         LEFT JOIN perdoc p USING (doc_id)
         ORDER BY d.doc_id"""),

    // Line-level dedup EMITTING the cleaned corpus (text_boilerplate
    // only scores; this removes): globally-first-occurrence keep rule
    // per 10-word chunk, doc rebuilt from survivors. The CCNet move
    // that doc-level keep-lists can't make — boilerplate inside
    // surviving docs is dropped, not just counted.
    Q("dedup_lines",
      (s, d) => Text.lineDedup(documents(s, d), 10).orderBy("doc_id"),
      s"""WITH $lineDedupCtes
          SELECT doc_id, n_chunks, n_kept, text_dedup
          FROM ldstats ORDER BY doc_id"""),

    // TYPE-TOKEN RATIO + hapax rate per document — the lexical-
    // diversity pair every corpus-quality profile carries (template
    // and boilerplate text shows low TTR; OCR noise shows a hapax
    // spike). One (doc_id, token) partial-agg exchange collapses
    // map-side, then a doc-key aggregate: the plan is token-count
    // bounded at any corpus size. Ratios are identical doubles from
    // exact integer counts through an identical formula.
    Q("text_ttr",
      (s, d) => documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          round(col("n_types").cast("double") /
            col("n_tokens").cast("double"), 6).as("ttr"),
          round(col("n_hapax").cast("double") /
            col("n_types").cast("double"), 6).as("hapax_rate"))
        .orderBy("doc_id"),
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents),
         tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2)
         SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                CAST(COUNT(*) AS BIGINT) AS n_types,
                CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax,
                ROUND(CAST(COUNT(*) AS DOUBLE) /
                      CAST(SUM(c) AS DOUBLE), 6) AS ttr,
                ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) /
                      CAST(COUNT(*) AS DOUBLE), 6) AS hapax_rate
         FROM tc GROUP BY doc_id ORDER BY doc_id"""),

    // JENSEN-SHANNON DIVERGENCE between the en slice's and the
    // non-en slice's unigram distributions — the symmetric, bounded
    // [0, ln 2] drift number for "are these two corpus slices the
    // same language distribution?" (dq_drift_psi is per-bucket on one
    // numeric column; profile_vocab_overlap counts shared types; this
    // weighs the full distributions). ONE token exchange builds both
    // slices' counts (conditional sums, not two passes), totals
    // broadcast back, each p·ln term computed on identical doubles
    // from exact integer ratios and pinned to DECIMAL(18,12) so the
    // global sum is order-free (text_zipf discipline); zero-count
    // sides contribute exact 0, never a NaN.
    Q("text_js_divergence",
      (s, d) => {
        val counts = documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("t"))
          .groupBy("t")
          .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
            sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cb"))
        val tot = counts.agg(sum(col("ca")).as("na"),
          sum(col("cb")).as("nb"))
        counts.crossJoin(broadcast(tot))
          .select(col("ca"), col("cb"),
            (col("ca").cast("double") / col("na").cast("double")).as("p"),
            (col("cb").cast("double") / col("nb").cast("double")).as("q"),
            col("na"), col("nb"))
          .agg(max(col("na")).as("n_tokens_en"),
            max(col("nb")).as("n_tokens_other"),
            sum(when(col("ca") > 0, 1L).otherwise(0L)).as("vocab_en"),
            sum(when(col("cb") > 0, 1L).otherwise(0L)).as("vocab_other"),
            sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L))
              .as("vocab_shared"),
            round((sum(
              (when(col("p") > 0,
                expr("p * ln((2.0 * p) / (p + q))")).otherwise(lit(0.0)) +
                when(col("q") > 0,
                  expr("q * ln((2.0 * q) / (p + q))")).otherwise(lit(0.0)))
                .cast(org.apache.spark.sql.types.DecimalType(18, 12)))
              .cast("double") * 0.5), 6).as("js_nats"))
      },
      """WITH tok AS (
           SELECT lang, unnest(string_split(text, ' ')) AS t
           FROM documents),
         counts AS (
           SELECT t,
                  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
                  SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS cb
           FROM tok GROUP BY t),
         tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM counts),
         terms AS (
           SELECT ca, cb, na, nb,
                  CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS p,
                  CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS q
           FROM counts, tot)
         SELECT CAST(MAX(na) AS BIGINT) AS n_tokens_en,
                CAST(MAX(nb) AS BIGINT) AS n_tokens_other,
                CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS vocab_en,
                CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS vocab_other,
                CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS vocab_shared,
                ROUND(CAST(SUM(CAST(
                  CASE WHEN p > 0 THEN p * ln((2.0 * p) / (p + q))
                       ELSE 0.0 END +
                  CASE WHEN q > 0 THEN q * ln((2.0 * q) / (p + q))
                       ELSE 0.0 END AS DECIMAL(18,12)))
                  AS DOUBLE) * 0.5, 6) AS js_nats
         FROM terms"""),

    // VOCAB COVERAGE CURVE — what fraction of all token occurrences
    // the top-10/100/1000 types cover: the number that sizes a
    // vocabulary budget (vocab_build picks a cutoff; this shows what
    // any cutoff buys on a Zipf corpus). One word-count exchange,
    // then TakeOrdered(1000) — per-partition heaps, never a
    // vocab-wide global sort (the text_zipf_slope lesson) — and the
    // rank window runs over the 1000-row survivor set only. Fixed-k
    // sums stack into the curve; ratios are identical doubles over
    // exact integer counts.
    Q("vocab_coverage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = documents(s, d)
          .select(explode(split(col("text"), " ")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
        val tot = counts.agg(sum(col("c")).as("total_tokens"),
          count(lit(1)).as("n_types"))
        val top = counts.orderBy(desc("c"), col("t")).limit(1000)
          .withColumn("rk",
            row_number().over(Window.orderBy(desc("c"), col("t"))))
        top.agg(
            sum(when(col("rk") <= 10, col("c")).otherwise(0L)).as("c10"),
            sum(when(col("rk") <= 100, col("c")).otherwise(0L))
              .as("c100"),
            sum(col("c")).as("c1000"))
          .crossJoin(broadcast(tot))
          .selectExpr(
            "stack(3, 10, c10, 100, c100, 1000, c1000) AS (k, covered_tokens)",
            "total_tokens", "n_types")
          .select(col("k"), col("covered_tokens"), col("total_tokens"),
            col("n_types"),
            round(col("covered_tokens").cast("double") /
              col("total_tokens").cast("double"), 6).as("coverage"))
          .orderBy("k")
      },
      """WITH tok AS (
           SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         counts AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
         tot AS (
           SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
                  CAST(COUNT(*) AS BIGINT) AS n_types
           FROM counts),
         ranked AS (
           SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk
           FROM counts),
         top AS (SELECT * FROM ranked WHERE rk <= 1000),
         a AS (
           SELECT CAST(SUM(CASE WHEN rk <= 10 THEN c ELSE 0 END)
                    AS BIGINT) AS c10,
                  CAST(SUM(CASE WHEN rk <= 100 THEN c ELSE 0 END)
                    AS BIGINT) AS c100,
                  CAST(SUM(c) AS BIGINT) AS c1000
           FROM top),
         curve AS (
           SELECT 10 AS k, c10 AS covered_tokens FROM a
           UNION ALL SELECT 100, c100 FROM a
           UNION ALL SELECT 1000, c1000 FROM a)
         SELECT k, covered_tokens, total_tokens, n_types,
                ROUND(CAST(covered_tokens AS DOUBLE) /
                      CAST(total_tokens AS DOUBLE), 6) AS coverage
         FROM curve, tot ORDER BY k"""),

    // CURRICULUM SCHEDULE — the phased training order (easy → hard)
    // curriculum-learning pipelines consume: difficulty phase from a
    // deterministic map-side length bucket (a trained scorer slots in
    // identically — quality_score is the upgrade), docs shuffled
    // WITHIN a phase by md5 (stable across engines/partitionings,
    // never rand()), position numbered per phase. Phase-partitioned
    // rank windows only — the schedule never passes through one task;
    // a trainer reads (phase ASC, pos ASC) as the epoch order.
    Q("mix_curriculum",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("phase")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        documents(s, d)
          .select(col("doc_id"),
            least(col("n_chars") / lit(200), lit(9)).cast("int")
              .as("phase"))
          .withColumn("pos", row_number().over(w))
          .orderBy("phase", "pos")
      },
      """SELECT doc_id,
                CAST(least(n_chars // 200, 9) AS INT) AS phase,
                CAST(ROW_NUMBER() OVER (
                  PARTITION BY least(n_chars // 200, 9)
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                  AS INT) AS pos
         FROM documents
         ORDER BY phase, pos"""),

    // N-GRAM NOVELTY score — dedup-aware curation's ordering signal:
    // how much of each document's 3-word-shingle vocabulary is UNSEEN
    // in all earlier documents (doc_id order = ingest order). The
    // first-seer relation is one (gram → min doc_id) aggregate; the
    // novelty ratio is a join back on the gram key — two key-
    // partitioned exchanges total, the same Σdf shape as the dedup
    // inverted indexes, no quadratic anything. A corpus whose novelty
    // curve collapses is re-crawling itself — this is the relation
    // that shows it. Ratios in exact 1e-4 integer units.
    Q("text_novelty",
      (s, d) => {
        val grams = documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), explode(expr(
            """CASE WHEN size(w) < 3 THEN array()
               ELSE transform(sequence(0, size(w) - 3),
                 i -> md5(array_join(slice(w, i + 1, 3), ' ')))
               END""")).as("g"))
          .distinct()
        val firstSeen = grams.groupBy("g")
          .agg(min(col("doc_id")).as("first_doc"))
        grams.join(firstSeen, Seq("g"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L)
              .otherwise(0L)).as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            (expr("(n_novel * 1000000L + n_grams div 2) div n_grams")
              .cast("double") / 10000.0).as("novelty_pct"))
          .orderBy("doc_id")
      },
      """WITH g AS (
           SELECT DISTINCT doc_id,
                  md5(array_to_string(ws[i + 1 : i + 3], ' ')) AS g
           FROM (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents),
                UNNEST(range(0, GREATEST(len(ws) - 2, 0))) AS u(i)),
         fs AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g),
         agg AS (
           SELECT g.doc_id, COUNT(*) AS n_grams,
                  SUM(CASE WHEN fs.first_doc = g.doc_id
                           THEN 1 ELSE 0 END) AS n_novel
           FROM g JOIN fs USING (g) GROUP BY 1)
         SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                CAST(n_novel AS BIGINT) AS n_novel,
                CAST((n_novel * 1000000 + n_grams // 2) // n_grams
                     AS DOUBLE) / 10000.0 AS novelty_pct
         FROM agg ORDER BY doc_id"""),

    // Per-document CHARACTER ENTROPY — the gibberish/encoding-junk
    // screen (low entropy = repeated filler, high = random bytes;
    // both tails get filtered in web-corpus curation). Per doc the
    // char histogram is exact integers; H = log2(n) − Σc·log2(c)/n is
    // evaluated with the IDENTICAL formula string on both engines and
    // rounded once. Map-side explode + one (doc, char) partial agg +
    // one doc agg — the same two-exchange profile as text_wordcount.
    Q("text_char_entropy",
      (s, d) => {
        val chars = documents(s, d)
          .select(col("doc_id"),
            explode(split(col("text"), "")).as("c"))
          .filter(col("c") =!= "")
          .groupBy("doc_id", "c").agg(count(lit(1)).as("cnt"))
        chars.groupBy("doc_id")
          .agg(sum(col("cnt")).as("n"),
            count(lit(1)).as("alphabet"),
            sum(expr("CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE))")
              .cast(org.apache.spark.sql.types.DecimalType(24, 10)))
              .as("sclog"))
          .select(col("doc_id"), col("n"), col("alphabet"),
            round(expr("log2(CAST(n AS DOUBLE)) - " +
              "CAST(sclog AS DOUBLE) / CAST(n AS DOUBLE)"), 4)
              .as("entropy_bits"))
          .orderBy("doc_id")
      },
      """WITH ch AS (
           SELECT doc_id, u.c, COUNT(*) AS cnt
           FROM (SELECT doc_id, string_split(text, '') AS cs
                 FROM documents), UNNEST(cs) AS u(c)
           WHERE u.c <> ''
           GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS alphabet,
                  SUM(CAST(CAST(cnt AS DOUBLE) *
                    log2(CAST(cnt AS DOUBLE)) AS DECIMAL(24,10)))
                    AS sclog
           FROM ch GROUP BY 1)
         SELECT doc_id, CAST(n AS BIGINT) AS n,
                CAST(alphabet AS BIGINT) AS alphabet,
                ROUND(log2(CAST(n AS DOUBLE)) -
                      CAST(sclog AS DOUBLE) / CAST(n AS DOUBLE), 4)
                  AS entropy_bits
         FROM agg ORDER BY doc_id"""),

    // CORPUS BIGRAM ENTROPY + PERPLEXITY — the one-number diversity
    // tracker (a collapsing bigram entropy across crawl snapshots
    // means the corpus is re-crawling itself; the per-doc view is
    // text_novelty, this is the corpus aggregate). H over the word-
    // bigram distribution from exact counts: one (bigram) partial-agg
    // exchange, then a single fold with decimal-pinned c·log2(c)
    // terms (order-free); perplexity = 2^H on the rounded H so both
    // engines exponentiate the identical double.
    Q("text_bigram_entropy",
      (s, d) => {
        val bg = documents(s, d)
          .select(split(col("text"), " ").as("w"))
          .select(explode(expr(
            """CASE WHEN size(w) < 2 THEN array()
               ELSE transform(sequence(0, size(w) - 2),
                 i -> concat(w[i], ' ', w[i + 1])) END""")).as("bg"))
          .groupBy("bg").agg(count(lit(1)).as("c"))
        bg.agg(sum(col("c")).as("n"),
            count(lit(1)).as("n_distinct"),
            sum(expr("CAST(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)) " +
              "AS DECIMAL(24,10))")).as("sclog"))
          .withColumn("h", round(expr(
            "log2(CAST(n AS DOUBLE)) - CAST(sclog AS DOUBLE) / " +
              "CAST(n AS DOUBLE)"), 4))
          .select(col("n").as("n_bigrams"), col("n_distinct"),
            col("h").as("entropy_bits"),
            round(pow(lit(2.0), col("h")), 2).as("perplexity"))
      },
      """WITH bg AS (
           SELECT array_to_string(ws[i + 1 : i + 2], ' ') AS bg
           FROM (SELECT string_split(text, ' ') AS ws FROM documents),
                UNNEST(range(0, GREATEST(len(ws) - 1, 0))) AS u(i)),
         cnt AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY 1),
         agg AS (
           SELECT SUM(c) AS n, COUNT(*) AS n_distinct,
                  SUM(CAST(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))
                    AS DECIMAL(24,10))) AS sclog
           FROM cnt),
         h AS (
           SELECT n, n_distinct,
                  ROUND(log2(CAST(n AS DOUBLE)) -
                        CAST(sclog AS DOUBLE) / CAST(n AS DOUBLE), 4)
                    AS entropy_bits
           FROM agg)
         SELECT CAST(n AS BIGINT) AS n_bigrams,
                CAST(n_distinct AS BIGINT) AS n_distinct,
                entropy_bits,
                ROUND(POW(2.0, entropy_bits), 2) AS perplexity
         FROM h"""),

    // CURATION FUNNEL — the stage-ordered waterfall over the same
    // rules curate_corpus audits per cell: how many documents survive
    // after each rule is applied IN ORDER (raw → length → dedup →
    // decontamination → line-dedup). The headline observability
    // relation of the pipeline — the first chart in every curation
    // run report. One flags pass (same persisted keep-list /
    // decontam screen / chunk relation), conditional survivor sums,
    // stacked to six rows.
    Q("curate_funnel",
      (s, d) => {
        val docs = documents(s, d)
        val train = docs.filter(col("source") =!= BenchSource)
        val keep = graft.engine.ml.Dedup.keepListFor(docs, d, 0.05)
        val contam = graft.engine.ml.Text.decontaminate(
          train, docs.filter(col("source") === BenchSource), n = 5)
          .select(col("doc_id"), lit(1).as("hit"))
        val linedup = Text.lineDedup(docs, 10)
          .select(col("doc_id"),
            (col("n_chunks") > 0 &&
              col("n_kept") * 2 < col("n_chunks")).cast("long")
              .as("line_dup"))
        val flags = train
          .join(keep, Seq("doc_id"))
          .join(contam, Seq("doc_id"), "left")
          .join(linedup, Seq("doc_id"))
          .select(
            (col("n_chars") < 100 || col("n_chars") > 520)
              .cast("long").as("f1"),
            (col("doc_id") =!= col("keep_id")).cast("long").as("f2"),
            col("hit").isNotNull.cast("long").as("f3"),
            col("line_dup").as("f4"))
        flags.agg(count(lit(1)).as("s0"),
            sum(when(col("f1") === 0, 1L).otherwise(0L)).as("s1"),
            sum(when(col("f1") + col("f2") === 0, 1L).otherwise(0L))
              .as("s2"),
            sum(when(col("f1") + col("f2") + col("f3") === 0, 1L)
              .otherwise(0L)).as("s3"),
            sum(when(col("f1") + col("f2") + col("f3") + col("f4") === 0,
              1L).otherwise(0L)).as("s4"))
          .select(expr("""stack(5,
              0, 'raw',              s0,
              1, 'length_filter',    s1,
              2, 'near_dedup',       s2,
              3, 'decontamination',  s3,
              4, 'line_dedup',       s4)
            AS (stage, stage_name, n_surviving)"""))
          .orderBy("stage")
      },
      s"""$curateCtes,
          $lineDedupCtes,
          flags AS (
            SELECT CASE WHEN d.n_chars < 100 OR d.n_chars > 520
                        THEN 1 ELSE 0 END AS f1,
                   CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END AS f2,
                   CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f3,
                   CASE WHEN l.n_chunks > 0 AND l.n_kept * 2 < l.n_chunks
                        THEN 1 ELSE 0 END AS f4
            FROM documents d
              JOIN keep k ON k.doc_id = d.doc_id
              LEFT JOIN contam c ON c.doc_id = d.doc_id
              JOIN ldstats l ON l.doc_id = d.doc_id
            WHERE d.source <> '$BenchSource'),
          agg AS (
            SELECT COUNT(*) AS s0,
                   SUM(CASE WHEN f1 = 0 THEN 1 ELSE 0 END) AS s1,
                   SUM(CASE WHEN f1 + f2 = 0 THEN 1 ELSE 0 END) AS s2,
                   SUM(CASE WHEN f1 + f2 + f3 = 0 THEN 1 ELSE 0 END)
                     AS s3,
                   SUM(CASE WHEN f1 + f2 + f3 + f4 = 0 THEN 1 ELSE 0 END)
                     AS s4
            FROM flags)
          SELECT stage, stage_name, CAST(n_surviving AS BIGINT)
                   AS n_surviving
          FROM (
            SELECT 0 AS stage, 'raw' AS stage_name, s0 AS n_surviving
            FROM agg
            UNION ALL SELECT 1, 'length_filter', s1 FROM agg
            UNION ALL SELECT 2, 'near_dedup', s2 FROM agg
            UNION ALL SELECT 3, 'decontamination', s3 FROM agg
            UNION ALL SELECT 4, 'line_dedup', s4 FROM agg)
          ORDER BY stage"""),

    // HEAPS'-LAW EXPONENT — vocabulary growth V(N) ≈ K·N^β measured
    // on md5-sliced 1%/10%/100% corpus prefixes (deterministic slices,
    // the profile_cardinality_curve discipline): β from consecutive
    // slice pairs via ln ratios of exact BIGINT counts. β drifting
    // toward 0 across crawl snapshots is the vocabulary-saturation /
    // duplication signal; β near the 0.4–0.6 natural-language band
    // says the corpus is still growing real content. One token pass
    // with three conditional DISTINCTs (a single Expand plan).
    Q("vocab_heaps_law",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " "))
            .as("w"))
          .filter(col("w") =!= "")
          .withColumn("bucket",
            conv(substring(md5(col("doc_id").cast("string")), 1, 8),
              16, 10).cast("long") % 100)
        toks.agg(
            sum(when(col("bucket") < 1, 1L).otherwise(0L)).as("n1"),
            countDistinct(when(col("bucket") < 1, col("w"))).as("v1"),
            sum(when(col("bucket") < 10, 1L).otherwise(0L)).as("n10"),
            countDistinct(when(col("bucket") < 10, col("w"))).as("v10"),
            count(lit(1)).as("n100"),
            countDistinct(col("w")).as("v100"))
          .select(col("n1"), col("v1"), col("n10"), col("v10"),
            col("n100"), col("v100"),
            round(expr("ln(CAST(v10 AS DOUBLE) / v1) / " +
              "ln(CAST(n10 AS DOUBLE) / n1)"), 4).as("beta_small"),
            round(expr("ln(CAST(v100 AS DOUBLE) / v10) / " +
              "ln(CAST(n100 AS DOUBLE) / n10)"), 4).as("beta_large"))
      },
      """WITH toks AS (
           SELECT doc_id, u.w,
                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                    1, 8)) AS BIGINT) % 100 AS bucket
           FROM (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents), UNNEST(ws) AS u(w)
           WHERE u.w <> ''),
         agg AS (
           SELECT CAST(SUM(CASE WHEN bucket < 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
                  COUNT(DISTINCT CASE WHEN bucket < 1 THEN w END) AS v1,
                  CAST(SUM(CASE WHEN bucket < 10 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n10,
                  COUNT(DISTINCT CASE WHEN bucket < 10 THEN w END)
                    AS v10,
                  COUNT(*) AS n100,
                  COUNT(DISTINCT w) AS v100
           FROM toks)
         SELECT n1, v1, n10, v10,
                CAST(n100 AS BIGINT) AS n100, v100,
                ROUND(ln(CAST(v10 AS DOUBLE) / v1) /
                      ln(CAST(n10 AS DOUBLE) / n1), 4) AS beta_small,
                ROUND(ln(CAST(v100 AS DOUBLE) / v10) /
                      ln(CAST(n100 AS DOUBLE) / n10), 4) AS beta_large
         FROM agg"""),

    // NORMALIZATION-ABLATION for exact dedup — how many extra
    // duplicate pairs each canonicalization level surfaces (the table
    // that justifies the normalize step's cost): raw digest vs
    // casefolded vs casefold+whitespace-collapsed, each one
    // digest-keyed aggregate over a PERTURBED copy of the corpus
    // (every 7th doc re-cased, every 11th whitespace-padded — both
    // engines synthesize the identical perturbations). n_dup_rows =
    // rows beyond their group's first occurrence.
    Q("dedup_normalization_gain",
      (s, d) => {
        val perturbed = documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 7 === 0, upper(col("text")))
            .when(col("doc_id") % 11 === 0,
              concat(lit("  "), regexp_replace(col("text"), " ", "  ")))
            .otherwise(col("text")).as("t"))
        def level(name: String, keyed: org.apache.spark.sql.Column) =
          perturbed.select(md5(keyed).as("dg"))
            .groupBy("dg").agg(count(lit(1)).as("c"))
            .agg(count(lit(1)).as("n_groups"),
              sum(col("c") - 1).as("n_dup_rows"))
            .select(lit(name).as("normalization"), col("n_groups"),
              col("n_dup_rows"))
        level("1_raw", col("t"))
          .unionByName(level("2_casefold", lower(col("t"))))
          .unionByName(level("3_casefold_ws",
            trim(regexp_replace(lower(col("t")), " +", " "))))
          .orderBy("normalization")
      },
      """WITH p AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0 THEN upper(text)
                       WHEN doc_id % 11 = 0
                         THEN '  ' || replace(text, ' ', '  ')
                       ELSE text END AS t
           FROM documents),
         l1 AS (
           SELECT '1_raw' AS normalization, COUNT(*) AS n_groups,
                  CAST(SUM(c - 1) AS BIGINT) AS n_dup_rows
           FROM (SELECT md5(t) AS dg, COUNT(*) AS c FROM p GROUP BY 1)),
         l2 AS (
           SELECT '2_casefold', COUNT(*), CAST(SUM(c - 1) AS BIGINT)
           FROM (SELECT md5(lower(t)) AS dg, COUNT(*) AS c
                 FROM p GROUP BY 1)),
         l3 AS (
           SELECT '3_casefold_ws', COUNT(*), CAST(SUM(c - 1) AS BIGINT)
           FROM (SELECT md5(trim(regexp_replace(lower(t), ' +', ' ',
                   'g'))) AS dg, COUNT(*) AS c
                 FROM p GROUP BY 1)),
         u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2
               UNION ALL SELECT * FROM l3)
         SELECT normalization, CAST(n_groups AS BIGINT) AS n_groups,
                n_dup_rows
         FROM u ORDER BY normalization"""),

    // FLESCH READING-EASE per language — the classic readability
    // screen next to text_quality's length/stopword heuristics:
    // sentences = [.!?]+ runs (min 1/doc), words = whitespace tokens,
    // syllables ≈ [aeiouy]+ vowel runs (the standard regex proxy).
    // All three are exact per-doc BIGINT counts summed per lang; the
    // score is computed ONCE per lang from the exact totals as a
    // single-rational integer division — F = (206.835·S·W − 1.015·W²
    // − 84.6·Y·S)/(S·W) in 1e-3-scaled BIGINT numerator units,
    // sign-split because low-quality corpora go negative (Spark div
    // truncates, DuckDB // floors). One partial-agg exchange; no
    // windows, no per-doc floats.
    Q("text_readability",
      (s, d) => {
        val base = documents(s, d).select(col("lang"),
          greatest(lit(1L),
            expr("CAST(regexp_count(text, '[.!?]+') AS BIGINT)"))
            .as("sentences"),
          expr("CAST(size(filter(split(text, '\\\\s+'), " +
            "t -> t != '')) AS BIGINT)").as("words"),
          expr("CAST(regexp_count(lower(text), '[aeiouy]+') AS BIGINT)")
            .as("syllables"))
        base.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("sentences").as("s"), sum("words").as("w"),
            sum("syllables").as("y"))
          .withColumn("num",
            expr("206835 * s * w - 1015 * w * w - 84600 * y * s"))
          .withColumn("den", expr("s * w"))
          .select(col("lang"), col("n_docs"), col("s").as("n_sentences"),
            col("w").as("n_words"), col("y").as("n_syllables"),
            (when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
              expr("(abs(num) div 100 + den div 2) div den"))
              .cast("double").divide(lit(10.0)).as("flesch_score"))
          .orderBy("lang")
      },
      """WITH base AS (
           SELECT lang,
                  GREATEST(1, CAST(len(regexp_extract_all(text,
                    '[.!?]+')) AS BIGINT)) AS sentences,
                  CAST(len(list_filter(string_split_regex(text, '\s+'),
                    t -> t != '')) AS BIGINT) AS words,
                  CAST(len(regexp_extract_all(lower(text),
                    '[aeiouy]+')) AS BIGINT) AS syllables
           FROM documents),
         agg AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(sentences) AS BIGINT) AS s,
                  CAST(SUM(words) AS BIGINT) AS w,
                  CAST(SUM(syllables) AS BIGINT) AS y
           FROM base GROUP BY 1),
         f AS (
           SELECT lang, n_docs, s, w, y,
                  206835 * s * w - 1015 * w * w - 84600 * y * s AS num,
                  s * w AS den
           FROM agg)
         SELECT lang, n_docs, s AS n_sentences, w AS n_words,
                y AS n_syllables,
                CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
                  ((ABS(num) // 100 + den // 2) // den) AS DOUBLE)
                  / 10.0 AS flesch_score
         FROM f ORDER BY lang"""),

    // TOKEN-BUDGET MIX — "fill a 40% token budget with the
    // highest-quality documents": the budgeting verb between
    // mix_by_quality's fixed per-bucket rates and curate_corpus's
    // threshold keep-list. BAND-GRANULAR by declared construction
    // (the pareto_gini_banded discipline): docs land in 0.05-wide
    // quality bands (double×20 floor spelled identically in both
    // engines — the quality_calibration boundary lesson), the
    // cumulative-token window runs over the ≤21-row band histogram
    // (never over docs), and each band's status is full / boundary /
    // excluded against the exact integer budget B = (total·2) div 5.
    // At 100 TB the only shuffle is the band aggregation; resolving
    // the boundary band to individual docs is the caller's second,
    // band-pruned pass.
    Q("mix_token_budget",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val q = graft.engine.ml.Text.qualityScore(documents(s, d),
          Seq("join", "filter", "sort", "hash", "scan"))
          .select(col("doc_id"), col("quality"),
            col("n_tokens").cast("bigint").as("tokens"))
        val bands = q
          .withColumn("band",
            floor(col("quality") * lit(20.0)).cast("int"))
          .groupBy("band")
          .agg(count(lit(1)).as("n_docs"), sum("tokens").as("band_tokens"))
        val tot = bands.agg(sum("band_tokens").as("total"))
          .select(expr("(total * 2) div 5").as("budget"))
        val w = Window.orderBy(desc("band"))
        bands.crossJoin(broadcast(tot))
          .withColumn("cum_tokens", sum("band_tokens").over(w))
          .select(col("band"), col("n_docs"), col("band_tokens"),
            col("cum_tokens"), col("budget"),
            when(col("cum_tokens") <= col("budget"), lit("full"))
              .when(col("cum_tokens") - col("band_tokens") <
                col("budget"), lit("boundary"))
              .otherwise(lit("excluded")).as("status"))
          .orderBy(desc("band"))
      },
      """WITH q AS (
           SELECT doc_id,
                  ROUND(least(1.0, len(string_split(text, ' ')) / 200.0)
                    * (1.0 - len(list_filter(string_split(text, ' '),
                        t -> list_contains(
                          ['join','filter','sort','hash','scan'], t)))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE)), 4)
                    AS quality,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
           FROM documents),
         bands AS (
           SELECT CAST(FLOOR(quality * 20.0) AS INTEGER) AS band,
                  CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(tokens) AS BIGINT) AS band_tokens
           FROM q GROUP BY 1),
         tot AS (
           SELECT (SUM(band_tokens) * 2) // 5 AS budget FROM bands),
         cum AS (
           SELECT band, n_docs, band_tokens,
                  CAST(SUM(band_tokens) OVER (ORDER BY band DESC)
                    AS BIGINT) AS cum_tokens,
                  (SELECT budget FROM tot) AS budget
           FROM bands)
         SELECT band, n_docs, band_tokens, cum_tokens,
                CAST(budget AS BIGINT) AS budget,
                CASE WHEN cum_tokens <= budget THEN 'full'
                     WHEN cum_tokens - band_tokens < budget
                       THEN 'boundary'
                     ELSE 'excluded' END AS status
         FROM cum ORDER BY band DESC"""),

    // CODE-LIKE DOCUMENT DETECTION per source — the corpus-routing
    // screen an LLM pipeline runs before tokenizer/mix decisions
    // (code wants different dedup thresholds, quality rules, and BPE
    // vocab than prose): a doc is code-like when its code-symbol
    // density {}();=<>[] clears 1.5% of characters. The flag is an
    // exact integer cross-multiplication (sym·1000 ≥ len·15 — never a
    // float ratio at a threshold boundary), rates are 1e-4-unit
    // integer divisions, and the mean density is a 1e-6-unit division
    // of exact BIGINT sums. One partial-agg exchange on source.
    Q("text_code_detect",
      (s, d) => {
        val base = documents(s, d).select(col("source"),
          expr("CAST(regexp_count(text, '[{}();=<>\\\\[\\\\]]') " +
            "AS BIGINT)").as("sym"),
          expr("CAST(length(text) AS BIGINT)").as("len"))
          .withColumn("code_like",
            when(col("sym") * 1000 >= col("len") * 15, 1L)
              .otherwise(0L))
        base.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("code_like").as("n_code_like"),
            sum("sym").as("total_sym"), sum("len").as("total_len"))
          .select(col("source"), col("n_docs"), col("n_code_like"),
            (expr("(n_code_like * 1000000 + n_docs div 2) div n_docs")
              .cast("double") / 10000.0).as("code_rate_pct"),
            // per-source char totals are corpus-scale — the 1e6
            // product rides DECIMAL(38,0)
            (expr("""(CAST(total_sym AS DECIMAL(38,0)) * 1000000
                     + total_len div 2)
                    div total_len""").cast("double") / 1.0e6)
              .as("mean_sym_density"))
          .orderBy("source")
      },
      """WITH base AS (
           SELECT source,
                  CAST(len(regexp_extract_all(text,
                    '[{}();=<>\[\]]')) AS BIGINT) AS sym,
                  CAST(length(text) AS BIGINT) AS len
           FROM documents),
         flagged AS (
           SELECT source, sym, len,
                  CASE WHEN sym * 1000 >= len * 15 THEN 1 ELSE 0 END
                    AS code_like
           FROM base)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(code_like) AS BIGINT) AS n_code_like,
                CAST((CAST(SUM(code_like) AS BIGINT) * 1000000
                      + COUNT(*) // 2) // COUNT(*) AS DOUBLE)
                  / 10000.0 AS code_rate_pct,
                CAST((CAST(SUM(sym) AS HUGEINT) * 1000000
                      + CAST(SUM(len) AS BIGINT) // 2)
                     // CAST(SUM(len) AS BIGINT) AS DOUBLE) / 1e6
                  AS mean_sym_density
         FROM flagged GROUP BY source ORDER BY source"""),

    // POST-DEDUP MIX RE-WEIGHTING — dedup changes the mixture:
    // a source that was 30% of the raw corpus but full of near-dups
    // can be 15% of the deduplicated one, and a mix tuned on raw
    // shares silently over-trains the duplicate-heavy sources. Per
    // source: raw vs canonical-survivor doc counts and both share
    // vectors (1e-6-unit integer), plus the survival rate — all off
    // the SAME persisted keep-list artifact the dedup family resolves
    // once (keepListFor); the oracle replays the full n-gram Jaccard
    // + transitive-closure resolution.
    Q("mix_post_dedup",
      (s, d) => {
        val docs = documents(s, d)
        val keep = graft.engine.ml.Dedup.keepListFor(docs, d, 0.05)
          .filter(col("doc_id") === col("keep_id")).select("doc_id")
        val pre = docs.groupBy("source").agg(count(lit(1)).as("n_pre"))
        val post = docs.join(keep, Seq("doc_id"))
          .groupBy("source").agg(count(lit(1)).as("n_post"))
        val tots = pre.agg(sum("n_pre").as("tp")).crossJoin(
          post.agg(sum("n_post").as("tq")))
        pre.join(post, Seq("source"))
          .crossJoin(broadcast(tots))
          .select(col("source"), col("n_pre"), col("n_post"),
            (expr("(n_pre * 1000000 + tp div 2) div tp")
              .cast("double") / 1.0e6).as("share_pre"),
            (expr("(n_post * 1000000 + tq div 2) div tq")
              .cast("double") / 1.0e6).as("share_post"),
            (expr("(n_post * 1000000 + n_pre div 2) div n_pre")
              .cast("double") / 1.0e6).as("survival_rate"))
          .orderBy("source")
      },
      s"""WITH RECURSIVE $BigramJaccardCte,
         $BigramClosureCte,
         resolved AS (
           SELECT u AS doc_id, MIN(v) AS keep_id FROM reach GROUP BY u),
         pre AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pre
           FROM documents GROUP BY 1),
         post AS (
           SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_post
           FROM documents d JOIN resolved r ON r.doc_id = d.doc_id
           WHERE r.doc_id = r.keep_id GROUP BY 1),
         tots AS (
           SELECT (SELECT CAST(SUM(n_pre) AS BIGINT) FROM pre) AS tp,
                  (SELECT CAST(SUM(n_post) AS BIGINT) FROM post) AS tq)
         SELECT p.source, p.n_pre, q.n_post,
                CAST((p.n_pre * 1000000 + t.tp // 2) // t.tp AS DOUBLE)
                  / 1e6 AS share_pre,
                CAST((q.n_post * 1000000 + t.tq // 2) // t.tq AS DOUBLE)
                  / 1e6 AS share_post,
                CAST((q.n_post * 1000000 + p.n_pre // 2) // p.n_pre
                  AS DOUBLE) / 1e6 AS survival_rate
         FROM pre p JOIN post q ON q.source = p.source
         CROSS JOIN tots t ORDER BY p.source"""),

    // CHARACTER-CLASS CENSUS per (lang, source) — the composition
    // audit behind encoding/OCR screens: what fraction of a slice's
    // bytes are letters, digits, whitespace, other. Counts come from
    // length-minus-stripped-length with EXPLICIT byte-range classes
    // ([A-Za-z], [0-9], space) so both regex engines agree on any
    // input; shares are exact integer divisions in 1e-4 units. One
    // map-side projection + one aggregate — the whole census is a
    // single exchange at any corpus size.
    Q("text_charclass_profile",
      (s, d) => documents(s, d)
        .select(col("lang"), col("source"),
          length(col("text")).as("total"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[A-Za-z]", "")))
            .as("letters"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", "")))
            .as("digits"),
          (length(col("text")) -
            length(regexp_replace(col("text"), " ", ""))).as("spaces"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("total").cast("long")).as("n_chars"),
          sum(col("letters").cast("long")).as("n_letters"),
          sum(col("digits").cast("long")).as("n_digits"),
          sum(col("spaces").cast("long")).as("n_spaces"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_chars"),
          expr("(n_letters * 10000 + n_chars div 2) div n_chars / 10000.0D")
            .as("letter_share"),
          expr("(n_digits * 10000 + n_chars div 2) div n_chars / 10000.0D")
            .as("digit_share"),
          expr("(n_spaces * 10000 + n_chars div 2) div n_chars / 10000.0D")
            .as("space_share"),
          expr("""((n_chars - n_letters - n_digits - n_spaces) * 10000
                   + n_chars div 2) div n_chars / 10000.0D""")
            .as("other_share"))
        .orderBy("lang", "source"),
      """WITH per AS (SELECT lang, source, length(text) AS total,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
               AS letters,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS digits,
             length(text) - length(regexp_replace(text, ' ', '', 'g'))
               AS spaces
           FROM documents),
         agg AS (SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(total) AS BIGINT) AS n_chars,
             CAST(sum(letters) AS BIGINT) AS n_letters,
             CAST(sum(digits) AS BIGINT) AS n_digits,
             CAST(sum(spaces) AS BIGINT) AS n_spaces
           FROM per GROUP BY lang, source)
         SELECT lang, source, n_docs, n_chars,
           (n_letters * 10000 + n_chars // 2) // n_chars / 10000.0
             AS letter_share,
           (n_digits * 10000 + n_chars // 2) // n_chars / 10000.0
             AS digit_share,
           (n_spaces * 10000 + n_chars // 2) // n_chars / 10000.0
             AS space_share,
           ((n_chars - n_letters - n_digits - n_spaces) * 10000
            + n_chars // 2) // n_chars / 10000.0 AS other_share
         FROM agg ORDER BY lang, source"""),

    // SENTENCE SEGMENTATION STATS — the chunking-prep profile: split
    // on [.!?]+ runs, trim, drop blanks, then per-doc sentence count /
    // total sentence chars / longest sentence / mean length (exact
    // 1e-2-unit integer division). Spark's split keeps trailing empty
    // pieces and DuckDB's string_split_regex keeps a trailing blank —
    // the trim+filter normalizes both to the same list. Row-local HOF
    // work only; one presentation sort.
    Q("text_sentences",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          expr("""filter(transform(split(text, '[.!?]+'), x -> trim(x)),
                  x -> x <> '')""").as("sents"))
        .select(col("doc_id"),
          expr("CAST(size(sents) AS INT)").as("n_sent"),
          expr("""CAST(aggregate(sents, 0, (a, x) -> a + length(x))
                  AS BIGINT)""").as("sent_chars"),
          expr("""CAST(aggregate(sents, 0, (a, x) -> greatest(a,
                  length(x))) AS INT)""").as("max_sent"))
        .withColumn("mean_sent",
          expr("""CASE WHEN n_sent > 0 THEN
                    (sent_chars * 100 + n_sent div 2) div n_sent / 100.0D
                  END"""))
        .orderBy("doc_id"),
      """WITH per AS (
           SELECT doc_id,
                  list_filter(list_transform(
                    string_split_regex(text, '[.!?]+'), x -> trim(x)),
                    x -> x <> '') AS sents
           FROM documents),
         st AS (SELECT doc_id,
             CAST(len(sents) AS INT) AS n_sent,
             CAST(coalesce(list_sum(list_transform(sents,
               x -> length(x))), 0) AS BIGINT) AS sent_chars,
             CAST(coalesce(list_max(list_transform(sents,
               x -> length(x))), 0) AS INT) AS max_sent
           FROM per)
         SELECT doc_id, n_sent, sent_chars, max_sent,
                CASE WHEN n_sent > 0 THEN
                  (sent_chars * 100 + n_sent // 2) // n_sent / 100.0
                END AS mean_sent
         FROM st ORDER BY doc_id"""),

    // ENSEMBLE VOTE FILTER — three cheap quality signals (length,
    // letter density, whitespace density) each vote "above corpus
    // mean", keep at majority ≥2: the robustness move when no single
    // screen is trusted. Every comparison is an exact integer
    // CROSS-MULTIPLICATION against the global sums (letters·Σtl >
    // tl·Σletters ⇔ density > mean density) — no float ratio ever
    // exists, so no threshold tie can split engines. One projection
    // pass + a 1-row broadcast of the global sums + one source-keyed
    // aggregate.
    Q("curate_vote_ensemble",
      (s, d) => {
        val per = documents(s, d).select(col("doc_id"), col("source"),
          col("n_chars"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[A-Za-z]", "")))
            .cast("long").as("letters"),
          (length(col("text")) -
            length(regexp_replace(col("text"), " ", "")))
            .cast("long").as("spaces"),
          length(col("text")).cast("long").as("tl"))
        val g = per.agg(count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"), sum("letters").as("sum_letters"),
          sum("spaces").as("sum_spaces"), sum("tl").as("sum_tl"))
        per.crossJoin(broadcast(g))
          .withColumn("vote",
            expr("""CASE WHEN n_chars * n > sum_chars THEN 1 ELSE 0 END
                  + CASE WHEN letters * sum_tl > tl * sum_letters
                    THEN 1 ELSE 0 END
                  + CASE WHEN spaces * sum_tl > tl * sum_spaces
                    THEN 1 ELSE 0 END"""))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("vote") >= 2, 1L).otherwise(0L)).as("n_keep"),
            expr("""(sum(CASE WHEN vote >= 2 THEN 1 ELSE 0 END) * 10000
                     + count(1) div 2) div count(1) / 10000.0D""")
              .as("keep_rate"))
          .orderBy("source")
      },
      """WITH per AS (SELECT doc_id, source, n_chars,
             length(text) - length(regexp_replace(text,'[A-Za-z]','','g'))
               AS letters,
             length(text) - length(regexp_replace(text,' ','','g'))
               AS spaces,
             length(text) AS tl
           FROM documents),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                      CAST(sum(letters) AS BIGINT) AS sum_letters,
                      CAST(sum(spaces) AS BIGINT) AS sum_spaces,
                      CAST(sum(tl) AS BIGINT) AS sum_tl FROM per),
         v AS (SELECT doc_id, source,
             CASE WHEN n_chars * n > sum_chars THEN 1 ELSE 0 END
             + CASE WHEN letters * sum_tl > tl * sum_letters
               THEN 1 ELSE 0 END
             + CASE WHEN spaces * sum_tl > tl * sum_spaces
               THEN 1 ELSE 0 END AS vote
           FROM per CROSS JOIN g)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN vote >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_keep,
                (sum(CASE WHEN vote >= 2 THEN 1 ELSE 0 END) * 10000
                 + count(*) // 2) // count(*) / 10000.0 AS keep_rate
         FROM v GROUP BY source ORDER BY source"""),

    // SOURCE-SIMILARITY MATRIX via hashed bag-of-words — "which
    // corpus sources say the same things": each source becomes a
    // 256-bucket term-frequency vector (md5 bucketing — replayable on
    // both engines, unlike murmur hash()), pairwise cosine over the
    // ≤(sources choose 2) pairs from ONE bucket-keyed self-join. Dot
    // products and norms are exact BIGINTs; cosine touches double
    // once. The mixture designer reads this before merging sources.
    Q("text_source_similarity",
      (s, d) => {
        val vecs = documents(s, d)
          .select(col("source"),
            explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
          .filter(length(col("tok")) > 0)
          .select(col("source"),
            expr("CAST(conv(substr(md5(tok), 1, 4), 16, 10) AS BIGINT)" +
              " % 256").as("b"))
          .groupBy("source", "b").agg(count(lit(1)).as("c"))
        val norms = vecs.groupBy("source")
          .agg(sum(col("c") * col("c")).as("n2"))
        val dots = vecs.select(col("source").as("src_a"), col("b"),
            col("c").as("ca"))
          .join(vecs.select(col("source").as("src_b"), col("b"),
            col("c").as("cb")), Seq("b"))
          .filter(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b")
          .agg(sum(col("ca") * col("cb")).as("dot"))
        dots
          .join(broadcast(norms.select(col("source").as("src_a"),
            col("n2").as("na"))), Seq("src_a"))
          .join(broadcast(norms.select(col("source").as("src_b"),
            col("n2").as("nb"))), Seq("src_b"))
          .select(col("src_a"), col("src_b"),
            expr("""ROUND(CAST(dot AS DOUBLE) /
                    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))),
                    6) + 0.0D""").as("cosine"))
          .orderBy("src_a", "src_b")
      },
      """WITH toks AS (
           SELECT source, tok
           FROM (SELECT source,
                   unnest(string_split_regex(lower(text), '[^a-z]+'))
                     AS tok
                 FROM documents)
           WHERE length(tok) > 0),
         vecs AS (SELECT source,
             CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % 256 AS b,
             CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1, 2),
         norms AS (SELECT source, CAST(sum(c*c) AS BIGINT) AS n2
                   FROM vecs GROUP BY 1),
         dots AS (SELECT a.source AS src_a, bb.source AS src_b,
                         CAST(sum(a.c * bb.c) AS BIGINT) AS dot
                  FROM vecs a JOIN vecs bb
                    ON a.b = bb.b AND a.source < bb.source
                  GROUP BY 1, 2)
         SELECT src_a, src_b,
                ROUND(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(na.n2 AS DOUBLE)) *
                       sqrt(CAST(nb.n2 AS DOUBLE))), 6) + 0.0 AS cosine
         FROM dots
         JOIN norms na ON na.source = dots.src_a
         JOIN norms nb ON nb.source = dots.src_b
         ORDER BY src_a, src_b"""),

    // MIXTURE KL-FROM-TARGET — how far the realized source mix sits
    // from the uniform design target, in nats: KL(actual‖uniform) =
    // Σ p·ln(p·S). Shares are exact 1e-4-unit integers; each p·ln
    // term is pinned to DECIMAL(18,12) before the (order-insensitive)
    // sum — the text_js_divergence convention for keeping libm calls
    // out of the aggregate's add order. Per-source contributions
    // carry the sign of over/under-representation.
    Q("mix_kl_divergence",
      (s, d) => {
        val g = documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n"))
        val tot = g.agg(sum("n").as("nn"), count(lit(1)).as("srcs"))
        val terms = g.crossJoin(broadcast(tot))
          .withColumn("p", col("n").cast("double") /
            col("nn").cast("double"))
          .withColumn("contrib",
            expr("CAST(p * ln(p * srcs) AS DECIMAL(18,12))"))
        val kl = terms.agg(
          expr("ROUND(CAST(sum(contrib) AS DOUBLE), 6) + 0.0D")
            .as("kl_nats"))
        terms.crossJoin(broadcast(kl))
          .select(col("source"), col("n").as("n_docs"),
            expr("(n * 10000 + nn div 2) div nn / 10000.0D").as("share"),
            expr("ROUND(CAST(contrib AS DOUBLE), 6) + 0.0D")
              .as("contribution"),
            col("kl_nats"))
          .orderBy("source")
      },
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                        CAST(count(*) AS BIGINT) AS srcs FROM g),
         terms AS (SELECT source, n, nn,
             CAST((CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)) *
               ln((CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)) * srcs)
               AS DECIMAL(18,12)) AS contrib
           FROM g CROSS JOIN tot),
         kl AS (SELECT ROUND(CAST(sum(contrib) AS DOUBLE), 6) + 0.0
                  AS kl_nats FROM terms)
         SELECT source, n AS n_docs,
                (n * 10000 + nn // 2) // nn / 10000.0 AS share,
                ROUND(CAST(contrib AS DOUBLE), 6) + 0.0 AS contribution,
                kl_nats
         FROM terms CROSS JOIN kl ORDER BY source"""),

    // SIMPSON VOCABULARY CONCENTRATION per source — the probability
    // two random tokens are the SAME word, λ = Σc(c−1)/(N(N−1)):
    // the pure-integer complement to text_char_entropy/text_ttr
    // (λ→0 diverse vocabulary, λ→1 one word dominates; 1/λ is the
    // effective vocabulary size). Both numerator and denominator are
    // exact DECIMAL(38,0)/HUGEINT integers — c(c−1) summed over the
    // per-source word histogram — so the only float is ONE division,
    // identical on both engines. One (source, word) partial-agg
    // exchange + one source rollup.
    Q("text_simpson_diversity",
      (s, d) => {
        val wc = sourceWordCounts(s, d)
        wc.groupBy("source")
          .agg(count(lit(1)).as("vocab"), sum("c").as("n_tokens"),
            sum(col("c").cast(DecimalType(38, 0)) * (col("c") - 1))
              .as("num"))
          // degenerate guards: a 1-token source has no pair domain,
          // an all-distinct source has num = 0 — NULL on both engines
          // (Spark ANSI would otherwise throw where DuckDB NULLs)
          .select(col("source"), col("vocab"), col("n_tokens"),
            expr("""CASE WHEN n_tokens <= 1 THEN NULL ELSE
                ROUND(CAST(num AS DOUBLE) /
                  (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 8) + 0.0D
                END""").as("simpson_lambda"),
            expr("""CASE WHEN n_tokens <= 1 OR num = 0 THEN NULL ELSE
                ROUND((CAST(n_tokens AS DOUBLE) * (n_tokens - 1))
                  / CAST(num AS DOUBLE), 4) + 0.0D END""")
              .as("effective_vocab"))
          .orderBy("source")
      },
      s"""WITH $SourceWordCountCte,
         g AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  SUM(CAST(c AS HUGEINT) * (c - 1)) AS num
           FROM wc GROUP BY 1)
         SELECT source, vocab, n_tokens,
                CASE WHEN n_tokens <= 1 THEN NULL ELSE
                  ROUND(CAST(num AS DOUBLE) /
                    (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 8)
                    + 0.0 END AS simpson_lambda,
                CASE WHEN n_tokens <= 1 OR num = 0 THEN NULL ELSE
                  ROUND((CAST(n_tokens AS DOUBLE) * (n_tokens - 1))
                    / CAST(num AS DOUBLE), 4) + 0.0 END
                  AS effective_vocab
         FROM g ORDER BY source"""),

    // YULE'S CHARACTERISTIC K per source — the classic vocabulary-
    // richness constant K = 10⁴·(Σc² − N)/N² (repetitiveness that is
    // stable under corpus growth, unlike raw TTR): the third lens
    // next to text_ttr (size-biased) and text_simpson_diversity
    // (pair-probability). Σc² is an operand-widened exact integer
    // over the per-source word histogram, N² likewise, so K lands via
    // the half-up integer idiom at 4 dp — no float sum, no ROUND tie.
    // Same one (source, word) partial-agg exchange + source rollup as
    // the sibling keys.
    Q("text_yule_k",
      (s, d) => {
        val wc = sourceWordCounts(s, d)
        wc.groupBy("source")
          .agg(count(lit(1)).as("vocab"), sum("c").as("n_tokens"),
            sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("s2"))
          .select(col("source"), col("vocab"), col("n_tokens"),
            expr("""CASE WHEN n_tokens <= 1 THEN NULL ELSE
                      ((s2 - n_tokens) * 200000000
                       + CAST(n_tokens AS DECIMAL(38,0)) * n_tokens)
                      div (2 * CAST(n_tokens AS DECIMAL(38,0))
                           * n_tokens) / 10000.0D END""").as("yule_k"))
          .orderBy("source")
      },
      s"""WITH $SourceWordCountCte,
         g AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  SUM(CAST(c AS HUGEINT) * c) AS s2
           FROM wc GROUP BY 1)
         SELECT source, vocab, n_tokens,
                CASE WHEN n_tokens <= 1 THEN NULL ELSE
                  ((s2 - n_tokens) * 200000000
                   + CAST(n_tokens AS HUGEINT) * n_tokens)
                  // (2 * CAST(n_tokens AS HUGEINT) * n_tokens)
                  / 10000.0 END AS yule_k
         FROM g ORDER BY source"""),

    // HAPAX / DIS LEGOMENA per source — the frequency-spectrum head
    // (how much of the vocabulary occurs once / twice) that drives
    // Good–Turing smoothing mass and OOV-rate expectations, and the
    // fourth vocabulary lens next to ttr / simpson / yule: pure
    // integer counts off the same word histogram, shares via the
    // half-up idiom at 6 dp — no float sum anywhere. Same (source,
    // word) partial-agg exchange + source rollup as the siblings.
    Q("text_hapax_ratio",
      (s, d) => {
        val wc = sourceWordCounts(s, d)
        wc.groupBy("source")
          .agg(count(lit(1)).as("vocab"), sum("c").as("n_tokens"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
            sum(when(col("c") === 2, 1L).otherwise(0L)).as("dis"))
          .select(col("source"), col("vocab"), col("n_tokens"),
            col("hapax"), col("dis"),
            expr("""(CAST(hapax AS DECIMAL(38,0)) * 2000000 + vocab)
                    div (2 * vocab) / 1000000.0D""")
              .as("hapax_vocab_share"),
            expr("""(CAST(hapax AS DECIMAL(38,0)) * 2000000 + n_tokens)
                    div (2 * n_tokens) / 1000000.0D""")
              .as("hapax_token_share"))
          .orderBy("source")
      },
      s"""WITH $SourceWordCountCte,
         g AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hapax,
                  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS dis
           FROM wc GROUP BY 1)
         SELECT source, vocab, n_tokens, hapax, dis,
                (CAST(hapax AS HUGEINT) * 2000000 + vocab)
                  // (2 * vocab) / 1000000.0 AS hapax_vocab_share,
                (CAST(hapax AS HUGEINT) * 2000000 + n_tokens)
                  // (2 * n_tokens) / 1000000.0 AS hapax_token_share
         FROM g ORDER BY source"""),

    // HEAPS' LAW FIT — the vocabulary-growth exponent V ≈ K·N^β
    // across the per-source (tokens, vocab) points: the scaling law
    // that prices tokenizer/vocab decisions at corpus scale (β ≈ 0.5
    // doubles vocab per 4× tokens; the 100 TB question text_ttr's
    // single-corpus ratio can't answer). Each source contributes one
    // exact (N, V) BIGINT pair; the log-log OLS terms ln N, ln V and
    // their products are per-point doubles of identical exact-integer
    // args CAST to DECIMAL(22,12)/(26,12) so the four moment sums are
    // ORDER-FREE decimal additions (the KL trick — a 1-ulp libm skew
    // is absorbed by the 1e-12 quantization); the closed-form slope/
    // intercept then runs on identical doubles. Degenerate spreads
    // (one source, or all sources the same size) are NULL on both
    // engines. One histogram exchange + a ≤|sources|-row fit.
    Q("text_heaps_law",
      (s, d) => {
        val wc = sourceWordCounts(s, d)
        wc.groupBy("source")
          .agg(count(lit(1)).as("v"), sum("c").as("n"))
          .select(
            expr("CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(22,12))")
              .as("x"),
            expr("CAST(ln(CAST(v AS DOUBLE)) AS DECIMAL(22,12))")
              .as("y"),
            expr("""CAST(ln(CAST(n AS DOUBLE)) * ln(CAST(v AS DOUBLE))
                    AS DECIMAL(26,12))""").as("xy"),
            expr("""CAST(ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE))
                    AS DECIMAL(26,12))""").as("xx"))
          .agg(count(lit(1)).as("k"), sum("x").as("sx"),
            sum("y").as("sy"), sum("xy").as("sxy"), sum("xx").as("sxx"))
          .withColumn("den",
            expr("""k * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"""))
          .withColumn("beta",
            expr("""CASE WHEN k < 2 OR den <= 0.0D THEN NULL ELSE
                    (k * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den
                    END"""))
          .select(col("k").as("n_sources"),
            expr("ROUND(beta, 6) + 0.0D").as("heaps_beta"),
            expr("""CASE WHEN beta IS NULL THEN NULL ELSE
                    ROUND(exp((CAST(sy AS DOUBLE)
                      - beta * CAST(sx AS DOUBLE)) / k), 4) + 0.0D
                    END""").as("heaps_k"))
      },
      s"""WITH $SourceWordCountCte,
         g AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS v,
                  CAST(SUM(c) AS BIGINT) AS n
           FROM wc GROUP BY 1),
         pts AS (
           SELECT CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(22,12)) AS x,
                  CAST(ln(CAST(v AS DOUBLE)) AS DECIMAL(22,12)) AS y,
                  CAST(ln(CAST(n AS DOUBLE)) * ln(CAST(v AS DOUBLE))
                    AS DECIMAL(26,12)) AS xy,
                  CAST(ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE))
                    AS DECIMAL(26,12)) AS xx
           FROM g),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS k,
                  SUM(x) AS sx, SUM(y) AS sy,
                  SUM(xy) AS sxy, SUM(xx) AS sxx
           FROM pts),
         f AS (
           SELECT k, sx, sy,
                  k * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
                  CASE WHEN k < 2 OR k * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0
                    THEN NULL ELSE
                    (k * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (k * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  END AS beta
           FROM m)
         SELECT k AS n_sources,
                ROUND(beta, 6) + 0.0 AS heaps_beta,
                CASE WHEN beta IS NULL THEN NULL ELSE
                  ROUND(exp((CAST(sy AS DOUBLE)
                    - beta * CAST(sx AS DOUBLE)) / k), 4) + 0.0
                END AS heaps_k
         FROM f"""),

    // CHAO1 RICHNESS — the nonparametric "how big is the vocabulary
    // we HAVEN'T seen yet" estimator off the hapax/dis spectrum
    // (V̂ = V + V1(V1−1)/(2(V2+1)), bias-corrected form): the
    // capacity-planning number behind vocab sizing that
    // text_hapax_ratio's raw spectrum only hints at, plus the
    // Good–Turing sample-coverage Ĉ = 1 − V1/N. All exact integers
    // off the same (source, word) histogram as the yule/hapax
    // siblings — V1² is operand-cast (overflows LONG at V1≈3e9) and
    // both outputs land via the half-up idiom; no float in any path.
    Q("text_chao1_richness",
      (s, d) => {
        val wc = sourceWordCounts(s, d)
        wc.groupBy("source")
          .agg(count(lit(1)).as("vocab"), sum("c").as("n_tokens"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("v1"),
            sum(when(col("c") === 2, 1L).otherwise(0L)).as("v2"))
          .select(col("source"), col("vocab"), col("v1"), col("v2"),
            expr("""(CAST(vocab AS DECIMAL(38,0)) * 100
                     + (2 * CAST(v1 AS DECIMAL(38,0)) * (v1 - 1) * 100
                        + 2 * (v2 + 1))
                       div (4 * (v2 + 1))) / 100.0D""").as("chao1"),
            expr("""CASE WHEN n_tokens = 0 THEN NULL ELSE
                    (2 * CAST(n_tokens - v1 AS DECIMAL(38,0)) * 1000000
                     + n_tokens) div (2 * n_tokens) / 1000000.0D
                    END""").as("coverage"))
          .orderBy("source")
      },
      s"""WITH $SourceWordCountCte,
         g AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS v1,
                  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS v2
           FROM wc GROUP BY 1)
         SELECT source, vocab, v1, v2,
                (CAST(vocab AS HUGEINT) * 100
                 + (2 * CAST(v1 AS HUGEINT) * (v1 - 1) * 100
                    + 2 * (v2 + 1))
                   // (4 * (v2 + 1))) / 100.0 AS chao1,
                CASE WHEN n_tokens = 0 THEN NULL ELSE
                  (2 * CAST(n_tokens - v1 AS HUGEINT) * 1000000
                   + n_tokens) // (2 * n_tokens) / 1000000.0
                END AS coverage
         FROM g ORDER BY source"""),

    // CLASSICAL LEXICAL-RICHNESS PANEL — Honoré's R, Brunet's W and
    // Sichel's S per source: the three length-robust style constants
    // stylometry uses where TTR/Yule drift with corpus size. R and W
    // are deterministic ln/exp chains over the EXACT (N, V, V1, V2)
    // integers (Brunet's fractional power is exp(exp(−0.165·ln V)·ln
    // N) — never libm pow with a fractional literal exponent on a
    // data-dependent base... the exp∘ln form is the engine-shared
    // spelling); Sichel is a pure half-up rational. Same (source,
    // word) histogram exchange as the yule/hapax/chao1 siblings.
    Q("text_lexical_richness",
      (s, d) => {
        val wc = sourceWordCounts(s, d)
        wc.groupBy("source")
          .agg(count(lit(1)).as("vocab"), sum("c").as("n_tokens"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("v1"),
            sum(when(col("c") === 2, 1L).otherwise(0L)).as("v2"))
          .select(col("source"), col("n_tokens"), col("vocab"),
            expr("""CASE WHEN n_tokens = 0 OR vocab = 0
                         OR v1 = vocab THEN NULL ELSE
                    ROUND(100.0D * ln(CAST(n_tokens AS DOUBLE))
                          * vocab / (vocab - v1), 2) + 0.0D
                    END""").as("honore_r"),
            expr("""CASE WHEN n_tokens = 0 OR vocab = 0 THEN NULL ELSE
                    ROUND(exp(exp(-0.165D * ln(CAST(vocab AS DOUBLE)))
                          * ln(CAST(n_tokens AS DOUBLE))), 2) + 0.0D
                    END""").as("brunet_w"),
            expr("""CASE WHEN vocab = 0 THEN NULL ELSE
                    (2 * CAST(v2 AS DECIMAL(38,0)) * 1000000 + vocab)
                    div (2 * vocab) / 1000000.0D END""").as("sichel_s"))
          .orderBy("source")
      },
      s"""WITH $SourceWordCountCte,
         g AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS v1,
                  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS v2
           FROM wc GROUP BY 1)
         SELECT source, n_tokens, vocab,
                CASE WHEN n_tokens = 0 OR vocab = 0 OR v1 = vocab
                THEN NULL ELSE
                  ROUND(100.0 * ln(CAST(n_tokens AS DOUBLE))
                        * vocab / (vocab - v1), 2) + 0.0
                END AS honore_r,
                CASE WHEN n_tokens = 0 OR vocab = 0 THEN NULL ELSE
                  ROUND(exp(exp(-0.165 * ln(CAST(vocab AS DOUBLE)))
                        * ln(CAST(n_tokens AS DOUBLE))), 2) + 0.0
                END AS brunet_w,
                CASE WHEN vocab = 0 THEN NULL ELSE
                  (2 * CAST(v2 AS HUGEINT) * 1000000 + vocab)
                  // (2 * vocab) / 1000000.0 END AS sichel_s
         FROM g ORDER BY source"""),

    // BURROWS' DELTA — THE stylometric attribution distance: over the
    // corpus top-50 words (TakeOrdered, deterministic (cnt, w)
    // tie-break), per-source relative frequencies are z-scored across
    // sources per word and Δ(s₁,s₂) = mean|z₁−z₂|; the 10 most
    // similar source pairs fall out. The corpus collapses to a
    // 20×50 frequency matrix before any float exists; per-word |Δz|
    // terms are quantized to DECIMAL(24,12) pre-mean (order-free),
    // and absent (source, word) cells are rebuilt as exact zero
    // frequencies via the source×topword domain cross (a dropped cell
    // would silently shrink Δ). Population σ per word, guard σ = 0.
    Q("text_burrows_delta",
      (s, d) => {
        val wc = documents(s, d)
          .select(col("source"),
            explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
        val topw = wc.groupBy("w").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("w")).limit(50)
          .select(col("w"))
        val stot = wc.groupBy("source").agg(count(lit(1)).as("ntok"))
        val swc = wc.join(broadcast(topw), Seq("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("c"))
        val grid = stot.crossJoin(broadcast(topw))
          .join(swc, Seq("source", "w"), "left")
          .select(col("source"), col("w"),
            // exact half-up 1e-9-unit relative frequency — an exact
            // INTEGER, so the per-word moments below are order-free
            expr("""(2 * CAST(coalesce(c, 0L) AS DECIMAL(38,0))
                     * 1000000000 + ntok)
                    div (2 * ntok)""").as("fq"))
        val wstats = grid.groupBy("w").agg(
          count(lit(1)).as("ns"), sum("fq").as("sf"),
          sum(col("fq").cast(DecimalType(38, 0)) * col("fq")).as("sff"))
        val zs = grid.join(wstats, Seq("w"))
          .withColumn("den",
            expr("CAST(ns AS DECIMAL(38,0)) * sff" +
              " - CAST(sf AS DECIMAL(38,0)) * sf"))
          .filter(col("den") > 0)
          .withColumn("z",
            expr("""(CAST(fq AS DOUBLE) * ns - CAST(sf AS DOUBLE))
                    / sqrt(CAST(den AS DOUBLE))"""))
        zs.as("a").join(zs.as("b"),
            col("a.w") === col("b.w") &&
              col("a.source") < col("b.source"))
          .select(col("a.source").as("s1"), col("b.source").as("s2"),
            expr("CAST(abs(a.z - b.z) AS DECIMAL(24,12))").as("dz"))
          .groupBy("s1", "s2")
          .agg(count(lit(1)).as("n_words"),
            (sum("dz").cast("double") / count(lit(1))).as("delta"))
          .orderBy(col("delta"), col("s1"), col("s2")).limit(10)
          .select(col("s1"), col("s2"), col("n_words"),
            expr("ROUND(delta, 6) + 0.0D").as("burrows_delta"))
      },
      """WITH wc AS (
           SELECT source, w
           FROM (SELECT source,
                        UNNEST(string_split(text, ' ')) AS w
                 FROM documents)
           WHERE w <> ''),
         topw AS (
           SELECT w FROM (
             SELECT w, COUNT(*) AS cnt FROM wc GROUP BY 1)
           ORDER BY cnt DESC, w LIMIT 50),
         stot AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS ntok
           FROM wc GROUP BY 1),
         swc AS (
           SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM wc JOIN topw USING (w) GROUP BY 1, 2),
         grid AS (
           SELECT stot.source, topw.w,
                  CAST((2 * CAST(COALESCE(c, 0) AS HUGEINT)
                     * 1000000000 + ntok)
                    // (2 * ntok) AS BIGINT) AS fq
           FROM stot CROSS JOIN topw
           LEFT JOIN swc ON swc.source = stot.source
                        AND swc.w = topw.w),
         wstats AS (
           SELECT w, CAST(COUNT(*) AS BIGINT) AS ns,
                  CAST(SUM(fq) AS BIGINT) AS sf,
                  SUM(CAST(fq AS HUGEINT) * fq) AS sff
           FROM grid GROUP BY 1),
         zs AS (
           SELECT source, g.w,
                  (CAST(fq AS DOUBLE) * ns - CAST(sf AS DOUBLE))
                    / sqrt(CAST(CAST(ns AS HUGEINT) * sff
                           - CAST(sf AS HUGEINT) * sf AS DOUBLE)) AS z
           FROM grid g JOIN wstats ws ON ws.w = g.w
           WHERE CAST(ns AS HUGEINT) * sff
                 - CAST(sf AS HUGEINT) * sf > 0),
         pairs AS (
           SELECT a.source AS s1, b.source AS s2,
                  CAST(abs(a.z - b.z) AS DECIMAL(24,12)) AS dz
           FROM zs a JOIN zs b
             ON a.w = b.w AND a.source < b.source),
         agg AS (
           SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_words,
                  CAST(SUM(dz) AS DOUBLE) / COUNT(*) AS delta_raw
           FROM pairs GROUP BY 1, 2
           ORDER BY delta_raw, s1, s2 LIMIT 10)
         SELECT s1, s2, n_words,
                ROUND(delta_raw, 6) + 0.0 AS burrows_delta
         FROM agg ORDER BY delta_raw, s1, s2"""),

    // HELLINGER + TOTAL-VARIATION DISTANCE — the bounded-metric
    // companions to text_js_divergence on the same en / non-en
    // unigram pair: TV = ½Σ|p−q| is EXACT (cross-multiplied integer
    // numerator |c_e·N_o − c_o·N_e|, one half-up division), and the
    // Bhattacharyya coefficient's per-word √(c_e·c_o) terms are
    // quantized to DECIMAL(24,12) pre-sum so the only engine-shared
    // floats are sqrt of exact integers. H = √(1−BC) clamped at 0.
    // Same word-histogram exchange as the divergence sibling.
    Q("text_hellinger_tv",
      (s, d) => {
        val wc = documents(s, d)
          .select((col("lang") === "en").as("en"),
            explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy("w").agg(
            sum(when(col("en"), 1L).otherwise(0L)).as("ce"),
            sum(when(!col("en"), 1L).otherwise(0L)).as("co"))
        val tot = wc.agg(sum("ce").as("ne"), sum("co").as("no"))
        wc.crossJoin(broadcast(tot))
          .withColumn("tvnum",
            expr("""abs(CAST(ce AS DECIMAL(38,0)) * no
                    - CAST(co AS DECIMAL(38,0)) * ne)"""))
          .withColumn("bterm",
            expr("""CAST(sqrt(CAST(CAST(ce AS DECIMAL(38,0)) * co
                    AS DOUBLE)) AS DECIMAL(24,12))"""))
          .agg(count(lit(1)).as("vocab_union"),
            max("ne").as("ne"), max("no").as("no"),
            sum("tvnum").as("tvs"), sum("bterm").as("bs"))
          .withColumn("bc",
            expr("""CASE WHEN ne = 0 OR no = 0 THEN NULL ELSE
                    least(1.0D, CAST(bs AS DOUBLE)
                      / sqrt(CAST(ne AS DOUBLE) * no)) END"""))
          .select(col("vocab_union"),
            expr("""CASE WHEN ne = 0 OR no = 0 THEN NULL ELSE
                    (tvs * 1000000
                     + CAST(ne AS DECIMAL(38,0)) * no)
                    div (2 * CAST(ne AS DECIMAL(38,0)) * no)
                    / 1000000.0D END""").as("tv_distance"),
            expr("ROUND(bc, 6) + 0.0D").as("bhattacharyya"),
            expr("""CASE WHEN bc IS NULL THEN NULL ELSE
                    ROUND(sqrt(greatest(0.0D, 1.0D - bc)), 6) + 0.0D
                    END""").as("hellinger"))
      },
      """WITH wc AS (
           SELECT w,
             CAST(SUM(CASE WHEN en THEN 1 ELSE 0 END) AS BIGINT) AS ce,
             CAST(SUM(CASE WHEN en = false THEN 1 ELSE 0 END)
               AS BIGINT) AS co
           FROM (SELECT (lang = 'en') AS en,
                        UNNEST(string_split(text, ' ')) AS w
                 FROM documents)
           WHERE w <> '' GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(ce) AS BIGINT) AS ne,
                  CAST(SUM(co) AS BIGINT) AS no_
           FROM wc),
         terms AS (
           SELECT ne, no_,
                  abs(CAST(ce AS HUGEINT) * no_
                      - CAST(co AS HUGEINT) * ne) AS tvnum,
                  CAST(sqrt(CAST(CAST(ce AS HUGEINT) * co AS DOUBLE))
                    AS DECIMAL(24,12)) AS bterm
           FROM wc CROSS JOIN tot),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS vocab_union,
                  MAX(ne) AS ne, MAX(no_) AS no_,
                  SUM(tvnum) AS tvs, SUM(bterm) AS bs
           FROM terms),
         f AS (
           SELECT vocab_union, ne, no_, tvs,
                  CASE WHEN ne = 0 OR no_ = 0 THEN NULL ELSE
                    least(1.0, CAST(bs AS DOUBLE)
                      / sqrt(CAST(ne AS DOUBLE) * no_)) END AS bc
           FROM m)
         SELECT vocab_union,
                CASE WHEN ne = 0 OR no_ = 0 THEN NULL ELSE
                  (tvs * 1000000 + CAST(ne AS HUGEINT) * no_)
                  // (2 * CAST(ne AS HUGEINT) * no_) / 1000000.0
                END AS tv_distance,
                ROUND(bc, 6) + 0.0 AS bhattacharyya,
                CASE WHEN bc IS NULL THEN NULL ELSE
                  ROUND(sqrt(greatest(0.0, 1.0 - bc)), 6) + 0.0
                END AS hellinger
         FROM f"""),
  )
}
