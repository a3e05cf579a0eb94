package graft.queries

import graft.Tables._
import graft.engine.ml.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One named owner for each oracle-SQL recipe and Spark-side builder
  * that several registry keys share. A key refers to the fragment by
  * name instead of holding its own copy, so a fix lands once. This is
  * its own object (no `Q(` definitions) so that object init order can
  * never interpolate a `null` into a key's SQL.
  *
  * CTE fragments are comma-joinable chains WITHOUT the leading `WITH`
  * and WITHOUT a trailing comma: `s"""WITH $A, $B, x AS (...) ..."""`.
  * `tools/pins_check.py` appends the body of every fragment a key's
  * source segment names, so formula markers inside a fragment still
  * flag each key that uses it.
  */
private[queries] object Fragments {

  // ---- near-dup hashing: MinHash-LSH (Dedup.nearMinHash), SimHash -----

  /** The engine's seeded MinHash coefficients as SQL VALUES rows — the
    * oracles inline these so they can never drift from what the engine
    * hashes with. */
  private val MinhashCoeffRows: String =
    Dedup.minhashCoeffs().zipWithIndex
      .map { case ((a, b), k) => s"($k, $a, $b)" }.mkString(", ")

  /** `coeffs` → `trigrams` → `ghash`: FNV-1a per character trigram
    * (HUGEINT mod-2^64 arithmetic reproduces Java's wrapping multiply),
    * folded to a signed BIGINT `h` per distinct (doc_id, trigram). */
  val MinhashHashCte: String =
    s"""coeffs(k, a, b) AS (VALUES $MinhashCoeffRows),
        trigrams AS (
          SELECT doc_id, unnest(list_transform(range(1, length(text) - 1),
            i -> substring(text, i, 3))) AS g
          FROM documents),
        ghash AS (
          SELECT DISTINCT doc_id,
            CASE WHEN hu >= 9223372036854775808::HUGEINT
                 THEN (hu - 18446744073709551616::HUGEINT)::BIGINT
                 ELSE hu::BIGINT END AS h
          FROM (
            SELECT doc_id, list_reduce(
              list_prepend(14695981039346656037::HUGEINT,
                list_transform(range(1, 4),
                  i -> ascii(substring(g, i, 1))::HUGEINT)),
              (h, c) -> ((xor(h::UBIGINT, c::UBIGINT))::HUGEINT
                         * 1099511628211::HUGEINT)
                        % 18446744073709551616::HUGEINT) AS hu
            FROM trigrams))"""

  /** `hp`: each trigram hash reduced into [0, 2^31 − 1), keeping `h`. */
  val MinhashHpCte: String =
    """hp AS (
          SELECT doc_id, h,
                 ((h % 2147483647) + 2147483647) % 2147483647 AS hp
          FROM ghash)"""

  /** `sigs` → `sigvec`: 32 affine min-hashes, one ordered list per doc. */
  val MinhashSigCte: String =
    """sigs AS (
          SELECT doc_id, k, MIN((a * hp + b) % 2147483647) AS sig
          FROM hp, coeffs GROUP BY doc_id, k),
        sigvec AS (
          SELECT doc_id, list(sig ORDER BY k) AS sig
          FROM sigs GROUP BY doc_id)"""

  /** `bands`: the 4×8 banding (band equality ⇔ slice equality; the
    * engine's xxhash64 band key only compresses the slice). */
  val MinhashBandsCte: String =
    """bands AS (
          SELECT doc_id, bi AS band_idx,
                 sig[bi * 8 + 1 : bi * 8 + 8] AS bandsig
          FROM sigvec, (SELECT unnest(range(0, 4)) AS bi))"""

  /** `cand`: distinct candidate pairs sharing any band. */
  val MinhashCandCte: String =
    """cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.bandsig = y.bandsig
           AND x.doc_id < y.doc_id)"""

  /** `est`: candidates whose signature agreement clears the 0.8
    * threshold's ±0.2 pre-filter. */
  val MinhashEstCte: String =
    """est AS (
          SELECT doc_a, doc_b
          FROM cand
            JOIN sigvec sa ON sa.doc_id = doc_a
            JOIN sigvec sb ON sb.doc_id = doc_b
          WHERE len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i]))
                / 32.0 >= 0.8 - 0.2)"""

  /** `words` → `whash` → `wsigned` → `sums`: FNV-1a per space-split
    * token folded to a signed BIGINT `sh`, and each doc's ±1 vote sum
    * `s` per bit `b` — the SimHash fingerprint before thresholding. */
  val SimhashBitSumsCte: String =
    """words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        whash AS (
          SELECT doc_id, list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(w) + 1),
                i -> ascii(substring(w, i, 1))::HUGEINT)),
            (h, c) -> ((xor(h::UBIGINT, c::UBIGINT))::HUGEINT
                       * 1099511628211::HUGEINT)
                      % 18446744073709551616::HUGEINT) AS h
          FROM words),
        wsigned AS (
          SELECT doc_id,
                 CASE WHEN h >= 9223372036854775808::HUGEINT
                      THEN (h - 18446744073709551616::HUGEINT)::BIGINT
                      ELSE h::BIGINT END AS sh
          FROM whash),
        sums AS (
          SELECT doc_id, b,
                 SUM(CASE WHEN (sh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM wsigned, (SELECT unnest(range(0, 64)) AS b)
          GROUP BY doc_id, b)"""

  // ---- word-bigram Jaccard and its dup-graph closure ------------------

  /** `grams` → `sizes` → `common`: distinct word bigrams per doc and the
    * shared-bigram count of every same-(lang, source) pair. */
  val BigramJaccardCte: String =
    """grams AS (
          SELECT DISTINCT doc_id, lang, source,
                 unnest(list_transform(range(1, len(string_split(text,' '))),
                   i -> string_split(text,' ')[i] || ' ' ||
                        string_split(text,' ')[i+1])) AS g
          FROM documents),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM grams a JOIN grams b
            ON a.lang = b.lang AND a.source = b.source AND a.g = b.g
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2)"""

  /** `pairs` → `edges` → `reach`: the Jaccard ≥ 0.05 pair graph and its
    * recursive closure (needs `WITH RECURSIVE`); `MIN(v)` per `u` over
    * `reach` is the keep-list survivor. Follows [[BigramJaccardCte]]. */
  val BigramClosureCte: String =
    """pairs AS (
          SELECT doc_a, doc_b
          FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
          WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.05),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION
          SELECT doc_b AS u, doc_a AS v FROM pairs),
        reach(u, v) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)"""

  // ---- embeddings -----------------------------------------------------

  /** Cosine of two 64-dim embedding columns as one SQL expression: a
    * left-to-right `list_reduce` dot product over the two norms, the
    * same sequential fold as the engine's `graft_cosine`. */
  def cos64(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, 65),
          i -> CAST($a[i] AS DOUBLE) *
               CAST($b[i] AS DOUBLE)), (x, y) -> x + y) /
        (sqrt(list_reduce(list_transform(range(1, 65),
          i -> CAST($a[i] AS DOUBLE) *
               CAST($a[i] AS DOUBLE)), (x, y) -> x + y)) *
         sqrt(list_reduce(list_transform(range(1, 65),
          i -> CAST($b[i] AS DOUBLE) *
               CAST($b[i] AS DOUBLE)), (x, y) -> x + y)))"""

  /** `probe_ids` → `p`: one probe per label (its lowest vec_id), as
    * (probe_id, probe_emb) — the oracle side of `Similarity.probes`. */
  val ProbeCte: String =
    """probe_ids AS (
          SELECT MIN(vec_id) AS probe_id FROM embeddings GROUP BY label),
        p AS (SELECT e.vec_id AS probe_id, e.embedding AS probe_emb
              FROM embeddings e JOIN probe_ids ON e.vec_id = probe_id)"""

  /** [[ProbeCte]] with each probe's label carried as `anchor_label`. */
  val LabeledProbeCte: String =
    """probe_ids AS (
          SELECT MIN(vec_id) AS probe_id FROM embeddings GROUP BY label),
        p AS (SELECT e.vec_id AS probe_id, e.label AS anchor_label,
                     e.embedding AS probe_emb
              FROM embeddings e JOIN probe_ids ON e.vec_id = probe_id)"""

  /** `scored` → `ranked`: every non-self vector's cosine to each
    * labeled probe, ranked per probe (cos desc, vec_id asc). Follows
    * [[LabeledProbeCte]]. */
  val LabeledRankCte: String =
    s"""scored AS (
          SELECT p.probe_id, p.anchor_label, e.vec_id, e.label,
            ${cos64("p.probe_emb", "e.embedding")}
            AS cos
          FROM p CROSS JOIN embeddings e WHERE e.vec_id <> p.probe_id),
        ranked AS (
          SELECT probe_id, anchor_label, label,
                 ROW_NUMBER() OVER (PARTITION BY probe_id
                   ORDER BY cos DESC, vec_id ASC) AS rn
          FROM scored)"""

  /** Oracle of an ANN recall audit that must pass: one row per
    * label's probe, 5 neighbours returned, both floors met. */
  val ProbeRecallOkSql: String =
    """SELECT MIN(vec_id) AS probe_id, CAST(5 AS BIGINT) AS n_ann,
              TRUE AS probe_ok, TRUE AS mean_ok
       FROM embeddings GROUP BY label ORDER BY probe_id"""

  /** An ANN recall audit of `ann` against the exact `gt` at k = 5 with
    * the production floors (per probe 0.6, fleet mean 0.9). */
  def recallAudit5(ann: DataFrame, gt: DataFrame): DataFrame =
    Similarity.recallAudit(ann, gt, 5, minRecall = 0.6, minMeanRecall = 0.9)
      .orderBy("probe_id")

  /** `dims`: one row per (vec_id, label, dimension i, value v). */
  val EmbDimsCte: String =
    """dims AS (
          SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i))"""

  /** `cent` → `cvecs`: each label's centroid (decimal-pinned mean per
    * dimension) as an ordered list `cvec`. Reads `dims(label, i, v)`. */
  val CentroidCte: String =
    """cent AS (
          SELECT label AS clabel, i,
                 CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE)
                   / COUNT(*) AS c
          FROM dims GROUP BY 1, 2),
        cvecs AS (
          SELECT clabel, list(c ORDER BY i) AS cvec
          FROM cent GROUP BY 1)"""

  /** `d2`: every vector's squared distance to every label centroid. */
  val CentroidD2Cte: String =
    """d2 AS (
          SELECT e.vec_id, e.label, cv.clabel,
                 list_reduce(list_transform(range(1, 65),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - cv.cvec[i]) *
                        (CAST(e.embedding[i] AS DOUBLE) - cv.cvec[i])),
                   (x, y) -> x + y) AS d2
          FROM embeddings e CROSS JOIN cvecs cv)"""

  // ---- text: trigram language id, per-source words, BPE packing -------

  /** `grams` → `profile` → `docgrams` → `overlap`: the top-40 character
    * trigrams per language and each doc's overlap count with them. */
  val LangIdOverlapCte: String =
    """grams AS (
          SELECT lang, unnest(list_transform(range(1, length(text) - 1),
            i -> substring(text, i, 3))) AS g
          FROM documents),
        profile AS (
          SELECT lang, g FROM (
            SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY COUNT(*) DESC, g ASC) AS rk
            FROM grams GROUP BY lang, g)
          WHERE rk <= 40),
        docgrams AS (
          SELECT DISTINCT doc_id,
            unnest(list_transform(range(1, length(text) - 1),
              i -> substring(text, i, 3))) AS g
          FROM documents),
        overlap AS (
          SELECT d.doc_id, p.lang, COUNT(*) AS n
          FROM docgrams d JOIN profile p USING (g)
          GROUP BY 1, 2)"""

  /** `pred`: each doc's best-overlap language (tie → alphabetical). */
  val LangIdPredCte: String =
    """pred AS (
          SELECT doc_id, lang AS predicted_lang FROM (
            SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY n DESC, lang ASC) AS rn
            FROM overlap) WHERE rn = 1)"""

  /** Per-source word counts over space-split text, empty tokens
    * dropped: (source, w, c). */
  def sourceWordCounts(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("source", "w").agg(count(lit(1)).as("c"))

  /** `wc`: the oracle side of [[sourceWordCounts]]. */
  val SourceWordCountCte: String =
    """wc AS (
          SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT source,
                       UNNEST(string_split(text, ' ')) AS w
                FROM documents)
          WHERE w <> '' GROUP BY 1, 2)"""

  /** Sequence packing off the persisted BPE token store: each doc's
    * 4096-token `bin` from a per-source running token sum in doc_id
    * order, as (doc_id, source, n_tokens, cum_tokens, bin). */
  def packedBins(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.engine.ml.Bpe.tokensStoreFor(documents(s, d), d)
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("bin",
        ((col("cum_tokens") - col("n_tokens")) / 4096L)
          .cast("long"))
  }

  // ---- daily order-revenue series -------------------------------------

  /** Daily revenue in exact integer cents: (day DATE, y BIGINT). */
  def dailyCents(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(expr(
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))*100) AS BIGINT)")
        .as("y"))

  /** `daily`: the oracle side of [[dailyCents]]. */
  val DailyCentsCte: String =
    """daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))*100)
                   AS BIGINT) AS y
          FROM orders GROUP BY 1)"""

  /** Granger F statistic (lag-1 y on x given z) from the ten moment
    * sums n, sy, sx, sz, sxx, szz, sxz, sxy, szy, syy: restricted vs
    * full residual sums of squares in closed form, rounded to 4. */
  val GrangerF: String =
    """ROUND((
          ((syy - sy*sy/n) - (sxy - sx*sy/n)*(sxy - sx*sy/n)
             / (sxx - sx*sx/n))
          - ((syy - sy*sy/n)
             - (((szz - sz*sz/n)*(sxy - sx*sy/n)
                 - (sxz - sx*sz/n)*(szy - sz*sy/n))
                / ((sxx - sx*sx/n)*(szz - sz*sz/n)
                   - (sxz - sx*sz/n)*(sxz - sx*sz/n))
                  * (sxy - sx*sy/n)
                + ((sxx - sx*sx/n)*(szy - sz*sy/n)
                   - (sxz - sx*sz/n)*(sxy - sx*sy/n))
                / ((sxx - sx*sx/n)*(szz - sz*sz/n)
                   - (sxz - sx*sz/n)*(sxz - sx*sz/n))
                  * (szy - sz*sy/n)))
        ) * (n - 3)
        / ((syy - sy*sy/n)
           - (((szz - sz*sz/n)*(sxy - sx*sy/n)
               - (sxz - sx*sz/n)*(szy - sz*sy/n))
              / ((sxx - sx*sx/n)*(szz - sz*sz/n)
                 - (sxz - sx*sz/n)*(sxz - sx*sz/n))
                * (sxy - sx*sy/n)
              + ((sxx - sx*sx/n)*(szy - sz*sy/n)
                 - (sxz - sx*sz/n)*(sxy - sx*sy/n))
              / ((sxx - sx*sx/n)*(szz - sz*sz/n)
                 - (sxz - sx*sz/n)*(sxz - sx*sz/n))
                * (szy - sz*sy/n))), 4)"""

  /** `daily`: daily revenue as exact DECIMAL(18,2) `x`. */
  val DailyRevXCte: String =
    """daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
          FROM orders GROUP BY 1)"""

  /** Daily revenue as exact DECIMAL(18,2): (day DATE, x). */
  def dailyRevX(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("x"))

  /** (k, x, y = x lagged k days) for k = 1..3 over a day-grain series
    * `daily(day, x)` — one calendar-bounded window pass. */
  def lagPairs(daily: DataFrame): DataFrame = {
    val w = Window.orderBy("day")
    daily
      .select(col("x"),
        lag(col("x"), 1).over(w).as("l1"),
        lag(col("x"), 2).over(w).as("l2"),
        lag(col("x"), 3).over(w).as("l3"))
      .selectExpr("x", "stack(3, 1, l1, 2, l2, 3, l3) AS (k, y)")
      .filter(col("y").isNotNull)
  }

  /** Per-lag exact moment sums (k, n, sx, sy, sxy, sxx, syy) of the
    * daily revenue's lag pairs. */
  def lagMoments(s: SparkSession, d: String): DataFrame =
    lagPairs(dailyRevX(s, d)).groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(38, 6))).as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 6))).as("sxx"),
        sum((col("y") * col("y")).cast(DecimalType(38, 6))).as("syy"))

  /** The lag-k correlation of [[lagMoments]] (the agg_corr closed form
    * on the exact moments cast to double once). */
  def lagCorr: Column =
    (col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) /
      sqrt((col("n").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) *
        (col("n").cast("double") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")))

  /** `lagged` → `pairs`: (k, x, y = x lagged k days) for k = 1..3. */
  val LagPairsCte: String =
    """lagged AS (
          SELECT x, lag(x, 1) OVER (ORDER BY day) AS l1,
                 lag(x, 2) OVER (ORDER BY day) AS l2,
                 lag(x, 3) OVER (ORDER BY day) AS l3
          FROM daily),
        pairs AS (
          SELECT 1 AS k, x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
          UNION ALL
          SELECT 2, x, l2 FROM lagged WHERE l2 IS NOT NULL
          UNION ALL
          SELECT 3, x, l3 FROM lagged WHERE l3 IS NOT NULL)"""

  /** `m`: per-lag exact moment sums of `pairs`. */
  val LagMomentsCte: String =
    """m AS (
          SELECT k, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy,
                 SUM(CAST(x * x AS DECIMAL(38,6))) AS sxx,
                 SUM(CAST(y * y AS DECIMAL(38,6))) AS syy
          FROM pairs GROUP BY k)"""

  /** Daily DECIMAL revenue `rev` with its z-score `z` against the
    * series mean `mu` and population sd `sd` (the SAX input). */
  def dailyRevZ(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val m = daily.agg(count(lit(1)).as("n"),
      sum(col("rev")).as("sx"),
      sum((col("rev") * col("rev")).cast(DecimalType(38, 4))).as("sx2"))
    daily.crossJoin(broadcast(m))
      .withColumn("mu", col("sx").cast("double") / col("n"))
      .withColumn("sd", sqrt(
        col("sx2").cast("double") / col("n") -
          (col("sx").cast("double") / col("n")) *
          (col("sx").cast("double") / col("n"))))
      .withColumn("z",
        (col("rev").cast("double") - col("mu")) / col("sd"))
  }

  /** `daily` → `m`: the oracle side of [[dailyRevZ]] up to its moments
    * (count, sum and sum of squares of `rev`). */
  val SaxMomentsCte: String =
    """daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY 1),
        m AS (
          SELECT COUNT(*) AS n, SUM(rev) AS sx,
                 SUM(CAST(rev * rev AS DECIMAL(38,4))) AS sx2
          FROM daily)"""

  // ---- graphs over lineitem -------------------------------------------

  /** The persisted undirected supplier↔part edge artifact (suppliers
    * even ids, parts odd), as (src, dst). */
  def supplierPartEdges(s: SparkSession, d: String): DataFrame =
    graft.engine.ops.Graph.bipartiteEdgesFor(
      lineitem(s, d)
        .select((col("l_suppkey").cast("bigint") * 2).as("a"),
          (col("l_partkey").cast("bigint") * 2 + 1).as("b")),
      s"${d}_bipsp")

  /** `e0` → `edges`: the oracle side of [[supplierPartEdges]]. */
  val BipartiteEdgesCte: String =
    """e0 AS (
          SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 AS a,
                 CAST(l_partkey AS BIGINT) * 2 + 1 AS b
          FROM lineitem),
        edges AS (
          SELECT a AS src, b AS dst FROM e0
          UNION ALL SELECT b, a FROM e0)"""

  /** `lp0` … `lp3`: three synchronous label-propagation rounds over
    * `edges` (majority label, min-label tie-break), one CTE per round. */
  val LabelPropCte: String = {
    val rounds = (1 to 3).map { i =>
      s"""lp$i AS MATERIALIZED (
            SELECT node, label FROM (
              SELECT e.dst AS node, l.label, COUNT(*) AS c,
                     ROW_NUMBER() OVER (PARTITION BY e.dst
                       ORDER BY COUNT(*) DESC, l.label ASC) AS rn
              FROM edges e JOIN lp${i - 1} l ON l.node = e.src
              GROUP BY e.dst, l.label)
            WHERE rn = 1)"""
    }.mkString(",\n")
    s"""lp0 AS (
          SELECT DISTINCT src AS node, src AS label FROM edges),
        $rounds"""
  }

  /** `op` → `e` → `und`: the part co-order graph (parts bought together
    * in ≥ 2 orders), both edge directions in `und(u, v)`. */
  val CoOrderGraphCte: String =
    """op AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
          FROM lineitem),
        e AS (
          SELECT x.pk AS a, y.pk AS b
          FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        und AS (
          SELECT a AS u, b AS v FROM e
          UNION ALL SELECT b, a FROM e)"""

  /** `sp` → `edges` → `tri`: the supplier co-supply graph (≥ 25 shared
    * parts) and its triangles (u < v < t). */
  val CoSupplyTrianglesCte: String =
    """sp AS (
          SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        edges AS (
          SELECT x.sk AS a, y.sk AS b
          FROM sp x JOIN sp y ON x.pk = y.pk AND x.sk < y.sk
          GROUP BY 1, 2 HAVING COUNT(*) >= 25),
        tri AS (
          SELECT e1.a AS u, e1.b AS v, e2.b AS t
          FROM edges e1
            JOIN edges e2 ON e1.b = e2.a
            JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b)"""

  // ---- events: survival, intervals, Markov chain, attribution ---------

  /** Each clicking user's first click day `d0` left-joined to their
    * first purchase day `dp` (null when they never bought). */
  def firstClickBuy(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      (unix_micros(col("ts")) / lit(86400000000L)).cast("long")
        .as("day"))
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("day")).as("d0"))
    val firstBuy = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("day")).as("dp"))
    firstClick.join(firstBuy, Seq("user_id"), "left")
  }

  /** `ev` → `fc` → `fb`: event days, each user's first click day `d0`
    * and first purchase day `dp`. */
  val FirstClickBuyCte: String =
    """ev AS (
          SELECT user_id, event_type,
                 epoch_us(ts) // 86400000000 AS day
          FROM events),
        fc AS (
          SELECT user_id, MIN(day) AS d0 FROM ev
          WHERE event_type = 'click' GROUP BY 1),
        fb AS (
          SELECT user_id, MIN(day) AS dp FROM ev
          WHERE event_type = 'purchase' GROUP BY 1)"""

  /** Per-user islands of overlapping 300 s event intervals, as
    * (user_id, island, ist, ien): a new island starts where the running
    * max of previous ends stays below the next start. */
  def eventIslands(s: SparkSession, d: String): DataFrame = {
    val iv = events(s, d).select(col("user_id"),
      (unix_micros(col("ts")) / lit(1000000L)).cast("long").as("st"))
      .withColumn("en", col("st") + 300L)
    val w = Window.partitionBy("user_id").orderBy("st", "en")
    iv
      .withColumn("prev_max_en",
        max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_en").isNull ||
          col("st") > col("prev_max_en"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "island")
      .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
  }

  /** `iv` → `f` → `g` → `isl`: the oracle side of [[eventIslands]]. */
  val IslandsCte: String =
    """iv AS (
          SELECT user_id, epoch_us(ts) // 1000000 AS st,
                 epoch_us(ts) // 1000000 + 300 AS en
          FROM events),
        f AS (
          SELECT user_id, st, en,
                 MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_en
          FROM iv),
        g AS (
          SELECT user_id, st, en,
                 SUM(CASE WHEN prev_max_en IS NULL OR st > prev_max_en
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY st, en
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
          FROM f),
        isl AS (
          SELECT user_id, island, MIN(st) AS ist, MAX(en) AS ien
          FROM g GROUP BY 1, 2)"""

  /** `ev` → `tr` → `e` → `rs` → `t` → `ty` → `p0` … `p8`: the event-type
    * transition chain (`t`: counts `wt` over row sums `wu`) and eight
    * power-iteration rounds of its stationary distribution in exact
    * 1e-12 integer units. */
  val MarkovPowerCte: String = {
    val steps = (1 to 8).map { i =>
      s"""p$i AS (
            SELECT ty.u, CAST(COALESCE(sq.pi, 0) AS BIGINT) AS pi
            FROM ty LEFT JOIN (
              SELECT t.v AS u, SUM((p.pi * t.wt) // t.wu) AS pi
              FROM p${i - 1} p JOIN t ON t.u = p.u
              GROUP BY t.v) sq ON sq.u = ty.u)"""
    }.mkString(",\n        ")
    s"""ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS tm, event_id
          FROM events),
        tr AS (
          SELECT event_type AS u,
                 LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY tm, event_id) AS v
          FROM ev),
        e AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS wt FROM tr
              WHERE v IS NOT NULL GROUP BY 1, 2),
        rs AS (SELECT u, CAST(SUM(wt) AS BIGINT) AS wu FROM e
               GROUP BY 1),
        t AS (SELECT e.u, e.v, e.wt, rs.wu FROM e
              JOIN rs ON rs.u = e.u),
        ty AS (SELECT DISTINCT u FROM e),
        p0 AS (SELECT u, CAST(1000000000000 //
                 (SELECT COUNT(*) FROM ty) AS BIGINT) AS pi
               FROM ty),
        $steps"""
  }

  /** Click → purchase touches: every click (with its `channel`) in the
    * hour before a purchase by the same user, as (p_id, user_id, p_t,
    * c_id, c_t, channel). */
  def clickTouches(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("t"),
      col("props"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("t").as("c_t"),
        concat(lit("ch"),
          get_json_object(col("props"), "$.k").cast("long") % 5)
          .as("channel"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("t").as("p_t"))
    purchases.join(clicks, Seq("user_id"))
      .filter(col("c_t") < col("p_t") &&
        col("p_t") - col("c_t") <= 3600000000L)
  }

  /** `clicks` → `purchases`: the oracle inputs of [[clickTouches]]. */
  val ClickPurchaseCte: String =
    """clicks AS (
          SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_t,
                 'ch' || (CAST(json_extract_string(props, '$.k')
                   AS BIGINT) % 5) AS channel
          FROM events WHERE event_type = 'click'),
        purchases AS (
          SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_t
          FROM events WHERE event_type = 'purchase')"""

  /** Per user, the ordered event pairs at most an hour apart. */
  val EventPairsWithinHourSql: String =
    """SELECT e1.user_id AS user_id, COUNT(*) AS n_pairs
        FROM events e1 JOIN events e2
          ON e1.user_id = e2.user_id
         AND epoch_us(e2.ts) > epoch_us(e1.ts)
         AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 3600000000
        GROUP BY 1 ORDER BY user_id"""

  // ---- A/B and classifier statistics ----------------------------------

  /** Per-user spend in exact cents with the user's A/B arm
    * (user_id % 2): (arm, cents). */
  def userSpendByArm(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy("user_id")
      .agg(sum(expr("CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)"))
        .as("cents"))
      .select((col("user_id") % 2).as("arm"), col("cents"))

  /** `pu`: the oracle side of [[userSpendByArm]]. */
  val UserSpendCte: String =
    """pu AS (
          SELECT user_id % 2 AS arm,
                 SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT))
                   AS cents
          FROM events GROUP BY user_id)"""

  /** Line-item quantity histogram of returned ('R', t1) vs acknowledged
    * ('A', t0) lines: (q, t1, t0). */
  def returnFlagHist(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_returnflag").isin("R", "A"))
      .select(col("l_quantity").cast("int").as("q"),
        (col("l_returnflag") === "R").as("arm"))
      .groupBy("q").agg(
        sum(when(col("arm"), 1L).otherwise(0L)).as("t1"),
        sum(when(!col("arm"), 1L).otherwise(0L)).as("t0"))

  /** `hist`: the oracle side of [[returnFlagHist]]. */
  val ReturnFlagHistCte: String =
    """hist AS (
          SELECT CAST(l_quantity AS INT) AS q,
            CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS t1,
            CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
              AS BIGINT) AS t0
          FROM lineitem WHERE l_returnflag IN ('R', 'A')
          GROUP BY 1)"""

  /** `base` → `hist`: line-item quantity histogram, total `t` and per
    * order-priority group (g = 1..5) counts `t1`…`t5`. */
  val PriorityQtyHistCte: String =
    """base AS (
          SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
                 CAST(l_quantity AS INT) AS q
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        hist AS (
          SELECT q, CAST(COUNT(*) AS BIGINT) AS t,
            CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
            CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
            CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS t3,
            CAST(SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS t4,
            CAST(SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS t5
          FROM base GROUP BY 1)"""

  /** The cumulative score histogram of "en" (cp) vs other (cn) docs by
    * n_chars, cross-joined to the class totals: (sc, cp, cn, cum_p,
    * cum_n, np, nn). */
  def scoreCumTot(s: SparkSession, d: String): DataFrame = {
    val h = documents(s, d)
      .groupBy(col("n_chars").as("sc"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cp"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cn"))
    val w = Window.orderBy("sc")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = h
      .withColumn("cum_p", sum("cp").over(w))
      .withColumn("cum_n", sum("cn").over(w))
    val tot = cum.agg(max("cum_p").as("np"), max("cum_n").as("nn"))
    cum.crossJoin(broadcast(tot))
  }

  /** `h` → `cum` → `tot`: the oracle side of [[scoreCumTot]]. */
  val ScoreCumCte: String =
    """h AS (SELECT n_chars AS sc,
            CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
              AS cp,
            CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
              AS cn
          FROM documents GROUP BY 1),
        cum AS (SELECT sc,
            sum(cp) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS cum_p,
            sum(cn) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS cum_n
          FROM h),
        tot AS (SELECT CAST(max(cum_p) AS BIGINT) AS np,
                       CAST(max(cum_n) AS BIGINT) AS nn FROM cum)"""

  /** `scored` → `bins`: the length-as-confidence toy classifier
    * (conf4 in 1e-4 units, pos = en) in ten confidence bins. */
  val ConfidenceBinsCte: String =
    """scored AS (
          SELECT least(CAST(n_chars AS BIGINT), 2000) * 10000 // 2000
                   AS conf4,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
          FROM documents),
        bins AS (
          SELECT least(conf4 // 1000, 9) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_b,
                 CAST(SUM(pos) AS BIGINT) AS pos_b,
                 CAST(SUM(conf4) AS BIGINT) AS sconf4
          FROM scored GROUP BY 1)"""

  /** (feature, v, n1, n0): label = price > 150000 counts per value of
    * three categorical order features, from one long-form pass. */
  def featureCells(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      (col("o_totalprice") > 150000.0).as("label"),
      expr("""stack(3,
        'priority', o_orderpriority,
        'status', o_orderstatus,
        'month', CAST(month(o_orderdate) AS STRING))
        AS (feature, v)"""))
      .groupBy("feature", "v")
      .agg(count(when(col("label"), 1)).as("n1"),
        count(when(!col("label"), 1)).as("n0"))

  /** `long` → `cells`: the oracle side of [[featureCells]]. */
  val FeatureCellsCte: String =
    """long AS (
          SELECT (o_totalprice > 150000.0) AS label, feature, v
          FROM orders,
            LATERAL (VALUES
              ('priority', o_orderpriority),
              ('status', o_orderstatus),
              ('month', CAST(month(o_orderdate) AS VARCHAR)))
              AS t(feature, v)),
        cells AS (
          SELECT feature, v,
                 COUNT(CASE WHEN label THEN 1 END) AS n1,
                 COUNT(CASE WHEN NOT label THEN 1 END) AS n0
          FROM long GROUP BY 1, 2)"""

  // ---- md5-synthesized customer/supplier coordinates ------------------

  /** Candidate (customer, supplier) pairs from a (gx, gy) grid equi-join
    * at cell size `r` (suppliers replicated to the 3×3 neighbourhood),
    * with the exact squared distance `dist2`. */
  def gridNeighbours(s: SparkSession, d: String, r: Long): DataFrame = {
    def coord(key: Column, salt: String) =
      pmod(conv(substring(md5(concat(key.cast("string"), lit(salt))),
        1, 8), 16, 10).cast("long"), lit(10000L))
    val cust = customer(s, d).select(col("c_custkey"),
      coord(col("c_custkey"), "x").as("cx"),
      coord(col("c_custkey"), "y").as("cy"))
      .withColumn("gx", floor(col("cx") / r))
      .withColumn("gy", floor(col("cy") / r))
    val supp = supplier(s, d).select(col("s_suppkey"),
      coord(col("s_suppkey"), "sx").as("sx"),
      coord(col("s_suppkey"), "sy").as("sy"))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("s_suppkey"), col("sx"), col("sy"),
        (floor(col("sx") / r) + col("dx")).as("gx"),
        (floor(col("sy") / r) + col("dy")).as("gy"))
    cust.join(supp, Seq("gx", "gy"))
      .withColumn("dist2",
        (col("cx") - col("sx")) * (col("cx") - col("sx")) +
          (col("cy") - col("sy")) * (col("cy") - col("sy")))
  }

  /** `cust` → `supp`: the md5 coordinates of [[gridNeighbours]]. */
  val SpatialCoordsCte: String =
    """cust AS (
          SELECT c_custkey,
                 CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                   || 'x'), 1, 8)) AS BIGINT) % 10000 AS cx,
                 CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                   || 'y'), 1, 8)) AS BIGINT) % 10000 AS cy
          FROM customer),
        supp AS (
          SELECT s_suppkey,
                 CAST(('0x' || substring(md5(CAST(s_suppkey AS VARCHAR)
                   || 'sx'), 1, 8)) AS BIGINT) % 10000 AS sx,
                 CAST(('0x' || substring(md5(CAST(s_suppkey AS VARCHAR)
                   || 'sy'), 1, 8)) AS BIGINT) % 10000 AS sy
          FROM supplier)"""

  // ---- tables: commit-log version chain, SCD2 history -----------------

  /** A fresh commit log under the scratch dir `name` holding three
    * serial versions: v1 the even-key orders snapshot (k, v), v2 a keyed
    * upsert derived AS OF v1 (every k % 10 row's v × 1.10), v3 a keyed
    * delete derived AS OF v2 (k % 100 rows). Returns the log root. */
  def commitLogChain(s: SparkSession, d: String, name: String): String = {
    import graft.engine.io.CommitLog
    val root = IoQueries.scratch(d, name)
    graft.engine.io.Storage.deleteFolder(s, root)
    CommitLog.init(s, root)
    val v1 = orders(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
    CommitLog.commit(s, root, "snapshot") { (dir, _) =>
      v1.write.parquet(dir)
    }
    // upsert derived AS OF the observed base — the shape a racing
    // writer re-runs against the new base on conflict
    CommitLog.commit(s, root, "upsert") { (dir, base) =>
      CommitLog.readVersion(s, root, base).withColumn("v",
        when(col("k") % 10 === 0,
          (col("v").cast(DecimalType(18, 2)) *
            lit(new java.math.BigDecimal("1.10"))).cast("double"))
          .otherwise(col("v")))
        .write.parquet(dir)
    }
    CommitLog.commit(s, root, "delete") { (dir, base) =>
      CommitLog.readVersion(s, root, base)
        .filter(col("k") % 100 =!= 0)
        .write.parquet(dir)
    }
    root
  }

  /** `v1` → `v2`: the oracle replay of [[commitLogChain]]'s first two
    * versions (v3 is `v2` without the k % 100 rows). */
  val UpsertChainCte: String =
    """v1 AS (
          SELECT o_orderkey AS k, o_totalprice AS v FROM orders
          WHERE o_orderkey % 2 = 0),
        v2 AS (
          SELECT k, CASE WHEN k % 10 = 0
                 THEN CAST(CAST(v AS DECIMAL(18,2)) *
                      CAST(1.10 AS DECIMAL(3,2)) AS DOUBLE)
                 ELSE v END AS v
          FROM v1)"""

  /** SCD2 history of orders per customer: each version's valid_from,
    * the next version's start as valid_to, and the current flag. */
  val Scd2HistorySql: String =
    """SELECT o_custkey, o_orderkey,
               epoch_us(o_orderdate) AS valid_from,
               LEAD(epoch_us(o_orderdate), 1) OVER (
                 PARTITION BY o_custkey
                 ORDER BY epoch_us(o_orderdate), o_orderkey) AS valid_to,
               CAST(LEAD(epoch_us(o_orderdate), 1) OVER (
                 PARTITION BY o_custkey
                 ORDER BY epoch_us(o_orderdate), o_orderkey) IS NULL
                 AS INT) AS is_current
        FROM orders
        ORDER BY o_custkey, valid_from, o_orderkey"""
}
