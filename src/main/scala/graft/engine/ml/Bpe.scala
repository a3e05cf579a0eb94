package graft.engine.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Deterministic byte-pair-encoding (BPE) subword tokenizer: a
  * merge-table trainer over the corpus word-frequency table and a
  * greedy encoder, replacing the `len/4` token heuristic wherever a
  * token count feeds a downstream decision (mix_weights,
  * pack_sequences).
  *
  * Scale shape: the ONLY corpus pass is the word-frequency aggregation
  * (one shuffle, map-side partial). Training then runs on the top-K
  * word-count table — K rows by construction (cnt DESC, word ASC —
  * deterministic at the LIMIT boundary), collected to the driver like
  * the langid profile / IVF quantizer fits: bounded, and persisted as
  * a fit-once artifact keyed by the corpus content fingerprint.
  * Encoding is map-side only: the merge table (nMerges rows) rides the
  * closure and every partition memoizes word → token count, so the
  * per-row cost is a hash probe for all but the first occurrence of
  * each distinct word in the partition.
  *
  * Determinism contract (what makes the DuckDB replay oracle possible):
  *   - words: lower(text) split on \s+, keeping only [a-z]{2,} — both
  *     engines agree byte-for-byte on ASCII;
  *   - merge choice: max total pair count, ties by (lhs ASC, rhs ASC);
  *   - application: merges applied in rank order, each exhaustively
  *     left-to-right (equivalent to lowest-rank-first priority
  *     encoding: a merge never makes a LOWER-ranked pair adjacent,
  *     because symbols only ever grow — they are never split).
  * The oracle replays training inside DuckDB as a generated chain of
  * materialized CTEs — two per merge (pair-count argmax + replace) —
  * so the merge table and every downstream token count is checked
  * exactly, not bounds-audited. Segmentations are rendered with a
  * 0x1F separator AROUND every symbol ("␟h␟e␟"), so the SQL
  * `replace(seg, '␟a␟b␟', '␟ab␟')` can never match a suffix/prefix of
  * a longer symbol, and left-to-right non-overlapping replace matches
  * the list-based application exactly.
  */
object Bpe {

  /** Trainer vocabulary cap (top-K words by frequency) and merge count.
    * Both are mirrored verbatim in the generated oracle SQL. */
  val TopWords = 1500
  val NumMerges = 40

  /** Word filter: UNICODE letter/number classes plus apostrophe — NOT
    * the ASCII `[a-z]{2,}` of earlier rounds, under which digits,
    * apostrophes and ALL non-Latin text contributed zero tokens, so on
    * a multilingual corpus every token-count consumer (mix_weights,
    * mix_temperature, mix_allocate, pack_sequences, shuffle_shards,
    * vocab_compression) skewed toward English. `\pL`/`\pN` parse
    * identically in Java regex (Spark side) and RE2 (DuckDB side), and
    * both engines match them over code points, so the filtered word
    * streams agree byte-for-byte. Case: the corpus passes through
    * lower() in both engines — ASCII and the common bicameral scripts
    * (Greek, Cyrillic, accented Latin) lower identically; locale
    * specials like dotted İ are the documented edge. */
  val WordRe = "[\\pL\\pN']{2,}"

  /** [[WordRe]] with the apostrophe doubled for embedding in
    * single-quoted SQL literals. */
  val WordReSql: String = WordRe.replace("'", "''")

  /** Split a word into CODE POINTS (one String per code point) — not
    * UTF-16 chars: a surrogate pair (non-BMP letter) must stay one
    * symbol, matching DuckDB's code-point-indexed substring(). */
  def codepoints(w: String): Array[String] = {
    val out = new mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** One merge rule: (rank, lhs, rhs) → token lhs+rhs. */
  final case class Merge(rank: Int, lhs: String, rhs: String)

  /** Corpus word-frequency table: ONE shuffle with map-side partials. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word").rlike(s"^$WordRe$$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Apply one merge exhaustively, left-to-right, on a symbol list. */
  private def applyMerge(sp: Array[String], l: String, r: String)
      : Array[String] = {
    val out = new mutable.ArrayBuffer[String](sp.length)
    var i = 0
    while (i < sp.length) {
      if (i + 1 < sp.length && sp(i) == l && sp(i + 1) == r) {
        out += (sp(i) + sp(i + 1)); i += 2
      } else { out += sp(i); i += 1 }
    }
    out.toArray
  }

  /** Classic BPE training on a word-frequency list: nMerges rounds of
    * (count pairs, pick argmax, merge). Runs on the driver over at most
    * [[TopWords]] rows — the same bounded-fit pattern as the langid
    * profile and the IVF quantizer. */
  def trainMerges(words: Seq[(String, Long)], nMerges: Int): Seq[Merge] = {
    var segs: Array[(Array[String], Long)] =
      words.map { case (w, c) => (codepoints(w), c) }.toArray
    val merges = mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val pc = new mutable.HashMap[(String, String), Long]()
      for ((sp, c) <- segs; i <- 0 until sp.length - 1)
        pc.updateWith((sp(i), sp(i + 1)))(v => Some(v.getOrElse(0L) + c))
      if (pc.isEmpty) done = true
      else {
        // max count; ties by (lhs ASC, rhs ASC) — byte order on ASCII,
        // identical in Spark, Java and DuckDB
        val ((l, r), _) = pc.minBy { case ((a, b), n) => (-n, a, b) }
        merges += Merge(rank, l, r)
        segs = segs.map { case (sp, c) => (applyMerge(sp, l, r), c) }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** Key parameters of the BPE stores. The word-filter regex is one of
    * them: a filter change must invalidate stored merges, not silently
    * serve the old vocabulary. */
  private def storeParams: Seq[Any] =
    Seq(TopWords, NumMerges, Integer.toHexString(WordRe.hashCode))

  /** Fit-once merge table for a dataset: persisted to the warehouse
    * keyed by the corpus content fingerprint (any input rewrite → new
    * key), built exactly once per dataset version and decoded once per
    * JVM. */
  def mergesFor(docs: DataFrame, datasetTag: String): Seq[Merge] = {
    val spark = docs.sparkSession
    val path = graft.engine.io.Artifacts.fitOnce(docs, "graft_bpe",
      datasetTag, "merges", storeParams) { tmp =>
      val top = wordCounts(docs)
        .orderBy(desc("cnt"), asc("word")).limit(TopWords)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val ms = trainMerges(top, NumMerges)
      val schema = StructType(Seq(StructField("rank", IntegerType),
        StructField("lhs", StringType), StructField("rhs", StringType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          ms.map(m => Row(m.rank, m.lhs, m.rhs)), 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    mergesCache.getOrElseUpdate(path)(
      graft.engine.io.Storage.readParquet(spark, path).collect()
        .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2)))
        .sortBy(_.rank).toSeq)
  }

  /** Decoded merge tables by artifact path: the path holds the content
    * fingerprint and every parameter, so a stored table never changes
    * under its key and a repeat call collects nothing. */
  private val mergesCache = new graft.engine.Memo[String, Seq[Merge]](64)

  /** The trained merge table as a DataFrame (the vocab_bpe surface). */
  def mergeTable(docs: DataFrame, datasetTag: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    mergesFor(docs, datasetTag)
      .map(m => (m.rank.toLong, m.lhs, m.rhs, m.lhs + m.rhs))
      .toDF("rank", "lhs", "rhs", "merged")
  }

  /** Encode one word to its token count (merges in rank order, each
    * exhaustive) and check decode identity (concat of tokens == word —
    * trivially true for merge-only BPE, asserted anyway as the
    * encode∘decode audit). */
  private def encodeWord(w: String, merges: Seq[Merge]): Array[String] = {
    var sp: Array[String] = codepoints(w)
    merges.foreach(m => sp = applyMerge(sp, m.lhs, m.rhs))
    sp
  }

  /** Per-document token counts over the filtered word stream:
    * (doc_id, lang, source, n_tokens, roundtrip_ok). Map-side only;
    * the merge table rides the closure; per-partition memo makes the
    * common-word cost a hash probe. Docs with zero qualifying words
    * emit n_tokens = 0 (kept, like the oracle's LEFT JOIN). */
  def tokensPerDoc(docs: DataFrame, datasetTag: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = mergesFor(docs, datasetTag)
    graft.engine.ops.Scale
      .spreadForCompute(docs.select(col("doc_id"), col("lang"),
        col("source"), col("text")))
      .as[(Long, String, String, String)]
      .mapPartitions { it =>
        val memo = new mutable.HashMap[String, (Int, Boolean)]()
        val wordPat = java.util.regex.Pattern.compile(WordRe)
        it.map { case (id, lang, source, text) =>
          var n = 0L
          var ok = true
          text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
            .foreach { w =>
              if (wordPat.matcher(w).matches()) {
                val (k, good) = memo.getOrElseUpdate(w, {
                  val toks = encodeWord(w, merges)
                  (toks.length, toks.mkString("") == w)
                })
                n += k
                ok &&= good
              }
            }
          (id, lang, source, n, ok)
        }
      }.toDF("doc_id", "lang", "source", "n_tokens", "roundtrip_ok")
  }

  /** Fit-once PER-DOC TOKEN STORE: [[tokensPerDoc]] persisted under
    * the warehouse keyed by the corpus content fingerprint — the
    * ingest-time shape for token counts, which every mixture/packing
    * decision reads instead of re-encoding the corpus per query
    * (encode is map-side cheap, but at 100 TB "cheap × every
    * consumer" is still corpus scans; a 4-column store read is not). */
  def tokensStoreFor(docs: DataFrame, datasetTag: String): DataFrame =
    graft.engine.io.Artifacts.table(docs, "graft_bpe", datasetTag, "tokens",
      storeParams)(tokensPerDoc(docs, datasetTag))

  // ------------------------------------------------------------------
  // Generated DuckDB replay oracle. MATERIALIZED is load-bearing: each
  // w{m} is referenced by both b{m+1} and w{m+1}, so an inlining
  // planner would expand the chain exponentially.
  // ------------------------------------------------------------------

  private val S = "chr(31)"

  /** CTE chain w0,b1,w1..b{n},w{n}: training replay over the top-k
    * word table of `src` (any relation with doc_id/lang/source/text).
    * b{m} holds merge m-1's (lhs, rhs). DuckDB's len()/substring() are
    * code-point indexed, matching [[codepoints]] on the engine side. */
  private def trainCtes(k: Int, n: Int, src: String): Seq[String] = {
    val w0 = s"""w0 AS MATERIALIZED (
  SELECT word, cnt, $S || array_to_string(list_transform(
      range(1, len(word)+1), i -> substring(word, i, 1)), $S) || $S AS seg
  FROM (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
      FROM $src)
    WHERE regexp_full_match(word, '$WordReSql')
    GROUP BY word ORDER BY cnt DESC, word ASC LIMIT $k))"""
    w0 +: (1 to n).flatMap { m =>
      Seq(
        s"""b$m AS MATERIALIZED (
  SELECT l, r FROM (
    SELECT sp[i] AS l, sp[i+1] AS r, SUM(cnt) AS tot
    FROM (SELECT string_split(trim(seg, $S), $S) AS sp, cnt FROM w${m - 1}),
         UNNEST(range(1, len(sp))) AS u(i)
    GROUP BY 1, 2)
  ORDER BY tot DESC, l ASC, r ASC LIMIT 1)""",
        s"""w$m AS MATERIALIZED (
  SELECT word, cnt,
    replace(seg, (SELECT $S || l || $S || r || $S FROM b$m),
                 (SELECT $S || l || r || $S FROM b$m)) AS seg
  FROM w${m - 1})""")
    }
  }

  /** Oracle for vocab_bpe: the exact merge table, replayed. */
  def mergeTableOracle: String = mergeTableOracleFor("documents")

  /** [[mergeTableOracle]] over an arbitrary source relation (used by
    * the planted-multilingual twin vocab_bpe_unicode). */
  def mergeTableOracleFor(src: String): String = {
    val union = (1 to NumMerges).map { m =>
      s"SELECT CAST(${m - 1} AS BIGINT) AS rank, l AS lhs, r AS rhs," +
        s" l || r AS merged FROM b$m"
    }.mkString("\nUNION ALL\n")
    "WITH " + trainCtes(TopWords, NumMerges, src).mkString(",\n") +
      s"\nSELECT * FROM (\n$union\n) ORDER BY rank"
  }

  /** CTE chain d0..d{n} (appended after [[trainCtes]]): tokenize every
    * document's filtered word stream by replaying the merges in rank
    * order; dtok = (doc_id, n_tokens) for every document (zero-word
    * docs included at 0). */
  private def docCtes(n: Int, src: String): Seq[String] = {
    val d0 = s"""d0 AS MATERIALIZED (
  SELECT doc_id, $S || array_to_string(list_transform(
      range(1, len(word)+1), i -> substring(word, i, 1)), $S) || $S AS seg
  FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
    FROM $src)
  WHERE regexp_full_match(word, '$WordReSql'))"""
    val chain = (1 to n).map { m =>
      s"""d$m AS MATERIALIZED (
  SELECT doc_id,
    replace(seg, (SELECT $S || l || $S || r || $S FROM b$m),
                 (SELECT $S || l || r || $S FROM b$m)) AS seg
  FROM d${m - 1})"""
    }
    val dtok = s"""dtok AS MATERIALIZED (
  SELECT d.doc_id, d.lang, d.source, COALESCE(t.n_tokens, 0) AS n_tokens
  FROM $src d LEFT JOIN (
    SELECT doc_id, CAST(SUM(len(string_split(trim(seg, $S), $S)))
      AS BIGINT) AS n_tokens
    FROM d$n GROUP BY 1) t USING (doc_id))"""
    (d0 +: chain) :+ dtok
  }

  /** WITH-prefix ending in dtok(doc_id, lang, source, n_tokens) — the
    * shared replay head for every oracle that consumes real token
    * counts (text_tokenize_bpe, pack_sequences, mix_weights). */
  def tokensCtePrefix: String = tokensCtePrefixFor("documents")

  /** [[tokensCtePrefix]] over an arbitrary source relation. */
  def tokensCtePrefixFor(src: String): String =
    "WITH " +
      (trainCtes(TopWords, NumMerges, src) ++
        docCtes(NumMerges, src)).mkString(",\n")
}
