package graft.engine.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis verbs for LLM training-data pipelines (SURVEY.md §2.10
  * + north-star extensions): tokenization, word/ngram counts, quality
  * scoring, token counting, rolling-hash fingerprinting, language-ID.
  *
  * All per-document verbs are single projections over builtin
  * higher-order functions — no UDFs, no shuffle, fully codegen'd, so
  * they stream through a 100 TB corpus at scan speed. The corpus-level
  * verbs (wordcount, ngram counts, langId training) are one hash
  * aggregation each.
  */
object Text {

  private val P = 1000000007L

  def tokens(text: Column): Column = split(text, " ")

  /** Word n-grams of a document as ONE generator expression (array of
    * space-joined n-token windows); empty below n words. Stays inside
    * whole-stage codegen — per-document work, no shuffle. */
  def wordNgrams(text: Column, n: Int): Column = {
    val ws = tokens(text)
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + lit(1), lit(n)))))
      .otherwise(typedLit(Array.empty[String]))
  }

  /** Add every word n-gram of `ws` (words joined by one space) to
    * `into`: one StringBuilder sweep, the JIT-compiled inner loop of
    * [[explodedNgrams]] and [[repetitionProfile]]. */
  private def addNgrams(ws: Array[String], n: Int,
      into: java.util.Set[String]): Unit = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= ws.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(ws(i + j))
        j += 1
      }
      into.add(sb.toString)
      i += 1
    }
  }

  /** One (doc_id, gram) row per DISTINCT word n-gram of each document —
    * the exploded form [[decontaminate]] joins on. Typed mapPartitions
    * hot loop rather than explode(wordNgrams(...)): the HOF lambda
    * interprets per gram (measured ~1.8 s for ~2.3M grams at sf0.1,
    * pure CPU — same finding as the MinHash shingle loops), while this
    * JIT-compiled pass is one StringBuilder sweep per document, narrow
    * and shuffle-free at any scale. */
  def explodedNgrams(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val ws = text.split(' ')
          if (ws.length < n) Iterator.empty
          else {
            val seen = new java.util.LinkedHashSet[String]()
            addNgrams(ws, n, seen)
            scala.jdk.CollectionConverters.IteratorHasAsScala(
              seen.iterator()).asScala.map(g => (id, g))
          }
        }
      }.toDF("doc_id", "g")
  }

  /** Per-document n-gram repetition profile (Gopher-style quality
    * filter): total gram count and distinct gram count per document,
    * computed in the same JIT-compiled sweep as [[explodedNgrams]] but
    * emitting ONE row per document — the per-doc aggregate never leaves
    * its partition, so the whole operator is a map-only pass with zero
    * shuffle at any corpus size. Documents shorter than n words emit
    * (0, 0) and are filtered by the caller. */
  def repetitionProfile(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.engine.ops.Scale
      .spreadForCompute(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val ws = text.split(' ')
          if (ws.length < n) (id, 0L, 0L)
          else {
            val seen = new java.util.HashSet[String]()
            addNgrams(ws, n, seen)
            (id, (ws.length - n + 1).toLong, seen.size.toLong)
          }
        }
      }.toDF("doc_id", "n_grams", "n_distinct")
  }

  /** EXACT heavy hitters (words with frequency > total/k) at sketch
    * cost: per-partition Misra-Gries summaries with m ≥ k counters —
    * pigeonhole guarantees a globally-heavy word is locally heavy in
    * at least one partition, and MG never evicts a key with local
    * frequency > n_p/(m+1) — then one exact recount of the tiny
    * candidate union (broadcast semi-join + groupBy). Output equals
    * the exact answer, deterministically, while the full-shuffle
    * word count is replaced by: narrow sketch pass + recount over
    * candidates only. The 100 TB win: the shuffle carries one row per
    * (partition × candidate), not per word occurrence. */
  def heavyHitters(docs: DataFrame, k: Int, m: Int = 256): DataFrame = {
    require(m >= k, s"need at least k=$k counters, got $m")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = graft.engine.ops.Scale.spreadForCompute(docs)
      .select(explode(split(col("text"), " ")).as("w"))
    val candidates = words.as[String].mapPartitions { it =>
      // values boxed explicitly: a HashMap[String, Long] get() on a
      // missing key would UNBOX null to 0L, making every presence test
      // true and the eviction branch dead — the map would then grow to
      // the full vocabulary (exact output, but no bounded-memory sketch)
      val counts = new java.util.HashMap[String, java.lang.Long]()
      it.foreach { w =>
        val c = counts.get(w)
        if (c ne null) counts.put(w, c + 1L)
        else if (counts.size < m) counts.put(w, 1L)
        else { // decrement-all: the Misra-Gries eviction step
          val e = counts.entrySet().iterator()
          while (e.hasNext) {
            val kv = e.next()
            if (kv.getValue == 1L) e.remove()
            else kv.setValue(kv.getValue - 1L)
          }
        }
      }
      scala.jdk.CollectionConverters
        .IteratorHasAsScala(counts.keySet().iterator()).asScala
    }.toDF("w").distinct()
    val total = words.agg(count(lit(1)).cast("double").as("n_words"))
    words.join(broadcast(candidates), "w")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") > col("n_words") / k)
      .select("w", "cnt")
  }

  /** Benchmark decontamination (the n-gram-overlap check every serious
    * training-data pipeline runs before training): flag each training
    * document that shares any word n-gram with the benchmark/eval
    * corpus, with the count of distinct overlapping grams.
    *
    * Scale shape: the benchmark gram set is tiny next to a 100 TB
    * training corpus (eval suites are megabytes), so it is DISTINCTed
    * once and BROADCAST — flagging is then a map-side hash-join against
    * the scan, and the only shuffle is the per-doc partial-agg count.
    * 13 is the published n for word-level overlap (GPT-3 appendix C
    * uses 13-gram collisions); callers tune per tokenizer. */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
      n: Int = 13): DataFrame = {
    val bg = broadcast(explodedNgrams(benchmark, n).select("g").distinct())
    explodedNgrams(train, n)
      .join(bg, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  /** Fixed-size overlapping word windows — context-window chunking for
    * training ingest: chunk i covers words [i·stride, i·stride+size).
    * Left-aligned coverage: nChunks = 1 + ⌈(nWords − size)/stride⌉
    * (one chunk when the doc fits), so every word lands in ≥1 chunk and
    * the final chunk may run short. One generator expression per
    * document — no shuffle, no UDF; chunking 100 TB is a map-only pass
    * that parallelizes with the scan. */
  def chunkOverlap(docs: DataFrame, chunkSize: Int,
      stride: Int): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      s"need 0 < stride <= chunkSize, got stride=$stride size=$chunkSize")
    val ws = tokens(col("text"))
    val nw = size(ws)
    // integer ceil-div: ⌈(nw−size)/stride⌉ = (nw−size+stride−1) div stride
    val nChunks = when(nw <= chunkSize, lit(1))
      .otherwise(lit(1) +
        ((nw - chunkSize + stride - 1) / stride).cast("int"))
    docs
      .select(col("doc_id"), ws.as("ws"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ",
          slice(col("ws"), col("chunk_id") * stride + 1, lit(chunkSize)))
          .as("chunk_text"),
        size(slice(col("ws"), col("chunk_id") * stride + 1, lit(chunkSize)))
          .as("n_words"))
  }

  /** Word counts over the corpus, heaviest first (deterministic tiebreak
    * on the word). At scale this is the canonical map-side-combine
    * aggregation: the shuffle carries (word, partial count). */
  def wordCount(docs: DataFrame, topN: Int): DataFrame =
    docs.select(explode(tokens(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))
      .limit(topN)

  /** Word-bigram counts. Bigram emission is a typed flatMap hot loop
    * (the HOF-transform formulation allocates interpreted per element —
    * measured 3× slower at sf0.1); counting is the usual map-side
    * combined aggregation. */
  def bigramCount(docs: DataFrame, topN: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("text")).as[String]
      .flatMap { text =>
        val ws = text.split(' ')
        (0 until ws.length - 1).iterator.map(i => ws(i) + " " + ws(i + 1))
      }
      .toDF("bigram")
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bigram"))
      .limit(topN)
  }

  /** Per-document quality signals: token count, average token length,
    * stopword ratio, punctuation density, and a composite score. */
  def qualityScore(docs: DataFrame, stopwords: Seq[String]): DataFrame = {
    // escape quotes: a stopword containing ' must not break the
    // interpolated expression string
    val stopArr = stopwords.map(w => s"'${w.replace("'", "\\'")}'")
      .mkString("array(", ", ", ")")
    docs.select(
      col("doc_id"),
      expr("size(split(text, ' '))").as("n_tokens"),
      expr("""round((length(text) - (size(split(text, ' ')) - 1))
              / cast(size(split(text, ' ')) AS double), 4)""")
        .as("avg_token_len"),
      expr(s"""round(size(filter(split(text, ' '),
               t -> array_contains($stopArr, t)))
              / cast(size(split(text, ' ')) AS double), 4)""")
        .as("stopword_ratio"),
      expr("""round(regexp_count(text, '[.,!?;:]')
              / cast(length(text) AS double), 4)""").as("punct_ratio"),
      expr(s"""round(least(1.0D, size(split(text, ' ')) / 200.0D)
               * (1.0D - size(filter(split(text, ' '),
                    t -> array_contains($stopArr, t)))
                  / cast(size(split(text, ' ')) AS double)), 4)""")
        .as("quality"))
  }

  /** Token counting: whitespace tokens, BPE-ish regex tokens, and the
    * chars-per-token ratio used for budget estimates. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr("size(split(text, ' '))").as("ws_tokens"),
      expr("regexp_count(text, '[a-z0-9]+|[^a-z0-9 ]')").as("re_tokens"),
      expr("cast(ceil(length(text) / 4.0D) AS bigint)").as("est_bpe_tokens"),
      expr("""round(length(text) /
              cast(regexp_count(text, '[a-z0-9]+|[^a-z0-9 ]') AS double),
              4)""").as("chars_per_token"))

  /** Polynomial rolling-hash fingerprints: a whole-document hash plus the
    * minimum 8-gram hash (winnowing-style), both in exact integer
    * arithmetic so any engine reproduces them bit-for-bit. Length guards
    * matter: Spark's `sequence(1, n)` steps DOWNWARD when n < 1, so an
    * unguarded short/empty text would hash garbage positions instead of
    * yielding NULL like an empty-range engine (e.g. DuckDB `range`). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr(s"""CASE WHEN length(text) < 1 THEN NULL ELSE
                 aggregate(transform(sequence(1, length(text)),
                   i -> cast(ascii(substring(text, i, 1)) AS bigint)),
                 0L, (a, c) -> (a * 31 + c) % $P) END""").as("doc_hash"),
      expr(s"""CASE WHEN length(text) < 8 THEN NULL ELSE
                 array_min(transform(sequence(1, length(text) - 7),
                   i -> aggregate(transform(sequence(0, 7),
                          j -> cast(ascii(substring(text, i + j, 1)) AS bigint)),
                        0L, (a, c) -> (a * 31 + c) % $P))) END""")
        .as("min_8gram_hash"))

  /** Per-language trigram profile: the topK character trigrams of each
    * labeled language by corpus frequency (ties broken by trigram).
    * One wide pass: trigram counts from a typed hot loop (combined
    * within the partition so the shuffle carries partial aggregates,
    * not per-doc rows), one groupBy, topK per language. */
  def langIdProfile(docs: DataFrame, topK: Int = 40): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val gramCounts = graft.engine.ops.Scale
      .spreadForCompute(docs.select(col("lang"), col("text")))
      .as[(String, String)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
        it.foreach { case (lang, text) =>
          var i = 0
          while (i <= text.length - 3) {
            val k = (lang, text.substring(i, i + 3))
            m.update(k, m.getOrElse(k, 0L) + 1L)
            i += 1
          }
        }
        m.iterator.map { case ((l, g), c) => (l, g, c) }
      }.toDF("lang", "gram", "cnt")
    gramCounts.groupBy("lang", "gram")
      .agg(sum(col("cnt")).as("freq"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang")
          .orderBy(desc("freq"), asc("gram"))))
      .filter(col("rk") <= topK)
      .select("lang", "gram")
  }

  /** Fit-once persisted form of [[langIdProfile]] (same artifact
    * family as the dedup keep-list / IVF quantizer): the profile is a
    * property of the labeled corpus, so it is learned ONCE at ingest
    * and every later classify call loads the tiny (langs × topK)
    * relation instead of re-scanning the corpus — at 100 TB the
    * re-scan would cost more than the classification itself. Keyed by
    * dataset tag + content fingerprint so regenerated data refits. */
  def langIdProfileFor(docs: DataFrame, datasetTag: String,
      topK: Int = 40): DataFrame =
    graft.engine.io.Artifacts.table(docs, "graft_lang_profiles", datasetTag,
      "profile", Seq(topK))(langIdProfile(docs, topK).coalesce(1))

  /** Language-ID by character-trigram profile overlap: learn the topK
    * trigrams per labeled language, then classify each document by which
    * profile it overlaps most (integer distinct-trigram overlap, ties
    * broken alphabetically — deterministic, so any engine reproduces
    * the prediction exactly).
    *
    * Scale: the profile table is tiny (langs × topK) and broadcast; the
    * per-document side is one narrow pass. With `datasetTag` the
    * profile comes from the persisted store ([[langIdProfileFor]])
    * instead of a fresh corpus scan. */
  def langIdPredict(docs: DataFrame, topK: Int = 40,
      datasetTag: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val profile = datasetTag match {
      case Some(tag) => langIdProfileFor(docs, tag, topK)
      case None      => langIdProfile(docs, topK)
    }
    // gram -> sorted langs whose profile contains it: tiny (langs × topK)
    val gramLangs: Map[String, Array[String]] = profile.collect()
      .groupBy(_.getString(1))
      .map { case (g, rows) => g -> rows.map(_.getString(0)).sorted }
    val bc = spark.sparkContext.broadcast(gramLangs)
    // Pass 2 (narrow): score each doc against the broadcast profile —
    // no exploded gram rows ever shuffle (the old formulation shuffled
    // every distinct (doc, gram) pair twice). Docs with zero overlap
    // are dropped, matching the previous inner-join semantics.
    graft.engine.ops.Scale
      .spreadForCompute(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val pm = bc.value
        it.flatMap { case (id, text) =>
          val seen = new java.util.HashSet[String]()
          val overlap = new java.util.HashMap[String, Int]()
          var i = 0
          while (i <= text.length - 3) {
            val g = text.substring(i, i + 3)
            if (seen.add(g)) pm.get(g) match {
              case Some(langs) =>
                langs.foreach(l => overlap.merge(l, 1, Integer.sum _))
              case None => ()
            }
            i += 1
          }
          if (overlap.isEmpty) Iterator.empty
          else {
            var bestLang = ""
            var bestN = -1
            overlap.forEach { (l, n) =>
              if (n > bestN || (n == bestN && l < bestLang)) {
                bestLang = l; bestN = n
              }
            }
            Iterator.single((id, bestLang, bestN.toLong))
          }
        }
      }.toDF("doc_id", "predicted_lang", "overlap")
  }

  /** Per (lang, source) profile: doc count, avg length, distinct words. */
  def langProfile(docs: DataFrame): DataFrame = {
    val stats = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
    val words = docs
      .select(col("lang"), col("source"),
        explode(tokens(col("text"))).as("w"))
      .distinct()
      .groupBy("lang", "source").agg(count(lit(1)).as("n_distinct_words"))
    stats.join(words, Seq("lang", "source"))
  }

  /** Content-defined chunking (CDC): variable-size chunks whose
    * boundaries come from the CONTENT (a rolling hash over the last
    * `win` words hitting a divisor), not from fixed offsets. The
    * property fixed-size chunking lacks: inserting one word early in a
    * document only moves boundaries locally, so downstream chunk-hash
    * dedup (dedup_containment/dedup_lines style) still matches the
    * unchanged remainder — the standard trick for dedup robust to
    * edits (rsync/LBFS lineage, used by modern corpus dedup).
    *
    * Fully deterministic integer arithmetic (per-word polynomial char
    * hash mod P, then a `win`-word polynomial window hash mod P,
    * boundary iff window hash ≡ 0 mod `div` — average chunk ≈ `div`
    * words), so any engine reproduces boundaries bit-for-bit.
    *
    * ZERO-SHUFFLE shape: the whole computation is per-document, so it
    * runs as one typed mapPartitions sweep — the exploded-word
    * window/groupBy formulation this replaced moved the corpus through
    * TWO exchanges for what is a sequential per-doc scan; at 100 TB
    * chunking must ride the ingest scan, not shuffle it. */
  def cdcChunks(docs: DataFrame, win: Int = 4, div: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val p = P
    graft.engine.ops.Scale
      .spreadForCompute(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = text.split(" ", -1)
        val n = ws.length
        // per-word polynomial char hash mod P (the oracle's
        // list_reduce order, exactly)
        val h = new Array[Long](n)
        var i = 0
        while (i < n) {
          var a = 0L
          val w = ws(i)
          var j = 0
          while (j < w.length) { a = (a * 31 + w.charAt(j)) % p; j += 1 }
          h(i) = a
          i += 1
        }
        // boundary after word i iff the win-word window hash ending at
        // i is ≡ 0 (mod div); chunk of word i = boundaries before i
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, String, String)]
        var chunkId = 0L
        var start = 0
        var pos = 0
        def emit(end: Int): Unit = { // [start, end) as one chunk
          val textChunk = ws.slice(start, end).mkString(" ")
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(textChunk.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          out += ((id, chunkId, (end - start).toLong, textChunk, md))
          chunkId += 1; start = end
        }
        while (pos < n) {
          if (pos >= win - 1) {
            var g = h(pos - win + 1)
            var j = pos - win + 2
            while (j <= pos) { g = (g * 31 + h(j)) % p; j += 1 }
            if (g % div == 0) emit(pos + 1)
          }
          pos += 1
        }
        if (start < n) emit(n)
        out
      }
      .toDF("doc_id", "chunk_id", "n_words", "chunk_text", "chunk_hash")
  }

  /** Incremental line-level dedup — the continuous-ingest companion of
    * [[lineDedup]] (same move dedup_incremental makes for documents):
    * screen a NEW BATCH's chunks against existing ∪ batch, emitting
    * keep decisions for BATCH docs only. A batch chunk survives iff
    * its (doc_id, pos) is the globally FIRST occurrence of that chunk
    * hash — identical rule to the full dedup, so batch results equal
    * the full run restricted to batch docs (spec-asserted).
    *
    * Scale: the existing side is SEMI-FILTERED to chunk hashes the
    * batch actually contains before any aggregation — the
    * existing×existing quadrant is never aggregated, so incremental
    * cost is Σ df(batch chunks), not a full-corpus re-dedup. (At
    * ingest the existing side's chunk hashes would come from a
    * persisted chunk store rather than a re-chunk; the relation shape
    * is the same.) */
  def lineDedupIncremental(existing: DataFrame, batch: DataFrame,
      nWords: Int = 10): DataFrame = {
    def chunksOf(docs: DataFrame) = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""CASE WHEN size(w) div $nWords < 1 THEN array()
              ELSE transform(sequence(0, size(w) div $nWords - 1),
                i -> md5(array_join(slice(w, i * $nWords + 1, $nWords), ' ')))
              END""")))
      .toDF("doc_id", "pos", "ch")
    val bchunks = chunksOf(batch)
    val bhashes = bchunks.select("ch").distinct()
    // existing occurrences of batch hashes ONLY (left-semi before agg)
    val relevant = chunksOf(existing)
      .join(bhashes, Seq("ch"), "left_semi")
      .unionByName(bchunks)
    val firsts = relevant.groupBy("ch")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val perDoc = bchunks.join(firsts, Seq("ch"))
      .select(col("doc_id"), col("pos"),
        (col("first.doc_id") === col("doc_id") &&
          col("first.pos") === col("pos")).cast("long").as("kept"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum(col("kept")).as("n_kept"))
    batch.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** CCNet-style line-level dedup, EMITTING the line-dedup'd corpus
    * (text_boilerplate only scores repetition; this removes it). The
    * corpus has no newlines, so a "line" is the same unit
    * text_boilerplate fingerprints: a non-overlapping [[nWords]]-word
    * chunk. Every chunk occurrence keeps only the globally FIRST copy
    * — ROW_NUMBER over md5(chunk) ordered by (doc_id, position), the
    * deterministic keep-first rule — and each document is rebuilt from
    * its surviving chunks (plus the always-kept sub-chunk tail).
    *
    * Scale: one chunk-hash exchange for the keep decision and one
    * doc_id exchange for the rebuild — both map-reduce shapes, never
    * all-pairs; the chunk stream is ~corpus-sized, the same volume the
    * boilerplate scorer already moves. */
  def lineDedup(docs: DataFrame, nWords: Int = 10): DataFrame = {
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        expr(s"size(w) div $nWords").cast("long").as("nf"))
    // sequence(0, nf-1) steps DOWNWARD for nf < 1 (house-documented
    // Spark trap) — the CASE guard yields zero chunks instead
    val chunks = base.select(col("doc_id"),
        posexplode(expr(
          s"""CASE WHEN nf < 1 THEN array()
              ELSE transform(sequence(0, nf - 1),
                i -> array_join(slice(w, i * $nWords + 1, $nWords), ' '))
              END""")))
      .toDF("doc_id", "pos", "chunk_text")
    val keepWin = Window.partitionBy(md5(col("chunk_text")))
      .orderBy("doc_id", "pos")
    val keptAgg = chunks
      .withColumn("rn", row_number().over(keepWin))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("""array_join(transform(
                  array_sort(collect_list(struct(pos, chunk_text))),
                  x -> x.chunk_text), ' ')""").as("kept_text"))
    base
      .select(col("doc_id"), col("nf").as("n_chunks"),
        expr(s"array_join(slice(w, nf * $nWords + 1," +
          s" size(w) - nf * $nWords), ' ')").as("tail"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        concat_ws(" ", expr("nullif(kept_text, '')"),
          expr("nullif(tail, '')")).as("text_dedup"))
  }
}
