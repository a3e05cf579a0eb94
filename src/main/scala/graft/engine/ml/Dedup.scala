package graft.engine.ml

import graft.engine.Memo
import graft.engine.io.Artifacts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication verbs for LLM training-data pipelines (SURVEY.md §2.10):
  * exact (content-hash), MinHash+LSH banding, SimHash, and exact n-gram
  * Jaccard — the standard near-dup ladder from cheap/exact to
  * fuzzy/scalable.
  *
  * Scale design (100 TB): signatures are computed in single zero-shuffle
  * projections (one fold over each document — beware Catalyst's
  * CollapseProject: a signature referenced N times from a later
  * projection would be recomputed N times, so each signature is ONE
  * self-contained expression). Candidate generation is always an
  * equi-join on a derived key (digest, band hash, simhash chunk) — never
  * all-pairs. Exact verification runs only on the candidate set, as
  * per-pair array intersections.
  */
object Dedup {

  private val P = 2147483647L // 2^31 - 1; keeps a*h+b within a long

  /** DataFrames cached by the dedup verbs (signatures, gram sets) —
    * reused across the band/prefix and verify joins of ONE query. The
    * query runner (Bench/Verify/test) calls [[unpersistTracked]] after
    * materializing the result so repeated invocations in a long-lived
    * session don't accumulate executor storage. Per thread, so one
    * runner's sweep never frees another runner's caches mid-plan. */
  private val trackedCaches = ThreadLocal.withInitial(() =>
    scala.collection.mutable.ArrayBuffer.empty[DataFrame])

  /** Tracked cache for intermediates reused several times within
    * ONE query invocation (the edge relation of an iterative graph key,
    * a rank map consumed by two joins). MEMORY_AND_DISK, so an
    * oversized relation spills instead of OOMing at scale; released by
    * the runner's existing [[unpersistTracked]] sweep, so nothing
    * persists across queries or runs. */
  def cacheTracked(df: DataFrame): DataFrame = {
    val c = df.cache(); trackedCaches.get += c; c
  }

  def unpersistTracked(): Unit = unpersistTracked(from = 0)

  /** Release this thread's tracked caches from position `from` on. */
  private def unpersistTracked(from: Int): Unit = {
    val tracked = trackedCaches.get
    tracked.drop(from).foreach(df =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () })
    tracked.dropRightInPlace(tracked.length - from)
  }

  /** Count of candidate-bucket ENTRIES dropped by the hot-bucket cap,
    * for the caller's log line — one per SparkContext, the 16 latest. */
  private val droppedAccs =
    new Memo[String, org.apache.spark.util.LongAccumulator](16)

  def droppedBuckets(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.util.LongAccumulator =
    droppedAccs.getOrElseUpdate(spark.sparkContext.applicationId)(
      spark.sparkContext.longAccumulator("graft.dedup.droppedBuckets"))

  /** Hot-bucket cap for candidate self-joins: a degenerate bucket (a
    * band hash shared by thousands of near-empty documents, a ubiquitous
    * prefix token) is O(bucket²) with no bound — the quadratic trapdoor
    * at 100 TB. Standard LSH practice: size each bucket, drop buckets
    * above `maxBucket` (dropped ENTRIES counted in [[droppedBuckets]]).
    * Implemented as an unordered count window over the bucket keys —
    * ONE shuffle, which the downstream self-join (same keys) reuses —
    * rather than a count agg + semi-join (two shuffles of the full
    * assignment set). Singleton buckets are dropped too: a bucket of
    * one can't produce a pair, and on a near-uniform corpus singletons
    * are the bulk of the index. A degenerate bucket becomes one large
    * window partition, which Spark's unbounded window frame spills to
    * disk — survivable, and strictly cheaper than the join that bucket
    * would otherwise explode into. Recall loss from capping is bounded:
    * only pairs whose EVERY shared bucket is degenerate are lost. */
  private def capBuckets(assign: DataFrame, keyCols: Seq[String],
      maxBucket: Int): DataFrame = {
    val acc = droppedBuckets(assign.sparkSession)
    val keep = udf { n: Long =>
      val ok = n <= maxBucket
      if (!ok) acc.add(1L)
      ok
    }.asNondeterministic() // side effect: count dropped entries
    val w = Window.partitionBy(keyCols.map(col): _*)
    // cached: the self-join would otherwise compute the windowed index
    // once per side (the metric udf blocks exchange reuse) — and at
    // scale the capped inverted index is exactly what a set-similarity
    // join materializes once anyway
    cacheTracked(assign.withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") >= 2 && keep(col("bucket_n")))
      .drop("bucket_n"))
  }

  /** Distinct candidate pairs, hash-partitioned by doc_a ONLY. A pair's
    * duplicate emissions come from DIFFERENT band/token partitions
    * (different bucket hash → different shuffle partition), so the
    * map-side partial aggregate under a (doc_a, doc_b)-keyed `distinct`
    * collapses nothing — the k× duplicates cross the wire either way.
    * Clustering by doc_a alone still satisfies the dedup aggregate's
    * required distribution (same (doc_a, doc_b) always co-locate) and
    * is exactly the partitioning the verify join on doc_a needs next,
    * so the same bytes move through ONE exchange instead of two
    * (distinct-by-both-keys + join re-shuffle). Asserted in PlanSpec. */
  private def distinctPairs(pairs: DataFrame): DataFrame =
    pairs.select("doc_a", "doc_b")
      .repartition(col("doc_a"))
      .dropDuplicates(Seq("doc_a", "doc_b"))

  /** Exact dedup: keep the lowest doc_id per md5(text). The window
    * hash-partitions on the digest, so at scale each digest group lands
    * on one reducer — no global sort, no hotspot (digests are uniform). */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("digest").orderBy("doc_id")
    docs.select(col("doc_id"), md5(col("text")).as("digest"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "digest")
  }

  /** Seeded MinHash coefficient pairs (a_i, b_i). */
  private def coeffs(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)(
      (rnd.nextLong().abs % (P - 1) + 1, rnd.nextLong().abs % P))
  }

  /** The seeded affine MinHash coefficients, exposed so the declared
    * oracle SQL can inline the exact same (a, b) stream the engine
    * hashes with — the oracle replicates the full pipeline and must
    * never drift from it. */
  def minhashCoeffs(numHashes: Int = 32,
      seed: Long = 42L): Seq[(Long, Long)] = coeffs(numHashes, seed)

  /** 64-bit FNV-1a over a char window — the shingle hash. */
  private def fnv1a(s: String, from: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    val end = from + len
    while (i < end) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** (doc_id, sh_h, sig) — per-document dedup state: the distinct
    * shingle set as 64-bit hashes (exact Jaccard runs on hashed sets —
    * collisions are irrelevant at any realistic corpus size) and the
    * MinHash signature.
    *
    * Implemented as a typed mapPartitions hot loop — the documented
    * exception to "builtin expressions first": the HOF-expression
    * formulation interprets per element (~12 s for 1.5M shingles at
    * sf0.1) and the explode+groupBy formulation pays a shuffle plus
    * double evaluation; this one JIT-compiled pass costs under a second,
    * stays narrow (no shuffle), and is embarrassingly parallel at any
    * scale. Cached: the band join and both verification joins reuse it. */
  def signatures(docs: DataFrame, numHashes: Int = 32,
      seed: Long = 42L): DataFrame = {
    val cs = coeffs(numHashes, seed)
    val spark = docs.sparkSession
    import spark.implicits._
    graft.engine.ops.Scale
      .spreadForCompute(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val seen = new java.util.HashSet[Long]()
          val n = math.max(text.length - 2, 0)
          val sig = Array.fill(numHashes)(P)
          val shingles = Array.newBuilder[Long]
          var i = 0
          while (i < n) {
            val h = fnv1a(text, i, 3)
            if (seen.add(h)) {
              shingles += h
              val hp = ((h % P) + P) % P
              var k = 0
              while (k < numHashes) {
                val (a, b) = cs(k)
                val v = (a * hp + b) % P
                if (v < sig(k)) sig(k) = v
                k += 1
              }
            }
            i += 1
          }
          val sh = shingles.result()
          java.util.Arrays.sort(sh) // sorted → merge-scan intersection
          (id, sh, sig)
        }
      }
      .toDF("doc_id", "sh_h", "sig")
      .transform(cacheTracked)
  }

  /** LSH banding: split each signature into (bands × rowsPerBand), hash
    * each band, and emit candidate pairs of documents sharing any band
    * hash. The band join is an equi-join on (band_idx, band_hash) —
    * shuffle-partitioned, never all-pairs. Band geometry (4 bands × 8
    * rows) puts the s-curve knee near J ≈ 0.84 — on a high-overlap
    * corpus a looser knee floods the candidate set and verification
    * stops scaling. */
  def lshCandidates(sigs: DataFrame, bands: Int = 4,
      rowsPerBand: Int = 8, numHashes: Int = 32,
      maxBucket: Int = 10000): DataFrame = {
    // a sig shorter than bands*rowsPerBand would slice into short/empty
    // bands whose hashes all collide, flooding the candidate set — fail
    // loudly, statically (the caller knows its signature width; no
    // Spark job for an assertion)
    require(numHashes == bands * rowsPerBand,
      s"lshCandidates: signature length $numHashes != " +
        s"bands*rowsPerBand (${bands * rowsPerBand})")
    candidatePairs(bandedCapped(sigs, bands, rowsPerBand, maxBucket))
  }

  /** The banded, hot-bucket-capped inverted index rows
    * `(doc_id, band_idx, band_hash)` — what a set-similarity join
    * materializes before its self-join. Split out so the tagged path
    * can persist it ([[bandIndexFor]]) instead of recomputing the
    * explode + cap window per query. */
  private def bandedCapped(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame =
    capBuckets(bandExplode(sigs, bands, rowsPerBand),
      Seq("band_idx", "band_hash"), maxBucket)

  /** The raw (doc_id, band_idx, band_hash) inverted-index rows before
    * any cap — shared by [[bandedCapped]] and [[bandAudit]]. */
  private def bandExplode(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"),
      explode(expr(
        s"""transform(sequence(0, ${bands - 1}),
            b -> struct(b AS band_idx,
                        xxhash64(concat_ws(',',
                          slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))
                          AS band_hash))""")).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))

  /** The signatures an audit reads: the stored ones for a tagged
    * dataset ([[minhashStoreFor]]), else a fresh sign pass. */
  private def signaturesFor(docs: DataFrame,
      datasetTag: Option[String]): DataFrame = datasetTag match {
    case Some(tag) => minhashStoreFor(docs, tag)
    case None => signatures(docs)
  }

  /** Band-geometry TUNING audit: for each (bands × rowsPerBand) split
    * of the stored signature, the bucket-entry totals, pairable
    * buckets, and the pair-EMISSION count Σ n·(n−1)/2 — the candidate
    * volume that config would push into verification, computed from
    * bucket sizes alone (index-sized, no pair ever materializes).
    * This is how the s-curve knee is picked BEFORE paying for a run:
    * more bands = looser knee = more candidates. */
  def bandTuning(docs: DataFrame,
      datasetTag: Option[String] = None,
      configs: Seq[(Int, Int)] = Seq((2, 16), (4, 8), (8, 4)))
      : DataFrame = {
    val sigs = signaturesFor(docs, datasetTag)
    configs.map { case (b, r) =>
      bandExplode(sigs, b, r)
        .groupBy("band_idx", "band_hash")
        .agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("entries"),
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("buckets_ge2"),
          sum(expr("n * (n - 1) div 2")).as("pair_emissions"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("entries"), col("buckets_ge2"), col("pair_emissions"))
    }.reduce(_ unionByName _)
  }

  /** Per-band hot-bucket audit — the dedup recall knob SURFACED as a
    * declared relation: for a given cap, how many inverted-index
    * entries a hot-bucket screen at `maxBucket` would drop (bucket
    * size > cap), how many are singletons (can never pair), and how
    * many survive into the candidate self-join. [[capBuckets]] counts
    * drops in a driver-side accumulator nobody queries; THIS is the
    * operational form — at 100 TB a curation run alerts on
    * entries_dropped_cap / entries_total instead of reading logs.
    * Cost: one band explode + one bucket-key aggregate + one band-key
    * aggregate — always index-sized, never pair-sized. */
  def bandAudit(docs: DataFrame, maxBucket: Int,
      datasetTag: Option[String] = None, bands: Int = 4,
      rowsPerBand: Int = 8): DataFrame = {
    bandExplode(signaturesFor(docs, datasetTag), bands, rowsPerBand)
      .groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("n"))
      .groupBy("band_idx")
      .agg(sum(col("n")).as("entries_total"),
        sum(when(col("n") === 1, col("n")).otherwise(0L))
          .as("entries_singleton"),
        sum(when(col("n") > maxBucket, col("n")).otherwise(0L))
          .as("entries_dropped_cap"),
        sum(when(col("n") >= 2 && col("n") <= maxBucket, col("n"))
          .otherwise(0L)).as("entries_kept"))
  }

  /** Candidate pairs from a (possibly stored) capped band index:
    * equi-self-join on the bucket key, each pair emitted once per
    * shared bucket then deduped on a doc_a-only exchange. */
  private def candidatePairs(capped: DataFrame): DataFrame = {
    val a = capped.select(col("doc_id").as("doc_a"),
      col("band_idx"), col("band_hash"))
    val b = capped.select(col("doc_id").as("doc_b"),
      col("band_idx"), col("band_hash"))
    distinctPairs(
      a.join(b, Seq("band_idx", "band_hash"))
        .filter(col("doc_a") < col("doc_b")))
  }

  /** Persisted band index — the second half of the ingest-time LSH
    * artifact pair (signatures + bands): production set-similarity
    * systems store the banded inverted index, not just the signatures,
    * so a near-dup query starts at the self-join. Content-fingerprint
    * keyed like every fit-once store. */
  def bandIndexFor(docs: DataFrame, datasetTag: String,
      numHashes: Int = 32, bands: Int = 4, rowsPerBand: Int = 8,
      maxBucket: Int = 10000, seed: Long = 42L): DataFrame = {
    Artifacts.table(docs, "graft_signatures", datasetTag, "bands",
      Seq(numHashes, bands, rowsPerBand, maxBucket, seed)) {
      bandedCapped(minhashStoreFor(docs, datasetTag, numHashes, seed),
        bands, rowsPerBand, maxBucket)
    }
  }

  /** Exact Jaccard on candidate pairs. Two stages: a MinHash-estimate
    * pre-filter (32 signature comparisons per pair — nearly free) drops
    * the bulk of the candidate flood, then the exact hashed-set
    * intersection runs only on near-threshold survivors. The estimate
    * margin (0.2 below threshold ≈ 3σ of a 32-hash estimator) keeps the
    * extra recall loss negligible. */
  def jaccardVerify(candidates: DataFrame, state: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(state.select(col("doc_id").as("doc_a"),
        col("sh_h").as("sh_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(state.select(col("doc_id").as("doc_b"),
        col("sh_h").as("sh_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .filter(expr(
        """size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))
           / cast(size(sig_a) AS double)""") >= threshold - 0.2)
      .transform(exactJaccard(_, "sh_a", "sh_b", threshold))

  /** The exact-Jaccard tail every verify shares: from each candidate
    * pair's two sorted hashed sets (columns `setA`, `setB`), the
    * merge-scan intersection size, the Jaccard rounded to 4 places,
    * and the `(doc_a, doc_b, jaccard)` rows at or above `threshold`. */
  private def exactJaccard(pairs: DataFrame, setA: String, setB: String,
      threshold: Double): DataFrame = {
    graft.engine.expr.GraftFunctions.ensureRegistered(pairs.sparkSession)
    pairs
      .select(col("doc_a"), col("doc_b"),
        expr(s"graft_intersect_count($setA, $setB)").as("n_common"),
        size(col(setA)).as("sz_a"), size(col(setB)).as("sz_b"))
      // guard the union size: two empty sets would give 0/0 = NaN, and
      // Spark orders NaN above every threshold
      .filter(col("sz_a") + col("sz_b") - col("n_common") > 0)
      .withColumn("jaccard", round(col("n_common") /
        (col("sz_a") + col("sz_b") - col("n_common")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** [[exactJaccard]] of candidate pairs over a bigram-set table
    * `(doc_id, …, g)`: both sides' sets joined in by doc id. */
  private def bigramJaccard(cand: DataFrame, grams: DataFrame,
      threshold: Double): DataFrame =
    exactJaccard(cand
      .join(grams.select(col("doc_id").as("doc_a"), col("g").as("g_a")),
        Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("g").as("g_b")),
        Seq("doc_b")), "g_a", "g_b", threshold)

  /** Persisted MinHash/shingle signature store — the ingest-time-
    * artifact form of [[signatures]] (same pattern as the bigram
    * [[signatureStoreFor]]): sign the corpus once, every later near-dup
    * run reads the stored (shingles, signature) relation instead of
    * re-sweeping the text. */
  def minhashStoreFor(docs: DataFrame, datasetTag: String,
      numHashes: Int = 32, seed: Long = 42L): DataFrame =
    cacheTracked(storedMinhash(docs, datasetTag, numHashes, seed))

  /** The stored signatures of [[minhashStoreFor]], uncached: for a
    * caller that reads them once per plan, where an in-memory copy
    * would cost a pass and buy nothing. */
  private def storedMinhash(docs: DataFrame, datasetTag: String,
      numHashes: Int = 32, seed: Long = 42L): DataFrame =
    Artifacts.table(docs, "graft_signatures", datasetTag, "minhash",
      Seq(numHashes, seed))(signatures(docs, numHashes, seed))

  /** MinHash-LSH near-dup pipeline: shingle → sign → band → verify.
    * With `datasetTag`, the sign pass reads the persisted store. */
  def nearMinHash(docs: DataFrame, threshold: Double = 0.8,
      datasetTag: Option[String] = None): DataFrame = datasetTag match {
    case Some(tag) =>
      // both ingest-time artifacts: stored signatures AND stored band
      // index — the query starts at the candidate self-join
      jaccardVerify(candidatePairs(bandIndexFor(docs, tag)),
        storedMinhash(docs, tag), threshold)
    case None =>
      val state = signatures(docs)
      jaccardVerify(lshCandidates(state), state, threshold)
  }

  /** 64-bit SimHash per document: per-bit ±1 sums of token hashes, sign
    * → bit. Typed mapPartitions hot loop (same rationale as
    * [[signatures]]: the HOF-expression fold interprets 64×tokens ops
    * per document); narrow, no shuffle, JIT-compiled. */
  def simHash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.engine.ops.Scale
      .spreadForCompute(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val counts = new Array[Int](64)
        it.map { case (id, text) =>
          java.util.Arrays.fill(counts, 0)
          text.split(' ').foreach { w =>
            val h = fnv1a(w, 0, w.length)
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
              b += 1
            }
          }
          var sim = 0L
          var b = 0
          while (b < 64) {
            if (counts(b) > 0) sim |= (1L << b)
            b += 1
          }
          (id, sim)
        }
      }.toDF("doc_id", "simhash")
  }

  /** SimHash near-dup: bucket by 16-bit chunks (a pair within Hamming
    * distance 3 must agree on at least one of 4 chunks), then verify
    * Hamming distance on candidates via bit_count(xor). */
  def nearSimHash(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = simHash(docs)
    val chunked = sigs.select(col("doc_id"), col("simhash"),
      explode(expr(
        """transform(sequence(0, 3), c -> struct(c AS chunk_idx,
             (shiftright(simhash, c * 16) & 65535) AS chunk_val))"""))
        .as("ch"))
      .select(col("doc_id"), col("simhash"),
        col("ch.chunk_idx"), col("ch.chunk_val"))
    val a = chunked.select(col("doc_id").as("doc_a"),
      col("simhash").as("sim_a"), col("chunk_idx"), col("chunk_val"))
    val b = chunked.select(col("doc_id").as("doc_b"),
      col("simhash").as("sim_b"), col("chunk_idx"), col("chunk_val"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sim_a ^ sim_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** (doc_id, lang, source, sorted bigram-hash array) — the shared
    * signature relation behind the exact-Jaccard operators. One JIT
    * mapPartitions sweep per document, hash-sorted so merge-scan
    * intersection and prefix slicing are O(|g|). */
  private def bigramSets(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.engine.ops.Scale
      .spreadForCompute(docs.select(col("doc_id"), col("lang"),
        col("source"), col("text")))
      .as[(Long, String, String, String)]
      .mapPartitions { it =>
        it.map { case (id, lang, src, text) =>
          val ws = text.split(' ')
          val seen = new java.util.HashSet[Long]()
          val out = Array.newBuilder[Long]
          var i = 0
          while (i < ws.length - 1) {
            val bg = ws(i) + " " + ws(i + 1)
            val h = fnv1a(bg, 0, bg.length)
            if (seen.add(h)) out += h
            i += 1
          }
          val arr = out.result()
          java.util.Arrays.sort(arr)
          (id, lang, src, arr)
        }
      }.toDF("doc_id", "lang", "source", "g")
  }

  /** Exact word-bigram Jaccard between documents of the same (lang,
    * source) group — the fully-SQL-expressible near-dup variant used for
    * oracle checking (hashing the bigrams changes set sizes by nothing
    * at 64 bits, so the Jaccard values equal the string-set oracle's).
    *
    * Scale design: candidates come from a PREFIX-FILTERED inverted-index
    * equi-join, not all pairs within the group. The prefix filter
    * (SSJoin / the MapReduce set-similarity join of Vernica et al.,
    * SIGMOD'10) is EXACT: Jaccard(A,B) ≥ t implies |A∩B| ≥ t·|A| and
    * ≥ t·|B|, so under any fixed global token order the two prefixes of
    * length |X| − ⌈t·|X|⌉ + 1 must share a token. The order here is the
    * sorted 64-bit bigram hash: zero extra passes, uniform → balanced
    * index. (PPJoin's rarest-first document-frequency order was
    * measured on this corpus at sf0.1: 0.1–2% fewer candidates for 2–3×
    * the wall-clock.) Work is Σ_token df² over prefix tokens only — no
    * O(group²) term — plus the hot-bucket cap (see [[capBuckets]]) as
    * the backstop against a degenerate token, and exact merge-scan
    * Jaccard verifies just the survivors. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      maxBucket: Int = 10000): DataFrame = {
    // reused by the prefix index + verify joins
    val grams = cacheTracked(bigramSets(docs))
    bigramJaccard(ngramCandidates(grams, threshold, maxBucket), grams,
      threshold)
  }

  /** The capped hash-order prefix index of a `(doc_id, lang, source, g)`
    * gram table: one `(lang, source, doc_id, keep…, tok)` row per prefix
    * token, prefix length |g| − ⌈t·|g|⌉ + 1 (see [[ngramJaccardPairs]];
    * the 1e-9 slack absorbs binary rounding of t·|g| — a longer prefix
    * is always safe, a superset). `g` is hash-sorted, so the prefix is
    * its leading slice. */
  private def prefixIndex(grams: DataFrame, threshold: Double,
      maxBucket: Int, keep: String*): DataFrame = {
    val plenSql =
      s"cast(size(g) - ceil($threshold * size(g) - 1e-9) + 1 AS int)"
    val pref = grams.select(
      (Seq("lang", "source", "doc_id") ++ keep).map(col) :+
        explode(expr(s"slice(g, 1, $plenSql)")).as("tok"): _*)
    capBuckets(pref, Seq("lang", "source", "tok"), maxBucket)
  }

  /** Prefix-filtered candidate pairs over a gram table: the
    * [[prefixIndex]] self-joined on (lang, source, tok). */
  private def ngramCandidates(grams: DataFrame, threshold: Double,
      maxBucket: Int): DataFrame = {
    val capped = prefixIndex(grams, threshold, maxBucket)
    distinctPairs(
      capped.select(col("lang"), col("source"),
          col("doc_id").as("doc_a"), col("tok"))
        .join(capped.select(col("lang"), col("source"),
          col("doc_id").as("doc_b"), col("tok")),
          Seq("lang", "source", "tok"))
        .filter(col("doc_a") < col("doc_b")))
  }

  /** Persisted bigram-signature store (same artifact pattern as
    * [[keepListFor]] / the IVF quantizer): the screened corpus's
    * signatures are computed ONCE at ingest and re-read by every later
    * incremental screen — at 100 TB, re-sweeping the corpus per batch
    * would dwarf the batch itself. Keyed by (tag, content fingerprint)
    * so regenerated data re-signs — see
    * [[graft.engine.io.Artifacts.fingerprintOf]]. */
  def signatureStoreFor(docs: DataFrame, datasetTag: String): DataFrame =
    Artifacts.table(docs, "graft_signatures", datasetTag)(bigramSets(docs))

  /** INCREMENTAL near-dup screen — the ingest-time shape: a new batch
    * arrives against an already-screened corpus, and only pairs
    * TOUCHING the batch are generated. The existing×existing quadrant —
    * at 100 TB, ~all of the work a full re-pair would do — never
    * exists: the prefix-index probe side is the batch alone, the index
    * side is batch ∪ existing, so work is Σ_token df_batch·df_all over
    * prefix tokens instead of Σ df_all². Same exact prefix-filter
    * theorem (a qualifying pair shares a prefix token under the global
    * hash order regardless of which side each doc is on), same
    * merge-scan Jaccard verify; emits (doc_a, doc_b, jaccard) with at
    * least one side in the batch. With `existingTag`, the existing
    * side's signatures are the persisted [[signatureStoreFor]] store. */
  def incrementalNearDups(existing: DataFrame, batch: DataFrame,
      threshold: Double, maxBucket: Int = 10000,
      existingTag: Option[String] = None): DataFrame = {
    // (r15 note: caching only the COMPUTED batch signatures and leaving
    // the persisted store's 3 consumers as lazy parquet re-scans was
    // A/B'd — the union cache WINS (2.42/2.54/2.64 s cached vs
    // 2.54/2.58/2.78 batch-only over 3 alternations, flat control):
    // three columnar re-scans plus re-deriving is_new cost more than
    // one in-memory materialization at this scale. Kept as in r14.)
    val existingSigs = existingTag match {
      case Some(tag) => signatureStoreFor(existing, tag)
      case None      => bigramSets(existing)
    }
    val grams = cacheTracked(
      existingSigs.withColumn("is_new", lit(false))
        .unionByName(bigramSets(batch).withColumn("is_new", lit(true))))
    val capped = prefixIndex(grams, threshold, maxBucket, "is_new")
    val probe = capped.filter(col("is_new"))
      .select(col("lang"), col("source"), col("doc_id").as("doc_n"),
        col("tok"))
    val index = capped.select(col("lang"), col("source"),
      col("doc_id").as("doc_o"), col("is_new").as("new_o"), col("tok"))
    val cand = distinctPairs(
      probe.join(index, Seq("lang", "source", "tok"))
        .filter(col("doc_n") =!= col("doc_o"))
        // batch×batch pairs arrive from both probes: keep one orientation
        .filter(!col("new_o") || col("doc_n") < col("doc_o"))
        .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
          greatest(col("doc_n"), col("doc_o")).as("doc_b")))
    bigramJaccard(cand, grams, threshold)
  }

  /** Resolve near-dup PAIRS into the keep-list every real dedup
    * pipeline ends with: connected components over the undirected pair
    * graph, canonical survivor = the component's minimum doc_id.
    * Returns one row per document: (doc_id, keep_id); a document keeps
    * itself iff doc_id = keep_id (docs in no pair are their own
    * component), so the keep-list is `WHERE doc_id = keep_id` and the
    * drop-list its complement.
    *
    * DISTRIBUTED-FIRST, with a small-graph shortcut (the pair graph is
    * orders of magnitude smaller than the corpus — only docs in some
    * near-dup pair appear in it):
    *
    *  - default: distributed min-label propagation with POINTER
    *    HALVING — each round every node takes the minimum label among
    *    itself and its neighbours, then chases one pointer hop
    *    (label := label(label)), so convergence is O(log diameter)
    *    rounds — the property that matters when each round is a full
    *    shuffle over 100 TB of labels. Lineage is truncated per round
    *    with an eager localCheckpoint (reliable checkpoints on a
    *    cluster).
    *  - ≤ `collectThreshold` edges (100k ≈ 1.6 MB): UNION-FIND ON THE
    *    DRIVER (path compression + union-by-min-root, so the tree root
    *    IS the canonical survivor), result broadcast-joined back onto
    *    the corpus — one collect, one broadcast, zero iterative
    *    shuffles. The cap is deliberately SMALL: at 100 TB the default
    *    must be the path whose memory is bounded per-executor, and the
    *    driver shortcut only an optimization for graphs that are
    *    trivially tiny (r5 verdict directive — the old default
    *    inverted this, driver-first under a 5M-edge cap).
    *
    * Both regimes produce the identical fixpoint (component min), so
    * the crossover is purely a cost choice — equality is
    * test-asserted by forcing each path on the same graph. */
  def resolvePairs(pairs: DataFrame, docs: DataFrame,
      maxRounds: Int = 50, collectThreshold: Long = 100000L): DataFrame = {
    val p = cacheTracked(pairs.select(col("doc_a"), col("doc_b")).distinct())
    if (p.count() <= collectThreshold) resolveOnDriver(p, docs)
    else resolveDistributed(p, docs, maxRounds)
  }

  /** Fit-once keep-list (same rationale as the persisted IVF
    * quantizer): near-dup resolution is a curation-time artifact — the
    * component mapping is computed once per (dataset, threshold),
    * persisted under the warehouse, and every later query loads it.
    * The content fingerprint keys the artifact so regenerated data
    * re-resolves. */
  def keepListFor(docs: DataFrame, datasetTag: String,
      threshold: Double): DataFrame = {
    val t = math.round(threshold * 1000)
    // free only what a build caches, once its rows are written: the
    // caller's tracked caches on this thread stay for its own sweep
    val before = trackedCaches.get.length
    try Artifacts.table(docs, "graft_keeplists", datasetTag,
        params = Seq(s"t$t")) {
      resolvePairs(
        ngramJaccardPairs(docs, threshold).select("doc_a", "doc_b"), docs)
    }
    finally unpersistTracked(from = before)
  }

  private def resolveOnDriver(pairs: DataFrame,
      docs: DataFrame): DataFrame = {
    val es = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != r) {
        val next = parent.get(c); parent.put(c, r); c = next
      }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // union by MIN root: the canonical survivor falls out directly
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val roots = es.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .map(x => (x, find(x))).toMap
    val spark = docs.sparkSession
    import spark.implicits._
    val mapping = roots.toSeq.toDF("doc_id", "comp_keep")
    docs.select(col("doc_id"))
      .join(broadcast(mapping), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp_keep"), col("doc_id")).as("keep_id"))
  }

  private def resolveDistributed(pairs: DataFrame, docs: DataFrame,
      maxRounds: Int): DataFrame = {
    val edges = cacheTracked(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"),
          col("doc_a").as("dst")))
        .distinct())
    // every round of the loop below reads the labels: cut them from the
    // docs lineage (a local checkpoint is lost if an executor fails)
    var labels = docs.select(col("doc_id"),
      col("doc_id").as("keep_id")).localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val neigh = edges
        .join(labels.select(col("doc_id").as("src"),
          col("keep_id").as("src_keep")), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("src_keep")).as("neigh_keep"))
      val propagated = labels.join(neigh, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("keep_id"),
            coalesce(col("neigh_keep"), col("keep_id"))).as("keep_id"))
      // pointer halving: follow the label's own label one hop; the
      // checkpoint cuts a lineage that grows each round until
      // convergence (lost if an executor fails)
      val updated = propagated
        .join(propagated.select(col("doc_id").as("keep_id"),
          col("keep_id").as("root_keep")), Seq("keep_id"), "left")
        .select(col("doc_id"),
          coalesce(col("root_keep"), col("keep_id")).as("keep_id"))
        .localCheckpoint(true)
      converged = updated
        .join(labels.select(col("doc_id"), col("keep_id").as("old_keep")),
          Seq("doc_id"))
        .filter(col("keep_id") < col("old_keep"))
        .isEmpty
      labels = updated
    }
    require(converged,
      s"resolvePairs did not converge within $maxRounds rounds")
    labels
  }
}
