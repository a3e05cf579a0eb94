package graft.queries

import graft.Tables._
import graft.queries.Fragments._
import graft.engine.io.Storage
import graft.engine.ops.Conform
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IO roundtrip / partitioned-sink operators (SURVEY.md §2.1). These are
  * the reference's S3-folder CSV/JSONL pipelines re-expressed as
  * schema-declared Spark reads/writes on the Hadoop FS API (file:// here,
  * s3a:// in production — same code path).
  *
  * Each query writes to a deterministic scratch dir then reads back with
  * the declared schema, so the oracle checks the full write→read cycle
  * preserves values. The partitioned sink's read applies partition
  * pruning (only the y=1997 directory is listed).
  */
object IoQueries {

  /** Per-JVM scratch dir: the pid suffix keeps two concurrent sessions
    * (e.g. verify and bench overlapping) from racing each other's
    * write→delete→audit cycles on the same path. */
  private[graft] def scratch(sfDir: String, name: String): String = {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val pid = ProcessHandle.current().pid()
    s"${sys.props("java.io.tmpdir")}/graft_io/p${pid}_${tag}_$name"
  }

  /** The names of a folder's entries, sorted: the last path segment of
    * each [[Storage.listFolder]] path. */
  private def entryNames(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] =
    Storage.listFolder(s, dir).map(p => p.substring(p.lastIndexOf('/') + 1))

  /** The maintain_cluster_rewrite pre-write relation, split out so
    * PlanSpec can pin its physical shape: z-value per row, shard from
    * the bounded zval-histogram cumulative (the only unpartitioned
    * window runs over the ≤2^20-row domain histogram, never the rows),
    * then a HASH exchange on the shard id + in-partition sort. Hash,
    * not repartitionByRange: the shard id is already computed and
    * row-balanced by construction, so range partitioning would only
    * add its boundary-SAMPLING pass over the full relation (measured
    * +0.7 s at sf0.1, and an extra full-data job at any scale) to
    * derive boundaries we already know. Parallelism scales with the
    * shard count (4 here; a 100 TB run sizes shards to target file
    * sizes, thousands of them), and no stage ever sees more than one
    * shard's rows. */
  private[graft] def clusterRewriteSharded(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val z = (0 until 10).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) + " +
        s"(((y >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
    val zed = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        (col("l_partkey") % 1024).as("x"),
        (col("l_suppkey") % 1024).as("y"))
      .withColumn("zval", expr(z))
      .drop("x", "y")
    val hist = zed.groupBy("zval").agg(count(lit(1)).as("cnt"))
    val tot = hist.agg(sum(col("cnt")).as("n"))
    val shards = hist
      .withColumn("cum",
        sum(col("cnt")).over(Window.orderBy("zval")))
      .crossJoin(broadcast(tot))
      .select(col("zval"),
        (expr("(cum - 1) * 4 div n") + 1).cast("long").as("shard"))
    zed.join(broadcast(shards), Seq("zval"))
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "zval", "l_orderkey",
        "l_linenumber")
  }

  val qs: Seq[Q] = Seq(
    // RECURSIVE GLOB-FILTERED SCAN — the data-lake janitorial read: a
    // landing zone mixing parquet data with sidecar junk (JSON
    // manifests here) at several nesting depths, read with
    // recursiveFileLookup + pathGlobFilter so ONLY *.parquet files
    // feed the scan — the file-level filter runs at listing time in
    // the FileIndex (no job touches a json byte), which is the
    // mechanism that keeps a 100 TB landing-zone read from choking on
    // sidecars. The json decoys carry the same schema and WOULD
    // poison the counts if the filter leaked.
    Q("scan_glob_filtered",
      (s, d) => {
        val out = scratch(d, "globscan")
        val o = orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        o.filter(col("o_orderkey") % 2 === 0)
          .write.mode("overwrite").parquet(s"$out/even/deep")
        o.filter(col("o_orderkey") % 2 === 1)
          .write.mode("overwrite").parquet(s"$out/odd")
        // decoys: identical schema, json — must be invisible
        o.limit(100).write.mode("overwrite").json(s"$out/junk")
        s.read
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.parquet")
          .parquet(out)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            round(sum(col("o_totalprice")
              .cast(DecimalType(18, 2))).cast("double"), 2)
              .as("total"))
      },
      """SELECT COUNT(*) AS n_rows,
                CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
                ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS total
         FROM orders"""),

    // SORTED-WRITE STATS AUDIT — the QA pass after a globally-sorted
    // write (the layout maintain_cluster_rewrite and range-bucketed
    // sinks promise): read the files BACK and prove from their
    // contents that per-file key ranges are pairwise DISJOINT — the
    // property that lets a key predicate prune whole files at
    // 100 TB. The write is a 4-way repartitionByRange (here the
    // sampling pass IS the operator under test) + in-partition sort;
    // the audit groups by _metadata.file_path, so it measures the
    // actual files, and the disjointness window runs over the
    // 4-row file-summary relation — bounded by construction.
    Q("sink_sorted_stats",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val out = scratch(d, "sortedstats")
        orders(s, d).select("o_orderkey", "o_totalprice")
          .repartitionByRange(4, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
          .write.mode("overwrite").parquet(out)
        val files = Storage.readParquet(s, out)
          .select(col("o_orderkey"),
            col("_metadata.file_path").as("f"))
          .groupBy("f")
          .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("lo"),
            max(col("o_orderkey")).as("hi"))
        val w = Window.orderBy("lo")
        files
          .withColumn("prev_hi", lag(col("hi"), 1).over(w))
          .agg(count(lit(1)).as("n_files"),
            sum(col("n")).as("n_rows"),
            (sum(when(col("prev_hi").isNotNull &&
              col("prev_hi") >= col("lo"), 1).otherwise(0)) === 0)
              .as("ranges_disjoint"))
      },
      """SELECT CAST(4 AS BIGINT) AS n_files,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                TRUE AS ranges_disjoint
         FROM orders"""),

    // CSV QUOTING/ESCAPING fidelity — the roundtrip that actually
    // breaks parsers: values carrying embedded delimiters, double
    // quotes, newlines, and backslashes. The writer must quote+escape
    // and the reader (multiLine=true — embedded newlines split
    // records otherwise) must restore the EXACT bytes; the oracle
    // derives the same strings directly, no IO — so a hash match
    // proves writer∘reader = identity on the hostile alphabet.
    Q("scan_csv_quoted",
      (s, d) => {
        val out = scratch(d, "csvq")
        val tricky = documents(s, d).select(col("doc_id"),
          concat(lit("a,\"q\"\n"), col("lang"), lit("\\x|"),
            substring(col("text"), 1, 20)).as("s"))
        tricky.write.mode("overwrite").option("header", "true")
          .option("escape", "\"")
          // the WRITER trims field whitespace by default — identity
          // roundtrip needs the bytes kept
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .csv(out)
        s.read.schema("doc_id LONG, s STRING")
          .option("header", "true").option("multiLine", "true")
          .option("escape", "\"").csv(out)
          .orderBy("doc_id")
      },
      """SELECT doc_id,
                'a,"q"' || chr(10) || lang || '\x|' ||
                  substring(text, 1, 20) AS s
         FROM documents ORDER BY doc_id"""),

    Q("scan_csv_roundtrip",
      (s, d) => {
        val out = scratch(d, "csv")
        val slim = Conform.conform(
          lineitem(s, d).filter(col("l_orderkey") < 100),
          Projections.lineitemSlim)
        slim.write.mode("overwrite").option("header", "true").csv(out)
        // read back with the declared (decimal) schema — the roundtrip
        // under test — then emit the decimals as DOUBLE for the comparator
        s.read.schema(Projections.lineitemSlim.schema)
          .option("header", "true").csv(out)
          .withColumn("l_quantity", col("l_quantity").cast("double"))
          .withColumn("l_extendedprice",
            col("l_extendedprice").cast("double"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                CAST(l_linenumber AS BIGINT) AS l_linenumber,
                CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS l_quantity,
                CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
                  AS l_extendedprice,
                CAST(l_shipdate AS DATE) AS l_shipdate,
                CAST(l_returnflag AS VARCHAR) AS l_returnflag
         FROM lineitem WHERE l_orderkey < 100
         ORDER BY l_orderkey, l_linenumber"""),

    Q("scan_jsonl_roundtrip",
      (s, d) => {
        val out = scratch(d, "jsonl")
        val docs = documents(s, d)
        docs.write.mode("overwrite").json(out)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        s.read.schema(schema).json(out)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id"""),

    // binaryFile source: Spark's multimodal ingest format — each file
    // becomes one row of (path, length, content bytes). The roundtrip
    // writes each document's text as its own file named by doc_id, reads
    // the folder back with binaryFile, and checks id/length/byte-checksum
    // against the table — the exact shape an image/audio corpus lands in.
    Q("scan_binaryfile",
      (s, d) => {
        val out = scratch(d, "binfiles")
        val rows = documents(s, d).filter(col("doc_id") < 40)
          .select("doc_id", "text").collect() // bounded: 40 small files
        Storage.deleteFolder(s, out)
        rows.foreach { r =>
          Storage.writeString(s, f"$out/${r.getLong(0)}%06d.bin",
            r.getString(1))
        }
        s.read.format("binaryFile").load(out)
          .select(
            regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
              .cast("long").as("doc_id"),
            col("length"),
            md5(col("content")).as("digest"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
                  AS length,
                md5(text) AS digest
         FROM documents WHERE doc_id < 40 ORDER BY doc_id"""),

    // ORC roundtrip: same write→read cycle as the CSV/JSONL pipelines on
    // Spark's native ORC source — columnar + predicate pushdown, the
    // other big-data format a lake migration encounters besides parquet.
    Q("scan_orc_roundtrip",
      (s, d) => {
        val out = scratch(d, "orc")
        documents(s, d).write.mode("overwrite").orc(out)
        s.read.orc(out)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id"""),

    // Schema evolution: two batches with different schemas land in the
    // same dataset folder; mergeSchema reconciles, older rows get nulls
    // for the new column. The oracle reproduces the union semantics.
    Q("scan_merge_schema",
      (s, d) => {
        val out = scratch(d, "evolve")
        val o = orders(s, d)
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$out/batch=1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus")) // evolved: extra column
          .write.mode("overwrite").parquet(s"$out/batch=2")
        s.read.option("mergeSchema", "true").parquet(out)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_totalprice,
                CAST(NULL AS VARCHAR) AS o_orderstatus
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus
         FROM orders WHERE o_orderkey % 2 = 1
         ORDER BY o_orderkey"""),

    // Dynamic partition overwrite: the idempotent-backfill pattern — a
    // re-run of one partition's batch replaces ONLY that partition, the
    // rest of the dataset is untouched. First write lands all years
    // with a corrupted 1996 (doubled prices); the backfill overwrites
    // y=1996 alone with correct data; the oracle checks the final state
    // equals a clean full write.
    Q("sink_overwrite_dynamic",
      (s, d) => {
        val out = scratch(d, "dynsink")
        graft.engine.Confs.withConf(s,
            "spark.sql.sources.partitionOverwriteMode", "dynamic") {
          val o = orders(s, d).withColumn("y", year(col("o_orderdate")))
            .select("o_orderkey", "o_totalprice", "y")
          o.withColumn("o_totalprice",
              when(col("y") === 1996, col("o_totalprice") * 2)
                .otherwise(col("o_totalprice")))
            .write.mode("overwrite").partitionBy("y").parquet(out)
          o.filter(col("y") === 1996) // backfill: only this partition
            .write.mode("overwrite").partitionBy("y").parquet(out)
          Storage.readParquet(s, out)
            .select(col("o_orderkey"), col("o_totalprice"),
              col("y").cast("int").as("y"))
            .orderBy("o_orderkey")
        }
      },
      """SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS y
         FROM orders ORDER BY o_orderkey"""),

    Q("sink_partitioned",
      (s, d) => {
        val out = scratch(d, "sink")
        orders(s, d)
          .withColumn("y", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("y").parquet(out)
        Storage.readParquet(s, out)
          .filter(col("y") === 1997) // partition pruning: lists y=1997 only
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("y").cast("int").as("y"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS y
         FROM orders WHERE year(o_orderdate) = 1997
         ORDER BY o_orderkey"""),

    // Small-file compaction — THE standing maintenance job of any
    // streaming/incremental lake (a year of micro-batches leaves
    // millions of KB-sized files; scans then pay one open+footer per
    // file). Stage 1 manufactures the problem (64 shards); stage 2
    // compacts with coalesce — a shuffle-FREE narrow repack that only
    // merges co-located shards — and the read back proves content
    // identity. In production the target count comes from
    // bytes/maxPartitionBytes instead of a constant, and the rewrite
    // goes partition-by-partition under a lock or a table format.
    Q("compact_files",
      (s, d) => {
        val small = scratch(d, "compact_small")
        val big = scratch(d, "compact_big")
        events(s, d).select("event_id", "event_type", "value")
          .repartition(64)
          .write.mode("overwrite").parquet(small)
        Storage.readParquet(s, small).coalesce(4)
          .write.mode("overwrite").parquet(big)
        Storage.readParquet(s, big)
          .select("event_id", "event_type", "value")
          .orderBy("event_id")
      },
      """SELECT event_id, event_type, value
         FROM events ORDER BY event_id"""),

    // Plain text-line source — the rawest LLM-corpus ingest format
    // (one document per line). Write "id<TAB>text" lines, read back
    // with spark.read.text, re-split on the first tab. Line files are
    // splittable by newline offset, so a 100 TB text corpus scans with
    // full parallelism; the tab framing survives because document text
    // is tab-free by construction (conformance would enforce that).
    Q("scan_text",
      (s, d) => {
        val out = scratch(d, "textlines")
        documents(s, d)
          .select(concat(col("doc_id").cast("string"), lit("\t"),
            col("text")).as("value"))
          .write.mode("overwrite").text(out)
        val parts = split(col("value"), "\t", 2)
        s.read.text(out)
          .select(parts.getItem(0).cast("bigint").as("doc_id"),
            parts.getItem(1).as("text"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, text FROM documents ORDER BY doc_id"""),

    // Partition retention (vacuum): the other standing lake-maintenance
    // job besides compaction — expire partitions past the retention
    // window by deleting their directories, no rewrite of surviving
    // data. The read back proves partition discovery sees exactly the
    // surviving years; the oracle is the retention predicate itself.
    Q("maintain_retention",
      (s, d) => {
        val out = scratch(d, "retention")
        orders(s, d).withColumn("y", year(col("o_orderdate")))
          .select("o_orderkey", "o_totalprice", "y")
          .write.mode("overwrite").partitionBy("y").parquet(out)
        entryNames(s, out).foreach { name =>
          if (name.startsWith("y=") && name.drop(2).toInt < 1997)
            Storage.deleteFolder(s, s"$out/$name")
        }
        Storage.readParquet(s, out)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("y").cast("int").as("y"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS y
         FROM orders WHERE year(o_orderdate) >= 1997
         ORDER BY o_orderkey"""),

    // VERSION vacuum — the retention policy for table_time_travel's
    // snapshot chain: partition-level retention (maintain_retention)
    // ages out DATA; this ages out VERSIONS. Keep the newest N version
    // directories, delete the rest wholesale (directory unlink — no
    // data pass, the property that matters when each version is a
    // 100 TB snapshot), and prove two things in one relation: exactly
    // the surviving versions remain on disk (n_versions_left) and a
    // reader of each surviving version sees its rows untouched (count
    // + exact-decimal sum vs the construction rule).
    Q("maintain_vacuum",
      (s, d) => {
        val base = scratch(d, "vacuum")
        (1 to 4).foreach { n =>
          orders(s, d).filter(col("o_orderkey") % n === 0)
            .select(col("o_orderkey").as("k"),
              col("o_totalprice").as("v"))
            .write.mode("overwrite").parquet(s"$base/v=$n")
        }
        def versions = entryNames(s, base).filter(_.startsWith("v="))
          .map(_.drop(2).toInt).sorted
        versions.dropRight(2)
          .foreach(n => Storage.deleteFolder(s, s"$base/v=$n"))
        val left = versions.size
        def audit(n: Int) =
          Storage.readParquet(s, s"$base/v=$n")
            .agg(count(lit(1)).as("n_rows"), dsum(col("v"), 2).as("total"))
            .select(lit(n).as("version"), col("n_rows"), col("total"),
              lit(left).as("n_versions_left"))
        audit(3).unionByName(audit(4)).orderBy("version")
      },
      """SELECT 3 AS version, COUNT(*) AS n_rows,
                ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS total,
                2 AS n_versions_left
         FROM orders WHERE o_orderkey % 3 = 0
         UNION ALL
         SELECT 4, COUNT(*),
                ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2), 2
         FROM orders WHERE o_orderkey % 4 = 0
         ORDER BY version"""),

    // Schema-evolution WRITE path — the missing half of
    // scan_merge_schema's read-side merge: evolve a STORED table in
    // place. The old file generation is conform-rewritten to the v2
    // metadata (the new column backfilled as a TYPED null) and swapped
    // in atomically (stage + rename — the same move Artifacts.fitOnce
    // makes); the new writer generation appends rows that carry the
    // column; the evolved table then reads BY NAME through the catalog
    // with one schema across both generations. At 100 TB the rewrite
    // half runs partition-by-partition (it is a pure projection — scan
    // speed, no shuffle); the read-by-name half is free immediately
    // because parquet binds columns by name, old files just project
    // the null.
    Q("evolve_add_column",
      (s, d) => {
        import graft.engine.catalog.Catalog
        import graft.engine.meta.{ColumnMeta, TableMeta}
        val out = scratch(d, "evolve")
        val v2 = TableMeta("graft_orders_evolved", Seq(
          ColumnMeta("o_orderkey", "long"),
          ColumnMeta("o_totalprice", "double"),
          ColumnMeta("band", "character")))
        // generation 1: the table as originally written — no band
        orders(s, d).filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(out)
        // EVOLVE: conform-rewrite the stored generation to v2 (typed
        // null backfill), atomically swap the staged rewrite in
        val staged = out + ".stage"
        Conform.conformLenient(Storage.readParquet(s, out), v2)
          .write.mode("overwrite").parquet(staged)
        Storage.deleteFolder(s, out)
        Storage.moveFolder(s, staged, out)
        // generation 2: the evolved writer appends rows WITH the column
        orders(s, d).filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            when(col("o_totalprice") > 200000.0, "hi").otherwise("lo")
              .as("band"))
          .write.mode("append").parquet(out)
        // read back BY NAME through the catalog under the v2 schema
        Catalog.dropExternal(s, v2.name)
        Catalog.registerExternal(s, v2, out)
        s.table(v2.name).orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS band
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_totalprice,
                CASE WHEN o_totalprice > 200000.0 THEN 'hi' ELSE 'lo' END
         FROM orders WHERE o_orderkey % 2 = 1
         ORDER BY o_orderkey"""),

    // Plain-file time travel: snapshots are version directories
    // (v=1, v=2, …) — the Hive-era pattern table formats industrialized.
    // Write v1, derive v2 by keyed upsert, then read BOTH versions back
    // (AS OF = pick the version directory; current = max version) and
    // emit each version's audit row. At 100 TB v2 would share unchanged
    // files via manifests (what Iceberg/Delta add); the directory form
    // keeps the semantics — historical reads are never torn by later
    // writes — with zero table-format machinery.
    Q("table_time_travel",
      (s, d) => {
        val base = scratch(d, "timetravel")
        def dec = col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))
        val v1 = orders(s, d).filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
        v1.write.mode("overwrite").parquet(s"$base/v=1")
        val v2 = v1.withColumn("v",
          when(col("k") % 10 === 0,
            (col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
              lit(new java.math.BigDecimal("1.10"))).cast("double"))
            .otherwise(col("v")))
        v2.write.mode("overwrite").parquet(s"$base/v=2")
        // sum at scale 4, not 2: the upserted values are exact
        // 4-decimal quantities stored as double, so both engines cast
        // them to DECIMAL(18,4) identically — a scale-2 recast would
        // hit the HALF_UP (Spark) vs half-even (DuckDB) split on .005
        def audit(version: Int) =
          Storage.readParquet(s, s"$base/v=$version")
            .agg(count(lit(1)).as("n_rows"),
              round(sum(col("v").cast(
                org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast("double"), 2).as("total"))
            .select(lit(version).as("version"), col("n_rows"), col("total"))
        audit(1).unionByName(audit(2)).orderBy("version")
      },
      s"""WITH $UpsertChainCte
         SELECT 1 AS version, COUNT(*) AS n_rows,
                ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
                  AS total
         FROM v1
         UNION ALL
         SELECT 2, COUNT(*),
                ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
         FROM v2
         ORDER BY version"""),

    // Optimistic COMMIT-LOG time travel — the concurrent-writer story
    // the plain v=N directory scheme (table_time_travel) lacks: every
    // snapshot lands by staging data fully, then atomically claiming
    // the next monotonic version file; a losing writer re-derives
    // against the winner's snapshot and retries (loser-retries — the
    // two-writer race itself is ScalaTest-proved in CommitLogSpec;
    // this key proves the log is READABLE AS DATA and that version
    // resolution through the log reproduces each snapshot exactly).
    // Three serial commits: the initial snapshot, a keyed upsert
    // derived AS OF v1, a keyed delete derived AS OF v2 — each
    // version's audit row (count + decimal-exact sum) must match the
    // oracle's replay of the same derivation chain.
    Q("table_commit_log",
      (s, d) => {
        import graft.engine.io.CommitLog
        val root = commitLogChain(s, d, "commitlog")
        val audits = CommitLog.commits(s, root).map { c =>
          CommitLog.readVersion(s, root, c.version)
            .agg(count(lit(1)).as("n_rows"),
              round(sum(col("v").cast(DecimalType(18, 4)))
                .cast("double"), 2).as("total"))
            .select(lit(c.version).as("version"),
              lit(c.action).as("action"),
              lit(c.baseVersion).as("base_version"),
              col("n_rows"), col("total"))
        }
        audits.reduce(_ unionByName _).orderBy("version")
      },
      s"""WITH $UpsertChainCte,
         v3 AS (SELECT * FROM v2 WHERE k % 100 <> 0)
         SELECT 1 AS version, 'snapshot' AS action, 0 AS base_version,
                COUNT(*) AS n_rows,
                ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
                  AS total
         FROM v1
         UNION ALL
         SELECT 2, 'upsert', 1, COUNT(*),
                ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
         FROM v2
         UNION ALL
         SELECT 3, 'delete', 2, COUNT(*),
                ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
         FROM v3
         ORDER BY version"""),

    // Sharded JSONL export + manifest — the corpus-assembly EXIT step:
    // the curated table leaves as deterministic-shard JSONL (what a
    // tokenizer fleet consumes), partitioned by a doc_id hash so any
    // shard re-exports reproducibly, plus the per-shard manifest
    // (counts + id range) a downstream loader validates against. The
    // read-back proves the export is lossless.
    Q("export_jsonl_sharded",
      (s, d) => {
        val out = scratch(d, "jsonl_shards")
        documents(s, d).select(col("doc_id"), col("lang"), col("text"))
          .withColumn("shard", pmod(col("doc_id"), lit(8)).cast("int"))
          .write.mode("overwrite").partitionBy("shard").json(out)
        s.read.schema(
            "doc_id BIGINT, lang STRING, text STRING, shard INT")
          .json(out)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
            sum(length(col("text"))).as("n_chars"))
          .orderBy("shard")
      },
      """SELECT CAST(doc_id % 8 AS INT) AS shard, COUNT(*) AS n_docs,
                MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
                CAST(SUM(length(text)) AS BIGINT) AS n_chars
         FROM documents GROUP BY 1 ORDER BY 1"""),

    // PERMISSIVE malformed-record handling: a dirty CSV (every 7th row
    // gets an unparseable key) reads without failing the job — bad rows
    // land in the _corrupt_record column, good rows parse. The summary
    // proves the split is exact: corrupt count, parsed count, and the
    // decimal-exact price sum over ONLY the parsed rows. The oracle
    // recomputes all three from the construction rule — the CSV write
    // and permissive read must lose nothing and leak nothing.
    Q("scan_csv_malformed",
      (s, d) => {
        val out = scratch(d, "badcsv")
        orders(s, d).select(
          concat(
            when(col("o_orderkey") % 7 === 0,
              concat(lit("bad"), col("o_orderkey").cast("string")))
              .otherwise(col("o_orderkey").cast("string")),
            lit(","), col("o_totalprice").cast("string")).as("value"))
          .write.mode("overwrite").text(out)
        val schema = StructType(Seq(
          StructField("k", LongType), StructField("price", DoubleType),
          StructField("_corrupt_record", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(out)
          // count(k) is load-bearing beyond the metric: corrupt-record
          // detection only runs over the columns the query references
          // (requiredSchema pruning) — without touching k, the bad keys
          // are never parsed and nothing is flagged corrupt
          .agg(
            count(when(col("_corrupt_record").isNotNull, 1))
              .as("n_corrupt"),
            count(when(col("_corrupt_record").isNull, 1)).as("n_parsed"),
            count(col("k")).as("n_valid_keys"),
            dsum(when(col("_corrupt_record").isNull, col("price")), 2)
              .as("parsed_price_sum"))
      },
      """SELECT COUNT(CASE WHEN o_orderkey % 7 = 0 THEN 1 END)
                  AS n_corrupt,
                COUNT(CASE WHEN o_orderkey % 7 <> 0 THEN 1 END)
                  AS n_parsed,
                COUNT(CASE WHEN o_orderkey % 7 <> 0 THEN 1 END)
                  AS n_valid_keys,
                ROUND(CAST(SUM(CASE WHEN o_orderkey % 7 <> 0
                        THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                      AS DOUBLE), 2) AS parsed_price_sum
         FROM orders"""),

    // Change-data-feed read over the commit log: the incremental-
    // consumer surface. Three committed versions (snapshot → upsert →
    // delete), then `CommitLog.changes(1, 3)` emits the row-level delta
    // a downstream job re-processes — update pre+post images, deletes —
    // each stamped with the commit version that introduced it, resolved
    // through the log (never by directory listing). Per version step
    // the diff is ONE full-outer sort-merge join on the key; at 100 TB
    // a writer persists this join's output at commit time and consumers
    // skip the diff entirely — same output contract either way. The
    // oracle replays the construction: v2 updates every k%10 row
    // (both images), v3 deletes every k%100 row at its UPDATED value
    // (k%100=0 ⊂ k%10=0).
    Q("table_changes",
      (s, d) => {
        import graft.engine.io.CommitLog
        val root = commitLogChain(s, d, "cdf")
        CommitLog.changes(s, root, 1, 3, Seq("k"))
          .orderBy("_commit_version", "_change_type", "k")
      },
      s"""WITH $UpsertChainCte
         SELECT k, v, _change_type, _commit_version FROM (
           SELECT k, v, 'update_preimage' AS _change_type,
                  2 AS _commit_version
           FROM v1 WHERE k % 10 = 0
           UNION ALL
           SELECT k, v, 'update_postimage', 2 FROM v2 WHERE k % 10 = 0
           UNION ALL
           SELECT k, v, 'delete', 3 FROM v2 WHERE k % 100 = 0)
         ORDER BY _commit_version, _change_type, k"""),

    // The _metadata FILE-PROVENANCE column — every parquet scan can
    // ask WHERE each row physically came from (file, position) with
    // no user bookkeeping: the debugging/lineage surface behind
    // "which file holds the poison row". row_index is pinned against
    // construction truth by writing the table SORTED into one file,
    // so physical position must equal rank — any reader reordering
    // or split would break the hash.
    Q("scan_row_index",
      (s, d) => {
        val out = scratch(d, "rowidx")
        orders(s, d).filter(col("o_orderkey") < 1000)
          .select("o_orderkey", "o_orderstatus")
          .orderBy("o_orderkey").coalesce(1)
          .write.mode("overwrite").parquet(out)
        Storage.readParquet(s, out)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("_metadata.row_index").as("row_index"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_orderstatus,
                ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_index
         FROM orders WHERE o_orderkey < 1000
         ORDER BY o_orderkey"""),

    // ZSTD-compressed parquet roundtrip — codec coverage beyond the
    // snappy default: zstd is the 100 TB archival choice (2-3× denser
    // than snappy at comparable scan speed since parquet-mr 1.12 /
    // Spark 3.2), and the write option must survive a full
    // write→footer→read cycle with bit-identical values. The audit
    // also proves the files really are zstd (footer-declared codec
    // read via the parquet footer, not assumed from the option).
    Q("sink_zstd",
      (s, d) => {
        val out = scratch(d, "zstd")
        lineitem(s, d).filter(col("l_orderkey") < 1000)
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "l_returnflag")
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(out)
        val files = entryNames(s, out).filter(_.endsWith(".parquet"))
        require(files.nonEmpty && files.forall(_.contains(".zstd.")),
          s"expected zstd parquet files, found: ${files.mkString(",")}")
        Storage.readParquet(s, out)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            dsum(col("l_quantity"), 2).as("qty"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(*) AS n,
                ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS qty
         FROM lineitem WHERE l_orderkey < 1000
         GROUP BY 1 ORDER BY l_returnflag"""),

    // Export with a written MANIFEST — the production handoff contract
    // (Athena/Redshift UNLOAD's manifest, a training-data drop's
    // index.json): the exporter writes the sharded data AND a machine-
    // readable manifest (per shard: file count, row count, an
    // ORDER-INDEPENDENT content checksum — the recon_tables commutative
    // digest device, layout-invariant at any parallelism), then the
    // DECLARED relation is the manifest file READ BACK — so the oracle
    // hash-checks what a downstream consumer would actually validate
    // against, recomputed from construction truth. Checksums fold
    // md5-ints mod 1e9+7 (bounded for any corpus size, same device as
    // shuffle_shards).
    Q("export_manifest",
      (s, d) => {
        val out = scratch(d, "manifest_export")
        val p = 1000000007L
        documents(s, d).select(col("doc_id"), col("lang"), col("text"))
          .withColumn("shard", pmod(col("doc_id"), lit(4)).cast("int"))
          .repartition(4, col("shard"))
          .write.mode("overwrite").partitionBy("shard").json(s"$out/data")
        val back = s.read
          .schema("doc_id BIGINT, lang STRING, text STRING, shard INT")
          .json(s"$out/data")
        val manifest = back.groupBy("shard")
          .agg(count(lit(1)).as("n_rows"),
            (sum(conv(substring(md5(concat(col("doc_id").cast("string"),
              lit("|"), col("text"))), 1, 15), 16, 10).cast("long") % p)
              % p).as("checksum"))
          .withColumn("n_files", lit(1L))
        manifest.coalesce(1).write.mode("overwrite")
          .json(s"$out/_manifest")
        // per-shard file count audited off the real directory listing —
        // the repartition(shard) pins one file per shard dir
        entryNames(s, s"$out/data").filter(_.startsWith("shard="))
          .map(shard => s"$out/data/$shard").foreach { dir =>
            val n = entryNames(s, dir).count(_.endsWith(".json"))
            require(n == 1, s"expected 1 file in $dir, found $n")
          }
        // the listed part files, not the directory (Spark would log the
        // `_manifest` root as a hidden path) nor a glob (Spark would log
        // that it names no metadata directory)
        s.read.schema("shard INT, n_rows BIGINT, checksum BIGINT, " +
            "n_files BIGINT")
          .json(Storage.listFiles(s, s"$out/_manifest")
            .filter(_.endsWith(".json")): _*)
          .select("shard", "n_files", "n_rows", "checksum")
          .orderBy("shard")
      },
      """SELECT CAST(doc_id % 4 AS INT) AS shard,
                CAST(1 AS BIGINT) AS n_files,
                COUNT(*) AS n_rows,
                CAST(SUM(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                    || '|' || text), 1, 15)) AS BIGINT) % 1000000007)
                  % 1000000007 AS BIGINT) AS checksum
         FROM documents GROUP BY 1 ORDER BY 1"""),

    // PARTITION-SCHEME EVOLUTION through the commit log — the lake
    // migration nobody can do in-place (Hive tables freeze their
    // partition columns at creation): v1 lays the table out by year,
    // v2 REWRITES the same rows year/month (finer pruning as the
    // table grows), v3 appends under the new scheme. Because readers
    // resolve snapshots through the log, a layout change is just
    // another commit — every version answers the same query
    // identically, and the audit proves both the content (rows +
    // decimal sum) and the LAYOUT (leaf partition-directory count:
    // |years| → |year×month|) per version. The oracle recomputes both
    // from construction — directory counts are distinct-count
    // queries. At 100 TB this is how partition evolution ships:
    // rewrite once under the new scheme, cut over atomically via the
    // commit, old readers keep their version.
    Q("table_partition_evolution",
      (s, d) => {
        import graft.engine.io.CommitLog
        val root = scratch(d, "partevo")
        Storage.deleteFolder(s, root)
        CommitLog.init(s, root)
        val cut = lit("1997-01-01").cast("timestamp")
        val early = orders(s, d).filter(col("o_orderdate") < cut)
        // r14 (guide §6): cluster each write by its partition columns —
        // un-clustered, every input task opened a file in every leaf
        // dir (tasks × ~60 ym dirs of tiny files per commit, re-read by
        // the NEXT commit and the audits); clustered, a leaf dir is one
        // right-sized file (maxRecordsPerFile caps a hot month at scale)
        val mrf = 5000000
        CommitLog.commit(s, root, "layout_y") { (dir, _) =>
          early.select(col("o_orderkey").as("k"),
            col("o_totalprice").as("v"),
            year(col("o_orderdate")).as("y"),
            month(col("o_orderdate")).as("m"))
            // (r15 note: clustering this write by (y, m) instead of y —
            // ~5 distinct years hash into ~2 populated tasks, the guide
            // §2.5 few-distinct-keys trap, 804 ms write stage in the
            // profile — was A/B'd and measured FLAT-to-slower
            // (2.60/2.72/2.71 y-only vs 2.85/2.71/2.78 s (y,m) over 3
            // alternations, flat control): the 12× extra files per leaf
            // cost the three audit re-reads what the write parallelism
            // saved. y-only kept — also the fewer-files 100 TB layout.)
            .repartition(col("y"))
            .write.option("maxRecordsPerFile", mrf)
            .partitionBy("y").parquet(dir)
        }
        CommitLog.commit(s, root, "relayout_ym") { (dir, baseV) =>
          CommitLog.readVersion(s, root, baseV)
            .repartition(col("y"), col("m"))
            .write.option("maxRecordsPerFile", mrf)
            .partitionBy("y", "m").parquet(dir)
        }
        CommitLog.commit(s, root, "append_ym") { (dir, baseV) =>
          CommitLog.readVersion(s, root, baseV)
            .unionByName(orders(s, d).filter(col("o_orderdate") >= cut)
              .select(col("o_orderkey").as("k"),
                col("o_totalprice").as("v"),
                year(col("o_orderdate")).as("y"),
                month(col("o_orderdate")).as("m")))
            .repartition(col("y"), col("m"))
            .write.option("maxRecordsPerFile", mrf)
            .partitionBy("y", "m").parquet(dir)
        }
        // every leaf directory a partitioned write makes holds a data
        // file, so the leaves are the data files' distinct parents
        def leafDirs(dir: String): Long = Storage.listFiles(s, dir)
          .filter(_.endsWith(".parquet"))
          .map(f => f.substring(0, f.lastIndexOf('/'))).distinct.size
        val audits = CommitLog.commits(s, root).map { c =>
          val dataPath = s"$root/${c.dataDir}"
          CommitLog.readVersion(s, root, c.version)
            .agg(count(lit(1)).as("n_rows"),
              round(sum(col("v").cast(DecimalType(18, 4)))
                .cast("double"), 2).as("total"))
            .select(lit(c.version).as("version"),
              lit(c.action).as("action"), col("n_rows"),
              lit(leafDirs(dataPath)).as("n_leaf_dirs"), col("total"))
        }
        audits.reduce(_ unionByName _).orderBy("version")
      },
      """WITH early AS (
           SELECT o_orderkey AS k, o_totalprice AS v,
                  year(o_orderdate) AS y, month(o_orderdate) AS m
           FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
         full_t AS (
           SELECT o_orderkey AS k, o_totalprice AS v,
                  year(o_orderdate) AS y, month(o_orderdate) AS m
           FROM orders)
         SELECT version, action, n_rows, n_leaf_dirs, total FROM (
           SELECT 1 AS version, 'layout_y' AS action,
                  COUNT(*) AS n_rows,
                  COUNT(DISTINCT y) AS n_leaf_dirs,
                  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
                    AS total
           FROM early
           UNION ALL
           SELECT 2, 'relayout_ym', COUNT(*),
                  COUNT(DISTINCT (y, m)),
                  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
           FROM early
           UNION ALL
           SELECT 3, 'append_ym', COUNT(*),
                  COUNT(DISTINCT (y, m)),
                  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
           FROM full_t)
         ORDER BY version"""),

    // SHALLOW CLONE (Delta CLONE): fork a table at a version WITHOUT
    // copying data — the clone's first commit references the source
    // snapshot absolutely (O(1) metadata at any table size; the dev/
    // test-against-prod and what-if-migration primitive), then both
    // logs evolve independently: the source deletes rows, the clone
    // inserts, and neither sees the other's change. The declared
    // relation audits every version of BOTH tables through their logs;
    // the clone's base version hash-equals the source version it
    // forked (rows are the proof no bytes were copied wrong), and the
    // divergent heads differ. Clone-side vacuum can never reap shared
    // source files (absolute refs never match the clone's own data/
    // listing — CommitLogSpec pins the metadata-only property).
    Q("table_clone",
      (s, d) => {
        import graft.engine.io.CommitLog
        val srcRoot = scratch(d, "clone_src")
        val dstRoot = scratch(d, "clone_dst")
        Storage.deleteFolder(s, srcRoot)
        Storage.deleteFolder(s, dstRoot)
        CommitLog.init(s, srcRoot)
        CommitLog.commit(s, srcRoot, "snapshot") { (dir, _) =>
          orders(s, d).filter(col("o_orderkey") % 3 === 0)
            .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
            .write.parquet(dir)
        }
        CommitLog.commit(s, srcRoot, "update") { (dir, base) =>
          CommitLog.readVersion(s, srcRoot, base).withColumn("v",
            when(col("k") % 9 === 0,
              (col("v").cast(DecimalType(18, 2)) *
                lit(new java.math.BigDecimal("1.05"))).cast("double"))
              .otherwise(col("v")))
            .write.parquet(dir)
        }
        CommitLog.cloneTable(s, srcRoot, dstRoot, 2)
        // divergence: source deletes, clone inserts — independent logs
        CommitLog.commit(s, srcRoot, "delete") { (dir, base) =>
          CommitLog.readVersion(s, srcRoot, base)
            .filter(col("k") % 27 =!= 0).write.parquet(dir)
        }
        CommitLog.commit(s, dstRoot, "insert") { (dir, base) =>
          CommitLog.readVersion(s, dstRoot, base)
            .unionByName(orders(s, d)
              .filter(col("o_orderkey") % 1000 === 0 &&
                col("o_orderkey") > 0)
              .select((-col("o_orderkey")).as("k"),
                col("o_totalprice").as("v")))
            .write.parquet(dir)
        }
        def audit(tbl: String, root: String) =
          CommitLog.commits(s, root).map { c =>
            CommitLog.readVersion(s, root, c.version)
              .agg(count(lit(1)).as("n_rows"),
                round(sum(col("v").cast(DecimalType(18, 4)))
                  .cast("double"), 2).as("total"))
              .select(lit(tbl).as("tbl"), lit(c.version).as("version"),
                lit(c.action).as("action"), col("n_rows"), col("total"))
          }
        (audit("src", srcRoot) ++ audit("clone", dstRoot))
          .reduce(_ unionByName _).orderBy("tbl", "version")
      },
      """WITH v1 AS (
           SELECT o_orderkey AS k, o_totalprice AS v FROM orders
           WHERE o_orderkey % 3 = 0),
         v2 AS (
           SELECT k, CASE WHEN k % 9 = 0
                  THEN CAST(CAST(v AS DECIMAL(18,2)) *
                       CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE)
                  ELSE v END AS v
           FROM v1),
         v3 AS (SELECT * FROM v2 WHERE k % 27 <> 0),
         c2 AS (
           SELECT * FROM v2
           UNION ALL
           SELECT -o_orderkey AS k, o_totalprice AS v FROM orders
           WHERE o_orderkey % 1000 = 0 AND o_orderkey > 0)
         SELECT tbl, version, action, n_rows, total FROM (
           SELECT 'src' AS tbl, 1 AS version, 'snapshot' AS action,
                  COUNT(*) AS n_rows,
                  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
                    AS total
           FROM v1
           UNION ALL
           SELECT 'src', 2, 'update', COUNT(*),
                  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
           FROM v2
           UNION ALL
           SELECT 'src', 3, 'delete', COUNT(*),
                  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
           FROM v3
           UNION ALL
           SELECT 'clone', 1, 'clone', COUNT(*),
                  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
           FROM v2
           UNION ALL
           SELECT 'clone', 2, 'insert', COUNT(*),
                  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
           FROM c2)
         ORDER BY tbl, version"""),

    // CDF-DRIVEN incremental view maintenance — the reason the change
    // feed exists: a downstream per-group aggregate (count + decimal
    // sum per k%5) is maintained by folding ONLY the change rows onto
    // the initial-load state — inserts/post-images add, deletes/
    // pre-images subtract; the head snapshot is NEVER rescanned after
    // v1. The oracle aggregates the head directly, so the merge
    // algebra (state + Σ±delta = head) is hash-proved exact. At
    // 100 TB this is the materialized-view refresh pattern: work
    // scales with the delta, not the table (the agg_incremental
    // discipline composed with table_changes).
    Q("stream_cdf_consume",
      (s, d) => {
        import graft.engine.io.CommitLog
        val root = commitLogChain(s, d, "cdfview")
        val sign = when(col("_change_type").isin("insert",
          "update_postimage"), 1).otherwise(-1)
        val deltas = CommitLog.changes(s, root, 1, 3, Seq("k"))
          .select((col("k") % 5).as("g"),
            sign.cast("long").as("cnt"),
            (col("v").cast(DecimalType(18, 4)) * sign).as("dv"))
        val initial = CommitLog.readVersion(s, root, 1)
          .select((col("k") % 5).as("g"), lit(1L).as("cnt"),
            col("v").cast(DecimalType(18, 4)).as("dv"))
        initial.unionByName(deltas)
          .groupBy("g")
          .agg(sum(col("cnt")).as("n"),
            round(sum(col("dv")).cast("double"), 2).as("total"))
          .orderBy("g")
      },
      // the head snapshot aggregated DIRECTLY — the maintained state
      // must be indistinguishable from it
      s"""WITH $UpsertChainCte,
         v3 AS (SELECT * FROM v2 WHERE k % 100 <> 0)
         SELECT k % 5 AS g, COUNT(*) AS n,
                ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2)
                  AS total
         FROM v3 GROUP BY 1 ORDER BY g"""),

    // OPTIMIZE ... ZORDER BY — the clustering REWRITE (compact_files
    // re-packs, this re-ORDERS): rows are laid out along the 2-D Morton
    // curve over (partkey, suppkey) and written as range shards, so
    // every shard's min/max box is tight in BOTH dims and a 2-D range
    // predicate prunes whole files at 100 TB. Shard boundaries come
    // from the zval HISTOGRAM, not a global-sort NTILE: the z-domain is
    // ≤ 2^20 values BY CONSTRUCTION (both dims mod 1024), so the
    // cumulative-count window runs over a bounded domain-sized
    // relation regardless of table size, never over the rows — and the
    // shard map broadcasts back. shard = ((cum−1)·4) div n + 1 in
    // exact integer arithmetic: a zval's rows never split across
    // shards (file boxes stay disjoint in z), the oracle replays the
    // identical formula. The physical write hash-exchanges on the
    // shard id (already computed and row-balanced — range
    // partitioning would only add its boundary-sampling pass) +
    // sortWithinPartitions(shard, zval), NO single-task stage, then
    // partitionBy(shard); the read-back audit proves per-shard box
    // bounds + row counts off the REWRITTEN files, not the source.
    Q("maintain_cluster_rewrite",
      (s, d) => {
        val out = scratch(d, "zrewrite")
        clusterRewriteSharded(s, d)
          .write.mode("overwrite").partitionBy("shard")
          .option("maxRecordsPerFile", 2000000).parquet(out)
        Storage.readParquet(s, out)
          // partition-dir values re-infer as INT; restore the BIGINT
          // the oracle's NTILE emits
          .withColumn("shard", col("shard").cast("long"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_partkey")).as("pk_min"),
            max(col("l_partkey")).as("pk_max"),
            min(col("l_suppkey")).as("sk_min"),
            max(col("l_suppkey")).as("sk_max"),
            min(col("zval")).as("z_min"), max(col("zval")).as("z_max"))
          .orderBy("shard")
      }, {
        val z = (0 until 10).map(i =>
          s"(((x >> $i) & 1) << ${2 * i}) + " +
            s"(((y >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
        s"""WITH zed AS (
              SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                     $z AS zval
              FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                           l_partkey % 1024 AS x, l_suppkey % 1024 AS y
                    FROM lineitem)),
            hist AS (SELECT zval, COUNT(*) AS cnt FROM zed GROUP BY zval),
            cum AS (
              SELECT zval, SUM(cnt) OVER (ORDER BY zval) AS cum
              FROM hist),
            tot AS (SELECT COUNT(*) AS n FROM zed),
            shardmap AS (
              SELECT zval, CAST((cum - 1) * 4 // n + 1 AS BIGINT) AS shard
              FROM cum, tot),
            sharded AS (
              SELECT l_partkey, l_suppkey, zval, shard
              FROM zed JOIN shardmap USING (zval))
            SELECT shard, COUNT(*) AS n_rows,
                   MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max,
                   MIN(l_suppkey) AS sk_min, MAX(l_suppkey) AS sk_max,
                   MIN(zval) AS z_min, MAX(zval) AS z_max
            FROM sharded GROUP BY shard ORDER BY shard"""
      }),

    // PARQUET BLOOM FILTER SINK — point-lookup acceleration for the
    // lakehouse layout family (sink_zstd: codec, sink_sorted_stats:
    // min/max, this: membership): writes with a bloom filter on
    // l_partkey (parquet.bloom.filter.enabled#col), PROVES the filter
    // landed by reading the footer back (every row group's l_partkey
    // chunk must carry a bloom offset — not just the write option
    // being accepted), then runs the equality-probe read the filter
    // exists for. At 100 TB the bloom turns a needle-in-haystack
    // point lookup from "decode every row group the min/max range
    // admits" into "skip all but the true hits" — min/max stats are
    // useless for a high-NDV unsorted column, which is exactly this
    // probe. Declared relation = the probe read-back aggregate.
    Q("sink_bloom_filter",
      (s, d) => {
        import scala.jdk.CollectionConverters._
        val out = scratch(d, "bloomf")
        lineitem(s, d).filter(col("l_orderkey") < 2000)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#l_partkey", "true")
          .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
          // parquet-mr SKIPS the bloom filter for a column whose every
          // page is dictionary-encoded (the dictionary already answers
          // membership); at small SFs l_partkey dict-encodes, so force
          // plain encoding for it — at 100 TB the column would blow the
          // dictionary-size threshold and take this path anyway.
          .option("parquet.enable.dictionary#l_partkey", "false")
          .parquet(out)
        val files = entryNames(s, out).filter(_.endsWith(".parquet"))
        require(files.nonEmpty, s"no parquet files written under $out")
        files.foreach { name =>
          val ok = Storage.footer(s, s"$out/$name").getBlocks.asScala.forall(
            _.getColumns.asScala.exists(c =>
              c.getPath.toDotString == "l_partkey" &&
                c.getBloomFilterOffset >= 0))
          require(ok, s"row group in $name missing l_partkey bloom filter")
        }
        Storage.readParquet(s, out)
          .filter(col("l_partkey") % 1000 === 17)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            dsum(col("l_quantity"), 2).as("qty"))
      },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
                ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS qty
         FROM lineitem
         WHERE l_orderkey < 2000 AND l_partkey % 1000 = 17"""),

    // GZIP JSONL EXPORT — the interchange format most training-data
    // handoffs actually ship (shard.jsonl.gz): json writer + gzip
    // codec, file-extension proof that the codec engaged (.json.gz),
    // then the roundtrip read-back aggregate. Complements sink_zstd
    // (columnar codec) and export_jsonl_sharded (sharding contract) —
    // this pins the TEXT-sink codec path.
    Q("sink_gzip_jsonl",
      (s, d) => {
        val out = scratch(d, "gzjsonl")
        documents(s, d).filter(col("doc_id") % 7 === 0)
          .select("doc_id", "lang", "n_chars")
          .write.mode("overwrite").option("compression", "gzip")
          .json(out)
        val files = entryNames(s, out).filter(_.startsWith("part-"))
        require(files.nonEmpty && files.forall(_.endsWith(".json.gz")),
          s"expected gzip json files, found: ${files.mkString(",")}")
        s.read.json(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"))
          .orderBy("lang")
      },
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM documents WHERE doc_id % 7 = 0
         GROUP BY lang ORDER BY lang"""),

    // MULTI-CHARACTER DELIMITER CSV (Spark 4: sep can be any string) —
    // the escape hatch for data whose fields CONTAIN every
    // single-char delimiter (raw text exports): write and read with
    // "||" as separator, fields carrying commas/tabs/pipes unquoted-
    // hazardous content; declared relation = the read-back, oracle =
    // the construction truth.
    Q("scan_csv_multichar_delim",
      (s, d) => {
        val out = scratch(d, "csvmd")
        val tricky = documents(s, d).select(col("doc_id"),
          concat(col("lang"), lit(",\t|"),
            substring(col("text"), 1, 24)).as("s"))
        tricky.write.mode("overwrite").option("header", "true")
          .option("sep", "||")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .csv(out)
        s.read.schema("doc_id LONG, s STRING")
          .option("header", "true").option("sep", "||").csv(out)
          .orderBy("doc_id")
      },
      """SELECT doc_id,
                lang || ',' || chr(9) || '|' || substring(text, 1, 24)
                  AS s
         FROM documents ORDER BY doc_id"""),

    // ROW-GROUP SIZING SINK — the parquet knob that decides how much
    // a 100 TB scan can parallelize and prune: row groups are the
    // unit of both split planning and min/max skipping, and the
    // default 128 MB block would put this whole small table in ONE
    // group (no intra-file parallelism, one footer stat row). Write
    // with parquet.block.size forced down, PROVE multiple row groups
    // in the footer (and that every group carries l_orderkey stats),
    // then run the read-back aggregate.
    Q("sink_row_group_size",
      (s, d) => {
        import scala.jdk.CollectionConverters._
        val out = scratch(d, "rowgroups")
        lineitem(s, d).filter(col("l_orderkey") < 5000)
          .select("l_orderkey", "l_partkey", "l_quantity")
          .coalesce(1)
          .write.mode("overwrite")
          .option("parquet.block.size", "65536")
          .parquet(out)
        val files = entryNames(s, out).filter(_.endsWith(".parquet"))
        require(files.length == 1, s"expected 1 file, got ${files.length}")
        val blocks = Storage.footer(s, s"$out/${files.head}").getBlocks.asScala
        require(blocks.size >= 2,
          s"expected >=2 row groups at 64 KiB block size, " +
            s"got ${blocks.size}")
        require(blocks.forall(_.getColumns.asScala.exists(c =>
          c.getPath.toDotString == "l_orderkey" &&
            c.getStatistics != null)),
          "row group missing l_orderkey statistics")
        Storage.readParquet(s, out)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct("l_orderkey").as("n_orders"),
            dsum(col("l_quantity"), 2).as("qty"))
      },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
                ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS qty
         FROM lineitem WHERE l_orderkey < 5000"""),

    // Malformed-JSONL quarantine — the scan_csv_malformed twin for the
    // dominant LLM-corpus interchange format: every k%11 line is torn
    // mid-record (closing brace dropped — the partial-flush shape), the
    // PERMISSIVE reader routes them to _corrupt_record and parses the
    // rest. Same requiredSchema-pruning caveat as CSV: corrupt
    // detection only fires over referenced columns. The oracle replays
    // the tear rule arithmetically — it never parses JSON.
    Q("scan_jsonl_malformed",
      (s, d) => {
        val out = scratch(d, "badjsonl")
        orders(s, d).select(
          expr("""CASE WHEN o_orderkey % 11 = 0 THEN
                    substring(to_json(named_struct(
                      'k', o_orderkey, 'price', o_totalprice)), 1,
                      length(to_json(named_struct(
                        'k', o_orderkey, 'price', o_totalprice))) - 1)
                  ELSE to_json(named_struct(
                    'k', o_orderkey, 'price', o_totalprice)) END""")
            .as("value"))
          .write.mode("overwrite").text(out)
        val schema = StructType(Seq(
          StructField("k", LongType), StructField("price", DoubleType),
          StructField("_corrupt_record", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(out)
          .agg(
            count(when(col("_corrupt_record").isNotNull, 1))
              .as("n_corrupt"),
            count(when(col("_corrupt_record").isNull, 1)).as("n_parsed"),
            count(col("k")).as("n_valid_keys"),
            dsum(when(col("_corrupt_record").isNull, col("price")), 2)
              .as("parsed_price_sum"))
      },
      """SELECT COUNT(CASE WHEN o_orderkey % 11 = 0 THEN 1 END)
                  AS n_corrupt,
                COUNT(CASE WHEN o_orderkey % 11 <> 0 THEN 1 END)
                  AS n_parsed,
                COUNT(CASE WHEN o_orderkey % 11 <> 0 THEN 1 END)
                  AS n_valid_keys,
                ROUND(CAST(SUM(CASE WHEN o_orderkey % 11 <> 0
                        THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                      AS DOUBLE), 2) AS parsed_price_sum
         FROM orders"""),

    // XML roundtrip — Spark 4's built-in XML source (the spark-xml
    // donation): write nation as <nations><nation>…</nation></nations>
    // documents, read back with schema inference (ints widen to LONG —
    // cast back explicitly), prove value identity against the parquet
    // original. XML is the interchange format of record for the
    // legacy/regulatory feeds an ETL library still has to ingest.
    Q("scan_xml_roundtrip",
      (s, d) => {
        val out = scratch(d, "xmlrt")
        nation(s, d).write.format("xml")
          .option("rowTag", "nation").option("rootTag", "nations")
          .mode("overwrite").save(out)
        s.read.format("xml").option("rowTag", "nation").load(out)
          .select(col("n_nationkey").cast("int"), col("n_name"),
            col("n_regionkey").cast("int"))
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         ORDER BY n_nationkey"""),

    // CSV SCHEMA EVOLUTION ACROSS FILE GENERATIONS — v1 extracts
    // shipped (key, price); v2 added a priority column. CSV cannot
    // mergeSchema like parquet, so the engine pattern is: read each
    // generation with ITS OWN explicit schema, then
    // unionByName(allowMissingColumns) — v1 rows surface NULL
    // priority. Declared relation = the per-generation audit proving
    // no rows were dropped and the evolved column is NULL exactly on
    // the v1 slice. Oracle replays the generation rule (key parity).
    Q("scan_csv_union_evolve",
      (s, d) => {
        val v1Dir = scratch(d, "csvevo_v1")
        val v2Dir = scratch(d, "csvevo_v2")
        val o = orders(s, d)
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").option("header", "true").csv(v1Dir)
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode("overwrite").option("header", "true").csv(v2Dir)
        val v1 = s.read
          .schema(StructType(Seq(StructField("o_orderkey", LongType),
            StructField("o_totalprice", DoubleType))))
          .option("header", "true").csv(v1Dir)
        val v2 = s.read
          .schema(StructType(Seq(StructField("o_orderkey", LongType),
            StructField("o_totalprice", DoubleType),
            StructField("o_orderpriority", StringType))))
          .option("header", "true").csv(v2Dir)
        v1.unionByName(v2, allowMissingColumns = true)
          .withColumn("gen",
            when(col("o_orderpriority").isNull, "v1").otherwise("v2"))
          .groupBy("gen")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("o_orderpriority")).as("n_priorities"),
            dsum(col("o_totalprice"), 2).as("price_sum"))
          .orderBy("gen")
      },
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'v1' ELSE 'v2' END
                  AS gen,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT CASE WHEN o_orderkey % 2 = 1
                  THEN o_orderpriority END) AS BIGINT) AS n_priorities,
                ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS price_sum
         FROM orders GROUP BY 1 ORDER BY gen"""),

    // FIXED HEADER/TRAILER EXPORT — the legacy bank/regulatory feed
    // format: one 'H|' header line, 'D|key|cents' detail lines, one
    // 'T|count|sum' trailer whose control totals the receiving system
    // reconciles. The file is written for real (single sorted
    // partition — an EXPORT file is driver-bounded by contract), read
    // back cold, and the declared relation is the reconciliation the
    // receiver runs: parsed detail count/sum vs the trailer's claim.
    // The oracle recomputes both sides from orders — equality proves
    // the writer emitted consistent control totals.
    Q("export_fixed_trailer",
      (s, d) => {
        val out = scratch(d, "trailer_feed")
        val o = orders(s, d).select(col("o_orderkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)")
            .as("cents"))
        val header = s.sql("SELECT 0L AS srt, 'H|GRAFT-ORDERS|v1' AS value")
        val details = o.select(
          (col("o_orderkey") + 1L).as("srt"),
          concat(lit("D|"), col("o_orderkey"), lit("|"), col("cents"))
            .as("value"))
        val trailer = o.agg(count(lit(1)).as("n"), sum("cents").as("sc"))
          .select(lit(Long.MaxValue).as("srt"),
            concat(lit("T|"), col("n"), lit("|"), col("sc")).as("value"))
        header.unionByName(details).unionByName(trailer)
          .repartition(1).sortWithinPartitions("srt")
          .select("value")
          .write.mode("overwrite").text(out)
        val lines = s.read.text(out)
        val parsedD = lines.filter(col("value").startsWith("D|"))
          .select(split(col("value"), "\\|").as("p"))
          .agg(count(lit(1)).as("n_detail"),
            sum(expr("CAST(p[2] AS BIGINT)")).as("detail_cents"))
        val parsedT = lines.filter(col("value").startsWith("T|"))
          .select(split(col("value"), "\\|").as("p"))
          .select(expr("CAST(p[1] AS BIGINT)").as("trailer_n"),
            expr("CAST(p[2] AS BIGINT)").as("trailer_cents"))
        parsedD.crossJoin(parsedT)
          .select(col("n_detail"), col("trailer_n"),
            expr("detail_cents / 100.0D").as("detail_total"),
            expr("trailer_cents / 100.0D").as("trailer_total"),
            (col("n_detail") === col("trailer_n") &&
              col("detail_cents") === col("trailer_cents"))
              .as("reconciled"))
      },
      """WITH o AS (SELECT
             CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)
               AS cents FROM orders)
         SELECT CAST(count(*) AS BIGINT) AS n_detail,
                CAST(count(*) AS BIGINT) AS trailer_n,
                CAST(sum(cents) AS BIGINT) / 100.0 AS detail_total,
                CAST(sum(cents) AS BIGINT) / 100.0 AS trailer_total,
                TRUE AS reconciled
         FROM o"""),

    // NESTED-SCHEMA COLUMN PRUNING — deeply nested parquet (the
    // event-payload norm) must NOT pay for sibling subfields: the
    // write nests price/status/date under one struct, the read
    // touches only info.price, and Round8Spec pins the scan's
    // ReadSchema to the single subfield (nestedSchemaPruning is on
    // by default in Spark 4). At 100 TB the difference is reading
    // one column chunk vs the whole struct blob.
    Q("scan_nested_pruning",
      (s, d) => {
        val out = scratch(d, "nested")
        orders(s, d).select(col("o_orderkey"),
          struct(col("o_totalprice").as("price"),
            col("o_orderstatus").as("status"),
            col("o_orderdate").as("odate")).as("info"))
          .write.mode("overwrite").parquet(out)
        Storage.readParquet(s, out)
          .groupBy()
          .agg(count(lit(1)).as("n_rows"),
            dsum(col("info.price"), 2).as("price_sum"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS price_sum
         FROM orders"""),

    // MULTILINE JSON-ARRAY INGEST — the REST-API-dump shape: one
    // pretty-printed JSON ARRAY document spanning many lines, which
    // line-oriented JSONL readers tear apart; multiLine=true parses
    // the whole file as one value stream. The document is assembled
    // deterministically (sort_array over the collected structs) and
    // is driver-bounded by contract — an API dump is one response
    // body. Read-back is the identity on nation.
    Q("scan_json_multiline",
      (s, d) => {
        val out = scratch(d, "json_array")
        nation(s, d)
          .agg(expr("""concat('[\n  ', array_join(transform(
                 sort_array(collect_list(named_struct(
                   'k', n_nationkey, 'name', n_name, 'r', n_regionkey))),
                 x -> to_json(x)), ',\n  '), '\n]')""").as("value"))
          .coalesce(1).write.mode("overwrite").text(out)
        s.read.option("multiLine", "true")
          .schema("k INT, name STRING, r INT").json(out)
          .orderBy("k")
      },
      """SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r
         FROM nation ORDER BY k"""),

    // NESTED-FIELD PREDICATE PUSHDOWN — the filter companion of
    // scan_nested_pruning: a predicate on info.price must reach the
    // parquet reader as a pushed filter on the leaf column (row-group
    // min/max skipping on nested leaves), not evaluate post-scan.
    // Round8Spec pins PushedFilters carries the price leaf.
    Q("scan_nested_filter_pushdown",
      (s, d) => {
        val out = scratch(d, "nestedflt")
        orders(s, d).select(col("o_orderkey"),
          struct(col("o_totalprice").as("price"),
            col("o_orderstatus").as("status")).as("info"))
          .write.mode("overwrite").parquet(out)
        Storage.readParquet(s, out)
          .filter(col("info.price") > 400000.0)
          .groupBy()
          .agg(count(lit(1)).as("n_rows"),
            dsum(col("info.price"), 2).as("price_sum"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS price_sum
         FROM orders WHERE o_totalprice > 400000.0"""),

    // CSV DIALECT OPTIONS (custom dateFormat + nullValue sentinel) —
    // the European-feed reality: dates as dd/MM/yyyy text and 'N/A'
    // for missing values. The writer emits the dialect, the reader
    // parses it back with the matching options; every k%9 price is
    // nulled to exercise the sentinel both directions. Identity +
    // null-census oracle replayed from the plant rule.
    Q("scan_csv_formats",
      (s, d) => {
        val out = scratch(d, "csvdialect")
        orders(s, d).select(col("o_orderkey"),
          when(col("o_orderkey") % 9 === 0, lit(null))
            .otherwise(col("o_totalprice")).as("price"),
          col("o_orderdate").cast("date").as("odate"))
          .write.mode("overwrite")
          .option("header", "true")
          .option("dateFormat", "dd/MM/yyyy")
          .option("nullValue", "N/A")
          .csv(out)
        s.read
          .schema("o_orderkey LONG, price DOUBLE, odate DATE")
          .option("header", "true")
          .option("dateFormat", "dd/MM/yyyy")
          .option("nullValue", "N/A")
          .csv(out)
          .agg(count(lit(1)).as("n_rows"),
            count(col("price")).as("n_priced"),
            dsum(col("price"), 2).as("price_sum"),
            min("odate").as("first_date"), max("odate").as("last_date"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(CASE WHEN o_orderkey % 9 <> 0 THEN 1 END)
                  AS BIGINT) AS n_priced,
                ROUND(CAST(SUM(CASE WHEN o_orderkey % 9 <> 0
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                  AS DOUBLE), 2) AS price_sum,
                CAST(min(o_orderdate) AS DATE) AS first_date,
                CAST(max(o_orderdate) AS DATE) AS last_date
         FROM orders"""),

    // CORRUPT-FILE RESILIENCE — a torn/garbage file sitting in a
    // parquet directory (the half-uploaded-object reality) must not
    // kill the batch when ignoreCorruptFiles is on: the reader skips
    // it and the declared relation proves EXACTLY the good rows
    // survive. The garbage file is written through the same Hadoop
    // FileSystem API the readers use.
    Q("scan_ignore_corrupt",
      (s, d) => {
        val out = scratch(d, "corruptdir")
        nation(s, d).write.mode("overwrite").parquet(out)
        Storage.writeString(s, s"$out/part-junk.parquet",
          "this is not a parquet file")
        s.read.option("ignoreCorruptFiles", "true").parquet(out)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("n_nationkey")).as("n_keys"),
            sum(col("n_regionkey").cast("long")).as("region_sum"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT n_nationkey) AS BIGINT) AS n_keys,
                CAST(sum(n_regionkey) AS BIGINT) AS region_sum
         FROM nation"""),

    // DROPMALFORMED reader mode — the third leg of the malformed-CSV
    // triptych (PERMISSIVE quarantines, FAILFAST throws, DROPMALFORMED
    // silently discards): same k%7 torn lines as scan_csv_malformed,
    // and the declared relation shows the SILENT loss — row count
    // equals the good subset with no corrupt column anywhere. The
    // operational lesson (why production prefers PERMISSIVE) is the
    // count delta against the oracle's replay of the tear rule.
    Q("scan_csv_dropmalformed",
      (s, d) => {
        val out = scratch(d, "dropbad")
        orders(s, d).select(
          concat(
            when(col("o_orderkey") % 7 === 0,
              concat(lit("bad"), col("o_orderkey").cast("string")))
              .otherwise(col("o_orderkey").cast("string")),
            lit(","), col("o_totalprice").cast("string")).as("value"))
          .write.mode("overwrite").text(out)
        s.read
          .schema(StructType(Seq(StructField("k", LongType),
            StructField("price", DoubleType))))
          .option("mode", "DROPMALFORMED")
          .csv(out)
          // count(k) is load-bearing: malformed detection only runs
          // over REFERENCED columns (requiredSchema pruning — the
          // scan_csv_malformed lesson); without touching k the torn
          // keys never parse and nothing is dropped
          .agg(count(col("k")).as("n_keys"),
            count(lit(1)).as("n_survived"),
            dsum(col("price"), 2).as("price_sum"))
      },
      """SELECT COUNT(CASE WHEN o_orderkey % 7 <> 0 THEN 1 END)
                  AS n_keys,
                COUNT(CASE WHEN o_orderkey % 7 <> 0 THEN 1 END)
                  AS n_survived,
                ROUND(CAST(SUM(CASE WHEN o_orderkey % 7 <> 0
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                  AS DOUBLE), 2) AS price_sum
         FROM orders"""),
  )
}
