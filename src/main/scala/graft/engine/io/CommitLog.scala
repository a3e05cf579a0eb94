package graft.engine.io

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Optimistic-concurrency commit protocol for versioned tables — the
  * minimal Delta-style commit log the plain `v=N` directory scheme
  * (table_time_travel / maintain_vacuum / evolve_add_column) lacks.
  * Those operators assume a single writer: version directories are
  * swapped by rename with no conflict detection, so at 100 TB with
  * parallel ingest jobs two writers can interleave versions or vacuum
  * a snapshot mid-read.
  *
  * Layout under a table root:
  * {{{
  *   <root>/_commits/v00000001.json     one record per committed version
  *   <root>/data/<uuid>/                snapshot data, staged BEFORE claim
  * }}}
  *
  * Protocol (writer):
  *   1. read the current latest version n (list _commits);
  *   2. STAGE the new snapshot fully into a fresh `data/<uuid>` dir —
  *      the stage callback receives the base version, so a derivation
  *      that depends on the current snapshot reads AS OF that base;
  *   3. CLAIM version n+1 by atomically materializing
  *      `_commits/v{n+1}.json`: the record is written to a temp file
  *      and hard-linked into place — `Files.createLink` is POSIX-atomic
  *      and fails with FileAlreadyExistsException if another writer won
  *      the version, and the link carries the COMPLETE record (no
  *      window where a reader sees a half-written commit file);
  *   4. on losing the race: discard the staged data, re-read the new
  *      latest, RE-STAGE against it, and retry at n+2 — loser-retries.
  *
  * Readers resolve snapshots ONLY through commit records: a data dir
  * is unreachable until its commit file exists, and a commit file
  * appears atomically with full content — so no reader can observe a
  * torn snapshot, no matter how writers crash or race. A writer that
  * dies after staging but before claiming leaves an orphan data dir
  * that no reader resolves; [[vacuum]] sweeps those.
  *
  * On HDFS the same claim is `create(path, overwrite=false)` (atomic
  * namenode op); on S3 it is a conditional PUT / commit service. The
  * hard-link form is the local-FS equivalent with the same contract.
  */
object CommitLog {

  final case class Commit(version: Int, action: String, baseVersion: Int,
      dataDir: String)

  private def commitsDir(root: String) = s"$root/_commits"

  def init(spark: SparkSession, root: String): Unit = {
    val (f, dir) = Storage.fs(spark, commitsDir(root))
    f.mkdirs(dir)
  }

  private def parse(line: String): Commit = {
    // single-line record "version|baseVersion|action|dataDir" — fields
    // are a fixed count and action/dataDir contain no '|' by
    // construction (uuid dirs, caller-supplied action tags)
    val f = line.trim.split('|')
    Commit(f(0).toInt, f(2), f(1).toInt, f(3))
  }

  /** All committed versions, ascending. One driver-side listing of the
    * _commits dir — no data pass. */
  def commits(spark: SparkSession, root: String): Seq[Commit] = {
    val (f, dir) = Storage.fs(spark, commitsDir(root))
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("v") && p.getName.endsWith(".json"))
      .map { p =>
        val in = f.open(p)
        try parse(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      }.sortBy(_.version).toSeq
  }

  def latest(spark: SparkSession, root: String): Option[Commit] =
    commits(spark, root).lastOption

  /** Optimistic commit: stage against the observed base, then claim
    * base+1; on losing the claim, re-stage against the new base and
    * retry. Returns the winning record. A stage that throws leaves no
    * staging dir behind: it is deleted before the failure propagates. */
  def commit(spark: SparkSession, root: String, action: String)(
      stage: (String, Int) => Unit): Commit = {
    def discard(rel: String): Unit = Storage.deleteFolder(spark, s"$root/$rel")
    claimNext(spark, root, "commit on") { base =>
      val rel = "data/" + java.util.UUID.randomUUID().toString.take(12)
      try stage(s"$root/$rel", base)
      catch { case t: Throwable => discard(rel); throw t }
      Commit(base + 1, action, base, rel)
    } { lost =>
      // lost the race: discard this attempt's staging, re-derive
      // against the winner's snapshot
      discard(lost.dataDir)
    }
  }

  /** The claim-retry loop of [[commit]] and [[cloneTable]]: up to 50
    * times, build a record against the current latest version with
    * `attempt` and claim it; `lost` undoes an attempt whose claim
    * another writer won. Returns the claimed record. */
  private def claimNext(spark: SparkSession, root: String, what: String)(
      attempt: Int => Commit)(lost: Commit => Unit): Commit = {
    var tries = 0
    while (tries < 50) {
      tries += 1
      val rec = attempt(latest(spark, root).map(_.version).getOrElse(0))
      if (claimVersion(root, rec)) return rec
      lost(rec)
    }
    throw new IllegalStateException(
      s"$what $root lost $tries straight races — aborting")
  }

  /** A dataDir may be root-relative (normal commits) or absolute (a
    * shallow-clone reference into another table's data). */
  private def resolveData(root: String, c: Commit): String =
    if (c.dataDir.startsWith("/") || c.dataDir.contains("://")) c.dataDir
    else s"$root/${c.dataDir}"

  /** Atomic version claim shared by [[commit]] and [[cloneTable]]:
    * write the full record to a temp file, hard-link it into place
    * (POSIX-atomic, fails if another writer won the version). Returns
    * true iff this writer claimed the version. */
  private def claimVersion(root: String, rec: Commit): Boolean = {
    // readers go through the Hadoop FS API, but the claim itself is
    // POSIX hard-link atomicity — valid ONLY on a local filesystem. A
    // non-local root (s3a://, hdfs://) would silently "claim" against
    // a bogus local path: fail loudly instead (an object-store claim
    // needs a conditional put / DynamoDB-style lock, not a hard link).
    val scheme = try java.net.URI.create(root).getScheme
      catch { case _: IllegalArgumentException => null }
    require(scheme == null || scheme == "file",
      s"claimVersion needs a local commit root (got '$root'); " +
        "non-local stores need a conditional-put claim")
    // a file: URI names the same directory the Hadoop readers list;
    // Paths.get on its string would be a relative path under the cwd
    val commits =
      if (scheme == "file") Paths.get(java.net.URI.create(commitsDir(root)))
      else Paths.get(commitsDir(root))
    val line = s"${rec.version}|${rec.baseVersion}|${rec.action}|${rec.dataDir}"
    val tmp = commits.resolve(
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.createDirectories(commits)
    Files.write(tmp, line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val target = commits.resolve(f"v${rec.version}%08d.json")
    try {
      Files.createLink(target, tmp) // atomic claim: O_EXCL-equivalent
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      // ALWAYS sweep the staging file — a non-FileAlreadyExists error
      // must not leak a .tmp-* into _commits that vacuum never reaps
      Files.deleteIfExists(tmp)
    }
  }

  /** Read the snapshot AS OF a version, resolving through the log. */
  def readVersion(spark: SparkSession, root: String, version: Int): DataFrame = {
    val c = commits(spark, root).find(_.version == version).getOrElse(
      throw new IllegalArgumentException(
        s"version $version not in commit log at $root"))
    Storage.readParquet(spark, resolveData(root, c))
  }

  /** SHALLOW CLONE (Delta's CLONE): a new table whose first commit
    * REFERENCES the source version's data absolutely — a metadata-only
    * operation (no bytes move, O(1) regardless of table size), after
    * which the clone's log evolves independently: its own commits
    * stage their own data, and the source is never written through the
    * clone. Vacuum safety is structural: [[vacuum]] only unlinks dirs
    * under the clone's OWN data/ — an absolute reference never matches,
    * so a clone can never reap shared source files (the flip side:
    * vacuuming the SOURCE can orphan a clone's base version — same
    * contract as Delta shallow clones, documented not solved). */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Int): Commit = {
    val src = commits(spark, srcRoot).find(_.version == version).getOrElse(
      throw new IllegalArgumentException(
        s"version $version not in commit log at $srcRoot"))
    val abs = resolveData(srcRoot, src)
    init(spark, dstRoot)
    claimNext(spark, dstRoot, "clone into")(
      base => Commit(base + 1, "clone", base, abs))(_ => ())
  }

  def readLatest(spark: SparkSession, root: String): DataFrame = {
    val c = latest(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty commit log at $root"))
    Storage.readParquet(spark, resolveData(root, c))
  }

  /** Change-data-feed read: the row-level changes between two committed
    * versions, resolved through the log — the incremental-consumer
    * surface (downstream jobs re-process ONLY what changed between the
    * version they last saw and the current one, instead of re-reading
    * the whole table). Emits one row per change with `_change_type` ∈
    * insert / delete / update_preimage / update_postimage and
    * `_commit_version` = the version that introduced it.
    *
    * Computed per consecutive version step as ONE full-outer sort-merge
    * join on the key (the table_diff shape): each side shuffles once on
    * the key columns, change classes fall out of null-side tests plus a
    * single non-key struct comparison. At 100 TB this is the snapshot-
    * diff fallback a format without per-commit change files needs;
    * production writers additionally persist the join's output at
    * commit time so consumers read changes without the diff join — the
    * output contract (this schema) is the same either way. */
  def changes(spark: SparkSession, root: String, fromVersion: Int,
      toVersion: Int, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion < toVersion,
      s"empty change range: $fromVersion >= $toVersion")
    // resolve each version ONCE — the conflict pre-check and the steps
    // loop below share these, so a range of k versions costs k snapshot
    // reconstructions + footer reads, not 3k
    val byVersion = (fromVersion to toVersion)
      .map(v => v -> readVersion(spark, root, v)).toMap
    // a column dropped and re-added with a DIFFERENT type anywhere in
    // the range would make the typed-null padding pick one side's type
    // arbitrarily and the cross-step unionByName fail at analysis time
    // with a confusing cast error — detect it up front and fail with
    // the actual conflict (schema-only parquet footer reads, no scan)
    val typeConflicts = (fromVersion to toVersion)
      .flatMap(v => byVersion(v).schema.fields)
      .groupBy(_.name).collect {
        case (n, fs) if fs.map(_.dataType).distinct.size > 1 =>
          s"$n (${fs.map(_.dataType.simpleString).distinct.mkString(" vs ")})"
      }
    require(typeConflicts.isEmpty,
      s"changes($fromVersion -> $toVersion) on $root: column(s) change " +
        s"data type across versions — ${typeConflicts.mkString(", ")}; " +
        "a change feed needs one type per column name over the range")
    val steps = (fromVersion until toVersion).map { v =>
      val old = byVersion(v)
      val neu = byVersion(v + 1)
      // schema evolution between versions: the feed carries the UNION
      // of both versions' data columns, padding the side that lacks a
      // column with a typed null — so an update that only touches an
      // added column still surfaces, and a dropped column's final
      // values still appear in its last pre-images
      val dataCols = (old.columns ++ neu.columns).distinct
        .filterNot(keyCols.contains).toSeq
      def typed(df: DataFrame, name: String) =
        df.schema.fields.find(_.name == name).map(_.dataType)
      def side(df: DataFrame, other: DataFrame, tag: String) =
        df.select(keyCols.map(col) :+ struct(dataCols.map { c =>
          if (df.columns.contains(c)) col(c).as(c)
          else lit(null).cast(typed(other, c).get).as(c)
        }: _*).as(tag): _*)
      val o = side(old, neu, "_o")
      val n = side(neu, old, "_n")
      val j = o.join(n, keyCols, "full_outer")
      // null-safe struct compare: with plain ===, a NULL→value update
      // makes the predicate NULL and the filter silently DROPS the
      // change row — <=> keeps null-bearing updates in the feed
      val unchanged = col("_o").isNotNull && col("_n").isNotNull &&
        (col("_o") <=> col("_n"))
      val classified = j.filter(!unchanged).select(
        keyCols.map(col) :+
          when(col("_o").isNull, lit("insert"))
            .when(col("_n").isNull, lit("delete"))
            .otherwise(lit("update")).as("_kind") :+
          col("_o") :+ col("_n"): _*)
      // updates emit BOTH images (the CDF contract downstream MERGE
      // consumers need); inserts/deletes emit their single side
      val pre = classified.filter(col("_kind") === "update").select(
        keyCols.map(col) :+ col("_o.*") :+
          lit("update_preimage").as("_change_type"): _*)
      val post = classified.filter(col("_kind") === "update").select(
        keyCols.map(col) :+ col("_n.*") :+
          lit("update_postimage").as("_change_type"): _*)
      val ins = classified.filter(col("_kind") === "insert").select(
        keyCols.map(col) :+ col("_n.*") :+
          lit("insert").as("_change_type"): _*)
      val del = classified.filter(col("_kind") === "delete").select(
        keyCols.map(col) :+ col("_o.*") :+
          lit("delete").as("_change_type"): _*)
      pre.unionByName(post).unionByName(ins).unionByName(del)
        .withColumn("_commit_version", lit(v + 1))
    }
    steps.reduce(_ unionByName _)
  }

  /** Retention over the LOG, not directory names: keep the newest
    * `keep` versions' data; expire older versions' data dirs AND any
    * orphan staging dir no commit references (a crashed writer's
    * leftovers — but only ones older than `orphanGraceMs`, so an
    * in-flight writer's staging is never swept mid-commit). Commit
    * records are kept (tombstoned history is cheap); a read of an
    * expired version fails loudly on the missing data dir. Directory
    * unlink only — no data pass. */
  def vacuum(spark: SparkSession, root: String, keep: Int,
      orphanGraceMs: Long = 3600000L): Seq[Int] = {
    val all = commits(spark, root)
    val expired = all.dropRight(keep)
    val kept = all.takeRight(keep).map(_.dataDir.stripPrefix("data/")).toSet
    val committed = all.map(_.dataDir.stripPrefix("data/")).toSet
    val (f, dataRoot) = Storage.fs(spark, s"$root/data")
    if (f.exists(dataRoot)) {
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      f.listStatus(dataRoot).foreach { st =>
        val name = st.getPath.getName
        val isExpired = committed.contains(name) && !kept.contains(name)
        val isStaleOrphan =
          !committed.contains(name) && st.getModificationTime < cutoff
        if (isExpired || isStaleOrphan) f.delete(st.getPath, true)
      }
    }
    expired.map(_.version)
  }
}
