package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables.t

/** Manifest-based snapshot isolation + time travel for a parquet lake —
  * the commit protocol the reference's rerun story implies but its
  * S3-directory layout cannot give (`export_pipeline_template.py:49`
  * reruns overwrite staged directories in place; a reader listing the
  * directory mid-rerun sees a torn mix of old and new files). The shape
  * here is the Iceberg/Delta core, reduced to its load-bearing minimum:
  *
  *  - DATA files are immutable and uniquely named under `<root>/data/`;
  *    a commit never mutates one, it only writes new files.
  *  - A SNAPSHOT is a manifest file `<root>/_manifests/v%08d.manifest`
  *    listing exactly its member data files (relative path, row count,
  *    min/max of a stats key per file). Commits publish by writing to a
  *    temp name and ATOMIC_MOVE-renaming into place — a reader either
  *    sees the whole manifest or none of it, so every read is a
  *    consistent snapshot. (On a real object store the rename becomes a
  *    metastore swap / conditional put; the protocol is unchanged.)
  *  - READS never list `data/`: they resolve a version from `_manifests/`
  *    (latest, or a pinned version = time travel) and scan exactly the
  *    listed files. Orphans from failed/torn writes are invisible by
  *    construction — the atomicity property directory-listing readers
  *    lack. At 100 TB this is also the performance story: the object
  *    listing a directory reader pays (O(files) round-trips, eventually
  *    consistent) collapses to one small sequential manifest read, and
  *    the per-file min/max stats prune files BEFORE any footer is
  *    opened, a selection the engine's row-group pruning then refines
  *    inside each admitted file (`scan_rowgroup_pruned`).
  *
  * Append = new manifest referencing old files + new ones. Delete/update
  * = copy-on-write: rewrite only the affected files, swap them in the
  * next manifest; history stays readable (each version's file set is
  * immutable), giving rollback and audit for free.
  */
object Snapshots {

  /** One data file in a snapshot: path relative to the table root, its row
    * count, and min/max of the table's stats key (here: year(order date))
    * for manifest-level file pruning. */
  case class Entry(file: String, rows: Long, minKey: Long, maxKey: Long)

  private def manifestDir(root: String): Path = Paths.get(root, "_manifests")
  private def manifestPath(root: String, v: Long): Path =
    manifestDir(root).resolve(f"v$v%08d.manifest")

  /** Publish version `v` atomically: temp write + rename. A manifest is
    * CSV lines `relpath,rows,minKey,maxKey` — a fixed 4-field schema kept
    * deliberately trivial (real systems use avro manifests; nothing below
    * depends on the serialization). */
  def commit(root: String, v: Long, entries: Seq[Entry]): Unit = {
    Files.createDirectories(manifestDir(root))
    val body = entries.map(e => s"${e.file},${e.rows},${e.minKey},${e.maxKey}").mkString("\n")
    val tmp = manifestDir(root).resolve(s".tmp-v$v-${java.util.UUID.randomUUID}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(root, v), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Outcome of one conditional publish attempt ([[tryCommit]]). */
  sealed trait CommitOutcome
  final case class Committed(version: Long) extends CommitOutcome
  final case class Conflicted(expectedBase: Long, observedLatest: Long) extends CommitOutcome

  /** Thrown by a commit operation whose preconditions no longer hold at
    * retry time (e.g. a copy-on-write rewrite whose source file a
    * concurrent committer already replaced). NOT retryable — the caller
    * must re-plan against the new table state. */
  final class CommitConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** Optimistic-concurrency publish: succeed iff nobody has committed past
    * `baseV` — the compare-and-swap the Iceberg/Delta commit protocols
    * reduce to (Iceberg: atomic metastore pointer swap; Delta: conditional
    * put of `_delta_log/<v>.json`). [[commit]] alone is NOT safe for
    * concurrent writers: `ATOMIC_MOVE` has rename(2) semantics on POSIX,
    * so the second of two racing committers from the same base silently
    * clobbers v+1. Here the publish is `link(2)` — creating a hard link
    * fails atomically with EEXIST when the target exists — so exactly one
    * committer wins a contended version and every loser observes
    * [[Conflicted]] and can retry against the new latest. (On an object
    * store this maps to if-none-match / conditional put; the protocol is
    * unchanged.) The reference's 131 parallel export activities all write
    * one S3 prefix with no such fence — two overlapping reruns interleave
    * files undetected (`export_pipeline_template.py:49`). */
  def tryCommit(root: String, baseV: Long, entries: Seq[Entry]): CommitOutcome = {
    Files.createDirectories(manifestDir(root))
    val observed = latestVersionOr0(root)
    if (observed != baseV) return Conflicted(baseV, observed)
    val body = entries.map(e => s"${e.file},${e.rows},${e.minKey},${e.maxKey}").mkString("\n")
    val tmp = manifestDir(root).resolve(s".tmp-v${baseV + 1}-${java.util.UUID.randomUUID}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(manifestPath(root, baseV + 1), tmp)
      Committed(baseV + 1)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Conflicted(baseV, latestVersionOr0(root))
    } finally Files.delete(tmp)
  }

  /** Retrying optimistic committer: `op` maps the CURRENT latest entry set
    * to the next one (append = `_ ++ newFiles`; CoW = [[replacing]]), and
    * is re-applied from scratch on every conflict — data files are already
    * written and immutable, so a retry is metadata-only, never an IO
    * rewrite. `op` throwing [[CommitConflictException]] aborts the commit
    * (semantic conflict: the op's preconditions are gone); contention
    * merely retries. Returns the committed version. */
  def commitRetry(root: String, op: Seq[Entry] => Seq[Entry], maxAttempts: Int = 20): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val base = latestVersionOr0(root)
      val next = op(if (base == 0L) Seq.empty else entries(root, base))
      tryCommit(root, base, next) match {
        case Committed(v)     => return v
        case Conflicted(_, _) => attempt += 1
      }
    }
    sys.error(s"commit contention not resolved after $maxAttempts attempts at $root")
  }

  /** Copy-on-write op for [[commitRetry]]: swap `old` files for
    * `replacement`, VALIDATING at (re)apply time that every `old` file is
    * still referenced — if a concurrent committer already removed one, the
    * rewrite was computed against dead rows and must abort rather than
    * resurrect them. This is the conflict-detection core (Iceberg's
    * validateNoConflicting* / Delta's CommitConflictChecks, reduced to
    * file-set overlap). */
  def replacing(old: Set[String], replacement: Seq[Entry]): Seq[Entry] => Seq[Entry] =
    current => {
      val live = current.map(_.file).toSet
      val gone = old -- live
      if (gone.nonEmpty)
        throw new CommitConflictException(
          s"CoW sources removed by a concurrent commit: ${gone.toSeq.sorted.mkString(", ")}")
      current.filterNot(e => old(e.file)) ++ replacement
    }

  /** Manifest version numbers under `d`. Files.list returns a stream
    * holding an open directory handle; it MUST be closed — this runs
    * several times per commit attempt (tryCommit/commitRetry) and once per
    * micro-batch in the exactly-once sink, so an unclosed stream leaks a
    * file descriptor per call until GC. */
  private def listVersions(d: java.nio.file.Path): Seq[Long] = {
    val stream = Files.list(d)
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d{8}\\.manifest") => s.substring(1, 9).toLong }
      .toSeq
    finally stream.close()
  }

  private[graft] def latestVersionOr0(root: String): Long = {
    val d = manifestDir(root)
    if (!Files.isDirectory(d)) 0L
    else {
      val vs = listVersions(d)
      if (vs.isEmpty) 0L else vs.max
    }
  }

  /** Latest committed version, from the manifest listing alone. */
  def latestVersion(root: String): Long = {
    val d = manifestDir(root)
    if (!Files.isDirectory(d)) sys.error(s"no snapshots at $root")
    val vs = listVersions(d)
    if (vs.isEmpty) sys.error(s"no snapshots at $root") else vs.max
  }

  def entries(root: String, v: Long): Seq[Entry] =
    Files.readAllLines(manifestPath(root, v)).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val Array(f, r, lo, hi) = line.split(",", 4)
      Entry(f, r.toLong, lo.toLong, hi.toLong)
    }

  /** Snapshot read: version `v` (None = latest), optionally pruned to
    * manifest entries overlapping `[keyRange._1, keyRange._2]`. The prune
    * decision is O(manifest) driver work; no data file outside the
    * admitted set is ever opened. Returns the DataFrame plus the admitted
    * file list (evidence for specs; a production API would return only
    * the frame). */
  def readSnapshotWithFiles(spark: SparkSession, root: String, v: Option[Long] = None,
                            keyRange: Option[(Long, Long)] = None): (DataFrame, Seq[Entry]) = {
    val version = v.getOrElse(latestVersion(root))
    val all = entries(root, version)
    val admitted = keyRange match {
      case Some((lo, hi)) => all.filter(e => e.maxKey >= lo && e.minKey <= hi)
      case None           => all
    }
    val df =
      if (admitted.isEmpty) sys.error(s"empty snapshot admission at $root v$version")
      else spark.read.parquet(admitted.map(e => s"$root/${e.file}"): _*)
    (df, admitted)
  }

  def readSnapshot(spark: SparkSession, root: String, v: Option[Long] = None,
                   keyRange: Option[(Long, Long)] = None): DataFrame =
    readSnapshotWithFiles(spark, root, v, keyRange)._1

  /** Write `df` as one immutable fileset under `data/<tag>/` and return
    * its manifest entries. Per-file (rows, min, max) come from ONE read
    * of the written files grouped by the `_metadata.file_path` hidden
    * column — the file-source metadata surface, no manual footer walk. */
  def writeFileset(df: DataFrame, root: String, tag: String,
                   statsKey: org.apache.spark.sql.Column): Seq[Entry] = {
    val dir = s"$root/data/$tag"
    df.write.mode("error").parquet(dir)
    val spark = df.sparkSession
    spark.read.parquet(dir)
      .groupBy(col("_metadata.file_path").as("fp"))
      .agg(count(lit(1)).as("rows"),
        min(statsKey).cast(LongType).as("lo"), max(statsKey).cast(LongType).as("hi"))
      .collect() // bounded: one row per written file
      .toSeq
      .map { r =>
        val full = r.getAs[String]("fp")
        val rel = full.substring(full.indexOf("/data/") + 1)
        Entry(rel, r.getAs[Long]("rows"), r.getAs[Long]("lo"), r.getAs[Long]("hi"))
      }
      .sortBy(_.file)
  }

  /** Year-of-order-date as the manifest stats key. */
  private def yearKey = year(col("o_orderdate")).cast(LongType)

  /** Build a fresh demo table on every call: three commits over
    * the orders table —
    *   v1: filesets y1995 + y1996 (two range-disjoint file groups),
    *   v2: append fileset y1997-98 (old files referenced, not rewritten),
    *   v3: copy-on-write delete — y1996 rewritten without '1-URGENT'
    *       rows; y1995/y1997-98 files carried over untouched.
    */
  private[graft] def demoTable(spark: SparkSession, dir: String): String = {
    val root = graft.Tables.scratchDir("snapshots")
    val orders = t(spark, dir, "orders")
    def slice(yLo: Int, yHi: Int) =
      orders.filter(yearKey.between(yLo, yHi))
    val a = writeFileset(slice(1995, 1995), root, "y1995", yearKey)
    val b = writeFileset(slice(1996, 1996), root, "y1996", yearKey)
    commit(root, 1, a ++ b)
    val c = writeFileset(slice(1997, 1998), root, "y1997_98", yearKey)
    commit(root, 2, a ++ b ++ c)
    val b2 = writeFileset(
      slice(1996, 1996).filter(col("o_orderpriority") =!= "1-URGENT"),
      root, "y1996_cow", yearKey)
    commit(root, 3, a ++ b2 ++ c)
    root
  }

  /** Two committers RACING from the same observed base — both filesets are
    * pre-written (data-file writes never conflict; only the manifest
    * publish does), then two threads gate on a latch and commit
    * concurrently via [[commitRetry]]. Exactly one wins v2 outright; the
    * other observes [[Conflicted]], re-reads, re-applies its append on top
    * of the winner, and lands v3. WHICH fileset wins is scheduling-
    * dependent; the final table content and version count are not — which
    * is what makes the result oracle-checkable. */
  private[graft] def occDemoTable(spark: SparkSession, dir: String): String = {
    val root = graft.Tables.scratchDir("snapshots_occ")
    val orders = t(spark, dir, "orders")
    def slice(y: Int) = orders.filter(yearKey === y)
    commit(root, 1, writeFileset(slice(1995), root, "base_1995", yearKey))
    val contenders = Seq(
      writeFileset(slice(1996), root, "append_1996", yearKey),
      writeFileset(slice(1997), root, "append_1997", yearKey))
    val gate = new java.util.concurrent.CountDownLatch(contenders.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(contenders.size)
    try {
      val pending = contenders.map { fs =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.countDown(); gate.await() // maximize publish overlap
            commitRetry(root, current => current ++ fs)
          }
        })
      }
      val versions = pending.map(_.get()).sorted
      require(versions == Seq(2L, 3L),
        s"racing appends must land consecutive versions, got $versions")
    } finally { pool.shutdown(): Unit }
    root
  }

  /** `etl_occ_append` — the multi-writer commit gate: after the race in
    * [[occDemoTable]], the latest snapshot must hold base + BOTH appends
    * (the loser's retry preserved its work instead of clobbering or being
    * clobbered) and the version counter must read 3. The oracle states the
    * expected content directly against orders. */
  def etlOccAppend(spark: SparkSession, dir: String): DataFrame = {
    val root = occDemoTable(spark, dir)
    readSnapshot(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 2)).cast("string").as("sum_price"))
      .select(lit(latestVersion(root)).as("version"), col("n_rows"), col("sum_price"))
  }

  /** Incremental (change-data) read between two committed versions: the
    * consumer's "give me what changed since v" without rescanning the
    * table. Manifest diff is O(manifest) driver work; only files ADDED
    * since `fromV` are opened — carried-over files are provably never
    * touched. Returns (added, removed): rows in files new to `toV`, and
    * rows from files dropped since `fromV` (for an append-only history
    * `removed` is empty; a CoW delete surfaces the rewritten file's old
    * rows as removed and its survivors as added, which downstream MERGE
    * consumers net out by key). */
  def readIncremental(spark: SparkSession, root: String, fromV: Long, toV: Long)
      : (DataFrame, DataFrame) = {
    val before = entries(root, fromV).map(_.file).toSet
    val after = entries(root, toV).map(_.file).toSet
    def readSet(files: Set[String]): DataFrame = {
      val fs = files.toSeq.sorted
      if (fs.isEmpty)
        // preserve schema without opening any data file
        readSnapshot(spark, root, Some(toV)).limit(0)
      else spark.read.parquet(fs.map(f => s"$root/$f"): _*)
    }
    (readSet(after -- before), readSet(before -- after))
  }

  /** Retention vacuum: delete every data file under `data/` that no kept
    * manifest references (older manifests are dropped first). This is the
    * storage-reclaim half of the CoW story — replaced files stay readable
    * for time travel until retention expires, then one manifest-driven
    * sweep removes them; orphans from torn writes fall out with the same
    * sweep. O(manifests + files) driver metadata work, no data IO.
    * Returns the deleted relative paths. */
  def vacuum(root: String, keepVersions: Long): Seq[String] = {
    val latest = latestVersion(root)
    val keepFrom = math.max(1L, latest - keepVersions + 1)
    (1L until keepFrom).foreach(v => Files.deleteIfExists(manifestPath(root, v)))
    val referenced = (keepFrom to latest).flatMap(v => entries(root, v).map(_.file)).toSet
    val dataDir = Paths.get(root, "data")
    if (!Files.isDirectory(dataDir)) return Seq.empty
    val victims = Files.walk(dataDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => Paths.get(root).relativize(p).toString)
      .filterNot(referenced)
      .toSeq
    victims.foreach(f => Files.deleteIfExists(Paths.get(root, f)))
    victims.sorted
  }

  /** `etl_time_travel` — read all three pinned versions of the demo table
    * through the manifest path and aggregate each: the oracle states every
    * version's expected content directly against the orders table, so the
    * gate proves (a) v1/v2 still read their ORIGINAL content after later
    * commits (snapshot isolation), (b) the append referenced rather than
    * rewrote, (c) the copy-on-write delete removed exactly the predicate
    * rows from exactly one fileset. */
  def etlTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = demoTable(spark, dir)
    val perVersion = (1L to 3L).map { v =>
      readSnapshot(spark, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2)).cast("string").as("sum_price"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price"))
    }
    perVersion.reduce(_ unionAll _).orderBy("version")
  }

  /** `etl_incremental_read` — change-data consumption off the manifest
    * diff: for each version transition of the demo table, the added and
    * removed row sets summarized (count + exact decimal mass). v1→v2 is
    * the append (nothing removed — and the removed-side scan opens zero
    * files, it aggregates an empty frame); v2→v3 is the CoW delete (old
    * 1996 file out, its survivors back in). The oracle states both
    * transitions directly against orders, so the gate proves the manifest
    * diff reads exactly the changed files' content — the incremental
    * contract that lets a downstream consumer follow a 100 TB table
    * without ever rescanning it. */
  def etlIncrementalRead(spark: SparkSession, dir: String): DataFrame = {
    val root = demoTable(spark, dir)
    def side(df: DataFrame, fromV: Long, toV: Long, tag: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("o_totalprice").cast(DecimalType(18, 2))),
            lit(0).cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2)).cast("string").as("sum_price"))
        .select(lit(fromV).as("from_v"), lit(toV).as("to_v"), lit(tag).as("side"),
          col("n_rows"), col("sum_price"))
    Seq((1L, 2L), (2L, 3L)).map { case (f, v) =>
      val (added, removed) = readIncremental(spark, root, f, v)
      side(added, f, v, "added").unionAll(side(removed, f, v, "removed"))
    }.reduce(_ unionAll _).orderBy("from_v", "side")
  }
}
