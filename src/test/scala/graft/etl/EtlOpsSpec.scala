package graft.etl

import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkTestBase, Tables}

class EtlOpsSpec extends SparkTestBase {

  // --- A1 range batcher: batches tile [start,end] inclusively, no overlap ----
  test("rangeBatches tiles the range exactly (randomized property)") {
    val rnd = new scala.util.Random(7)
    (1 to 30).foreach { _ =>
      val start = rnd.nextInt(1000).toLong
      val end = start + rnd.nextInt(500).toLong
      val batch = 1L + rnd.nextInt(97)
      val rows = EtlOps.rangeBatches(spark, start, end, batch)
        .orderBy("batch_index").collect()
      assert(rows.head.getAs[Long]("start_block") == start)
      assert(rows.last.getAs[Long]("end_block") == end)
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_block") == a.getAs[Long]("end_block") + 1)
        case _ =>
      }
      rows.foreach { r =>
        val w = r.getAs[Long]("end_block") - r.getAs[Long]("start_block") + 1
        assert(w >= 1 && w <= batch)
      }
    }
  }

  test("referencePartitionPlan reproduces the 131-partition layout") {
    val rows = EtlOps.referencePartitionPlan(spark).orderBy("batch_id").collect()
    assert(rows.length == 131)
    assert(rows.head.getAs[Long]("start_block") == 0L)
    assert(rows.head.getAs[Long]("end_block") == 999999L)
    assert(rows.last.getAs[Long]("start_block") == 4990000L)
    assert(rows.last.getAs[Long]("end_block") == 4999999L)
  }

  // --- A7 ApplyMapping: golden schema incl. the uint256 decimal cast --------
  test("applyMapping renames, casts string->decimal(38,0), drops unlisted") {
    import spark.implicits._
    val df = Seq(
      ("a", "115792089237316195423570985008687907853269984665640564039457", 1L),
      ("b", "0", 2L)).toDF("hash", "value", "extra")
    val mapped = EtlOps.applyMapping(df, Seq(
      ("hash", "tx_hash", StringType), ("value", "value_wei", DecimalType(38, 0))))
    assert(mapped.columns.toSeq == Seq("tx_hash", "value_wei"))
    assert(mapped.schema("value_wei").dataType == DecimalType(38, 0))
    val vals = mapped.orderBy("tx_hash").collect()
    // >38-digit uint256 overflows decimal(38,0) -> null (the reference's
    // accepted lossy ceiling, convert_blocks_to_parquet.py:38-39)
    assert(vals(0).isNullAt(1))
    assert(vals(1).getDecimal(1).longValueExact() == 0L)
    // a 38-digit value survives exactly
    val big = "9" * 38
    val kept = EtlOps.applyMapping(Seq(("x", big)).toDF("h", "v"),
      Seq(("v", "v", DecimalType(38, 0)))).head().getDecimal(0)
    assert(kept.toString == big)
  }

  // --- A8 ResolveChoice ------------------------------------------------------
  test("resolveChoice materializes candidate casts instead of failing") {
    import spark.implicits._
    val df = Seq("123", "abc", null).toDF("v")
    val out = EtlOps.resolveChoice(df, "v", Seq(LongType, StringType))
    assert(out.columns.toSeq == Seq("v", "v_as_bigint", "v_as_string"))
    val rows = out.collect()
    assert(rows(0).getLong(1) == 123L)
    assert(rows(1).isNullAt(1) && rows(1).getString(2) == "abc")
  }

  // --- A9 DropNullFields -----------------------------------------------------
  test("dropNullFields drops only all-null columns") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String], Some("x")), (2L, None, None))
      .toDF("id", "dead", "sometimes")
    val out = EtlOps.dropNullFields(df)
    assert(out.columns.toSeq == Seq("id", "sometimes"))
    // the one-pass lake write drops the same columns, read back schema-free
    val tmp = Tables.scratchDir("dnf_spec")
    val written = EtlOps.stageRanges(df, col("id"), col("id")).write(tmp, "parquet")
    assert(written.fieldNames.toSeq == out.columns.toSeq)
    assert(spark.read.parquet(tmp).columns.toSeq == out.columns.toSeq ++ Seq("start_block", "end_block"))
    // the partition columns lead the staged frame, but each written file
    // holds only the data columns, in their original order
    for (part <- partFiles(tmp))
      assert(spark.read.parquet(part.toString).columns.toSeq == out.columns.toSeq, part)
  }

  private def partFiles(dir: String): Seq[java.nio.file.Path] = {
    val all = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try all.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList
    finally all.close()
  }

  // --- A11 staged semi-join --------------------------------------------------
  test("stagedSemiJoin returns only entities matching stage keys, no dupes") {
    import spark.implicits._
    val entities = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val keys = Seq(1L, 1L, 3L, 9L).toDF("kk")
    val out = EtlOps.stagedSemiJoin(entities, keys, "k", "kk")
    assert(out.orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  // --- rerun semantics -------------------------------------------------------
  test("upsertLatest keeps exactly one latest-version row per key") {
    import spark.implicits._
    val current = Seq((1L, 1, "a"), (2L, 1, "b")).toDF("k", "version", "v")
    val updates = Seq((2L, 2, "b2"), (3L, 1, "c")).toDF("k", "version", "v")
    val out = EtlOps.upsertLatest(current, updates, Seq("k"), "version")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("snapshotDiff classifies insert/delete/update/unchanged, null-safe") {
    import spark.implicits._
    val before = Seq((1L, Some("x")), (2L, Some("y")), (3L, Option.empty[String]), (4L, Some("z")))
      .toDF("k", "v")
    val after = Seq((1L, Some("x")), (3L, Option.empty[String]), (4L, Some("zz")), (5L, Some("new")))
      .toDF("k", "v")
    val out = EtlOps.snapshotDiff(before, after, Seq("k"), Seq("v"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(
      (1L, "unchanged"), (2L, "delete"), (3L, "unchanged"), // null <=> null
      (4L, "update"), (5L, "insert")))
  }

  test("cdcApply: last op wins — delete-then-reinsert, update-then-delete, no-op delete, untouched base") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val log = Seq(
      (1L, 1L, "U", "a2"), (1L, 2L, "D", ""), (1L, 3L, "U", "a3"), // D then re-insert: survives as a3
      (2L, 1L, "U", "b2"), (2L, 2L, "D", ""),                      // trailing delete: gone
      (5L, 1L, "U", "e"),                                          // insert of a new key
      (6L, 1L, "D", ""),                                           // delete of a key never present: no-op
      (3L, 1L, "U", "c2"))                                         // plain update
    .toDF("k", "seq", "op", "nv")
    val out = EtlOps.cdcApply(base, log, Seq("k"), Seq("seq"), "op", "D", Seq("v" -> "nv"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, "a3", true), (3L, "c2", true), (4L, "d", false), (5L, "e", true)))
  }

  // --- A4/A10 partitioned sinks: zero-padded layout round-trip --------------
  test("writePartitioned produces zero-padded Hive dirs; readPartitioned preserves them") {
    import spark.implicits._
    val tmp = Tables.scratchDir("sink_spec")
    val df = Seq((5L, "x"), (1005L, "y")).toDF("num", "payload")
    EtlOps.writePartitioned(df, tmp, "parquet",
      (col("num") / 1000).cast(LongType) * 1000,
      (col("num") / 1000).cast(LongType) * 1000 + 999)
    val dirs = new java.io.File(tmp).listFiles().map(_.getName).filter(_.startsWith("start_block")).sorted
    assert(dirs.toSeq == Seq("start_block=00000000", "start_block=00001000"))
    val back = EtlOps.readPartitioned(spark, tmp, "parquet", StructType(Seq(
      StructField("num", LongType), StructField("payload", StringType))))
    val rows = back.orderBy("num").collect()
    assert(rows.map(_.getAs[String]("start_block")).toSeq == Seq("00000000", "00001000"))
    assert(rows.map(_.getAs[String]("end_block")).toSeq == Seq("00000999", "00001999"))
  }

  // --- the partitioned sinks set file modes without forking `chmod` -------
  test("writePartitioned gives the modes of a plain parquet write and keeps every .crc") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    def modes(dir: String): Map[Boolean, Set[String]] = {
      val all = Files.walk(Paths.get(dir))
      try all.iterator().asScala.toList.groupBy(Files.isDirectory(_)).map { case (isDir, ps) =>
        isDir -> ps.map(p => PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toSet
      } finally all.close()
    }
    val df = Seq((5L, "x"), (1005L, "y")).toDF("num", "payload")
    val plain = s"${Tables.scratchDir("plain_spec")}/out"
    df.write.parquet(plain)
    val ranged = s"${Tables.scratchDir("modes_spec")}/out"
    EtlOps.writePartitioned(df, ranged, "parquet", col("num"), col("num"))
    assert(modes(ranged) == modes(plain))
    assert(modes(ranged).keySet == Set(true, false))
    val parts = partFiles(ranged)
    assert(parts.size == 2)
    parts.foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"no .crc for $p")
    }
  }

  test("NioLocalFileSystem sets a mode in-process and leaves a sticky bit to Hadoop") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val fs = new NioLocalFileSystem.Raw
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
    val file = Files.createFile(java.nio.file.Paths.get(Tables.scratchDir("mode_spec"), "mode.bin"))
    fs.setPermission(new Path(file.toUri), octal("640"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(file)) == "rw-r-----")
    // NIO cannot set a sticky bit: only Hadoop's own path yields mode 1755
    val dir = java.nio.file.Paths.get(Tables.scratchDir("sticky_spec"))
    fs.setPermission(new Path(dir.toUri), octal("1755"))
    val mode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
    assert(Integer.toOctalString(mode & 0xfff) == "1755")
  }

  test("etl_dead_letter routes malformed payloads without dropping or poisoning") {
    val rows = EtlOps.etlDeadLetter(spark, sf).collect()
    val total = graft.Tables.t(spark, sf, "events").count()
    assert(rows.length == total, "routing must not drop rows")
    val (bad, good) = rows.partition(r => !r.getAs[Boolean]("ok"))
    // every 7th event_id is corrupted; ids are dense from 0
    assert(bad.length == rows.count(_.getAs[Long]("event_id") % 7 == 0))
    bad.foreach { r =>
      assert(r.getAs[String]("dead_letter") != null, "dead letter must carry the raw payload")
      assert(r.isNullAt(r.fieldIndex("k")), "malformed rows must not fake a parsed value")
    }
    good.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("k")), "good rows must parse")
      assert(r.getAs[String]("dead_letter") == null)
    }
  }

  // --- etl_fk_audit: referential integrity per FK edge ---------------------
  test("etl_fk_audit finds zero orphans on intact edges and exactly the pruned partition's children") {
    val q = EtlOps.etlFkAudit(spark, sf)
    // hash joins only — an FK audit that plans a nested loop or cartesian
    // would never survive the fact-to-fact edge at scale
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the audit plan:\n$plan")

    val rows = q.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    val li = graft.Tables.t(spark, sf, "lineitem")
      .select(col("l_orderkey")).collect().map(_.getLong(0))
    // intact edges: orphan-free, child counts equal the full child tables
    Seq("lineitem.l_orderkey->orders", "lineitem.l_partkey->part",
      "orders.o_custkey->customer", "supplier.s_nationkey->nation")
      .foreach { e =>
        assert(rows(e)._2 == 0L, s"$e reported orphans on intact data")
        assert(rows(e)._3.isEmpty, s"$e reported an orphan key on intact data")
      }
    assert(rows("lineitem.l_orderkey->orders")._1 == li.length.toLong)
    // the synthesized missing-partition edge: every child of a %13 order is
    // an orphan, nothing else is, and the audit discriminates (nonzero)
    val expectedOrphans = li.count(_ % 13 == 0).toLong
    val (nChild, nOrphan, minKey) = rows("lineitem.l_orderkey->orders_pruned13")
    assert(nChild == li.length.toLong)
    assert(nOrphan == expectedOrphans && nOrphan > 0L,
      s"pruned edge: got $nOrphan orphans, want $expectedOrphans > 0")
    assert(minKey.contains(li.filter(_ % 13 == 0).min),
      s"min orphan key: got $minKey")
  }

  // --- etl_quality_audit: whole constraint suite in one corpus scan --------
  test("etl_quality_audit evaluates every constraint in a single scan and discriminates") {
    val df = EtlOps.etlQualityAudit(spark, sf)
    // the suite costs ONE pass over documents no matter how many constraints
    // are declared — that is the operator's whole point at 100 TB
    val scans = "(?i)scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString).size
    assert(scans == 1, s"expected exactly one documents scan, saw $scans")
    val rows = df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(rows.size == 6)
    // mirror the counts driver-side from the raw table
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text", "lang", "n_chars").collect()
    val total = docs.length.toLong
    val langs = Set("en", "de", "fr", "es", "zh")
    val want = Map(
      "complete_text" -> docs.count(!_.isNullAt(1)).toLong,
      "complete_lang" -> docs.count(!_.isNullAt(2)).toLong,
      "unique_doc_id" -> docs.map(_.getLong(0)).distinct.length.toLong,
      "lang_allowed" -> docs.count(r => !r.isNullAt(2) && langs(r.getString(2))).toLong,
      "chars_consistent" -> docs.count(r => !r.isNullAt(1) && !r.isNullAt(3) &&
        r.getString(1).length.toLong == r.getLong(3)).toLong,
      "min_length_200" -> docs.count(r => !r.isNullAt(3) && r.getLong(3) >= 200L).toLong)
    want.foreach { case (name, ok) =>
      val (gotOk, gotTotal, ppm, passed) = rows(name)
      assert(gotOk == ok, name)
      assert(gotTotal == total, name)
      assert(passed == (gotOk * 1000000L >= ppm * total), name)
    }
    // the audit must discriminate: testdata passes 5 constraints, fails 1
    assert(rows("min_length_200")._4 == false, "min_length_200 should fail on testdata")
    assert(rows.count(_._2._4) == 5)
  }

  // --- etl_incremental_agg: maintenance ≡ recompute over persisted state --
  test("etl_incremental_agg merges persisted state + delta into exactly the full recompute") {
    import org.apache.spark.sql.types.DecimalType
    val merged = EtlOps.etlIncrementalAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    // the invariant that makes incremental aggregation trustworthy: the
    // state+delta merge must equal a from-scratch aggregate over everything
    val full = graft.Tables.t(spark, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 2)).cast("string").as("total"))
      .orderBy("o_orderpriority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(merged == full)
    // both slices genuinely contribute (neither n_hist nor n_delta is the
    // whole answer — otherwise the merge would be vacuous)
    val nAll = full.map(_._2).sum
    val nDelta = graft.Tables.t(spark, sf, "orders")
      .filter(col("o_orderkey") % 10 === 0).count()
    assert(nDelta > 0 && nDelta < nAll)
    // the state really is persisted parquet, built once per session: a
    // second invocation reuses the memoized dir instead of re-aggregating
    val again = EtlOps.etlIncrementalAgg(spark, sf)
    assert(again.queryExecution.executedPlan.toString.contains("agg_state"),
      "maintenance must read the persisted state dir, not rescan history")
    assert(again.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq == full)
  }

  test("snapshots: atomic manifest commits give isolation, orphan invisibility, CoW reuse, and stats pruning") {
    import graft.etl.Snapshots
    val root = graft.Tables.scratchDir("snap_spec")
    val orders = graft.Tables.t(spark, sf, "orders")
    val yearK = year(col("o_orderdate")).cast(LongType)
    def sig(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("o_orderkey")).collect().map(_.getLong(0).toString).sorted.toSeq

    val a = Snapshots.writeFileset(orders.filter(yearK === 1995), root, "y1995", yearK)
    val b = Snapshots.writeFileset(orders.filter(yearK === 1996), root, "y1996", yearK)
    Snapshots.commit(root, 1, a ++ b)
    val v1Before = sig(Snapshots.readSnapshot(spark, root, Some(1)))

    // manifest entries carry real per-file stats from _metadata
    (a ++ b).foreach { e => assert(e.rows > 0 && e.minKey >= 1995 && e.maxKey <= 1996) }

    // a torn/failed write leaves an orphan data file: invisible to readers
    val orphanDir = java.nio.file.Paths.get(root, "data", "orphan")
    orders.filter(yearK === 1998).write.parquet(orphanDir.toString)
    assert(sig(Snapshots.readSnapshot(spark, root, Some(1))) == v1Before,
      "orphan data files leaked into a snapshot read")

    // a leftover temp manifest must not register as a version
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_manifests", ".tmp-v9-dead"), "junk".getBytes)
    assert(Snapshots.latestVersion(root) == 1)

    val c = Snapshots.writeFileset(orders.filter(yearK.between(1997, 1998)), root, "y1997_98", yearK)
    Snapshots.commit(root, 2, a ++ b ++ c)
    val b2 = Snapshots.writeFileset(
      orders.filter(yearK === 1996).filter(col("o_orderpriority") =!= "1-URGENT"),
      root, "y1996_cow", yearK)
    Snapshots.commit(root, 3, a ++ b2 ++ c)

    // snapshot isolation: the pinned v1 read is unchanged by later commits
    assert(sig(Snapshots.readSnapshot(spark, root, Some(1))) == v1Before)
    // append referenced, CoW rewrote only its target: v3 shares a and c
    // file-for-file with v2, and no y1996 (pre-CoW) file survives in v3
    val v3 = Snapshots.entries(root, 3).map(_.file).toSet
    assert((a ++ c).forall(e => v3.contains(e.file)), "append/CoW rewrote untouched files")
    assert(b.forall(e => !v3.contains(e.file)), "CoW left the replaced files in the manifest")
    // latest == v3 == orders minus the deleted slice
    val expect3 = sig(orders.filter(yearK.between(1995, 1998))
      .filter(!(yearK === 1996 && col("o_orderpriority") === "1-URGENT")))
    assert(sig(Snapshots.readSnapshot(spark, root)) == expect3)

    // manifest stats pruning: a 1997-98 key range admits ONLY the c fileset
    // and still returns exactly the filtered answer
    val (pruned, admitted) = Snapshots.readSnapshotWithFiles(spark, root, None, Some((1997L, 1998L)))
    assert(admitted.map(_.file).toSet == c.map(_.file).toSet,
      s"stats pruning admitted ${admitted.map(_.file)} != ${c.map(_.file)}")
    assert(sig(pruned) == sig(orders.filter(yearK.between(1997, 1998))))

    // incremental read: the append transition adds exactly the new fileset's
    // rows and removes nothing; the CoW transition surfaces the replaced
    // file's rows as removed and its survivors as added
    val (add12, rem12) = Snapshots.readIncremental(spark, root, 1, 2)
    assert(sig(add12) == sig(orders.filter(yearK.between(1997, 1998))))
    assert(rem12.count() == 0)
    val (add23, rem23) = Snapshots.readIncremental(spark, root, 2, 3)
    assert(sig(add23) == sig(orders.filter(yearK === 1996)
      .filter(col("o_orderpriority") =!= "1-URGENT")))
    assert(sig(rem23) == sig(orders.filter(yearK === 1996)))

    // vacuum with retention 1: only v3 survives; the replaced 1996 files
    // AND the orphan fileset are reclaimed, untouched files remain readable
    val deleted = Snapshots.vacuum(root, keepVersions = 1)
    assert(b.map(_.file).forall(deleted.contains), "replaced CoW files not reclaimed")
    assert(deleted.exists(_.startsWith("data/orphan/")), "orphan files not reclaimed")
    assert((a ++ b2 ++ c).map(_.file).forall(f => !deleted.contains(f)),
      "vacuum deleted a live file")
    assert(Snapshots.latestVersion(root) == 3)
    assert(sig(Snapshots.readSnapshot(spark, root)) == expect3,
      "latest snapshot unreadable after vacuum")
    intercept[Exception] { Snapshots.entries(root, 1) } // history expired
  }

  test("columnStats: nulls excluded from nonnull/distinct/minmax, one row per column") {
    import spark.implicits._
    val df = Seq(
      (Some(3L), Some("b")), (None: Option[Long], Some("a")),
      (Some(1L), None), (Some(3L), Some("a")))
      .toDF("k", "s")
    val out = EtlOps.columnStats(df, Seq("k" -> "num", "s" -> "str"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))
    assert(out.toSeq == Seq(
      ("k", 4L, 3L, 2L, "1.00", "3.00"),
      ("s", 4L, 3L, 2L, "a", "b")))
    // single-scan contract: exactly one aggregate subtree over one relation
    // (the multi-distinct Expand is inside it), no join, no self-union
    val plan = EtlOps.columnStats(df, Seq("k" -> "num", "s" -> "str"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), plan.take(400))
    assert(!plan.contains("Union"), plan.take(400))
  }

  test("snapshots OCC: racing committers never clobber — losers retry and every append survives") {
    import graft.etl.Snapshots
    import graft.etl.Snapshots.Entry
    // The commit protocol is pure manifest metadata — no data IO needed to
    // exercise the race, so contend hard: 8 committers, all gated on one
    // latch, all observing base=1 before any publishes.
    val root = graft.Tables.scratchDir("snap_occ_spec")
    Snapshots.commit(root, 1, Seq(Entry("data/base/f0.parquet", 10, 0, 0)))
    val n = 8
    val gate = new java.util.concurrent.CountDownLatch(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val done = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.countDown(); gate.await()
            Snapshots.commitRetry(root,
              cur => cur :+ Entry(s"data/c$i/f.parquet", 1, i.toLong, i.toLong))
          }
        })
      }
      val versions = done.map(_.get()).sorted
      // consecutive versions, one per committer, none lost or duplicated
      assert(versions == (2L to (n + 1).toLong), s"got $versions")
    } finally { pool.shutdown(): Unit }
    // final manifest holds the base + all 8 appends exactly once
    val finalFiles = Snapshots.entries(root, Snapshots.latestVersion(root)).map(_.file)
    assert(finalFiles.length == n + 1 && finalFiles.distinct.length == n + 1)
    assert((0 until n).forall(i => finalFiles.contains(s"data/c$i/f.parquet")))
    // history is a chain of supersets: every version adds exactly one file
    // to its predecessor — no intermediate state was overwritten
    (2L to (n + 1).toLong).foreach { v =>
      val prev = Snapshots.entries(root, v - 1).map(_.file).toSet
      val cur = Snapshots.entries(root, v).map(_.file).toSet
      assert(prev.subsetOf(cur) && (cur -- prev).size == 1,
        s"v${v - 1}->v$v is not a single-append step")
    }
    // stale-base conditional put is rejected, not applied
    Snapshots.tryCommit(root, 1, Seq.empty) match {
      case Snapshots.Conflicted(base, latest) =>
        assert(base == 1L && latest == (n + 1).toLong)
      case other => fail(s"stale base committed: $other")
    }
  }

  test("snapshots OCC hammer: 6 threads x 10 mixed append/compact commits — linearizable history, no lost filesets") {
    import graft.etl.Snapshots
    import graft.etl.Snapshots.Entry
    import scala.jdk.CollectionConverters._
    val root = graft.Tables.scratchDir("snap_occ_hammer")
    Snapshots.commit(root, 1, Seq(Entry("data/base/f0.parquet", 0, 0, 0)))
    val nThreads = 6
    val nOps = 10
    // Every Conflicted observation implies SOMEONE ELSE committed, and only
    // nThreads*nOps commits exist in the whole run — so nThreads*nOps + 2
    // attempts provably suffice; hitting the ceiling would itself be a
    // liveness bug (a retry that does not observe the winner's version).
    val maxAtt = nThreads * nOps + 2
    final case class OpRec(version: Long, thread: Int, kind: String, newFile: String)
    val recs = java.util.Collections.synchronizedList(new java.util.ArrayList[OpRec]())
    val gate = new java.util.concurrent.CountDownLatch(nThreads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    try {
      val done = (0 until nThreads).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            gate.countDown(); gate.await()
            (0 until nOps).foreach { j =>
              if (j % 4 != 3) {
                // append one unit-mass file
                val f = s"data/t$i/f$j.parquet"
                val v = Snapshots.commitRetry(root,
                  cur => cur :+ Entry(f, 1, i.toLong, i.toLong), maxAtt)
                recs.add(OpRec(v, i, "append", f)): Unit
              } else {
                // compact THIS thread's live files into one, conserving row
                // mass — recomputed against the fresh base on every retry,
                // so a concurrent foreign append is never clobbered
                val f = s"data/t$i/compact$j.parquet"
                val v = Snapshots.commitRetry(root, cur => {
                  val mine = cur.filter(_.file.startsWith(s"data/t$i/"))
                  cur.filterNot(_.file.startsWith(s"data/t$i/")) :+
                    Entry(f, mine.map(_.rows).sum, i.toLong, i.toLong)
                }, maxAtt)
                recs.add(OpRec(v, i, "compact", f)): Unit
              }
            }
          }
        })
      }
      done.foreach(_.get())
    } finally { pool.shutdown(): Unit }

    // linearizable history: exactly nThreads*nOps commits landed on
    // consecutive versions with no gap, duplicate, or loss
    val byV = recs.asScala.toSeq.sortBy(_.version)
    assert(byV.map(_.version) == (2L to (nThreads * nOps + 1).toLong),
      s"version history not linearizable: ${byV.map(_.version)}")

    // each version is EXACTLY its recorded op applied to its predecessor —
    // no interleaved commit ever leaked into or vanished from a neighbor
    byV.foreach { r =>
      val prev = Snapshots.entries(root, r.version - 1)
      val cur = Snapshots.entries(root, r.version)
      val prevF = prev.map(_.file).toSet
      val curF = cur.map(_.file).toSet
      r.kind match {
        case "append" =>
          assert(curF == prevF + r.newFile, s"v${r.version} append diff wrong")
          assert(cur.map(_.rows).sum == prev.map(_.rows).sum + 1)
        case "compact" =>
          val mine = prev.filter(_.file.startsWith(s"data/t${r.thread}/")).map(_.file).toSet
          assert(curF == (prevF -- mine) + r.newFile, s"v${r.version} compact diff wrong")
          assert(cur.map(_.rows).sum == prev.map(_.rows).sum, "compaction lost row mass")
      }
    }

    // no lost filesets: per-thread final row mass == that thread's appends
    val finalE = Snapshots.entries(root, Snapshots.latestVersion(root))
    (0 until nThreads).foreach { i =>
      val mass = finalE.filter(_.file.startsWith(s"data/t$i/")).map(_.rows).sum
      val appends = byV.count(r => r.thread == i && r.kind == "append")
      assert(mass == appends, s"thread $i: final mass $mass != appends $appends")
    }
  }

  test("snapshots OCC: CoW retry validates sources — a concurrently-replaced file aborts, not resurrects") {
    import graft.etl.Snapshots
    import graft.etl.Snapshots.Entry
    val root = graft.Tables.scratchDir("snap_occ_cow_spec")
    val x = Entry("data/x/f.parquet", 5, 0, 0)
    val y = Entry("data/y/f.parquet", 5, 1, 1)
    Snapshots.commit(root, 1, Seq(x, y))
    // A rewrites x -> x2 and wins
    val v2 = Snapshots.commitRetry(root,
      Snapshots.replacing(Set(x.file), Seq(Entry("data/x2/f.parquet", 3, 0, 0))))
    assert(v2 == 2L)
    // B also computed a rewrite of x (against the v1 snapshot); its retry
    // must detect x is gone and abort — replaying it would resurrect rows
    // A's commit deleted
    intercept[Snapshots.CommitConflictException] {
      Snapshots.commitRetry(root,
        Snapshots.replacing(Set(x.file), Seq(Entry("data/x3/f.parquet", 4, 0, 0))))
    }
    // an untouched source still rewrites fine on the new base
    val v3 = Snapshots.commitRetry(root,
      Snapshots.replacing(Set(y.file), Seq(Entry("data/y2/f.parquet", 2, 1, 1))))
    assert(v3 == 3L)
    assert(Snapshots.entries(root, 3).map(_.file).sorted ==
      Seq("data/x2/f.parquet", "data/y2/f.parquet"))
  }

  test("etl_occ_append: racing real appends produce the deterministic merged table at v3") {
    val out = graft.etl.Snapshots.etlOccAppend(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("version") == 3L)
    val expect = graft.Tables.t(spark, sf, "orders")
      .filter(year(col("o_orderdate")).between(1995, 1997)).count()
    assert(r.getAs[Long]("n_rows") == expect)
  }
}
