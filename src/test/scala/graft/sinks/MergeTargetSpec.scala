package graft.sinks

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** BucketedMergeTarget: bucket-pruned merge cost, atomic commit, crash
  * recovery, delete reconciliation, object-store-style paths. */
class MergeTargetSpec extends AnyFunSuite {

  private def spark = SparkTestSession.spark
  private def tmp(prefix: String): JPath = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }
  private def kv(rows: Seq[(Long, Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "cursor", "v")
  }
  private def contents(path: String): Set[(Long, Long, String)] =
    BucketedMergeTarget.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
  private def hfs(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  test("manifest JSON round-trips") {
    val m = BucketedMergeTarget.Manifest(7L, 16,
      Map(0 -> "_v000000003_9f2ab41c", 5 -> "_v000000007_04d7e8aa", 15 -> "_v000000001_cc01beef"),
      java.util.Base64.getEncoder.encodeToString(
        new org.apache.spark.sql.types.StructType().add("id", "long").json.getBytes("UTF-8")))
    val back = BucketedMergeTarget.manifestFromJson(BucketedMergeTarget.manifestToJson(m))
    assert(back == m)
    assert(back.schema.fieldNames.toSeq == Seq("id"))
    // compaction marker round-trips; absent (normal commits) parses as -1
    val mc = m.copy(compactedFrom = 6L)
    assert(BucketedMergeTarget.manifestFromJson(BucketedMergeTarget.manifestToJson(mc)) == mc)
    assert(back.compactedFrom == -1L)
    // probe-key bucketing survives the round trip (names b64'd — any chars)
    val mb = m.copy(bucketCols = Seq("band", "weird,name"))
    assert(BucketedMergeTarget.manifestFromJson(BucketedMergeTarget.manifestToJson(mb)) == mb)
    // pre-bucketCols manifests (no field at all) parse as PK-bucketed
    val legacy = BucketedMergeTarget.manifestToJson(m)
      .replace(""""bucketCols":"",""", "")
    assert(BucketedMergeTarget.manifestFromJson(legacy) == m)
    // the recorded PK survives the round trip; absent field = unchecked
    val mp = m.copy(pkCols = Seq("band", "bh", "doc"))
    assert(BucketedMergeTarget.manifestFromJson(BucketedMergeTarget.manifestToJson(mp)) == mp)
    val legacyPk = BucketedMergeTarget.manifestToJson(m)
      .replace(""""pkCols":"",""", "")
    assert(BucketedMergeTarget.manifestFromJson(legacyPk) == m)
  }

  test("manifest codec round-trips randomized manifests (fuzz, fixed seed)") {
    val rnd = new scala.util.Random(20260813L)
    // column names stress the per-name base64 encoding: quotes, commas,
    // braces, unicode, the codec's own delimiters
    val nasty = Seq("plain", "we\"ird", "a,b", "{\"x\":1}", "снег", "tab\there",
      "back\\slash", "new\nline", "")
    (1 to 40).foreach { trial =>
      val nb = 1 + rnd.nextInt(64)
      val buckets = (0 until nb).filter(_ => rnd.nextBoolean())
        .map(b => b -> f"_v${rnd.nextInt(1000000)}%09d_${rnd.nextLong().toHexString}").toMap
      val counts = buckets.keySet.filter(_ => rnd.nextBoolean())
        .map(b => b -> rnd.nextLong(1000000L)).toMap
      // Seq("") alone is out of contract (encodes as the absent field —
      // a store cannot be keyed by a single nameless column); empty
      // names in MIXED lists must round-trip
      val cols = Seq.fill(rnd.nextInt(4))(nasty(rnd.nextInt(nasty.length))).distinct
        match { case Seq("") => Seq("x", ""); case c => c }
      val m = BucketedMergeTarget.Manifest(
        rnd.nextLong(1000000L), nb, buckets,
        java.util.Base64.getEncoder.encodeToString(
          new org.apache.spark.sql.types.StructType().add("id", "long")
            .json.getBytes("UTF-8")),
        counts, cols, cols.reverse)
      val back = BucketedMergeTarget.manifestFromJson(BucketedMergeTarget.manifestToJson(m))
      assert(back == m, s"trial $trial did not round-trip: $m")
    }
  }

  test("a write keyed differently than the store was created with fails loudly") {
    val dir = tmp("mt-pk").resolve("t").toString
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"))), dir, Seq("id"), "cursor", 8)
    assert(BucketedMergeTarget.currentManifest(spark, dir).get.pkCols == Seq("id"))
    // same columns, different key choice: latest-per-"v" dedup against
    // id-bucketed files would break the primary-key invariant silently
    val e = intercept[IllegalArgumentException] {
      BucketedMergeTarget.merge(kv(Seq((2L, 1L, "b"))), dir, Seq("v"), "cursor", 8)
    }
    assert(e.getMessage.contains("keyed by"))
    // the recorded key keeps working
    BucketedMergeTarget.merge(kv(Seq((2L, 1L, "b"))), dir, Seq("id"), "cursor", 8)
    assert(contents(dir) == Set((1L, 1L, "a"), (2L, 1L, "b")))
  }

  test("merge seeds, upserts, and a stale cursor never regresses") {
    val dir = tmp("mt-sem").resolve("t").toString
    assert(!BucketedMergeTarget.exists(spark, dir))
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"), (2L, 1L, "b"))), dir, Seq("id"), "cursor", 8)
    assert(BucketedMergeTarget.exists(spark, dir))
    // update 1, insert 3, stale duplicate for 2 loses
    BucketedMergeTarget.merge(
      kv(Seq((1L, 3L, "a2"), (3L, 2L, "c"), (2L, 0L, "stale"))), dir, Seq("id"), "cursor", 8)
    assert(contents(dir) == Set((1L, 3L, "a2"), (2L, 1L, "b"), (3L, 2L, "c")))
    // replayed batch is a no-op on contents
    BucketedMergeTarget.merge(
      kv(Seq((1L, 3L, "a2"), (3L, 2L, "c"), (2L, 0L, "stale"))), dir, Seq("id"), "cursor", 8)
    assert(contents(dir) == Set((1L, 3L, "a2"), (2L, 1L, "b"), (3L, 2L, "c")))
  }

  test("merge I/O scales with the batch, not the target (bucket pruning)") {
    val s = spark
    import s.implicits._
    val dir = tmp("mt-scale").resolve("t").toString
    val big = (1L to 5000L).map(i => (i, 1L, "x" * 64)).toDF("id", "cursor", "v")
    val seed = BucketedMergeTarget.replaceAll(big, dir, Seq("id"), "cursor", nBuckets = 16)
    assert(seed.bucketsRewritten == 16)

    val stats = BucketedMergeTarget.merge(
      kv(Seq((42L, 9L, "updated"))), dir, Seq("id"), "cursor")
    assert(stats.bucketsRewritten == 1)
    // one bucket of 16 rewritten: bytes well under a quarter of the seed write
    assert(stats.bytesWritten > 0 && stats.bytesWritten < seed.bytesWritten / 4,
      s"bytesWritten=${stats.bytesWritten} vs seed=${seed.bytesWritten}")
    // 15 of 16 buckets still point at the seed version's dir — untouched
    // on disk (dir names embed the version they were committed at)
    val m = BucketedMergeTarget.currentManifest(spark, dir).get
    assert(m.buckets.values.count(_.startsWith(f"_v${seed.version}%09d")) == 15)
    assert(m.buckets.values.count(_.startsWith(f"_v${stats.version}%09d")) == 1)
    // and the data is right
    val out = BucketedMergeTarget.read(spark, dir)
    assert(out.count() == 5000)
    assert(out.filter(col("id") === 42L).head().getString(2) == "updated")
  }

  test("deleteKeys rewrites only touched buckets; emptied buckets drop out") {
    val dir = tmp("mt-del").resolve("t").toString
    BucketedMergeTarget.merge(
      kv(Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))), dir, Seq("id"), "cursor", 8)
    val s = spark
    import s.implicits._
    val stats = BucketedMergeTarget.deleteKeys(Seq(2L).toDF("id"), dir, Seq("id"))
    assert(stats.bucketsRewritten == 1)
    assert(contents(dir) == Set((1L, 1L, "a"), (3L, 1L, "c")))
    // delete everything: target is empty but keeps its schema
    BucketedMergeTarget.deleteKeys(Seq(1L, 3L).toDF("id"), dir, Seq("id"))
    val empty = BucketedMergeTarget.read(spark, dir)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "cursor", "v"))
    // deleting keys that don't exist is a no-op (no version churn)
    val before = BucketedMergeTarget.currentManifest(spark, dir).get.version
    BucketedMergeTarget.deleteKeys(Seq(99L).toDF("id"), dir, Seq("id"))
    assert(BucketedMergeTarget.currentManifest(spark, dir).get.version == before)
  }

  test("applyBatch: upserts and deletes land in ONE commit, upsert wins on overlap") {
    val dir = tmp("mt-apply").resolve("t").toString
    BucketedMergeTarget.replaceAll(
      kv(Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 1L, "d"))),
      dir, Seq("id"), "cursor", nBuckets = 8)
    val v0 = BucketedMergeTarget.currentManifest(spark, dir).get.version
    // delete 2 and 3; upsert 3 (delete+upsert → upsert wins) and 5 (new)
    val stats = BucketedMergeTarget.applyBatch(
      kv(Seq((3L, 2L, "c2"), (5L, 2L, "e"))),
      kv(Seq((2L, 0L, "x"), (3L, 0L, "x"))).select("id"),
      dir, Seq("id"), "cursor")
    assert(stats.version == v0 + 1) // exactly one manifest bump
    assert(contents(dir) == Set((1L, 1L, "a"), (3L, 2L, "c2"), (4L, 1L, "d"), (5L, 2L, "e")))
    // equivalent to merge-then-deleteKeys with delete-overlap removed
    val dir2 = tmp("mt-apply2").resolve("t").toString
    BucketedMergeTarget.replaceAll(
      kv(Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 1L, "d"))),
      dir2, Seq("id"), "cursor", nBuckets = 8)
    BucketedMergeTarget.deleteKeys(kv(Seq((2L, 0L, "x"), (3L, 0L, "x"))).select("id"),
      dir2, Seq("id"))
    BucketedMergeTarget.merge(kv(Seq((3L, 2L, "c2"), (5L, 2L, "e"))), dir2, Seq("id"), "cursor")
    assert(contents(dir) == contents(dir2))
    // row counts stay exact manifest metadata through the combined commit
    assert(BucketedMergeTarget.rowCount(spark, dir).contains(4L))
  }

  test("applyBatch on a probe-key-bucketed store touches only probed buckets") {
    val s = spark
    import s.implicits._
    val dir = tmp("mt-apply-bc").resolve("t").toString
    val rows = (1L to 64L).map(i => (i % 4, i, 1L)) // 4 distinct probe keys
      .toDF("band", "id", "cursor")
    BucketedMergeTarget.merge(rows, dir, Seq("band", "id"), "cursor",
      nBuckets = 16, bucketCols = Seq("band"))
    val before = BucketedMergeTarget.currentManifest(spark, dir).get
    // upsert one key under band=1, delete one row under band=2
    val stats = BucketedMergeTarget.applyBatch(
      Seq((1L, 999L, 2L)).toDF("band", "id", "cursor"),
      Seq((2L, 2L)).toDF("band", "id"),
      dir, Seq("band", "id"), "cursor")
    // only the two probed bands' buckets rewrite, not the whole store
    assert(stats.bucketsRewritten <= 2, s"rewrote ${stats.bucketsRewritten}")
    val after = BucketedMergeTarget.read(spark, dir).collect()
    assert(after.exists(r => r.getLong(1) == 999L))
    assert(!after.exists(r => r.getLong(0) == 2L && r.getLong(1) == 2L))
    assert(after.length == 64) // 64 - 1 deleted + 1 added
    assert(BucketedMergeTarget.currentManifest(spark, dir).get.version == before.version + 1)
  }

  test("compact rewrites every bucket into one version dir; contents and reads unchanged") {
    val dir = tmp("mt-compact").resolve("t").toString
    // five commits, each touching a different key range → buckets end up
    // owned by several version dirs, one file per bucket per rewrite
    BucketedMergeTarget.merge(kv((0L until 64L).map(i => (i, 1L, s"v$i"))),
      dir, Seq("id"), "cursor", 16)
    for (b <- 1 to 4)
      BucketedMergeTarget.merge(
        kv((b * 3L until 64L by 16L).map(i => (i, b + 1L, s"u$b-$i"))),
        dir, Seq("id"), "cursor", 16)
    val before = contents(dir)
    val mBefore = BucketedMergeTarget.currentManifest(spark, dir).get
    assert(mBefore.buckets.values.toSet.size > 1,
      "fixture must scatter buckets across version dirs")
    // the debt compaction sheds: version dirs ON DISK accrete one per
    // commit (referenced-file count stays one per bucket — the manifest
    // always points at the latest rewrite; it is the dir scatter and the
    // unreferenced generations that grow)
    val (f0, root0) = hfs(dir)
    val dirsBefore = f0.listStatus(root0).map(_.getPath.getName)
      .count(_.startsWith("_v"))
    assert(dirsBefore >= 4, s"fixture should hold several version dirs, got $dirsBefore")

    val stats = BucketedMergeTarget.compact(spark, dir)
    val m = BucketedMergeTarget.currentManifest(spark, dir).get
    assert(m.version == mBefore.version + 1)
    assert(m.buckets.values.toSet.size == 1,
      s"compaction must leave ONE owning dir, got ${m.buckets.values.toSet}")
    assert(m.buckets.keySet == mBefore.buckets.keySet)
    assert(m.pkCols == Seq("id") && m.nBuckets == 16)
    assert(contents(dir) == before, "compaction changed the store's contents")
    val filesAfter = BucketedMergeTarget.read(spark, dir).inputFiles.length
    assert(filesAfter == m.buckets.size,
      s"expected one file per bucket after compaction, got $filesAfter")
    assert(stats.bucketsRewritten == mBefore.buckets.size)

    // row counts carried exactly; an incremental merge after compaction
    // behaves normally and gc then reclaims the superseded dirs
    assert(m.rowCounts.values.sum == before.size.toLong)
    BucketedMergeTarget.merge(kv(Seq((0L, 99L, "post"))), dir, Seq("id"), "cursor", 16)
    val (f, root) = hfs(dir)
    val dirs = f.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_v")).toSet
    val mAfter = BucketedMergeTarget.currentManifest(spark, dir).get
    // on disk: exactly the compaction dir + the post-merge dir — every
    // pre-compaction version dir left the retained set and was reclaimed
    assert(dirs == mAfter.buckets.values.toSet,
      s"pre-compaction dirs must be reclaimed after the next commit: $dirs " +
        s"vs ${mAfter.buckets.values.toSet}")
    assert(contents(dir) == before - ((0L, 1L, "v0")) + ((0L, 99L, "post")))
  }

  test("a torn newest manifest falls back to the previous committed state") {
    val dir = tmp("mt-crash").resolve("t").toString
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"))), dir, Seq("id"), "cursor", 4)
    BucketedMergeTarget.merge(kv(Seq((2L, 1L, "b"))), dir, Seq("id"), "cursor", 4)
    val (f, p) = hfs(dir)
    // corrupt the newest manifest in place (simulates a torn write on a
    // store without atomic rename)
    val newest = f.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("_graft_manifest_v")).max
    val out = f.create(new Path(p, newest), true)
    out.write("{ not json".getBytes("UTF-8")); out.close()
    // reader recovers the v1 state: id=1 only
    assert(contents(dir) == Set((1L, 1L, "a")))
    // the next merge targets the torn slot (base+1 = the torn version):
    // first attempt clears the debris and demands a replay, the replay
    // lands — the fail-loud half of the single-lock commit protocol
    intercept[java.io.IOException] {
      BucketedMergeTarget.merge(kv(Seq((2L, 1L, "b"))), dir, Seq("id"), "cursor", 4)
    }
    BucketedMergeTarget.merge(kv(Seq((2L, 1L, "b"))), dir, Seq("id"), "cursor", 4)
    assert(contents(dir) == Set((1L, 1L, "a"), (2L, 1L, "b")))
  }

  test("a leftover version dir from a crashed write is ignored, then superseded") {
    val dir = tmp("mt-leftover").resolve("t").toString
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"))), dir, Seq("id"), "cursor", 4)
    val (f, p) = hfs(dir)
    // crash simulation: data written for v2 but no manifest flip
    val orphanDir = new Path(p, "_v000000002/_graft_bucket=0")
    f.mkdirs(orphanDir)
    val junk = f.create(new Path(orphanDir, "part-junk.parquet"), true)
    junk.write(Array[Byte](1, 2, 3)); junk.close()
    assert(contents(dir) == Set((1L, 1L, "a"))) // unreferenced → invisible
    BucketedMergeTarget.merge(kv(Seq((2L, 2L, "b"))), dir, Seq("id"), "cursor", 4)
    assert(contents(dir) == Set((1L, 1L, "a"), (2L, 2L, "b")))
  }

  test("repeated merges do not accumulate superseded files (GC bounds the dir)") {
    val dir = tmp("mt-gc").resolve("t").toString
    for (i <- 1 to 20)
      BucketedMergeTarget.merge(kv(Seq((1L, i.toLong, s"v$i"))), dir, Seq("id"), "cursor", 4)
    assert(contents(dir) == Set((1L, 20L, "v20")))
    val (f, p) = hfs(dir)
    val names = f.listStatus(p).map(_.getPath.getName)
    // manifests pruned to the newest two (fallback window)
    assert(names.count(_.startsWith("_graft_manifest_v")) <= 2, names.mkString(","))
    // superseded version dirs are deleted once their buckets move on —
    // a 20-cycle loop must not hold 20 copies of the data
    assert(names.count(_.startsWith("_v")) <= 2, names.mkString(","))
  }

  test("gc keeps the fallback manifest's bucket dirs: same-bucket rewrite still recovers") {
    val dir = tmp("mt-fallback").resolve("t").toString
    // same key twice → the SAME bucket is rewritten; gc must not delete the
    // old bucket dir while the previous manifest (which references it) is
    // retained as the torn-newest fallback
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"))), dir, Seq("id"), "cursor", 4)
    BucketedMergeTarget.merge(kv(Seq((1L, 2L, "a2"))), dir, Seq("id"), "cursor", 4)
    val (f, p) = hfs(dir)
    val newest = f.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("_graft_manifest_v")).max
    val out = f.create(new Path(p, newest), true)
    out.write("{ torn".getBytes("UTF-8")); out.close()
    // fallback must read the previous state, not throw PATH_NOT_FOUND
    assert(contents(dir) == Set((1L, 1L, "a")))
  }

  test("manifest pruning survives version-number gaps (keeps the real previous manifest)") {
    val dir = tmp("mt-gap").resolve("t").toString
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"))), dir, Seq("id"), "cursor", 4) // manifest v1
    val (f, p) = hfs(dir)
    // crashed writer left an orphan version dir and NO manifest → next commit is v3;
    // numeric-gap pruning (v < newVer-1) would delete manifest v1, the only
    // previous committed state
    f.mkdirs(new Path(p, "_v000000002/_graft_bucket=1"))
    BucketedMergeTarget.merge(kv(Seq((1L, 2L, "a2"))), dir, Seq("id"), "cursor", 4)
    val manifests = f.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("_graft_manifest_v")).sorted
    assert(manifests.length == 2 && manifests.head.contains("v000000001"),
      manifests.mkString(","))
    val out = f.create(new Path(p, manifests.last), true)
    out.write("{ torn".getBytes("UTF-8")); out.close()
    assert(contents(dir) == Set((1L, 1L, "a")))
  }

  test("rowCount is manifest metadata and tracks merges and deletes") {
    val dir = tmp("mt-count").resolve("t").toString
    BucketedMergeTarget.merge(
      kv(Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))), dir, Seq("id"), "cursor", 4)
    assert(BucketedMergeTarget.rowCount(spark, dir).contains(3L))
    BucketedMergeTarget.merge(
      kv(Seq((3L, 2L, "c2"), (4L, 1L, "d"))), dir, Seq("id"), "cursor", 4)
    assert(BucketedMergeTarget.rowCount(spark, dir).contains(4L))
    val s = spark
    import s.implicits._
    BucketedMergeTarget.deleteKeys(Seq(1L, 2L).toDF("id"), dir, Seq("id"))
    assert(BucketedMergeTarget.rowCount(spark, dir).contains(2L))
  }

  test("scheme-qualified (file://) paths work — Hadoop FS, not java.io.File") {
    val dir = "file://" + tmp("mt-scheme").resolve("t").toString
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"))), dir, Seq("id"), "cursor", 4)
    assert(BucketedMergeTarget.exists(spark, dir))
    assert(contents(dir) == Set((1L, 1L, "a")))
  }

  test("readMatchingLocal rejects a single-column probe of a composite-PK store") {
    // regression pin (round-6 advice): a store without explicit bucketCols
    // hashes its FULL PK — a driver-side probe over one column of a
    // composite PK would hash the wrong buckets and silently miss rows,
    // so it must fail loudly instead.
    val s = spark
    import s.implicits._
    val dir = tmp("mt-local-guard").resolve("t").toString
    BucketedMergeTarget.merge(
      Seq(("a", 1L, 1L, "x"), ("b", 2L, 1L, "y")).toDF("region", "id", "cursor", "v"),
      dir, Seq("region", "id"), "cursor", 8)
    val e = intercept[IllegalArgumentException] {
      BucketedMergeTarget.readMatchingLocal(s, dir, "id", Seq(1L),
        org.apache.spark.sql.types.LongType)
    }
    assert(e.getMessage.contains("probe with exactly those columns"))
    // the same probe against a single-column-PK store works and prunes
    val ok = tmp("mt-local-ok").resolve("t").toString
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"), (2L, 1L, "b"))), ok, Seq("id"), "cursor", 8)
    val hit = BucketedMergeTarget.readMatchingLocal(s, ok, "id", Seq(1L),
      org.apache.spark.sql.types.LongType)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("readMatchingLocal: a null key matches nothing on both probe paths") {
    val dir = tmp("mt-local-null").resolve("t").toString
    BucketedMergeTarget.merge(kv((0L until 300L).map(i => (i, 1L, s"v$i"))),
      dir, Seq("id"), "cursor", 8)
    def probe(keys: Seq[Any]): Set[Long] =
      BucketedMergeTarget.readMatchingLocal(spark, dir, "id", keys,
        org.apache.spark.sql.types.LongType).collect().map(_.getLong(0)).toSet
    // the IN path (≤ 10k keys) and the broadcast semi-join path (> 10k)
    // must agree: the null probes nothing, the other keys match exactly
    val small: Seq[Any] = Seq(null, 3L, 250L, 999999L)
    val large: Seq[Any] = null +: (100L until 10200L)
    assert(probe(small) == Set(3L, 250L))
    assert(probe(large) == (100L until 300L).toSet)
    assert(probe(large) == BucketedMergeTarget.read(spark, dir)
      .filter(col("id").isInCollection(large)).collect().map(_.getLong(0)).toSet)
    assert(probe(Seq(null)).isEmpty)
  }

  test("composite PKs bucket and merge correctly") {
    val s = spark
    import s.implicits._
    val dir = tmp("mt-composite").resolve("t").toString
    val df = Seq(("a", 1L, 1L, "x"), ("a", 2L, 1L, "y"), ("b", 1L, 1L, "z"))
      .toDF("region", "id", "cursor", "v")
    BucketedMergeTarget.merge(df, dir, Seq("region", "id"), "cursor", 8)
    BucketedMergeTarget.merge(
      Seq(("a", 2L, 5L, "y2")).toDF("region", "id", "cursor", "v"),
      dir, Seq("region", "id"), "cursor", 8)
    val out = BucketedMergeTarget.read(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(3))).toSet
    assert(out == Set(("a", 1L, "x"), ("a", 2L, "y2"), ("b", 1L, "z")))
  }

  test("additive schema evolution: a batch with a new column merges; old rows null-fill") {
    val s = spark
    import s.implicits._
    val dir = tmp("mt-evolve").resolve("t").toString
    BucketedMergeTarget.merge(
      kv(Seq((1L, 1L, "a"), (2L, 1L, "b"))), dir, Seq("id"), "cursor", 4)
    // evolved batch carries a new `score` column
    BucketedMergeTarget.merge(
      Seq((2L, 2L, "b2", 0.9), (3L, 1L, "c", 0.5)).toDF("id", "cursor", "v", "score"),
      dir, Seq("id"), "cursor", 4)
    val out = BucketedMergeTarget.read(s, dir)
    assert(out.columns.toSeq == Seq("id", "cursor", "v", "score"))
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b2", Some(0.9)), (3L, "c", Some(0.5))))
    // a later batch WITHOUT the column still merges; its rows null-fill it
    BucketedMergeTarget.merge(
      kv(Seq((1L, 3L, "a3"))), dir, Seq("id"), "cursor", 4)
    val out2 = BucketedMergeTarget.read(s, dir)
    assert(out2.columns.toSeq == Seq("id", "cursor", "v", "score"))
    assert(out2.filter(col("id") === 1L).head().isNullAt(3))
    assert(out2.filter(col("id") === 2L).head().getDouble(3) == 0.9)
    assert(BucketedMergeTarget.rowCount(s, dir).contains(3L))
  }

  test("a batch into untouched buckets cannot narrow an evolved schema") {
    val s = spark
    import s.implicits._
    val dir = tmp("mt-narrow").resolve("t").toString
    // evolve the store to carry `score`
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"))), dir, Seq("id"), "cursor", 8)
    BucketedMergeTarget.merge(
      Seq((1L, 2L, "a2", 0.7)).toDF("id", "cursor", "v", "score"),
      dir, Seq("id"), "cursor", 8)
    // find a key hashing into a DIFFERENT (currently empty) bucket, so the
    // merge takes the no-intersect path that used to commit the bare
    // batch schema
    val b1 = s.range(1, 2).select(pmod(hash(col("id")), lit(8))).head().getInt(0)
    val k = (2L to 200L).find(i =>
      s.range(i, i + 1).select(pmod(hash(col("id")), lit(8))).head().getInt(0) != b1).get
    BucketedMergeTarget.merge(kv(Seq((k, 1L, "fresh"))), dir, Seq("id"), "cursor", 8)
    val out = BucketedMergeTarget.read(s, dir)
    assert(out.columns.toSeq == Seq("id", "cursor", "v", "score"),
      s"schema narrowed to ${out.columns.toSeq}")
    assert(out.filter(col("id") === 1L).head().getDouble(3) == 0.7)
    assert(out.filter(col("id") === k).head().isNullAt(3))
  }

  // Regression for a diagnosed lost-update race: under version-SKIPPING
  // commit schemes, a writer that observed a competitor's data dir but
  // not yet its manifest could commit a HIGHER version computed from the
  // stale base, silently dropping the competitor's buckets — and gc could
  // reap a competing newer manifest outright. The strict base+1 manifest
  // lock makes both impossible: every round below, all four writers'
  // batches must survive, however the replays interleave.
  test("four concurrent writers per round never lose a batch (manifest lock)") {
    val dir = tmp("mt-race").resolve("t").toString
    BucketedMergeTarget.merge(kv(Seq((0L, 1L, "seed"))), dir, Seq("id"), "cursor", 8)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // generous retry/await budgets: under multi-suite scheduler contention
    // a replay round can be slow — the test must only fail on actual data
    // loss or version gaps, never on load-induced timing
    def mergeWithReplay(id: Long): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        try { BucketedMergeTarget.merge(kv(Seq((id, 2L, s"w$id"))), dir, Seq("id"), "cursor", 8); done = true }
        catch { case _: java.io.IOException if attempts < 50 => () }
      }
    }
    val ids = for (round <- 1 to 3; w <- 1 to 4) yield round * 10L + w
    for (round <- 1 to 3) {
      val batch = ids.filter(_ / 10 == round)
      Await.result(Future.sequence(batch.map(id => Future(mergeWithReplay(id)))), 600.seconds)
    }
    val got = BucketedMergeTarget.read(spark, dir)
      .filter(col("id") > 0L).select("id").collect().map(_.getLong(0)).toSet
    assert(got == ids.toSet, s"lost batches: ${ids.toSet -- got}")
    // versions stayed consecutive: 1 seed + 12 writer commits = v13
    assert(BucketedMergeTarget.currentManifest(spark, dir).get.version == 13L)
  }

  test("gc reaps AGED manifest tmp debris on the next commit; fresh tmps survive") {
    val dir = tmp("mt-tmpgc").resolve("t").toString
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"))), dir, Seq("id"), "cursor", 8)
    val (fs, rootPath) = hfs(dir)
    // a writer that crashed between create and publish leaves its tmp;
    // an hour-stale one is dead and must be reaped...
    val debris = new Path(rootPath, "_graft_manifest_tmp_deadbeefdeadbeef")
    val out = fs.create(debris, true)
    try out.write("{\"half\":".getBytes("UTF-8")) finally out.close()
    fs.setTimes(debris, System.currentTimeMillis() - 7200000L, -1)
    // ...while a LIVE concurrent writer's seconds-old tmp must NOT be —
    // under ConditionalPut, reaping it would burn the writer's claimed
    // slot for nothing (same TTL policy the staging dirs use)
    val fresh = new Path(rootPath, "_graft_manifest_tmp_0123456789abcdef")
    val out2 = fs.create(fresh, true)
    try out2.write("{\"half\":".getBytes("UTF-8")) finally out2.close()
    BucketedMergeTarget.merge(kv(Seq((2L, 1L, "b"))), dir, Seq("id"), "cursor", 8)
    assert(!fs.exists(debris), "hour-stale crashed writer's manifest tmp survived gc")
    assert(fs.exists(fresh), "a live writer's fresh manifest tmp was reaped")
    assert(contents(dir) == Set((1L, 1L, "a"), (2L, 1L, "b")))
  }

  test("publishExclusive: 16 racers to one slot — exactly one wins, content is the winner's") {
    // The merge-level race test above exercises the whole replay loop, but
    // its collision window (microseconds of commit inside seconds of
    // merge) rarely fires. This hits the primitive directly: POSIX
    // rename(2) silently REPLACES an existing destination, so a plain
    // rename lock here loses a committed manifest — the exact defect the
    // 100-cycle soak caught at cycle 100. The hard-link protocol must make
    // the race deterministic: one winner, everyone else told to replay.
    val root = tmp("mt-pub").resolve("t").toString
    val (fs, rootPath) = hfs(root)
    fs.mkdirs(rootPath)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(16)
    try {
      for (round <- 1 to 20) {
        val dest = new Path(rootPath, s"_slot_$round.json")
        val start = new CountDownLatch(1)
        val wins = new java.util.concurrent.atomic.AtomicInteger(0)
        val winners = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
        val tasks = (1 to 16).map { w =>
          pool.submit(new Runnable {
            def run(): Unit = {
              val t = new Path(rootPath, s"_tmp_${round}_$w")
              val out = fs.create(t, true)
              try out.write(s"writer-$w".getBytes("UTF-8")) finally out.close()
              start.await(30, TimeUnit.SECONDS)
              if (BucketedMergeTarget.publishExclusive(fs, t, dest)) {
                wins.incrementAndGet(); winners.add(w); ()
              } else fs.delete(t, false)
            }
          })
        }
        start.countDown()
        tasks.foreach(_.get(60, TimeUnit.SECONDS))
        assert(wins.get() == 1, s"round $round: ${wins.get()} writers won the same slot")
        val in = fs.open(dest)
        val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        val w = winners.iterator().next()
        assert(got == s"writer-$w",
          s"round $round: slot holds '$got' but writer $w won — a loser replaced the commit")
      }
    } finally pool.shutdownNow()
  }
}
