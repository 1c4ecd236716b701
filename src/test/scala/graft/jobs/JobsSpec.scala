package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.{Checkpoint, ReplicationFilter, TableRules}
import graft.operators.Checksum
import graft.snapshot.SnapshotJob
import graft.streaming.{IncrementalSync, SyncCycle, SyncStateStore, TableSyncState}

/** Job-layer tests: checkpoint/resume roundtrip (`src/checkpoint.rs:180-214`),
  * sync state persistence (`src/xmin/state.rs:165-253`), the snapshot job
  * end-to-end, and the sync cycle incl. wraparound
  * (`src/xmin/reader.rs:533-643`). */
class JobsSpec extends AnyFunSuite {

  private def spark = SparkTestSession.spark
  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix)

  // ---- Checkpoint -----------------------------------------------------

  test("checkpoint json roundtrip preserves identity and completed set") {
    val cp = Checkpoint("ab12", "cd34", "ef56", Set("t1", "t2"))
    assert(Checkpoint.fromJson(cp.toJson) == Right(cp))
  }

  test("checkpoint save is atomic and load returns the saved value") {
    val dir = tmpDir("cp")
    val p = dir.resolve("checkpoint.json")
    val cp = Checkpoint("a1", "b2", "c3", Set("nation"))
    cp.save(p)
    assert(Checkpoint.load(p).contains(cp))
    assert(!Files.exists(dir.resolve("checkpoint.json.tmp"))) // temp cleaned by move
  }

  test("resume discards a checkpoint whose filter fingerprint changed") {
    val dir = tmpDir("cp2")
    val p = dir.resolve("cp.json")
    val f1 = ReplicationFilter(excludeTables = Set("db.skipme"))
    Checkpoint.fresh("s", "t", f1, TableRules()).markCompleted("done").save(p)
    val sameFilter = Checkpoint.resume(p, "s", "t", f1, TableRules())
    assert(sameFilter.completed == Set("done"))
    val newFilter = Checkpoint.resume(p, "s", "t", ReplicationFilter(), TableRules())
    assert(newFilter.completed.isEmpty) // incompatible → fresh
  }

  test("table names with json metacharacters round-trip the checkpoint intact") {
    // legal quoted PostgreSQL identifiers: commas, brackets, quotes,
    // backslashes, control chars. Round 2 silently corrupted these; round
    // 3 rejected them (fail-loud); now they are escaped and round-trip —
    // no snapshot job aborts mid-copy over a weird-but-legal name
    // (round-3 advice).
    val weird = Set("evil,table", "evil]table", "evil\"table",
      "back\\slash", "tab\tname", "bracket[both]", "plain")
    val cp = Checkpoint("a" * 64, "b" * 64, "c" * 64, Set.empty)
    val marked = weird.foldLeft(cp)(_ markCompleted _)
    assert(Checkpoint.fromJson(marked.toJson) == Right(marked))
    // and via the file path too
    val p = tmpDir("cpw").resolve("cp.json")
    marked.save(p)
    assert(Checkpoint.load(p).contains(marked))
  }

  test("checkpoint roundtrip with an empty completed set") {
    val cp = Checkpoint("a1", "b2", "c3", Set.empty)
    assert(Checkpoint.fromJson(cp.toJson) == Right(cp))
  }

  test("endpointHash strips credentials before hashing") {
    val a = Checkpoint.endpointHash("postgresql://u:secret1@h:5432/db")
    val b = Checkpoint.endpointHash("postgresql://u:secret2@h:5432/db")
    assert(a == b) // password must not affect checkpoint identity
  }

  // ---- SyncStateStore -------------------------------------------------

  test("sync state store persists watermarks across instances") {
    val p = tmpDir("st").resolve("state.jsonl")
    val s1 = new SyncStateStore(p)
    assert(s1.watermark("public", "events") == 0L)
    s1.update(TableSyncState("public", "events", 5000L, 123L, 99L))
    s1.update(TableSyncState("public", "orders", 77L, 124L, 10L))
    val s2 = new SyncStateStore(p) // fresh load from disk
    assert(s2.watermark("public", "events") == 5000L)
    assert(s2.get("public", "orders").map(_.lastRowCount).contains(10L))
    assert(s2.all.map(_.key) == Seq("public.events", "public.orders"))
  }

  // ---- SnapshotJob ----------------------------------------------------

  test("snapshot job copies, filters, applies schema-only, checkpoints, resumes") {
    val s = spark
    import s.implicits._
    val src = tmpDir("snap-src").toString
    val tgt = tmpDir("snap-tgt").toString
    val cpPath = tmpDir("snap-cp").resolve("cp.json")

    (1 to 100).map(i => (i, s"n$i")).toDF("id", "name")
      .write.parquet(s"$src/alpha.parquet")
    (1 to 50).map(i => (i, i * 2.0)).toDF("id", "v")
      .write.parquet(s"$src/beta.parquet")
    (1 to 10).map(i => Tuple1(i)).toDF("id")
      .write.parquet(s"$src/gamma.parquet")

    val filter = ReplicationFilter(excludeTables = Set("db.gamma"))
    val rules = TableRules(schemaOnly = Set("db.beta"))
    val r1 = SnapshotJob.run(s, "db", src, tgt, filter, rules,
      checkpointPath = Some(cpPath), verify = true)

    assert(r1.copied.sorted == Seq("alpha", "beta"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$tgt/gamma.parquet")))
    // schema-only: empty data, full schema
    val beta = SnapshotJob.targetTable(s, tgt, "beta")
    assert(beta.count() == 0 && beta.columns.toSeq == Seq("id", "v"))
    // copied table matches the source
    assert(Checksum.tablesMatch(
      s.read.parquet(s"$src/alpha.parquet"),
      SnapshotJob.targetTable(s, tgt, "alpha")))
    // resume: everything already completed → all skipped
    val r2 = SnapshotJob.run(s, "db", src, tgt, filter, rules,
      checkpointPath = Some(cpPath))
    assert(r2.skipped.sorted == Seq("alpha", "beta") && r2.copied.isEmpty)
    // changed filter → checkpoint invalidated → re-copies
    val r3 = SnapshotJob.run(s, "db", src, tgt, ReplicationFilter(), rules,
      checkpointPath = Some(cpPath))
    assert(r3.copied.contains("gamma"))
  }

  // ---- SyncCycle ------------------------------------------------------

  private def kv(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "v")
  }

  test("one cycle applies inserts+updates (upsert) and reconciles deletes") {
    val source = kv(Seq(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"))
    // target is stale: old value for id=2 (its version advanced in source),
    // missing 3,4, and holds an orphan id=9 deleted upstream
    val target = kv(Seq(1L -> "a", 2L -> "b-old", 9L -> "ghost"))
    // versions: id doubles as the version column; watermark 1 → changes = {2,3,4}
    val (merged, report) = SyncCycle.runCycle(source, target, "id", Seq("id"),
      watermark = 1L, reconcile = true)
    assert(report.changes == 3 && report.newWatermark == 4L && !report.fullResync)
    assert(merged.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"))
  }

  test("upsert replay is idempotent (T4)") {
    val source = kv(Seq(1L -> "a", 2L -> "b"))
    val once = SyncCycle.applyUpserts(kv(Seq(1L -> "a-old")), source, Seq("id"))
    val twice = SyncCycle.applyUpserts(once, source, Seq("id"))
    assert(Checksum.tablesMatch(once, twice))
  }

  test("wraparound triggers full resync (reader.rs:35-48)") {
    assert(IncrementalSync.detectWraparound(3000000000L, 5L))
    assert(!IncrementalSync.detectWraparound(100L, 5L)) // small backwards move: no
    assert(!IncrementalSync.detectWraparound(5L, 3000000000L)) // forward: no
    val source = kv(Seq(1L -> "a", 2L -> "b"))
    val target = kv(Seq(99L -> "stale"))
    val (merged, report) = SyncCycle.runCycle(source, target, "id", Seq("id"),
      watermark = 3000000000L)
    assert(report.fullResync)
    assert(merged.count() == 2) // target replaced wholesale
  }

  test("runLoop wraparound replaces the target wholesale (reader.rs:35-48)") {
    val s = spark
    import s.implicits._
    val tgtDir = tmpDir("sync-wrap").toString + "/t.parquet"
    val statePath = tmpDir("sync-wrap-state").resolve("state.jsonl")
    val source = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.sinks.BucketedMergeTarget.replaceAll(
      Seq((99L, "stale")).toDF("id", "v"), tgtDir, Seq("id"), "id", nBuckets = 4)
    val store = new SyncStateStore(statePath)
    // watermark far past the source max → u32 txid wrapped → full resync
    store.update(TableSyncState("public", "t", 3000000000L, 0L, 1L))
    val reports = SyncCycle.runLoop(() => source, tgtDir, "public", "t", "id",
      Seq("id"), store, cycles = 1, nBuckets = 4)
    assert(reports.head.fullResync && reports.head.changes == 2)
    // the stale row (and its bucket) is gone, not merged around
    assert(Checksum.tablesMatch(source,
      graft.sinks.BucketedMergeTarget.read(s, tgtDir)))
    assert(store.watermark("public", "t") == 2L)
  }

  test("runLoop persists watermarks and converges the bucketed target") {
    val s = spark
    import s.implicits._
    val tgtDir = tmpDir("sync-tgt").toString + "/t.parquet"
    val statePath = tmpDir("sync-state").resolve("state.jsonl")
    val source = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    // stale target: only ids 1..5 present, plus an orphan deleted upstream
    graft.sinks.BucketedMergeTarget.replaceAll(
      source.filter(col("id") <= 5).unionByName(Seq((99L, "ghost")).toDF("id", "v")),
      tgtDir, Seq("id"), "id", nBuckets = 8)
    val store = new SyncStateStore(statePath)
    store.update(TableSyncState("public", "t", 5L, 0L, 6L))
    val reports = SyncCycle.runLoop(() => source, tgtDir, "public", "t", "id",
      Seq("id"), store, cycles = 2, reconcileEvery = 1, nBuckets = 8)
    assert(reports.head.changes == 15 && reports.head.newWatermark == 20L)
    assert(reports(1).changes == 0) // second cycle: caught up
    assert(new SyncStateStore(statePath).watermark("public", "t") == 20L)
    // converged: all 20 source rows present, the orphan reconciled away
    assert(Checksum.tablesMatch(source,
      graft.sinks.BucketedMergeTarget.read(s, tgtDir)))
  }

  test("an idle runLoop poll scans the source once: one aggregate") {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir("sync-idle-src").resolve("src.parquet").toString
    (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v").write.parquet(srcDir)
    // explicit schema: footer inference would submit a job of its own
    val source = s.read.schema("id long, v string").parquet(srcDir)
    val tgtDir = tmpDir("sync-idle").toString + "/t.parquet"
    val store = new SyncStateStore(tmpDir("sync-idle-state").resolve("state.jsonl"))
    def poll() = SyncCycle.runLoop(() => source, tgtDir, "public", "t", "id",
      Seq("id"), store, cycles = 1, reconcileEvery = Int.MaxValue, nBuckets = 4).head
    assert(poll().fullResync) // seeds the target
    val (idle, jobs) = SparkTestSession.jobsDuring(poll())
    assert(idle == SyncCycle.Report(0L, 20L, fullResync = false))
    // the source max and the change count come from ONE aggregate (the
    // row count is manifest metadata). Adaptive execution runs a global
    // aggregate as two jobs, its exchange's map stage and the result, so
    // the reference is one aggregate measured the same way
    val (_, oneAggregate) = SparkTestSession.jobsDuring(source.agg(max(col("id"))).head())
    assert(oneAggregate >= 1)
    assert(jobs == oneAggregate,
      s"an idle poll submitted $jobs jobs, one aggregate submits $oneAggregate")
  }

  test("runLoop reseeds a MISSING target from the full source, never from changes only") {
    val s = spark
    import s.implicits._
    // A nonzero stored watermark + no target (dir wiped/relocated): merging
    // only post-watermark changes would silently drop rows 1..5 forever —
    // reconciliation deletes orphans but never restores missing rows.
    val tgtDir = tmpDir("sync-reseed").toString + "/t.parquet"
    val statePath = tmpDir("sync-reseed-state").resolve("state.jsonl")
    val source = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val store = new SyncStateStore(statePath)
    store.update(TableSyncState("public", "t", 5L, 0L, 0L))
    val reports = SyncCycle.runLoop(() => source, tgtDir, "public", "t", "id",
      Seq("id"), store, cycles = 1, nBuckets = 4)
    assert(reports.head.fullResync && reports.head.changes == 20)
    assert(Checksum.tablesMatch(source,
      graft.sinks.BucketedMergeTarget.read(s, tgtDir)))
    assert(store.watermark("public", "t") == 20L)
  }

  test("soak: 100 sync cycles with churn, reconciles, and concurrent writers") {
    import graft.sinks.BucketedMergeTarget
    val s = spark
    import s.implicits._
    val tgtDir = tmpDir("sync-soak").toString + "/t.parquet"
    val statePath = tmpDir("sync-soak-state").resolve("state.jsonl")
    val store = new SyncStateStore(statePath)
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(tgtDir)
      (p.getFileSystem(s.sessionState.newHadoopConf()), p)
    }
    // evolving source: inserts + updates every cycle, a delete every 10th
    // (picked up by the reconcile pass, which also runs every 10th cycle)
    var rows = (1L to 50L).map(i => i -> (0L, s"v$i")).toMap
    var lastVersion = 0L
    (1 to 100).foreach { c =>
      rows += (1000L + c) -> (c.toLong, s"new$c")              // insert
      rows += ((c % 50) + 1L) -> (c.toLong, s"upd$c")          // update
      if (c % 10 == 0) rows -= (1000L + c - 5)                 // delete
      val source = rows.toSeq.map { case (id, (ver, v)) => (id, ver, v) }
        .toDF("id", "ver", "v")
      SyncCycle.runLoop(() => source, tgtDir, "public", "t", "ver",
        Seq("id"), store, cycles = 1, reconcileEvery = 1, nBuckets = 8)
      val m = BucketedMergeTarget.currentManifest(s, tgtDir).get
      assert(m.version > lastVersion, s"cycle $c: version not monotonic")
      lastVersion = m.version
      if (c % 10 == 0) {
        // bounded disk: retained-set GC keeps ≤ 2 manifests + the version
        // dirs they reference; crashed-writer temp manifests never linger
        val names = fs.listStatus(root).map(_.getPath.getName)
        assert(names.count(_.startsWith("_graft_manifest_v")) <= 2,
          s"cycle $c: manifests accumulate: ${names.mkString(",")}")
        assert(names.count(_.startsWith("_v")) <= 8,
          s"cycle $c: version dirs accumulate: ${names.mkString(",")}")
        assert(!names.exists(_.startsWith("_graft_manifest_tmp_")))
        // converged contents + O(1) metadata row count agree with truth
        assert(Checksum.tablesMatch(source, BucketedMergeTarget.read(s, tgtDir)),
          s"cycle $c: target diverged from source")
        assert(BucketedMergeTarget.rowCount(s, tgtDir).contains(rows.size.toLong))
      }
      if (c % 25 == 0) {
        // concurrent writers on disjoint keys: the loser of the atomic
        // manifest rename throws and REPLAYS — the documented contract —
        // and both batches must land with versions still monotonic
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        def mergeWithReplay(id: Long): Unit = {
          val batch = Seq((id, c.toLong, s"cc$id")).toDF("id", "ver", "v")
          var attempts = 0
          var done = false
          while (!done) {
            attempts += 1
            try { BucketedMergeTarget.merge(batch, tgtDir, Seq("id"), "ver", 8); done = true }
            catch { case e: java.io.IOException if attempts < 20 => () }
          }
        }
        val (ka, kb) = (5000L + c, 6000L + c)
        Await.result(Future.sequence(Seq(Future(mergeWithReplay(ka)),
          Future(mergeWithReplay(kb)))), 600.seconds)
        val got = BucketedMergeTarget.read(s, tgtDir)
          .filter(col("id").isin(ka, kb)).count()
        assert(got == 2, s"cycle $c: concurrent merge lost a batch")
        val mv = BucketedMergeTarget.currentManifest(s, tgtDir).get.version
        assert(mv > lastVersion)
        lastVersion = mv
        // fold the concurrent rows into the source so convergence checks
        // (and the reconcile delete pass) stay truthful
        rows += ka -> (c.toLong, s"cc$ka"); rows += kb -> (c.toLong, s"cc$kb")
      }
    }
    assert(store.watermark("public", "t") == 100L)
  }
}
