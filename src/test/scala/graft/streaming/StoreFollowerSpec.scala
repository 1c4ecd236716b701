package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sinks.BucketedMergeTarget

/** StoreFollower: the changed-bucket feed advances with the manifest,
  * reads only what changed, and the bucket-copy mirror replicates
  * upserts, deletes, emptied buckets and evolved schemas exactly, with no
  * Spark job, into files it owns. */
class StoreFollowerSpec extends AnyFunSuite {

  private def spark = SparkTestSession.spark

  private def root(prefix: String): java.nio.file.Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def kv(rows: Seq[(Long, Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "cursor", "v")
  }

  private def contents(path: String): Set[(Long, Long, String)] =
    BucketedMergeTarget.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("poll: first poll emits everything, steady state is None, deltas are incremental") {
    val r = root("follow-poll")
    val src = r.resolve("src").toString
    val base = (0L until 160L).map(i => (i, 1L, s"v$i"))
    BucketedMergeTarget.merge(kv(base), src, Seq("id"), "cursor", nBuckets = 8)

    val d1 = StoreFollower.poll(spark, src, StoreFollower.Start).get
    assert(d1.version == 1L)
    assert(d1.rows.collect().map(_.getLong(0)).toSet == base.map(_._1).toSet)

    // nothing new → None (no data I/O, no job)
    assert(StoreFollower.poll(spark, src, d1.state).isEmpty)

    // a one-key update touches one bucket; the delta reads ONLY that
    // bucket's current dir (at-least-once per key, 1/8 of the store)
    BucketedMergeTarget.merge(kv(Seq((42L, 2L, "v42b"))), src, Seq("id"), "cursor")
    val d2 = StoreFollower.poll(spark, src, d1.state).get
    assert(d2.version == 2L)
    assert(d2.changedBuckets.size == 1)
    val emitted = d2.rows.collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(emitted(42L) == "v42b")
    assert(emitted.size * 4 <= base.size, s"delta re-emitted ${emitted.size} rows — not bucket-pruned")
    // the delta's scan lists only the changed bucket's files
    assert(d2.rows.inputFiles.length * 4 <= d1.rows.inputFiles.length)

    // a LAGGING follower (never advanced past d1) catches up both
    // versions in one poll — diff is against ITS state, not history
    BucketedMergeTarget.merge(kv(Seq((7L, 2L, "v7b"))), src, Seq("id"), "cursor")
    val dLag = StoreFollower.poll(spark, src, d1.state).get
    assert(dLag.version == 3L)
    val lagged = dLag.rows.collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(lagged(42L) == "v42b" && lagged(7L) == "v7b")
  }

  test("replicate mirrors upserts, deletes and emptied buckets exactly") {
    val r = root("follow-repl")
    val src = r.resolve("src").toString
    val dst = r.resolve("dst").toString
    val base = (0L until 200L).map(i => (i, 1L, s"v$i"))
    BucketedMergeTarget.merge(kv(base), src, Seq("id"), "cursor", nBuckets = 8)

    var st = StoreFollower.replicate(spark, src, dst)
    assert(contents(dst) == contents(src))

    // upserts AND deletes in one source commit → one mirrored commit
    BucketedMergeTarget.applyBatch(
      kv(Seq((3L, 2L, "v3b"), (777L, 2L, "new"))),
      kv(Seq((5L, 0L, ""), (13L, 0L, ""))).select("id"),
      src, Seq("id"), "cursor")
    st = StoreFollower.replicate(spark, src, dst, st)
    val mirrored = contents(dst)
    assert(mirrored == contents(src))
    assert(!mirrored.exists(t => t._1 == 5L || t._1 == 13L), "deletes must propagate")
    assert(mirrored.contains((3L, 2L, "v3b")) && mirrored.contains((777L, 2L, "new")))

    // empty a whole bucket at the source (delete every key in bucket 0's
    // id set) — the mirror's bucket must empty too
    val b0 = BucketedMergeTarget.read(spark, src)
      .withColumn("b", pmod(hash(col("id")), lit(8)).cast("int"))
      .filter(col("b") === 0).select("id")
    BucketedMergeTarget.deleteKeys(b0, src, Seq("id"))
    st = StoreFollower.replicate(spark, src, dst, st)
    assert(contents(dst) == contents(src))

    // replays are idempotent: re-applying from Start converges to the same state
    StoreFollower.replicate(spark, src, dst, StoreFollower.Start)
    assert(contents(dst) == contents(src))

    // steady state: nothing pending
    assert(StoreFollower.poll(spark, src, st).isEmpty)
  }

  test("a compaction commit over the watermark advances with ZERO changed buckets") {
    val r = root("follow-compact")
    val src = r.resolve("src").toString
    val dst = r.resolve("dst").toString
    BucketedMergeTarget.merge(kv((0L until 160L).map(i => (i, 1L, s"v$i"))),
      src, Seq("id"), "cursor", nBuckets = 8)
    BucketedMergeTarget.merge(kv(Seq((3L, 2L, "u3"))), src, Seq("id"), "cursor", 8)
    var st = StoreFollower.replicate(spark, src, dst)
    // compaction moves every bucket's owner dir but changes no contents:
    // the follower must advance past it without reading a single bucket
    BucketedMergeTarget.compact(spark, src)
    val d = StoreFollower.poll(spark, src, st).get
    assert(d.changedBuckets.isEmpty,
      s"compaction re-emitted ${d.changedBuckets.size} buckets of unchanged content")
    assert(d.rows.isEmpty)
    st = d.state
    assert(StoreFollower.poll(spark, src, st).isEmpty) // steady again
    // a STALE follower (watermark older than the compaction base) gets
    // the conservative full diff — correctness over cleverness
    val dStale = StoreFollower.poll(spark, src, StoreFollower.Start).get
    assert(dStale.changedBuckets.nonEmpty)
    // and real changes after the compaction flow incrementally
    BucketedMergeTarget.merge(kv(Seq((7L, 3L, "u7"))), src, Seq("id"), "cursor", 8)
    val d2 = StoreFollower.poll(spark, src, st).get
    assert(d2.changedBuckets.size == 1)
    st = StoreFollower.replicate(spark, src, dst, st)
    assert(contents(dst) == contents(src))
  }

  test("replicate refuses a bucket-count mismatch instead of scattering rows") {
    val r = root("follow-nb")
    val src = r.resolve("src").toString
    val dst = r.resolve("dst").toString
    BucketedMergeTarget.merge(kv(Seq((1L, 1L, "a"))), src, Seq("id"), "cursor", nBuckets = 8)
    // a pre-existing replica with a DIFFERENT layout must be rejected
    BucketedMergeTarget.merge(kv(Seq((9L, 1L, "z"))), dst, Seq("id"), "cursor", nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      StoreFollower.replicate(spark, src, dst)
    }
    assert(e.getMessage.contains("bucket identity"))
  }

  private def rows(path: String): Set[Seq[Any]] =
    BucketedMergeTarget.read(spark, path).collect().map(_.toSeq).toSet

  private def manifest(path: String): BucketedMergeTarget.Manifest =
    BucketedMergeTarget.currentManifest(spark, path).get

  test("replicate copies bucket files: a changed commit mirrors with zero Spark jobs") {
    val r = root("follow-nojob")
    val src = r.resolve("src").toString
    val dst = r.resolve("dst").toString
    BucketedMergeTarget.merge(kv((0L until 160L).map(i => (i, 1L, s"v$i"))),
      src, Seq("id"), "cursor", nBuckets = 8)
    val st = StoreFollower.replicate(spark, src, dst)
    BucketedMergeTarget.merge(kv(Seq((42L, 2L, "v42b"), (500L, 2L, "new"))),
      src, Seq("id"), "cursor")
    val (st2, jobs) = SparkTestSession.jobsDuring(StoreFollower.replicate(spark, src, dst, st))
    assert(jobs == 0, s"replicate submitted $jobs Spark jobs")
    assert(st2.seen.map(_.version).contains(2L))
    assert(contents(dst) == contents(src))
    // the mirror's files are byte copies of the source's changed buckets
    val (sm, dm) = (manifest(src), manifest(dst))
    val changed = sm.buckets.keySet.filter(b => sm.buckets(b) != st.seen.get.buckets(b))
    changed.foreach { b =>
      def bytes(root: String, dir: String): Seq[Seq[Byte]] = {
        val d = Paths.get(root, dir, s"${BucketedMergeTarget.BucketCol}=$b")
        Files.list(d).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
          .sortBy(_.getFileName.toString).map(f => Files.readAllBytes(f).toSeq)
      }
      assert(bytes(dst, dm.buckets(b)) == bytes(src, sm.buckets(b)), s"bucket $b")
    }
  }

  test("a schema-evolved source mirrors in one poll with the newer column intact") {
    val r = root("follow-schema")
    val src = r.resolve("src").toString
    val dst = r.resolve("dst").toString
    val s = spark
    import s.implicits._
    BucketedMergeTarget.merge(
      (0L until 160L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "cursor"),
      src, Seq("id"), "cursor", nBuckets = 8)
    // commit 2 adds column w, to keys of buckets 4..7 only: buckets 0..3
    // keep their old-schema files, and the lowest bucket sorts first in
    // the mirror dir, where footer inference would take its schema
    val evolved = (0L until 160L)
      .filter(i => BucketedMergeTarget.localBucket(i, org.apache.spark.sql.types.LongType, 8) >= 4)
      .take(12)
    BucketedMergeTarget.merge(
      evolved.map(i => (i, s"u$i", 2L, s"w$i")).toDF("id", "v", "cursor", "w"),
      src, Seq("id"), "cursor")
    assert(manifest(src).buckets.values.toSet.size == 2)

    StoreFollower.replicate(spark, src, dst)
    // one poll from Start: one mirror version dir holding both schemas
    val dm = manifest(dst)
    assert(dm.version == 1L && dm.buckets.values.toSet.size == 1)
    assert(dm.schema.fieldNames.toSeq == Seq("id", "v", "cursor", "w"))
    val mirrored = rows(dst)
    assert(mirrored == rows(src))
    assert(mirrored.count(_(3) != null) == evolved.size)
    assert(mirrored.contains(Seq(evolved.head, s"u${evolved.head}", 2L, s"w${evolved.head}")))
  }

  test("the mirror owns its files: source gc of the copied dirs leaves it intact") {
    val r = root("follow-own")
    val src = r.resolve("src").toString
    val dst = r.resolve("dst").toString
    BucketedMergeTarget.merge(kv((0L until 160L).map(i => (i, 1L, s"v$i"))),
      src, Seq("id"), "cursor", nBuckets = 8)
    BucketedMergeTarget.merge(kv(Seq((3L, 2L, "u3"))), src, Seq("id"), "cursor")
    StoreFollower.replicate(spark, src, dst)
    val at = manifest(src)
    val mirrored = contents(dst)
    assert(mirrored == contents(src))

    // compaction plus two commits: the source's gc retains two manifests,
    // so every dir the mirror copied from is reclaimed
    BucketedMergeTarget.compact(spark, src)
    BucketedMergeTarget.merge(kv(Seq((5L, 3L, "u5"))), src, Seq("id"), "cursor")
    BucketedMergeTarget.merge(kv(Seq((6L, 3L, "u6"))), src, Seq("id"), "cursor")
    at.buckets.values.toSet.foreach { (d: String) =>
      assert(!Files.exists(Paths.get(src, d)), s"source dir $d was not reclaimed")
    }
    assert(contents(dst) == mirrored)
    assert(manifest(dst).rowCounts == at.rowCounts)
  }

  test("a copy that cannot read a source bucket fails loudly and publishes nothing") {
    val r = root("follow-fail")
    val src = r.resolve("src").toString
    val dst = r.resolve("dst").toString
    BucketedMergeTarget.merge(kv((0L until 160L).map(i => (i, 1L, s"v$i"))),
      src, Seq("id"), "cursor", nBuckets = 8)
    val st = StoreFollower.replicate(spark, src, dst)
    val mirrored = contents(dst)
    // a commit touching every bucket, then one changed bucket loses its
    // only data file
    BucketedMergeTarget.merge(kv((0L until 40L).map(i => (i, 2L, s"u$i"))),
      src, Seq("id"), "cursor")
    val sm = manifest(src)
    val bucketDir = Paths.get(src, sm.buckets(0), s"${BucketedMergeTarget.BucketCol}=0")
    val files = Files.list(bucketDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.size == 1)
    Files.delete(files.head)

    intercept[java.io.IOException] {
      StoreFollower.replicate(spark, src, dst, st)
    }
    assert(manifest(dst).version == 1L)
    assert(!Files.list(Paths.get(dst)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("_staging_")), "staging dir left behind")
    assert(contents(dst) == mirrored)
  }

  test("a copy that overlapped source gc of its dirs fails loudly") {
    val r = root("follow-gc")
    val src = r.resolve("src").toString
    val dst = r.resolve("dst").toString
    BucketedMergeTarget.merge(kv((0L until 160L).map(i => (i, 1L, s"v$i"))),
      src, Seq("id"), "cursor", nBuckets = 8)
    val m1 = manifest(src)
    val dir1 = Paths.get(src, m1.buckets(0))
    val saved = Files.createTempDirectory("follow-gc-saved")
    val b0 = Paths.get(BucketedMergeTarget.BucketCol + "=0")
    Files.createDirectories(saved.resolve(b0))
    Files.list(dir1.resolve(b0)).iterator().asScala
      .foreach(f => Files.copy(f, saved.resolve(b0).resolve(f.getFileName)))
    // two commits move bucket 0 off its v1 dir, so the source's gc
    // reclaims that dir; a copy from v1 racing the gc read its files
    // before they went (restored here to stand for that read)
    BucketedMergeTarget.merge(kv((0L until 40L).map(i => (i, 2L, s"u$i"))),
      src, Seq("id"), "cursor")
    BucketedMergeTarget.merge(kv((0L until 40L).map(i => (i, 3L, s"w$i"))),
      src, Seq("id"), "cursor")
    assert(!Files.exists(dir1.resolve(b0)))
    Files.createDirectories(dir1.resolve(b0))
    Files.list(saved.resolve(b0)).iterator().asScala
      .foreach(f => Files.copy(f, dir1.resolve(b0).resolve(f.getFileName)))

    val e = intercept[java.io.IOException] {
      BucketedMergeTarget.copyBuckets(spark, src, m1, dst, Set(0))
    }
    assert(e.getMessage.contains("while its buckets were copied"))
    assert(BucketedMergeTarget.currentManifest(spark, dst).isEmpty)
    assert(!Files.list(Paths.get(dst)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("_staging_")), "staging dir left behind")
  }
}
