package graft.sinks

import java.util.Base64

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.streaming.IncrementalSync

/** Bucket-pruned, atomically-versioned parquet merge target — the write
  * side of the sync loop (reference per-batch upsert cost is proportional
  * to the change batch, `src/xmin/daemon.rs:336-461`; the PG target makes
  * that free via `ON CONFLICT`, a parquet target has to earn it).
  *
  * Layout under `targetPath`:
  * {{{
  *   _graft_manifest_v000000003.json          // committed state (highest wins)
  *   _v000000001_9f2ab41c/_graft_bucket=0/…   // immutable version directories
  *   _v000000003_04d7e8aa/_graft_bucket=7/…   // (writer-unique names)
  * }}}
  *
  * Every row lives in bucket `pmod(hash(pk…), nBuckets)` (Murmur3 — stable
  * across runs and executors). A merge:
  *
  *   1. dedups the batch latest-per-key (cursor-aware: a late stale change
  *      can never regress the target);
  *   2. finds the buckets the batch touches (a distinct over ≤ nBuckets
  *      values — metadata, not data);
  *   3. reads ONLY those buckets from their current version dirs, merges,
  *      and writes them to a NEW version directory — untouched buckets are
  *      never read or rewritten, so I/O scales with the batch, not the
  *      accumulated target;
  *   4. commits by renaming a temp manifest to `_graft_manifest_v<n+1>` —
  *      a single atomic rename. A crash anywhere before the rename leaves
  *      the previous manifest (and every bucket it references) fully
  *      intact; the replayed batch then merges against the old state,
  *      which is exactly the idempotent-replay contract.
  *
  * All filesystem access goes through the Hadoop FileSystem API, so the
  * target can live on `file://`, `hdfs://` or an object store. The rename
  * commit is to a NEW name (no delete-then-rename window), which is atomic
  * on HDFS and local FS; on S3-like stores it is still safe because
  * readers take the highest manifest that parses.
  */
object BucketedMergeTarget {

  /** Internal partition column; never surfaced by [[read]]. */
  val BucketCol = "_graft_bucket"
  val DefaultBuckets = 32

  private val ManifestRe = raw"_graft_manifest_v(\d{9})\.json".r

  /** Committed state: which version DIRECTORY (by name — dir names are
    * writer-unique, `_v<version>_<uuid>`) owns each bucket's data.
    * `schemaB64` is the base64 of the user-facing StructType JSON so an
    * emptied target still reads with its schema. `rowCounts` carries the
    * per-bucket row counts so the total target size is manifest metadata
    * (no listing or footer reads — O(1) at any scale). `bucketCols`
    * records the columns rows are bucketed by — the full PK by default,
    * or a PK subset for probe-key bucketing (see [[merge]]). ALWAYS
    * recorded on write, so a [[readMatching]] probe with the wrong
    * columns fails loudly instead of silently pruning the wrong buckets
    * (empty = a legacy manifest from before this field; probes of those
    * are unchecked by necessity). */
  /** `compactedFrom` ≥ 0 marks a [[compact]] commit: this version's
    * contents are BY CONSTRUCTION identical to that prior version's
    * (only the owning directories moved), so a follower whose watermark
    * IS that version has nothing to emit — the owner-dir diff would
    * otherwise read the whole store for a no-op. -1 = a normal commit. */
  final case class Manifest(version: Long, nBuckets: Int, buckets: Map[Int, String],
                            schemaB64: String, rowCounts: Map[Int, Long] = Map.empty,
                            bucketCols: Seq[String] = Nil,
                            pkCols: Seq[String] = Nil,
                            compactedFrom: Long = -1L) {
    def schema: StructType =
      DataType.fromJson(new String(Base64.getDecoder.decode(schemaB64), "UTF-8"))
        .asInstanceOf[StructType]

    /** Total rows, when every owned bucket carries a count (manifests
      * written before rowCounts existed may not). */
    def totalRows: Option[Long] =
      if (buckets.keySet.subsetOf(rowCounts.keySet)) Some(buckets.keySet.toSeq.map(rowCounts).sum)
      else None
  }

  final case class MergeStats(version: Long, bucketsRewritten: Int, bucketsTotal: Int,
                              bytesWritten: Long)

  // ---- manifest codec (strict, hand-rolled like core.Checkpoint) ------

  private def intMapJson(m: Map[Int, Long]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")

  // dir names are `_v<9 digits>_<hex uuid>` by construction — quote-free,
  // so emitting them as bare JSON strings needs no escaping
  private def dirMapJson(m: Map[Int, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":"$v"""" }.mkString(",")

  private[sinks] def manifestToJson(m: Manifest): String = {
    // each name base64'd individually (names may hold any character),
    // then comma-joined — same quote-free-by-construction trick as schema
    def colList(cols: Seq[String]): String = cols
      .map(n => Base64.getEncoder.encodeToString(n.getBytes("UTF-8"))).mkString(",")
    s"""{"version":${m.version},"nBuckets":${m.nBuckets},"schema":"${m.schemaB64}",""" +
      (if (m.compactedFrom >= 0) s""""compactedFrom":${m.compactedFrom},""" else "") +
      s""""bucketCols":"${colList(m.bucketCols)}","pkCols":"${colList(m.pkCols)}",""" +
      s""""rowCounts":{${intMapJson(m.rowCounts)}},"buckets":{${dirMapJson(m.buckets)}}}"""
  }

  /** The `{…}` object block for `name`, as an int→long map (flat values —
    * no nested objects in this format). Absent block → empty map, so
    * pre-rowCounts manifests still parse. */
  private def intMapFromJson(s: String, name: String): Map[Int, Long] = {
    val at = s.indexOf("\"" + name + "\"")
    if (at < 0) return Map.empty
    val open = s.indexOf('{', at)
    val close = s.indexOf('}', open)
    if (open < 0 || close < 0) return Map.empty
    val pairRe = "\"(\\d+)\":(\\d+)".r
    pairRe.findAllMatchIn(s.substring(open, close + 1))
      .map(mm => mm.group(1).toInt -> mm.group(2).toLong).toMap
  }

  /** The `{…}` block for `name`, as an int→dir-name map. */
  private def dirMapFromJson(s: String, name: String): Map[Int, String] = {
    val at = s.indexOf("\"" + name + "\"")
    if (at < 0) return Map.empty
    val open = s.indexOf('{', at)
    val close = s.indexOf('}', open)
    if (open < 0 || close < 0) return Map.empty
    val pairRe = "\"(\\d+)\":\"([_A-Za-z0-9]+)\"".r
    pairRe.findAllMatchIn(s.substring(open, close + 1))
      .map(mm => mm.group(1).toInt -> mm.group(2)).toMap
  }

  private[sinks] def manifestFromJson(s: String): Manifest = {
    def num(name: String): Long = {
      val re = ("\"" + name + "\":(\\d+)").r
      re.findFirstMatchIn(s).map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(s"manifest missing '$name'"))
    }
    val schemaRe = "\"schema\":\"([A-Za-z0-9+/=]*)\"".r
    val schemaB64 = schemaRe.findFirstMatchIn(s).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException("manifest missing 'schema'"))
    // absent blocks (older manifests) → Nil = bucketed by PK / unchecked.
    // split with limit -1 keeps TRAILING empty segments, so a column
    // whose name is the empty string survives the round trip in any
    // mixed list (caught by the codec fuzz); the one irreducible edge —
    // a list that is EXACTLY one empty name — encodes as "" and parses
    // as absent, which is fine because a store cannot be keyed or
    // bucketed by a single nameless column.
    def colList(name: String): Seq[String] = {
      val re = ("\"" + name + "\":\"([A-Za-z0-9+/=,]*)\"").r
      re.findFirstMatchIn(s).map(_.group(1)).filter(_.nonEmpty)
        .map(_.split(",", -1).toSeq.map(b => new String(Base64.getDecoder.decode(b), "UTF-8")))
        .getOrElse(Nil)
    }
    // absent (normal commits, and every pre-compaction manifest) → -1
    val compactedFrom = {
      val re = "\"compactedFrom\":(\\d+)".r
      re.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(-1L)
    }
    Manifest(num("version"), num("nBuckets").toInt, dirMapFromJson(s, "buckets"),
      schemaB64, intMapFromJson(s, "rowCounts"), colList("bucketCols"),
      colList("pkCols"), compactedFrom)
  }

  // ---- filesystem plumbing (Hadoop FS — works on any scheme) ----------

  private def fileSystem(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Writer-unique version dir name. The numeric part orders dirs for
    * gc's newer-than-us guard; the uuid suffix makes the name unique, so
    * two writers racing on the same version NEVER contend on a dir rename
    * (Hadoop local-FS rename of a dir onto an existing dir "succeeds" by
    * nesting the source INSIDE the destination — a silent data mixup, so
    * dir names must simply never collide). */
  private def versionDirName(v: Long): String =
    f"_v$v%09d_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"

  /** Version-dir pattern: versioned prefix + optional writer-unique
    * suffix (pre-suffix dirs from older layouts still parse). */
  private val VerDirRe = raw"_v(\d{9})(?:_[0-9a-f]+)?".r

  /** Newest manifest that parses — a torn/corrupt newest file falls back
    * to the previous committed state instead of failing the reader. */
  def currentManifest(spark: SparkSession, path: String): Option[Manifest] = {
    val (f, p) = fileSystem(spark, path)
    if (!f.exists(p)) return None
    val versions = f.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestRe(v) => v.toLong }
      .sorted(Ordering[Long].reverse)
    versions.iterator.flatMap { v =>
      val mp = new Path(p, s"_graft_manifest_v${"%09d".format(v)}.json")
      try {
        val in = f.open(mp)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        Some(manifestFromJson(txt))
      } catch { case scala.util.control.NonFatal(_) => None }
    }.nextOption()
  }

  def exists(spark: SparkSession, path: String): Boolean =
    currentManifest(spark, path).isDefined

  /** THE commit lock: publishing the writer-unique tmp under the
    * version-named manifest file, atomically and exclusively — exactly
    * one writer per version wins; every loser throws the replay
    * IOException. The exclusive primitive is pluggable per target
    * ([[CommitLock]]): FS-native (HDFS atomic rename / local hard-link)
    * by default, conditional-put (S3 `If-None-Match` / GCS
    * generation-match / lock service) for pure object stores — register
    * one via `CommitLock.register(pathPrefix, lock)`. A torn
    * (unparseable) file in the destination slot is a crashed writer's
    * debris, never a committed state — clear it and replay; the replay
    * retries the same version against a now-free slot. */
  private def writeManifest(f: FileSystem, p: Path, m: Manifest): Unit = {
    f.mkdirs(p)
    val tmp = new Path(p, "_graft_manifest_tmp_" +
      java.util.UUID.randomUUID().toString.replace("-", ""))
    val out = f.create(tmp, true)
    try out.write(manifestToJson(m).getBytes("UTF-8")) finally out.close()
    val dest = new Path(p, s"_graft_manifest_v${"%09d".format(m.version)}.json")
    if (!publishExclusive(f, tmp, dest)) {
      f.delete(tmp, false)
      val tornDebris = f.exists(dest) && !parses(f, dest)
      if (tornDebris) { f.delete(dest, false); () }
      throw new java.io.IOException(
        if (tornDebris) s"torn manifest debris cleared at $dest — replay the batch"
        else s"manifest v${m.version} already committed by a concurrent writer — replay the batch")
    }
  }

  /** Atomically publish tmp as dest iff dest does not exist; false on
    * loss. Delegates to the [[CommitLock]] registered for the target
    * (default [[CommitLock.FsNative]] — hard-link on local FS,
    * fail-if-exists rename elsewhere). */
  private[sinks] def publishExclusive(f: FileSystem, tmp: Path, dest: Path): Boolean =
    CommitLock.forTarget(f, dest).publish(f, tmp, dest)

  private def parses(f: FileSystem, mp: Path): Boolean =
    try {
      val in = f.open(mp)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      manifestFromJson(txt); true
    } catch { case scala.util.control.NonFatal(_) => false }

  // ---- read paths ------------------------------------------------------

  /** Null-fill any `schema` column absent from `df` (additive evolution:
    * frames and dirs may predate a column; the store schema wins). */
  private def addMissingColumns(df: DataFrame, schema: StructType): DataFrame =
    schema.fields.foldLeft(df) { (d, fld) =>
      if (d.columns.contains(fld.name)) d
      else d.withColumn(fld.name, lit(null).cast(fld.dataType))
    }

  private def withBucket(df: DataFrame, pkCols: Seq[String], nBuckets: Int): DataFrame =
    df.withColumn(BucketCol, pmod(hash(pkCols.map(col): _*), lit(nBuckets)).cast("int"))

  /** Read `buckets` (with the bucket column attached) from the version
    * dirs the manifest assigns them to — a partition-pruned read: only
    * the named bucket directories are ever listed or opened.
    *
    * Every dir is read with the MANIFEST schema (all fields nullable),
    * never one inferred from a file footer: files written before an
    * additively-evolved column existed lack it and read it as null, and
    * one dir may hold files of both generations (a [[copyBuckets]]
    * mirror dir gathers buckets from several source dirs), where footer
    * inference would pick one file's schema and drop the newer column. */
  private[graft] def readBuckets(spark: SparkSession, path: String, m: Manifest,
                          buckets: Set[Int]): DataFrame = {
    val schema = StructType(m.schema.fields.map(_.copy(nullable = true)))
      .add(BucketCol, "int")
    val owned = m.buckets.filter { case (b, _) => buckets.contains(b) }
    if (owned.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val byDir = owned.groupBy(_._2).view.mapValues(_.keySet).toMap
    byDir.toSeq.sortBy(_._1).map { case (dirName, bs) =>
      val base = s"$path/$dirName"
      val dirs = bs.toSeq.sorted.map(b => s"$base/$BucketCol=$b")
      spark.read.schema(schema).option("basePath", base).parquet(dirs: _*)
    }.reduce(_.unionByName(_))
  }

  /** Full current contents (user-facing — bucket column dropped). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val m = currentManifest(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $path"))
    readBuckets(spark, path, m, m.buckets.keySet).drop(BucketCol)
  }

  // ---- write paths -----------------------------------------------------

  /** Write `data` (already carrying [[BucketCol]]) as version `base+1`,
    * then atomically commit a manifest where `dropFromOld` buckets stop
    * pointing at their previous dirs and every bucket materialized by
    * this write points at the new dir. Finally GC the superseded bucket
    * directories and stale manifests (best-effort — a crash here only
    * leaves unreferenced files).
    *
    * CONCURRENCY: the target is a SINGLE-WRITER sink (like every
    * manifest-file table format without an external lock service), but
    * concurrent writer ATTEMPTS must fail loudly, never corrupt, and
    * never silently drop a batch. The protocol has exactly ONE contended
    * operation — the manifest rename ([[writeManifest]]):
    *   - data goes to a writer-unique `_staging_*` dir renamed to a
    *     writer-UNIQUE version dir — no other writer can touch either
    *     name, so data writes never race anything;
    *   - the manifest version is strictly base+1, so two writers that
    *     read the same base state fight over ONE manifest filename, and
    *     the file rename's fail-if-destination-exists atomicity picks the
    *     single winner. A writer computing from stale state CANNOT land a
    *     higher version (its base+1 is already taken) — the lost-update
    *     window of version-skipping schemes is closed by construction.
    * The thrown IOException means "replay the batch" — merges are
    * idempotent, so the caller retries against the fresh state. */
  /** A commit whose DATA is fully staged (version dir written, counts
    * read, manifest built) but whose manifest is NOT yet published.
    * Publishing is the linearization point; splitting it out lets a
    * caller maintaining TWO stores overlap their staging work and
    * serialize only the publishes (the crash-ordering contract lives in
    * publish order, not staging order). An unpublished staging dir left
    * by a crash is uniquely-named debris on the standard orphan TTL. */
  private[graft] final case class PreparedVersion(
      path: String, existing: Option[Manifest], newManifest: Manifest,
      verDir: Path, touched: Int)

  private def commitVersion(spark: SparkSession, path: String,
                            existing: Option[Manifest], data: DataFrame,
                            dropFromOld: Set[Int], nBuckets: Int,
                            bucketCols: Seq[String] = Nil,
                            pkCols: Seq[String] = Nil,
                            compactedFrom: Long = -1L,
                            preBucketed: Boolean = false): MergeStats =
    publishVersion(spark,
      prepareVersion(spark, path, existing, data, dropFromOld, nBuckets,
        bucketCols, pkCols, preBucketed = preBucketed,
        compactedFrom = compactedFrom))

  /** Latest-per-key computed BUCKET-LOCALLY after ONE exchange by the
    * bucket column (round-16, guide §2.4 "remove shuffles outright"):
    * the bucket is a pure function of a PK subset, so co-locating rows
    * by bucket co-locates every version of a key, and a groupBy over
    * (pk ∪ bucket) then needs NO further exchange (HashPartitioning on
    * the bucket column satisfies the clustered distribution of any
    * superset) — and the output is already laid out for the partitioned
    * commit write, so [[prepareVersion]]'s own repartition is skipped
    * (`preBucketed`). The merge commit previously paid THREE batch
    * exchanges: latest-per-key over the batch (hash by pk), latest-per-
    * key over stored ∪ batch (hash by pk again), then the repartition by
    * bucket. Semantics are [[IncrementalSync.latestByKey]]'s exactly —
    * max-cursor-per-key over whatever flows in; dropping the batch-side
    * PRE-dedup is sound because latest(stored ∪ batch) ==
    * latest(stored ∪ latest(batch)) — and the aggregate's parallelism is
    * the bucket count, which the size-derived bucket rules grow with the
    * store. Output columns ride in latestByKey's order (pk, then value
    * columns in input order) so manifests and specs see no difference. */
  private def latestPerBucket(df: DataFrame, pkCols: Seq[String],
                              cursorCol: String): DataFrame = {
    val valueCols = df.columns.filterNot(c => pkCols.contains(c) || c == BucketCol)
    df.repartition(col(BucketCol))
      .groupBy((pkCols :+ BucketCol).map(col): _*)
      .agg(max_by(struct(valueCols.toIndexedSeq.map(col): _*), col(cursorCol))
        .as("__latest"))
      .select(pkCols.map(col) ++ df.columns.filterNot(pkCols.contains).map {
        case BucketCol => col(BucketCol)
        case c => col(s"__latest.$c").as(c)
      }: _*)
  }

  private def prepareVersion(spark: SparkSession, path: String,
                             existing: Option[Manifest], data: DataFrame,
                             dropFromOld: Set[Int], nBuckets: Int,
                             bucketCols: Seq[String] = Nil,
                             pkCols: Seq[String] = Nil,
                             preBucketed: Boolean = false,
                             compactedFrom: Long = -1L): PreparedVersion = {
    val staging = stagingDir(spark, path)
    // co-locate each bucket's rows before the partitioned write: without
    // this, partitionBy emits one file per (writer task × bucket) — up to
    // shufflePartitions × nBuckets tiny files per commit (measured: the
    // dominant cost of signature-store appends). One batch-sized shuffle
    // buys ~one file per bucket, which is also what keeps NameNode/object
    // listing pressure flat over long merge histories at scale.
    // `preBucketed` callers (the driver-local batch path) already built
    // their frame with one RDD partition per bucket — the shuffle stage
    // would only re-derive that layout, so it is skipped.
    (if (preBucketed) data else data.repartition(col(BucketCol)))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(staging.toString)
    val userSchema = StructType(data.schema.filterNot(_.name == BucketCol))
    finishVersion(spark, path, existing, staging, dropFromOld, nBuckets,
      Base64.getEncoder.encodeToString(userSchema.json.getBytes("UTF-8")),
      Map.empty, bucketCols, pkCols, compactedFrom)
  }

  /** A writer-unique `_staging_*` dir under the target root. */
  private def stagingDir(spark: SparkSession, path: String): Path =
    new Path(fileSystem(spark, path)._2,
      s"_staging_${java.util.UUID.randomUUID().toString.replace("-", "")}")

  /** Run `task` over `items` on a bounded pool: each item is an
    * independent filesystem round trip (a footer read, a bucket copy),
    * so serializing them is pure latency (32 sequential footer reads
    * were a measured ~0.3 s of every commit). Returns once every task
    * has finished; the first failure is rethrown. */
  private def inParallel[A, B](items: Seq[A])(task: A => B): Seq[B] = {
    if (items.isEmpty) return Seq.empty
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(items.size, 16))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(items)(a => Future(task(a))), 600.seconds)
    finally {
      // a failed task must not leave siblings writing into a dir the
      // caller is about to delete
      pool.shutdown()
      pool.awaitTermination(600, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
  }

  /** The commit tail every write shares: move the fully written
    * `staging` dir into place as a new version dir, find the buckets it
    * holds, and build (not publish) the manifest that points them at it.
    * `knownCounts` are row counts the caller already has (a copy carries
    * its source's); a present bucket without one is counted from its
    * parquet footers. */
  private def finishVersion(spark: SparkSession, path: String,
                            existing: Option[Manifest], staging: Path,
                            dropFromOld: Set[Int], nBuckets: Int, schemaB64: String,
                            knownCounts: Map[Int, Long], bucketCols: Seq[String],
                            pkCols: Seq[String], compactedFrom: Long): PreparedVersion = {
    val (f, p) = fileSystem(spark, path)
    val newVer = existing.map(_.version).getOrElse(0L) + 1
    val dirName = versionDirName(newVer)
    val verDir = new Path(p, dirName)
    // empty batches write no partition dirs — an empty staging dir renames
    // fine and yields present = ∅ below, same as before. The destination
    // name is writer-unique, so this rename is uncontended by design; a
    // failure is a filesystem fault, not a race.
    if (!f.rename(staging, verDir)) {
      f.delete(staging, true)
      throw new java.io.IOException(
        s"could not move staging into place at $verDir — replay the batch")
    }

    val present: Set[Int] =
      if (!f.exists(verDir)) Set.empty
      else f.listStatus(verDir).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith(BucketCol + "=") =>
          n.drop(BucketCol.length + 1).toInt }.toSet

    val oldBuckets = existing.map(_.buckets).getOrElse(Map.empty[Int, String])
    val newBuckets = (oldBuckets -- dropFromOld) ++ present.map(_ -> dirName).toMap

    // Per-bucket row counts for the NEW version dir only — driver-side
    // parquet FOOTER reads of the just-written files (row counts are
    // block metadata): cost ∝ files in the batch's buckets, no Spark job.
    // This was previously a count scan — one extra job per commit, and
    // commit fixed overhead is exactly what bounds incremental-store
    // throughput. Untouched buckets carry their previous counts forward.
    val conf = spark.sessionState.newHadoopConf()
    val newCounts: Map[Int, Long] =
      knownCounts.view.filterKeys(present.contains).toMap ++
        inParallel((present -- knownCounts.keySet).toSeq) { b =>
          b -> f.listStatus(new Path(verDir, s"$BucketCol=$b")).toSeq
            .filter(st => st.getPath.getName.endsWith(".parquet"))
            .map { st =>
              val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getRecordCount finally r.close()
            }.sum
        }
    val oldCounts = existing.map(_.rowCounts).getOrElse(Map.empty[Int, Long])
    val rowCounts = ((oldCounts -- dropFromOld).view.filterKeys(newBuckets.contains).toMap
      ++ newCounts)

    // a write never erases the recorded PK (a legacy manifest upgraded by
    // a pk-carrying write keeps it from then on)
    val pk = if (pkCols.nonEmpty) pkCols else existing.map(_.pkCols).getOrElse(Nil)
    val newManifest = Manifest(newVer, nBuckets, newBuckets, schemaB64, rowCounts,
      bucketCols, pk, compactedFrom)
    PreparedVersion(path, existing, newManifest, verDir,
      (dropFromOld ++ present).size)
  }

  private[graft] def publishVersion(spark: SparkSession,
                                    prep: PreparedVersion): MergeStats = {
    val (f, p) = fileSystem(spark, prep.path)
    // the single linearization point: winner takes version base+1; a
    // loser cleans up its (unreferenced, uniquely-named) data dir and
    // replays against the winner's state
    try writeManifest(f, p, prep.newManifest)
    catch {
      case e: java.io.IOException =>
        f.delete(prep.verDir, true)
        throw e
    }

    val bytes =
      if (f.exists(prep.verDir)) f.getContentSummary(prep.verDir).getLength else 0L
    gc(f, p, Seq(prep.newManifest) ++ prep.existing)
    MergeStats(prep.newManifest.version, prep.touched, prep.newManifest.nBuckets, bytes)
  }

  /** Garbage collection by RETAINED SET, not by numeric version gap: keep
    * the new manifest plus the previous committed one (the corrupt-newest
    * fallback), delete other OLDER manifests, and delete only bucket dirs
    * referenced by NEITHER retained manifest. This makes the fallback
    * actually usable — a reader that falls back to the previous manifest
    * finds every bucket directory it references still on disk; those dirs
    * are reclaimed one commit later, when their manifest leaves the
    * retained set. Best-effort: failures leave garbage, never break state.
    *
    * NEWER-THAN-US GUARD: gc runs after our commit, by which time a
    * successor may already have chained a commit on top of ours. Nothing
    * at a version ≥ ours that isn't ours is ever touched — not manifests
    * (a successor's committed state!) and not version dirs (a successor's
    * data, or a same-version loser still cleaning itself up). An orphan
    * dir from a crashed writer at version V is reaped once the committed
    * version passes V — one-commit delay, bounded. */
  private def gc(f: FileSystem, p: Path, keep: Seq[Manifest]): Unit = {
    try {
      val keepVers = keep.map(_.version).toSet
      val ourVer = keep.map(_.version).max
      // toSeq first: mapping a Map to swapped pairs would re-key by dir
      // and collapse every bucket in the same version dir to one entry
      val referenced: Set[(String, Int)] =
        keep.flatMap(_.buckets.toSeq.map { case (b, d) => (d, b) }).toSet
      // ONE listing of the target root serves every sweep below: on an
      // object store each LIST is a billed round trip on the commit
      // path, whose fixed overhead bounds incremental-store throughput.
      // Working off a snapshot is safe — gc only deletes entries it
      // chose from it.
      val entries = f.listStatus(p).toSeq
      entries.map(_.getPath.getName).foreach {
        case n @ ManifestRe(v) if v.toLong < ourVer && !keepVers.contains(v.toLong) =>
          val mp = new Path(p, n)
          f.delete(mp, false)
          // retire the commit register's state for the reclaimed version
          // too, or a lock-service register grows one entry per commit
          // forever (no-op under FsNative)
          CommitLock.forTarget(f, mp).reclaim(f, mp)
        case _ => ()
      }
      // crashed writers' debris, AGE-GATED on the standard orphan-TTL
      // policy (an in-flight writer's tmp/staging is at most minutes
      // old; an hour-old one is dead). Reaping a LIVE writer's manifest
      // tmp would merely force a replay under FsNative, but under
      // ConditionalPut it would consume the writer's claimed slot for
      // nothing (the claim is released on a failed move, but the round
      // trip is wasted work the TTL avoids).
      val staleBefore = System.currentTimeMillis() - 3600000L
      entries
        .filter(st => st.getPath.getName.startsWith("_graft_manifest_tmp_") &&
          st.getModificationTime < staleBefore)
        .foreach(st => { f.delete(st.getPath, false); () })
      entries
        .filter(st => st.getPath.getName.startsWith("_staging_") &&
          st.getModificationTime < staleBefore)
        .foreach(st => { f.delete(st.getPath, true); () })
      entries.map(_.getPath.getName).foreach {
        case n @ VerDirRe(vs) if vs.toLong < ourVer =>
          val vd = new Path(p, n)
          f.listStatus(vd).toSeq.map(_.getPath.getName)
            .filter(_.startsWith(BucketCol + "="))
            .foreach { bn =>
              val b = bn.drop(BucketCol.length + 1).toInt
              if (!referenced.contains((n, b))) { f.delete(new Path(vd, bn), true); () }
            }
          if (!f.listStatus(vd).exists(_.getPath.getName.startsWith(BucketCol + "=")))
            { f.delete(vd, true); () }
        case _ => ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Total committed rows as manifest metadata — no file listing, no
    * footer reads. `None` only for a manifest predating rowCounts. */
  def rowCount(spark: SparkSession, path: String): Option[Long] =
    currentManifest(spark, path).flatMap(_.totalRows)

  /** Bucket-pruned point lookup: the stored rows whose probe key may
    * appear in `keys` — only the buckets `keys` hashes into are listed or
    * read, so a small probe against a huge target costs O(probe buckets),
    * never a target scan. `probeCols` must be the target's bucket-key
    * columns (the PK by default; the recorded `bucketCols` for a
    * probe-key-bucketed target — enforced). Returns the matching stored
    * rows (semi-joined on the exact probe key). An empty/missing target
    * yields an empty frame with the keys' schema restricted to
    * `probeCols`. */
  def readMatching(keys: DataFrame, path: String, probeCols: Seq[String]): DataFrame = {
    val spark = keys.sparkSession
    currentManifest(spark, path) match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(keys.select(probeCols.map(col): _*).schema))
      case Some(m) =>
        require(m.bucketCols.isEmpty || m.bucketCols == probeCols,
          s"target is bucketed by ${m.bucketCols} — probe with exactly those columns")
        // bucketCols empty means the store is bucketed by its full PK: a
        // probe over any other column set would hash the wrong key and
        // silently miss rows. (Pre-pkCols manifests record Nil and keep
        // the caller-is-right behavior.)
        require(m.bucketCols.nonEmpty || m.pkCols.isEmpty || m.pkCols == probeCols,
          s"target is bucketed by its PK ${m.pkCols} — probe with exactly those columns")
        val keyed = withBucket(keys.select(probeCols.map(col): _*).distinct(), probeCols, m.nBuckets)
        val touched = keyed.select(BucketCol).distinct()
          .collect().map(_.getInt(0)).toSet.intersect(m.buckets.keySet)
        if (touched.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
        else
          readBuckets(spark, path, m, touched).drop(BucketCol)
            .join(keyed.drop(BucketCol), probeCols, "left_semi")
    }
  }

  /** [[readMatching]] with DRIVER-RESIDENT probe keys (single probe
    * column): the touched-bucket set is computed by evaluating the
    * bucketing hash on the driver — no Spark job, no shuffle — and the
    * pruned read filters through an IN predicate instead of a semi-join.
    * This is the point-lookup shape of the incremental operators' driver
    * fast path: a probe of k keys costs ONE narrow scan of the buckets
    * those k keys hash into, nothing else. `keyType` must be the stored
    * column's type (bucket hashes are type-sensitive). Pass `manifest`
    * when the caller already read it (one manifest parse per update, not
    * one per probe). */
  def readMatchingLocal(spark: SparkSession, path: String, probeCol: String,
                        keys: Seq[Any], keyType: DataType,
                        manifest: Option[Manifest] = None): DataFrame = {
    val m = manifest.orElse(currentManifest(spark, path)).getOrElse(
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(org.apache.spark.sql.types.StructField(probeCol, keyType)))))
    require(m.bucketCols.isEmpty || m.bucketCols == Seq(probeCol),
      s"target is bucketed by ${m.bucketCols} — probe with exactly those columns")
    // as in readMatching: a bucketCols-less store hashes its full PK, so a
    // single-column probe is only sound when the PK IS that column.
    require(m.bucketCols.nonEmpty || m.pkCols.isEmpty || m.pkCols == Seq(probeCol),
      s"target is bucketed by its PK ${m.pkCols} — probe with exactly those columns")
    // a null key matches nothing (SQL equality), so it is dropped up
    // front: both probe forms below then see the same null-free key set
    val distinctKeys = keys.distinct.filter(_ != null)
    val touched = distinctKeys.map(k => localBucket(k, keyType, m.nBuckets)).toSet
      .intersect(m.buckets.keySet)
    if (touched.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    else {
      val pruned = readBuckets(spark, path, m, touched).drop(BucketCol)
      // Small probes keep the IN filter (pushes to the parquet scan, no
      // join in the plan). LARGE probes must not: `isInCollection` builds
      // an In expression with one Literal CHILD PER KEY, and every
      // analyzer/optimizer pass walks that tree — measured at the 100×
      // rung (q_incremental_cluster batch 2, ~1M touched ids against 8
      // bucket files): 95 s byId + 56 s byRep, nearly all driver-side
      // plan work. A broadcast LEFT SEMI join against a local relation
      // of the keys is the same predicate (exact equality; the keys are
      // null-free, see above) with a constant-size plan: the same probe
      // pair measured 3.7 + 11.9 s after the switch (IncProfile, same
      // fixture/epoch). Threshold is deliberately far above any
      // point-lookup use (store probes are ≤ a few thousand keys) and far
      // below the edge-batch regime.
      if (distinctKeys.size <= 10000)
        pruned.filter(col(probeCol).isInCollection(distinctKeys))
      else {
        import scala.jdk.CollectionConverters._
        val keyRel = spark.createDataFrame(
          distinctKeys.map(k => Row(k)).asJava,
          StructType(Seq(org.apache.spark.sql.types.StructField(
            probeCol, keyType, nullable = false))))
        pruned.join(broadcast(keyRel), Seq(probeCol), "left_semi")
      }
    }
  }

  /** The bucket [[withBucket]] assigns these key values, computed on the
    * driver: the same Murmur3 expression (seed 42 — what `functions.hash`
    * uses) evaluated over literals. */
  private[graft] def localBucketOf(values: Seq[(Any, DataType)], nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = new Murmur3Hash(values.map { case (v, dt) => Literal.create(v, dt) })
      .eval(null).asInstanceOf[Int]
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  private[graft] def localBucket(value: Any, dt: DataType, nBuckets: Int): Int =
    localBucketOf(Seq((value, dt)), nBuckets)

  /** [[applyBatch]] for a DRIVER-RESIDENT batch: latest-per-key dedup and
    * bucket membership are computed on the driver (no persist, no
    * touched-bucket collect jobs), so the entire commit runs as ONE Spark
    * action — the pruned-bucket rewrite. This is what bounds per-batch
    * latency for the incremental operators' driver fast path: commit
    * fixed overhead drops from 3–4 scheduled jobs to 1.
    *
    * `upserts` rows match `schema` (which includes `cursorCol`);
    * `deleteKeys` rows are `pkCols`-shaped tuples. Cursor values must be
    * Comparable (the driver-side analog of SQL `max`). Semantics are
    * identical to [[applyBatch]] — upsert wins over delete for a key in
    * both. */
  def applyBatchLocal(spark: SparkSession, schema: StructType, upserts: Seq[Row],
                      deleteKeys: Seq[Row], path: String, pkCols: Seq[String],
                      cursorCol: String, nBuckets: Int = DefaultBuckets,
                      bucketCols: Seq[String] = Nil): MergeStats =
    prepareBatchLocal(spark, schema, upserts, deleteKeys, path, pkCols,
      cursorCol, nBuckets, bucketCols) match {
      case Left(stats) => stats
      case Right(prep) => publishVersion(spark, prep)
    }

  /** The staging half of [[applyBatchLocal]]: everything except the
    * manifest publish. Left = the batch touched nothing (already final);
    * Right = staged and ready for [[publishVersion]]. A caller updating
    * TWO stores can run both prepares concurrently (independent Spark
    * jobs over different paths) and serialize only the publishes,
    * preserving its crash-ordering contract at roughly half the wall
    * cost — the lever behind the incremental operators' per-batch
    * latency. */
  private[graft] def prepareBatchLocal(spark: SparkSession, schema: StructType,
                      upserts: Seq[Row], deleteKeys: Seq[Row], path: String,
                      pkCols: Seq[String], cursorCol: String,
                      nBuckets: Int = DefaultBuckets,
                      bucketCols: Seq[String] = Nil): Either[MergeStats, PreparedVersion] = {
    val existing = currentManifest(spark, path)
    val nb = existing.map(_.nBuckets).getOrElse(nBuckets)
    val bc = resolveBucketCols(existing, pkCols, bucketCols)
    val pkIdx = pkCols.map(schema.fieldIndex)
    val curIdx = schema.fieldIndex(cursorCol)
    val bcIdx = bc.map(schema.fieldIndex)

    val cursorOrd: Ordering[Row] = Ordering.fromLessThan((x, y) =>
      x.get(curIdx).asInstanceOf[Comparable[Any]].compareTo(y.get(curIdx)) < 0)
    val latest: Seq[Row] = upserts
      .groupBy(r => pkIdx.map(r.get))
      .valuesIterator.map(_.max(cursorOrd))
      .toSeq
    def bucketOfUpsert(r: Row): Int =
      localBucketOf(bcIdx.map(i => (r.get(i), schema.fields(i).dataType)), nb)
    // delete keys are pkCols-shaped; bucket by bc's position within the PK
    val bcInPk = bc.map(pkCols.indexOf)
    def bucketOfDelete(r: Row): Int =
      localBucketOf(bcInPk.map(i => (r.get(i), schema.fields(pkIdx(i)).dataType)), nb)

    val owned = existing.map(_.buckets.keySet).getOrElse(Set.empty)
    val dedupedDeletes = deleteKeys.distinct
    val touched = latest.map(bucketOfUpsert).toSet ++
      dedupedDeletes.map(bucketOfDelete).toSet.intersect(owned)
    if (touched.isEmpty)
      return Left(MergeStats(existing.map(_.version).getOrElse(0L), 0, nb, 0L))

    import scala.jdk.CollectionConverters._
    val mergesExisting =
      existing.exists(_.buckets.keySet.intersect(touched).nonEmpty)
    val (merged, preBucketed) =
      if (mergesExisting) {
        val m = existing.get
        val batchRel = withBucket(
          spark.createDataFrame(latest.asJava, schema), bc, nb)
        val remaining =
          if (dedupedDeletes.isEmpty) readBuckets(spark, path, m, touched)
          else {
            val delSchema = StructType(pkCols.map(n => schema(schema.fieldIndex(n))))
            readBuckets(spark, path, m, touched)
              .join(spark.createDataFrame(dedupedDeletes.asJava, delSchema),
                pkCols, "left_anti")
          }
        (IncrementalSync.latestByKey(
          remaining.unionByName(batchRel, allowMissingColumns = true),
          pkCols, cursorCol), false)
      } else {
        // no existing bucket overlaps: the whole write is the batch, and
        // its bucket layout is already known on the driver — build ONE
        // RDD partition per bucket so the commit write needs no shuffle
        // stage (the bucket values match withBucket: localBucketOf IS the
        // same Murmur3 expression, pin-tested)
        val grouped = latest.groupBy(bucketOfUpsert).toSeq.sortBy(_._1)
        val withB = StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(BucketCol,
            org.apache.spark.sql.types.IntegerType, nullable = false))
        val rdd = spark.sparkContext
          .parallelize(grouped, math.max(grouped.size, 1))
          .flatMap { case (b, rows) => rows.map(r => Row.fromSeq(r.toSeq :+ b)) }
        val rel = spark.createDataFrame(rdd, withB)
        (existing.map(m => addMissingColumns(rel, m.schema)).getOrElse(rel), true)
      }
    Right(prepareVersion(spark, path, existing, merged, touched, nb, bc, pkCols,
      preBucketed = preBucketed))
  }

  /** The bucket-key columns in force for a target: what the manifest
    * recorded, else the caller's request, else the PK. A non-empty
    * request against a target recorded differently is a hard error —
    * bucket membership is baked into the files, so a silent switch would
    * prune the wrong buckets. Requested cols must be a subset of the PK:
    * that is what guarantees two versions of the same key land in the
    * same bucket (the merge-visibility invariant). */
  private def resolveBucketCols(existing: Option[Manifest], pkCols: Seq[String],
                                requested: Seq[String]): Seq[String] = {
    checkPkCols(existing, pkCols)
    val recorded = existing.map(_.bucketCols).getOrElse(Nil)
    require(recorded.isEmpty || requested.isEmpty || recorded == requested,
      s"target is bucketed by $recorded but caller asked for $requested")
    require(requested.forall(pkCols.contains),
      s"bucketCols $requested must be a subset of pkCols $pkCols")
    if (recorded.nonEmpty) recorded else if (requested.nonEmpty) requested else pkCols
  }

  /** The PK is part of the target's identity: latest-per-key dedup,
    * delete matching and bucket placement are all keyed by it, so a write
    * keyed differently than the store was built with would silently break
    * the primary-key invariant (two rows per real key, or deletes that
    * match nothing). The manifest records it; a mismatching write fails
    * loudly (empty = a manifest from before this field — unchecked by
    * necessity). */
  private def checkPkCols(existing: Option[Manifest], pkCols: Seq[String]): Unit = {
    val recorded = existing.map(_.pkCols).getOrElse(Nil)
    require(recorded.isEmpty || recorded == pkCols,
      s"target is keyed by $recorded but caller asked for $pkCols — " +
        "the PK is fixed at store creation (write a new target to re-key)")
  }

  /** Cursor-aware upsert of a change batch. I/O ∝ batch size (plus the
    * current contents of the buckets the batch touches), never ∝ target
    * size. Replays are idempotent: max-cursor-per-key over target ∪ batch.
    *
    * `bucketCols` (default: the PK) switches the target to PROBE-KEY
    * bucketing: rows are placed by a PK-subset the reader later probes
    * with, so [[readMatching]] on those columns prunes to just their
    * buckets. The LSH signature store buckets by `(band, bh)` this way —
    * an incoming batch's bands probe only the buckets they hash into. */
  def merge(batch: DataFrame, path: String, pkCols: Seq[String], cursorCol: String,
            nBuckets: Int = DefaultBuckets, bucketCols: Seq[String] = Nil): MergeStats = {
    val spark = batch.sparkSession
    val existing = currentManifest(spark, path)
    val nb = existing.map(_.nBuckets).getOrElse(nBuckets)
    val bc = resolveBucketCols(existing, pkCols, bucketCols)
    // the RAW batch, bucketed — no pre-dedup pass: the single
    // latest-per-key in [[latestPerBucket]] below subsumes it
    // (latest(stored ∪ batch) == latest(stored ∪ latest(batch))), and
    // the batch previously paid that extra exchange+aggregate on every
    // commit
    val bucketed = withBucket(batch, bc, nb)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = bucketed.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet
      if (touched.isEmpty)
        return MergeStats(existing.map(_.version).getOrElse(0L), 0, nb, 0L)
      val unioned = existing match {
        case Some(m) if m.buckets.keySet.intersect(touched).nonEmpty =>
          // allowMissingColumns = additive schema evolution: a batch with
          // a NEW column merges (old rows null-fill it; the manifest
          // schema becomes the union), and a batch missing an old column
          // null-fills its own rows — latest-wins applies per whole row.
          // Dropping columns is not supported (a column once present
          // persists; write a new target to truly remove one).
          readBuckets(spark, path, m, touched)
            .unionByName(bucketed, allowMissingColumns = true)
        case Some(m) =>
          // no touched bucket currently holds rows, but the STORE schema
          // must still survive this commit: the manifest schema is derived
          // from the written frame, so committing the bare batch would
          // silently narrow an evolved store back to the batch's columns
          // (and the conforming read would then drop — and the next
          // rewrite destroy — the evolved columns' data)
          addMissingColumns(bucketed, m.schema)
        case None => bucketed
      }
      commitVersion(spark, path, existing,
        latestPerBucket(unioned, pkCols, cursorCol), touched, nb,
        bc, pkCols, preBucketed = true)
    } finally { bucketed.unpersist(); () }
  }

  /** Upserts AND deletes in ONE commit — the incremental-cluster write
    * shape (relabel moved rows + clear their old locations), which as
    * merge-then-deleteKeys costs two commits; commit fixed overhead is
    * what bounds incremental-store throughput, so the combined form
    * matters. Semantics: stored rows matching `deletes` (exact PK) go,
    * then `upserts` latest-per-key against what remains — a key in both
    * is an upsert, not a delete. Buckets touched by neither side are
    * never read or rewritten. One manifest bump; the crash window between
    * the two separate commits disappears. */
  def applyBatch(upserts: DataFrame, deletes: DataFrame, path: String,
                 pkCols: Seq[String], cursorCol: String,
                 nBuckets: Int = DefaultBuckets, bucketCols: Seq[String] = Nil): MergeStats = {
    val spark = upserts.sparkSession
    val existing = currentManifest(spark, path)
    val nb = existing.map(_.nBuckets).getOrElse(nBuckets)
    val bc = resolveBucketCols(existing, pkCols, bucketCols)
    // raw upserts bucketed — the single latest-per-key in
    // [[latestPerBucket]] subsumes the former batch-side pre-dedup
    val bucketed = withBucket(upserts, bc, nb)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val delKeyed = withBucket(deletes.select(pkCols.map(col): _*).distinct(), bc, nb)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val owned = existing.map(_.buckets.keySet).getOrElse(Set.empty)
      val touched = bucketed.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet ++
        delKeyed.select(BucketCol).distinct()
          .collect().map(_.getInt(0)).toSet.intersect(owned) // delete-only buckets must exist to matter
      if (touched.isEmpty)
        return MergeStats(existing.map(_.version).getOrElse(0L), 0, nb, 0L)
      val unioned = existing match {
        case Some(m) if m.buckets.keySet.intersect(touched).nonEmpty =>
          readBuckets(spark, path, m, touched)
            .join(delKeyed.drop(BucketCol), pkCols, "left_anti")
            .unionByName(bucketed, allowMissingColumns = true)
        case Some(m) => addMissingColumns(bucketed, m.schema)
        case None => bucketed
      }
      commitVersion(spark, path, existing,
        latestPerBucket(unioned, pkCols, cursorCol), touched, nb, bc, pkCols,
        preBucketed = true)
    } finally { bucketed.unpersist(); delKeyed.unpersist(); () }
  }

  /** Delete by key (the reconcile write path): rewrites only buckets that
    * contain a key to delete; a bucket emptied by the delete drops out of
    * the manifest entirely. */
  def deleteKeys(keys: DataFrame, path: String, pkCols: Seq[String]): MergeStats = {
    val spark = keys.sparkSession
    val existing = currentManifest(spark, path)
    val m = existing.getOrElse(
      throw new IllegalStateException(s"no committed manifest under $path"))
    // a probe-key-bucketed target places rows by its recorded bucketCols
    // (⊆ pk, so present in `keys`); bucketing the delete keys the same way
    // is what makes the touched-bucket set correct
    val bc = resolveBucketCols(existing, pkCols, Nil)
    val keyed = withBucket(keys.select(pkCols.map(col): _*).distinct(), bc, m.nBuckets)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = keyed.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet.intersect(m.buckets.keySet)
      if (touched.isEmpty) return MergeStats(m.version, 0, m.nBuckets, 0L)
      val remaining = readBuckets(spark, path, m, touched)
        .join(keyed.drop(BucketCol), pkCols, "left_anti")
      commitVersion(spark, path, existing, remaining, touched, m.nBuckets,
        m.bucketCols, pkCols)
    } finally { keyed.unpersist(); () }
  }

  /** Bucket-REPLACE commit — the replication write shape for an
    * arbitrary frame: the named `buckets` come to contain EXACTLY the
    * rows of `data` that hash into them. Prior contents of those buckets
    * are dropped, a named bucket with no incoming rows becomes empty, and
    * buckets outside the set are never read or rewritten (I/O ∝ the
    * replaced buckets, as always). A key absent from the replacement
    * disappears, so applying a source's changed buckets wholesale carries
    * DELETE fidelity without row diffing. When the rows ARE another
    * store's buckets, [[copyBuckets]] makes the same commit without a
    * Spark job; this form rehashes and rewrites every row. Requires
    * bucket identity with the caller's layout — same nBuckets (enforced
    * loudly; a silent fallback to the target's count would scatter rows
    * across a different keyspace partitioning) and same bucketCols. */
  def replaceBuckets(data: DataFrame, path: String, buckets: Set[Int],
                     pkCols: Seq[String], nBuckets: Int = DefaultBuckets,
                     bucketCols: Seq[String] = Nil): MergeStats = {
    val spark = data.sparkSession
    val existing = currentManifest(spark, path)
    val bc = checkBucketIdentity(existing, nBuckets, pkCols, bucketCols)
    if (buckets.isEmpty)
      return MergeStats(existing.map(_.version).getOrElse(0L), 0, nBuckets, 0L)
    val bucketed = withBucket(data, bc, nBuckets)
      .filter(col(BucketCol).isin(buckets.toSeq: _*))
    commitVersion(spark, path, existing, bucketed, buckets, nBuckets, bc, pkCols)
  }

  /** The bucket-replace checks: same nBuckets, then [[resolveBucketCols]]. */
  private def checkBucketIdentity(existing: Option[Manifest], nBuckets: Int,
                                  pkCols: Seq[String], bucketCols: Seq[String]): Seq[String] = {
    existing.foreach(m => require(m.nBuckets == nBuckets,
      s"target has ${m.nBuckets} buckets but the replacement was computed against " +
        s"$nBuckets — bucket replacement requires bucket identity"))
    resolveBucketCols(existing, pkCols, bucketCols)
  }

  /** Bucket-COPY commit — [[replaceBuckets]] for rows that already sit in
    * another store laid out identically (the [[graft.streaming
    * .StoreFollower]] mirror): the named `buckets` of the store at
    * `source`, as its manifest `src` assigns them, are copied file by
    * file, as bytes, into ONE new version dir of `path`, and committed
    * through the standard manifest protocol (same publish, lock and gc).
    * No Spark job runs: nothing is read, rehashed or re-encoded, since a
    * source bucket IS the mirror bucket. A named bucket the source no
    * longer owns drops out of the mirror, as in [[replaceBuckets]].
    *
    * The mirror's manifest takes the source's schema and, per copied
    * bucket, the source's row count (footers are read only for a bucket
    * a legacy source manifest has no count for). Copies run through the
    * Hadoop FileSystem API on a bounded pool, into a writer-unique
    * staging dir. Any failure — an unreadable source file, a committed
    * bucket dir holding no data file, or a source that moved a bucket on
    * and reclaimed its dir while the copy ran — deletes the staging dir
    * and throws; nothing is published, so a rerun replays cleanly. */
  private[graft] def copyBuckets(spark: SparkSession, source: String, src: Manifest,
                                 path: String, buckets: Set[Int]): MergeStats = {
    require(src.pkCols.nonEmpty,
      s"source store at $source records no PK (legacy manifest) — " +
        "a mirror needs the key to lay out its buckets identically")
    val existing = currentManifest(spark, path)
    val bc = checkBucketIdentity(existing, src.nBuckets, src.pkCols, src.bucketCols)
    if (buckets.isEmpty)
      return MergeStats(existing.map(_.version).getOrElse(0L), 0, src.nBuckets, 0L)
    val (f, _) = fileSystem(spark, path)
    val (sf, sp) = fileSystem(spark, source)
    val conf = spark.sessionState.newHadoopConf()
    val owned = src.buckets.filter { case (b, _) => buckets.contains(b) }
    val staging = stagingDir(spark, path)
    try {
      f.mkdirs(staging)
      inParallel(owned.toSeq) { case (b, dir) =>
        val from = new Path(new Path(sp, dir), s"$BucketCol=$b")
        val files = sf.listStatus(from).toSeq
        // a committed bucket always holds at least one data file
        if (!files.exists(_.getPath.getName.endsWith(".parquet")))
          throw new java.io.IOException(s"source bucket $from holds no data file")
        val to = new Path(staging, s"$BucketCol=$b")
        files.foreach { st =>
          org.apache.hadoop.fs.FileUtil.copy(sf, st.getPath, f,
            new Path(to, st.getPath.getName), false, conf)
        }
      }
      // the source's gc reclaims a bucket dir only once BOTH its retained
      // manifests have moved the bucket off it — two versions past `src`.
      // Dirs are write-once, so a bucket the current source manifest
      // still maps to the dir we copied was never reclaimed
      val now = currentManifest(spark, source)
      if (now.exists(c => c.version > src.version + 1 &&
          owned.exists { case (b, d) => !c.buckets.get(b).contains(d) }))
        throw new java.io.IOException(s"source at $source moved past v${src.version} " +
          "while its buckets were copied — replay")
    } catch {
      case scala.util.control.NonFatal(e) =>
        f.delete(staging, true)
        throw e
    }
    publishVersion(spark, finishVersion(spark, path, existing, staging, buckets,
      src.nBuckets, src.schemaB64, src.rowCounts, bc, src.pkCols, compactedFrom = -1L))
  }

  /** MAJOR COMPACTION: rewrite every live bucket into ONE new version
    * directory. Incremental merges leave each bucket owned by whichever
    * version dir last rewrote it, so a long commit history scatters the
    * store across many directories (gc caps MANIFESTS at two, but a
    * never-rewritten bucket keeps its old dir alive indefinitely) and
    * accretes one small file per bucket per rewrite generation. At
    * object-store scale that is the classic small-file/LIST-pressure
    * debt every LSM/table format answers with compaction. This is the
    * maintenance operation: contents, schema, PK, bucketing and version
    * ordering are untouched (rows are already latest-per-key — no dedup
    * pass); it commits through the standard manifest protocol, so it is
    * crash-safe and multi-writer-arbitrated like any merge, and the
    * superseded directories are reclaimed by gc one commit later (the
    * standard retention window). Cost: one full-store read + write —
    * schedule it like any compaction, off the ingest path. */
  def compact(spark: SparkSession, path: String): MergeStats = {
    val existing = currentManifest(spark, path)
    val m = existing.getOrElse(
      return MergeStats(0L, 0, DefaultBuckets, 0L))
    if (m.buckets.isEmpty)
      return MergeStats(m.version, 0, m.nBuckets, 0L)
    val all = readBuckets(spark, path, m, m.buckets.keySet)
    // the commit is marked content-identical-to(m.version): a follower
    // or streaming source whose watermark is exactly m.version emits
    // NOTHING for it instead of re-reading the whole store
    commitVersion(spark, path, existing, all, m.buckets.keySet, m.nBuckets,
      m.bucketCols, m.pkCols, compactedFrom = m.version)
  }

  /** Full replacement (seed / wraparound resync): every old bucket is
    * dropped; the new contents own the whole keyspace. */
  def replaceAll(data: DataFrame, path: String, pkCols: Seq[String], cursorCol: String,
                 nBuckets: Int = DefaultBuckets, bucketCols: Seq[String] = Nil): MergeStats = {
    val spark = data.sparkSession
    val existing = currentManifest(spark, path)
    val nb = existing.map(_.nBuckets).getOrElse(nBuckets)
    val bc = resolveBucketCols(existing, pkCols, bucketCols)
    // one exchange (see [[latestPerBucket]]): dedup runs bucket-local
    // after the bucket repartition the commit write needed anyway
    commitVersion(spark, path, existing,
      latestPerBucket(withBucket(data, bc, nb), pkCols, cursorCol),
      existing.map(_.buckets.keySet).getOrElse(Set.empty), nb,
      bc, pkCols, preBucketed = true)
  }
}
