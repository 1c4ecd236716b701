package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{ReplicationFilter, TableRules}
import graft.jsonb.JsonbIngestJob
import graft.operators.Checksum
import graft.snapshot.SnapshotJob

/** `snapshot_x<Rung>`: bulk copy, verify and JSONB encode of the
  * ×[[Rung]] copy of the source tables. Each iteration runs
  * `SnapshotJob.run` with a filter excluding one table, one SQL-predicate
  * rule, one schema-only table and a checkpoint path (step 1); then
  * `SnapshotJob.verifyDirs` over the tables no seed's choice filters,
  * parallelism 4 (step 2); then `JsonbIngestJob.toDocuments` on the
  * `customer` table into the `noop` sink (step 3). Verify and encode run
  * [[Repeats]] times in an untraced run's iterations, and an iteration
  * counts the median of their calls. The seed picks the tables and the
  * predicate, so each step is reported as milliseconds per million rows
  * it handles, the median over the run's iterations. */
object SnapshotWorkload extends Workload {

  val Rung = 2
  val Database = "bench"
  val JsonbTable = "customer"
  val JsonbKey = "c_custkey"
  /** Calls per untraced timed iteration of the two read-only steps; the
    * warm-up and traced runs make one of each. */
  val Repeats = 3

  /** The seed's rule choices. Candidates are kept to tables of similar
    * weight, so the copied volume, and with it throughput, does not swing
    * with the seed. The predicate keeps the rows whose key is not `r`
    * modulo `m`: no clock, so the expected rows are fixed. */
  final case class Choice(excluded: String, schemaOnly: String, predTable: String,
                          predKey: String, modulus: Int, residue: Int) {
    def predicateSql: String = s"$predKey % $modulus <> $residue"
    def predicate: Column = col(predKey) % modulus =!= residue
    def filter: ReplicationFilter = ReplicationFilter(excludeTables = Set(s"$Database.$excluded"))
    def rules: TableRules = TableRules(
      schemaOnly = Set(s"$Database.$schemaOnly"),
      tableFilters = Map(s"$Database.$predTable" -> predicateSql))
  }

  val ExcludeCandidates = Seq("region", "nation")
  val SchemaOnlyCandidates = Seq("supplier", "part")
  val PredicateCandidates = Seq("orders" -> "o_orderkey", "events" -> "event_id")

  def choose(seed: Long): Choice = {
    val rng = new scala.util.Random(seed)
    val excluded = ExcludeCandidates(rng.nextInt(2))
    val schemaOnly = SchemaOnlyCandidates(rng.nextInt(2))
    val (pt, pk) = PredicateCandidates(rng.nextInt(2))
    val m = 2 + rng.nextInt(3)
    Choice(excluded, schemaOnly, pt, pk, m, rng.nextInt(m))
  }

  /** The tables verify checks: those no seed's choice filters, so every
    * seed verifies the same tables. Tables of unequal width cost unequal
    * time per row, so a seed-dependent set would move step 2 with the
    * seed. */
  def verified(tables: Seq[String]): Seq[String] = tables.filterNot(
    (ExcludeCandidates ++ SchemaOnlyCandidates ++ PredicateCandidates.map(_._1)).contains)

  final case class Iter(copyS: Double, verifyS: Double, encodeS: Double)

  def run(ctx: Ctx, out: Outcome): Unit = {
    import ctx.spark
    val (src, meta) = Fixtures.scaled(spark, ctx.dataDir, ctx.work, Rung, ctx.log)
    val ch = choose(ctx.seed)
    val tables = SnapshotJob.discoverTables(src)
    val copied = tables.filter(t => ch.filter.shouldReplicateTable(Database, t))
    val verifiedTables = verified(copied)
    val srcRows = copied.map(meta(_).rows).sum
    val srcBytes = copied.map(meta(_).bytes).sum
    val verifyRows = 2 * verifiedTables.map(meta(_).rows).sum
    val encodeRows = meta(JsonbTable).rows
    out.note("rung", Rung)
    out.note("input_rows", meta.values.map(_.rows).sum)
    out.note("input_bytes", meta.values.map(_.bytes).sum)
    out.note("choice", ch)
    ctx.log(s"x$Rung input: ${meta.values.map(_.rows).sum} rows, " +
      s"${meta.values.map(_.bytes).sum} bytes; $ch")

    // operations: each table copied, each table verified, each encode
    def iteration(source: String, target: String, encodeFrom: DataFrame, tag: String,
                  repeats: Int = Repeats): Iter = {
      val tgt = ctx.scratch(target)
      val cp = tgt.resolve("checkpoint.json")
      val copyS = Region.seconds { ctx.tracer.span("snapshot.run", s"copy#$tag") {
        out.attempt(s"copy $tag", ops = copied.size) {
          val rep = SnapshotJob.run(spark, Database, source, tgt.toString, ch.filter,
            ch.rules, Some(cp))
          require(rep.copied.toSet == copied.toSet, s"copied ${rep.copied} != $copied")
        }
      } }
      // verify and encode only read, so they repeat on the same target;
      // the median of the calls keeps a burst of contention out
      val verifyS = Stats.median((1 to repeats).map { r =>
        Region.seconds { ctx.tracer.span("operators.checksum", s"verify#$tag.$r") {
          out.attempt(s"verify $tag", ops = verifiedTables.size) {
            val res = SnapshotJob.verifyDirs(spark, source, tgt.toString, verifiedTables,
              parallelism = 4)
            require(res.size == verifiedTables.size && res.values.forall(identity),
              s"verify of $verifiedTables returned $res")
          }
        } }
      })
      val encodeS = Stats.median((1 to repeats).map { r =>
        Region.seconds { ctx.tracer.span("jsonb.encode", s"encode#$tag.$r") {
          out.attempt(s"encode $tag") {
            JsonbIngestJob.toDocuments(encodeFrom, Some(JsonbKey), "sqlite")._1
              .write.format("noop").mode("overwrite").save()
          }
        } }
      })
      ctx.log(f"iteration $tag: copy $copyS%.2f s, verify $verifyS%.2f s, encode $encodeS%.2f s")
      Iter(copyS, verifyS, encodeS)
    }

    // untimed warm-up on a sample of the source: a fresh JVM spends most
    // of its first iteration compiling, whatever the input size
    val w0 = System.nanoTime()
    val warm = Fixtures.sample(spark, ctx.dataDir, ctx.work, 10)
    ctx.tracer.untraced(iteration(warm, "warm",
      spark.read.parquet(s"$warm/$JsonbTable.parquet"), "warm", repeats = 1))
    out.note("warmup_s", f"${(System.nanoTime() - w0) / 1e9}%.2f")

    // set-up: what a copy needs before its first byte moves — listing the
    // source catalog and reading every table's footer
    val setups = (1 to 3).map { _ => Region.seconds {
      SnapshotJob.discoverTables(src).foreach(t => spark.read.parquet(s"$src/$t.parquet").schema)
    } }
    out.metric("setup_s", ctx.sessionStartS + Stats.median(setups), "s")

    // a traced run alternates untraced and traced iterations, starting
    // and ending untraced so the JIT's warming does not favour either
    // side; the two sides give the tracing overhead. It makes one call of
    // each step per iteration, so its three iterations take about as long
    // as one untraced iteration with its repeats.
    val encodeFrom = spark.read.parquet(s"$src/$JsonbTable.parquet")
    val repeats = if (ctx.traced) 1 else Repeats
    val all = Region.run(ctx, out) { deadline =>
      val b = Vector.newBuilder[(Iter, Boolean)]
      var i = 0
      while (i < (if (ctx.traced) 3 else 1) || System.nanoTime() < deadline) {
        i += 1
        val traced = ctx.traced && i % 2 == 0
        def run() = iteration(src, "target", encodeFrom, i.toString, repeats)
        val it = if (traced) run() else ctx.tracer.untraced(run())
        b += it -> traced
      }
      b.result()
    }
    val iters = all.filterNot(_._2).map(_._1)
    out.note("iterations", iters.size)
    val copyS = Stats.median(iters.map(_.copyS))
    def msPerMrow(s: Double, rows: Long) = s * 1e3 / (rows / 1e6)
    out.metric("step1_ms", Stats.median(iters.map(i => msPerMrow(i.copyS, srcRows))), "ms")
    out.metric("step2_ms", Stats.median(iters.map(i => msPerMrow(i.verifyS, verifyRows))), "ms")
    out.metric("step3_ms", Stats.median(iters.map(i => msPerMrow(i.encodeS, encodeRows))), "ms")
    out.note("snapshot_rows_per_s", f"${srcRows / copyS}%.0f")
    out.note("snapshot_mb_per_s", f"${srcBytes / 1048576.0 / copyS}%.2f")
    out.note("snapshot_gb_per_h", f"${srcBytes / 1e9 / copyS * 3600}%.2f")
    out.note("verify_rows_per_s", f"${verifyRows / Stats.median(iters.map(_.verifyS))}%.0f")
    out.note("jsonb_rows_per_s", f"${encodeRows / Stats.median(iters.map(_.encodeS))}%.0f")

    // output checks, untimed, on the last iteration's target
    val tgt = ctx.work.resolve("run/target").toString
    val tgtTables = SnapshotJob.discoverTables(tgt)
    out.check("excluded table absent", !tgtTables.contains(ch.excluded))
    // four tables at a time, like verify: each check is a few small jobs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val checked = try scala.concurrent.Await.result(scala.concurrent.Future.traverse(copied) { t =>
      scala.concurrent.Future {
        val expected = t match {
          case ch.schemaOnly => None
          case ch.predTable =>
            val r = Checksum.unorderedChecksum(spark.read.parquet(s"$src/$t.parquet")
              .filter(ch.predicate)).head()
            Some((r.getLong(1), String.valueOf(r.get(0))))
          case _ => Some((meta(t).rows, meta(t).hashSum))
        }
        val got = Checksum.unorderedChecksum(spark.read.parquet(s"$tgt/$t.parquet")).head()
        t -> (expected match {
          case None => got.getLong(1) == 0L &&
            spark.read.parquet(s"$tgt/$t.parquet").schema ==
              spark.read.parquet(s"$src/$t.parquet").schema
          case Some((n, h)) => got.getLong(1) == n && (n == 0L || String.valueOf(got.get(0)) == h)
        })
      }
    }, scala.concurrent.duration.Duration.Inf) finally pool.shutdown()
    checked.foreach { case (t, ok) => out.check(s"target $t count+checksum", ok) }
    val (docs, idName) = JsonbIngestJob.toDocuments(encodeFrom, Some(JsonbKey), "sqlite")
    val docStats = docs.agg(count(lit(1)), countDistinct(col("id"))).head()
    out.check("jsonb documents one per source row", idName == JsonbKey &&
      docStats.getLong(0) == encodeRows && docStats.getLong(1) == encodeRows)

    if (ctx.traced) {
      def wall(xs: Seq[Iter]) = Stats.median(xs.map(i => i.copyS + i.verifyS + i.encodeS))
      Layers.snapshot(ctx, out, srcRows, encodeRows,
        100 * (wall(all.filter(_._2).map(_._1)) / wall(iters) - 1))
    }
  }
}
