package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.Checksum

/** The ×`rung` copy of the source tables and a small sample of them for
  * warm-up, built before any timing and kept under the work directory for
  * every later run (neither depends on the seed). The `sync_trickle`
  * snapshots come from `gen.py`. */
object Fixtures {

  /** Per-table size and the unordered checksum of the unfiltered table. */
  final case class TableMeta(rows: Long, bytes: Long, hashSum: String)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).map(dirBytes).sum
    else f.length

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  private def writeDone(dir: Path, lines: Seq[String]): Unit =
    Files.write(dir.resolve("_meta.tsv"), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  private def readDone(dir: Path): Option[Seq[String]] = {
    val f = dir.resolve("_meta.tsv")
    if (Files.exists(f)) Some(Files.readAllLines(f).asScala.toSeq) else None
  }

  /** The ×`rung` tables built by `graft.tools.ScaleGen.scaleTable`, with
    * each table's rows, bytes and unordered checksum. */
  def scaled(spark: SparkSession, dataDir: String, work: Path, rung: Int,
             log: String => Unit): (String, Map[String, TableMeta]) = {
    // events.ts ships as TIMESTAMP(NANOS) in some fixture generations;
    // read it as int64 exactly as ScaleGen's own entry point does, in every
    // run, so the copy reads what the generator wrote
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = work.resolve(s"fixtures/x$rung")
    val meta = readDone(dir).getOrElse {
      deleteTree(dir)
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      val lines = graft.snapshot.SnapshotJob.discoverTables(dataDir).map { t =>
        graft.tools.ScaleGen.scaleTable(spark, dataDir, dir.toString, t, rung)
        val df = spark.read.parquet(s"$dir/$t.parquet")
        val r = Checksum.unorderedChecksum(df).head()
        s"$t\t${r.getLong(1)}\t${dirBytes(new File(s"$dir/$t.parquet"))}\t${r.get(0)}"
      }
      writeDone(dir, lines)
      log(f"generated x$rung rung in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      lines
    }
    (dir.toString, meta.map(_.split("\t")).map {
      case Array(t, rows, bytes, h) => t -> TableMeta(rows.toLong, bytes.toLong, h)
    }.toMap)
  }

  /** The first `1/divisor` of each source table's rows: enough rows to
    * run every code path hot, at a fraction of the cost. */
  def sample(spark: SparkSession, dataDir: String, work: Path, divisor: Int): String = {
    val dir = work.resolve(s"fixtures/sample$divisor")
    if (readDone(dir).isEmpty) {
      deleteTree(dir)
      Files.createDirectories(dir)
      val lines = graft.snapshot.SnapshotJob.discoverTables(dataDir).map { t =>
        val df = spark.read.parquet(s"$dataDir/$t.parquet")
        df.limit(math.max(1L, df.count() / divisor).toInt).write.parquet(s"$dir/$t.parquet")
        t
      }
      writeDone(dir, lines)
    }
    dir.toString
  }
}
