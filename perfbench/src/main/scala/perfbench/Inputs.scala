package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.etl.model.RepoFileChange
import graft.sources.{RepoChangeFixture, SnapshotFixture}

/** Workload sizes. `bench` is what the timed runs use; `tiny` is the smoke
  * mode the benchmark's own test runs. */
final case class Size(
    name: String,
    /** bulk_replay: accounts per AppendVec of the full snapshot (64 vecs);
      * each incremental has 32 vecs of half that; pubkey pool = 20× */
    bulkPerVec: Int,
    /** point reads after each bulk_replay commit */
    bulkReads: Int,
    /** repo_stream: repos × paths per repo = base keys */
    repos: Int,
    pathsPerRepo: Int,
    /** change files generated (one micro-batch each) */
    repoBatches: Int,
    /** point reads per repo_stream round */
    repoReads: Int,
    /** buckets of the base tables */
    buckets: Int,
    /** setups per run (setup_s is their median) */
    setups: Int)

object Size {
  val bench = Size("bench", bulkPerVec = 2000, bulkReads = 14,
    repos = 20, pathsPerRepo = 500, repoBatches = 40, repoReads = 14,
    buckets = 8, setups = 3)
  val tiny = Size("tiny", bulkPerVec = 40, bulkReads = 4,
    repos = 10, pathsPerRepo = 50, repoBatches = 16, repoReads = 4,
    buckets = 4, setups = 2)
  def apply(name: String): Size = name match {
    case "bench" => bench
    case "tiny" => tiny
    case other => throw new IllegalArgumentException(s"unknown size '$other' (bench|tiny)")
  }
}

/** Seeded input generation, cached under `<work>/inputs/<key>` where the
  * key carries workload, size (name and a hash of its fields), seed and the
  * fixture format version. A `DONE` marker is written last, so a crashed
  * generation regenerates. */
object Inputs {
  private val keepCached = 6

  def dir(work: String, workload: String, size: Size, seed: Long): String =
    s"$work/inputs/$workload-${size.name}${Integer.toHexString(size.hashCode)}-s$seed-" +
      SnapshotFixture.FormatVersion

  /** Ensure the inputs exist; returns true on a cache hit. */
  def ensure(spark: SparkSession, work: String, workload: String, size: Size, seed: Long): Boolean = {
    val d = dir(work, workload, size, seed)
    val done = Paths.get(d, "DONE")
    if (Files.exists(done)) {
      Files.setLastModifiedTime(done, FileTime.fromMillis(System.currentTimeMillis()))
      return true
    }
    evict(Paths.get(work, "inputs"))
    FileUtils.deleteQuietly(new File(d))
    workload match {
      case "bulk_replay" => bulk(d, size, seed)
      case "repo_stream" => repo(spark, d, size, seed)
    }
    Files.write(done, Array.emptyByteArray)
    false
  }

  private def evict(root: Path): Unit = if (Files.isDirectory(root)) {
    val dirs = Files.list(root).iterator().asScala.toSeq.filter(Files.isDirectory(_))
    val byAge = dirs.sortBy { p =>
      val m = p.resolve("DONE")
      if (Files.exists(m)) Files.getLastModifiedTime(m).toMillis else 0L
    }
    byAge.dropRight(keepCached - 1).foreach(p => FileUtils.deleteQuietly(p.toFile))
  }

  /** Full snapshot + two incrementals, unpacked (64+32+32 vecs, pool 20×
    * the per-vec count: about 3 writes per key), plus a small probe archive
    * for the archive-decode layer probe. */
  private def bulk(d: String, size: Size, seed: Long): Unit = {
    val per = size.bulkPerVec
    var wv = 0L
    Seq(("snap-full", 8, per, false, 100L), ("snap-inc1", 4, per / 2, true, 108L),
      ("snap-inc2", 4, per / 2, true, 112L)).foreach { case (name, slots, perVec, delta, base) =>
      val spec = SnapshotFixture.Spec(seed = seed * 1000 + base, slots = slots, vecsPerSlot = 8,
        accountsPerVec = perVec, pubkeyPool = per * 20, baseSlot = base, isDelta = delta)
      wv = SnapshotFixture.writeLargeUnpacked(s"$d/$name", spec, wv)._2
    }
    probeArchive(d, seed, pool = per * 20, startWv = wv)
  }

  private def probeArchive(d: String, seed: Long, pool: Int, startWv: Long): Unit = {
    val fx = SnapshotFixture.generate(SnapshotFixture.Spec(seed = seed * 1000 + 7, slots = 1,
      vecsPerSlot = 8, accountsPerVec = 500, pubkeyPool = pool, baseSlot = 900L, isDelta = true),
      startWv)
    SnapshotFixture.writeArchive(fx, s"$d/probe.tar.zst")
  }

  /** Base + change batches of the source-repo table, one parquet file per
    * batch under `batches/b=<i>`, plus the probe snapshot and archive. */
  private def repo(spark: SparkSession, d: String, size: Size, seed: Long): Unit = {
    // one write job: batch i lands as the single file of directory b=i
    import spark.implicits._
    val (batches, _) = repoBatches(size, seed)
    spark.createDataset(batches.zipWithIndex.flatMap { case (b, i) => b.map(c => (i, c)) })
      .select(col("_1").as("b"), col("_2.*"))
      .repartition(col("b")).write.partitionBy("b").parquet(s"$d/batches")
    val per = math.max(8, size.bulkPerVec / 4)
    val spec = SnapshotFixture.Spec(seed = seed * 1000 + 3, slots = 8, vecsPerSlot = 8,
      accountsPerVec = per, pubkeyPool = per * 20, baseSlot = 100L)
    val wv = SnapshotFixture.writeLargeUnpacked(s"$d/probe-full", spec, 0L)._2
    probeArchive(d, seed, pool = per * 20, startWv = wv)
  }

  /** The repo change stream: batch 0 is the base, later batches touch about
    * 2% of the keys each. Deterministic in (size, seed). */
  def repoBatches(size: Size, seed: Long)
      : (Seq[Seq[RepoFileChange]], Map[(String, String), RepoFileChange]) =
    RepoChangeFixture.generate(RepoChangeFixture.Spec(seed = seed, repos = size.repos,
      pathsPerRepo = size.pathsPerRepo, batches = 1 + size.repoBatches, changeFraction = 0.02))

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length() else FileUtils.sizeOfDirectory(f)
  }
}
