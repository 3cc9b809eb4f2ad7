package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.HexFormat

import scala.collection.mutable
import scala.util.Random

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.sources.{ArchiveSnapshotSource, UnpackedSnapshotSource}
import graft.streaming.{CdcPipeline, SnapshotReplay}
import graft.tables.{AggSpec, LakeTable, MaterializedView}

/** Per-merge accounting of a traced round (bytes from the table's file
  * lists before and after the commit). `span` is the merge's span: the
  * `streaming.apply` span, or a micro-batch's `streaming.batch` span. */
final case class MergeStat(span: Long, bytesWritten: Long, filesAdded: Int, inputBytes: Long,
    metaBytes: Long)

/** What one closed loop measured. */
final class Samples {
  val commits = mutable.ArrayBuffer[Double]()
  /** ingest calls: (kind, rows, seconds) */
  val ingests = mutable.ArrayBuffer[(Int, Long, Double)]()
  val pointReads = mutable.ArrayBuffer[Double]()
  val changes = mutable.ArrayBuffer[Double]()
  val mvRefresh = mutable.ArrayBuffer[Double]()
  var rounds = 0
  // traced rounds only
  val merges = mutable.ArrayBuffer[MergeStat]()
  val dirtyAtRead = mutable.ArrayBuffer[Double]()
  val batches = mutable.ArrayBuffer[Batch]()
  var deliveredRows = 0L

  private def byKind = ingests.groupBy(_._1).values.toSeq
  /** Seconds of one ingest call of every kind, from each kind's median:
    * the same figure whichever mix of kinds the window held. */
  def ingestSeconds: Double = byKind.map(k => Stats.median(k.map(_._3).toSeq)).sum
  def ingestRate: Double = byKind.map(k => Stats.median(k.map(_._2.toDouble).toSeq)).sum / ingestSeconds

  def e2e(r: Report, setup: Seq[Double]): Unit = {
    r.put("setup_s", Stats.median(setup), "s")
    r.put("ok_ops_ratio", (r.attempted - r.failed).toDouble / math.max(1L, r.attempted), "ratio")
    r.put("ingest_rows_per_s", ingestRate, "rows/s")
    r.put("commit_p50_s", Stats.median(commits.toSeq), "s")
    r.put("point_read_p50_s", Stats.median(pointReads.toSeq), "s")
    r.put("point_read_tail_s", Stats.pct(pointReads.toSeq, Workload.ReadTail), "s")
    r.put("changelog_read_p50_s", Stats.median(changes.toSeq), "s")
    r.put("mv_refresh_p50_s", Stats.median(mvRefresh.toSeq), "s")
    System.err.println(s"[perfbench] commits: ${commits.map(x => f"$x%.2f").mkString(" ")}; " +
      s"refresh: ${mvRefresh.map(x => f"$x%.2f").mkString(" ")}; changes: ${changes.map(x => f"$x%.2f").mkString(" ")}")
    System.err.println(s"[perfbench] rounds=$rounds commits=${commits.size} " +
      s"point_reads=${pointReads.size} changelog_reads=${changes.size} refreshes=${mvRefresh.size}")
  }
}

/** Layer-probe results of the traced run. */
final case class Probes(decodeEventsPerS1t: Double, decodeSpan: Long, decodeEvents: Long,
    archiveSpan: Long, dedupSpan: Long, dedupIn: Long, dedupOut: Long)

/** End-of-run table figures. */
final case class Finish(scanS: Double, compactS: Double, files: Int, storedBytes: Long,
    inputBytes: Long)

object Workload {
  val names = Seq("bulk_replay", "repo_stream")
  /** Point-read tail percentile (recorded in BENCHMARK.json's workload
    * reasons): a run makes at least 40 point reads, so p75 has 10 beyond it. */
  val ReadTail = 0.75
  /** Buckets of the MV state tables. */
  val MvBuckets = 4
  /** Changelog reads of the newest commit per round (consumers reading the
    * same window): a round has one commit window, and one sample per round
    * was too few for a steady median. */
  val ChangelogReads = 3

  def apply(a: Main.Args): Workload = a.workload match {
    case "bulk_replay" => new BulkReplay(a)
    case "repo_stream" => new RepoStream(a)
  }

  val hex: HexFormat = HexFormat.of()
  def sha256(s: String): String =
    hex.formatHex(MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Data files of the current version, path → bytes. */
  def dataFiles(t: LakeTable): Map[String, Long] =
    t.snapshot().bucketFiles.values.flatten.map { rel =>
      val p = if (rel.startsWith("/")) rel else s"${t.root}/$rel"
      p -> new File(p).length()
    }.toMap

  def metaBytes(t: LakeTable, v: Long): Long = new File(s"${t.root}/meta/v$v.json").length()

  /** Full-column aggregate over decoded accounts: forces every field
    * through the encoder. */
  def aggAll(df: DataFrame): Long =
    df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).collect()(0).getLong(0)
}

abstract class Workload(val a: Main.Args) {
  import Workload._

  val in: String = Inputs.dir(a.work, a.workload, a.size, a.seed)
  val tables: String = s"${a.work}/tables"
  val rnd = new Random(a.seed)

  /** Base load and untimed warm-up on fresh tables (inputs exist). */
  def setup(spark: SparkSession, r: Report): Unit
  /** One closed-loop round. */
  def round(spark: SparkSession, r: Report, s: Samples, streams: Option[StreamCounters]): Unit
  /** False once the inputs for another round are used up. */
  def hasNext: Boolean = true
  /** Rounds that make one unit of the mix; the window ends only between
    * units, so every run measures the same mix of operations. */
  def roundsPerUnit: Int
  /** End-of-run reads, maintenance and whole-table checks. */
  def finish(spark: SparkSession, r: Report): Finish
  /** Snapshot input (unpacked dir, archive) the layer probes decode. */
  def probeInputs: (String, String)
  /** Untimed preparation after set-up (oracles for the output checks). */
  def prepare(spark: SparkSession): Unit = ()

  /** Closed loop over whole units. Without `traced` every round is
    * untraced. With it (the traced run) rounds alternate, traced first:
    * traced rounds record spans into `traced`'s samples, the others are
    * timed into the returned samples, so the tracing overhead compares the
    * same operations on the same code path. At least two units run. */
  def loop(spark: SparkSession, r: Report, seconds: Double,
      traced: Option[(Samples, StreamCounters)] = None): Samples = {
    // a unit starts only if the mean unit so far still fits the window
    val s = new Samples
    val minUnits = if (traced.isEmpty) 1 else 2
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def fits = {
      val units = s.rounds / roundsPerUnit
      units < minUnits || elapsed * (units + 1) / units <= seconds
    }
    var broken = false
    while (!broken && (s.rounds % roundsPerUnit != 0 || fits) && hasNext) {
      val on = traced.filter(_ => s.rounds % 2 == 0)
      Trace.enabled = on.isDefined
      try on match {
        case Some((ts, streams)) =>
          Trace.span("bench.round")(round(spark, r, ts, Some(streams)))
        case None => round(spark, r, s, traced.map(_._2))
      } catch { case e: Exception => r.op(false, s"round ${s.rounds} threw $e"); broken = true }
      finally Trace.enabled = false
      s.rounds += 1
    }
    s
  }

  /** Ingest one snapshot of `rows` events through the public
    * `applySnapshot` (`kind` groups calls of one input shape). Traced, the
    * call is one `streaming.apply` span; it is also the merge's span. */
  def apply(spark: SparkSession, t: LakeTable, path: String, mor: Boolean,
      txnApp: Option[String], s: Samples, kind: Int, rows: Long): Unit = {
    val before = if (Trace.enabled) dataFiles(t) else Map.empty[String, Long]
    val (_, sec) = time(Trace.span("streaming.apply") {
      SnapshotReplay.applySnapshot(spark, t, path, mor = mor, txnApp = txnApp)
    })
    s.commits += sec
    s.ingests += ((kind, rows, sec))
    if (Trace.enabled) {
      val after = dataFiles(t)
      val added = after.keySet -- before.keySet
      s.merges += MergeStat(Trace.last("streaming.apply"), added.toSeq.map(after).sum, added.size,
        Inputs.dirBytes(path), metaBytes(t, t.currentVersion()))
    }
  }

  def pointRead(t: LakeTable, key: Map[String, Any], s: Samples): Array[org.apache.spark.sql.Row] = {
    if (Trace.enabled) s.dirtyAtRead += t.snapshot().morBuckets.size.toDouble
    val (rows, sec) = time(Trace.span("tables.point_read")(t.read(key).collect()))
    s.pointReads += sec
    rows
  }

  def changes(t: LakeTable, from: Long, to: Long, s: Samples): Array[org.apache.spark.sql.Row] = {
    val (rows, sec) = time(Trace.span("tables.changes")(t.readChanges(from, to).collect()))
    s.changes += sec
    rows
  }

  def refresh(mv: MaterializedView, s: Samples): Unit = {
    val (_, sec) = time(Trace.span("tables.mv_refresh")(mv.refresh()))
    s.mvRefresh += sec
  }

  /** The MV must equal a fresh aggregate of the base table. */
  def checkMv(mv: MaterializedView, t: LakeTable, group: String, sumCol: String, r: Report): Unit = {
    val want = t.read().groupBy(group).agg(count(lit(1)).as("n"), sum(col(sumCol)).as("total"))
    val got = mv.read().select(col(group), col("n"), col("total"))
    val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    r.op(diff == 0, s"materialized view differs from read().groupBy($group) in $diff rows")
  }

  /** Layer probes over this workload's snapshot input (traced run only):
    * single-thread codec, Spark decode, archive decode, LWW dedup. */
  def probes(spark: SparkSession): Probes = {
    val (dir, archive) = probeInputs
    val src = UnpackedSnapshotSource(spark, dir)
    val refs = src.appendVecRefs()
    val rates = (0 until 3).map { _ =>
      val (n, sec) = time(Trace.span("etl.binary.decode_1t") {
        UnpackedSnapshotSource.decodePartition(refs.iterator).size.toLong
      })
      n / sec
    }
    val events = Trace.span("sources.decode")(aggAll(SnapshotReplay.toDF(src.accountUpdates(spark))))
    Trace.span("sources.archive_decode")(aggAll(SnapshotReplay.toDF(
      ArchiveSnapshotSource.fromArchives(spark, Seq(archive)))))
    val out = Trace.span("operators.dedup") {
      Dedup.latestByKey(SnapshotReplay.toDF(src.accountUpdates(spark)),
        SnapshotReplay.KeyCols, SnapshotReplay.OrderCols).count()
    }
    Probes(Stats.median(rates), Trace.last("sources.decode"), events,
      Trace.last("sources.archive_decode"), Trace.last("operators.dedup"), events, out)
  }

  /** Scan + compaction of the final table and its storage figures. */
  def finishTable(t: LakeTable, inputBytes: Long, expectRows: Long, r: Report): Finish = {
    val (n, scanS) = time(Trace.span("tables.scan")(t.read().count()))
    r.op(n == expectRows, s"final read().count() = $n, expected $expectRows")
    val (_, compactS) = time(Trace.span("tables.compact")(t.compact()))
    val files = dataFiles(t)
    Finish(scanS, compactS, files.size, files.values.sum, inputBytes)
  }
}

/** Full snapshot + 2 incrementals replayed copy-on-write, one snapshot per
  * round: the full snapshot into a fresh table, then the incrementals. After
  * each commit: point reads, the commit's changelog and an MV refresh. */
final class BulkReplay(a0: Main.Args) extends Workload(a0) {
  import Workload._

  private val snaps = Seq("snap-full", "snap-inc1", "snap-inc2").map(n => s"$in/$n")
  /** first slot of each snapshot (SnapshotFixture base slots) */
  private val firstSlot = Seq(100L, 108L, 112L)
  /** events per snapshot: 64 vecs of the full count, 32 of half */
  private val events: Seq[Long] = {
    val per = a.size.bulkPerVec.toLong
    Seq(64 * per, 32 * (per / 2), 32 * (per / 2))
  }
  private val hashCols = SnapshotReplay.accountSchema.fieldNames.toSeq
  /** point-read keys: uniform over the pubkey pool */
  private val probeKeys: IndexedSeq[Array[Byte]] = {
    val r = new Random(a.seed ^ 0x5eed)
    IndexedSeq.fill(200)(graft.sources.SnapshotFixture.pkFromLong(r.nextInt(a.size.bulkPerVec * 20).toLong))
  }
  // oracle per replay prefix (full; full+inc1; full+inc1+inc2)
  private var oracle: Seq[(Long, Long)] = Nil // winners: rows, content hash
  private var changed: Seq[Long] = Nil // keys whose winner the step changes
  private var winners: Seq[Map[String, (Long, Long)]] = Nil // hex key -> (writeVersion, lamports)
  private var step = 0
  private var tableN = 0
  private var table: LakeTable = _
  private var mv: MaterializedView = _

  override def probeInputs: (String, String) = (snaps.head, s"$in/probe.tar.zst")
  override def roundsPerUnit: Int = snaps.size

  /** Independent LWW oracle: a Spark SQL `max_by` fold over the decoded
    * inputs for each replay prefix; row count + order-free content hash of
    * the winners, the keys each step touches, and the point-read keys'
    * winners. */
  override def prepare(spark: SparkSession): Unit = {
    snaps.map(d => SnapshotReplay.toDF(UnpackedSnapshotSource(spark, d).accountUpdates(spark)))
      .reduce(_ unionByName _).createOrReplaceTempView("bench_events")
    val cols = hashCols.mkString(", ")
    val ends = firstSlot.tail :+ Long.MaxValue
    val folds = ends.zipWithIndex.map { case (end, k) =>
      s"max_by(struct($cols), struct(writeVersion, slot)) FILTER (WHERE slot < $end) AS w$k"
    }
    val touched = firstSlot.zip(ends).zipWithIndex.map { case ((lo, hi), k) =>
      s"max(slot >= $lo AND slot < $hi) AS t$k"
    }
    val w = spark.sql(s"SELECT ${(folds ++ touched).mkString(", ")} FROM bench_events GROUP BY pubkey")
      .cache()
    val aggs = snaps.indices.flatMap { k =>
      Seq(s"count(w$k)", s"bit_xor(xxhash64(${hashCols.map(c => s"w$k.$c").mkString(", ")})) " +
        s"FILTER (WHERE w$k IS NOT NULL)", s"count_if(t$k)")
    }
    val row = w.selectExpr(aggs: _*).collect()(0)
    oracle = snaps.indices.map(k => (row.getLong(3 * k), row.getLong(3 * k + 1)))
    changed = snaps.indices.map(k => row.getLong(3 * k + 2))
    val keyHex = probeKeys.map(hex.formatHex).toSet
    val got = w.selectExpr(snaps.indices.flatMap(k =>
      Seq(s"w$k.pubkey", s"w$k.writeVersion", s"w$k.lamports")): _*).collect()
    winners = snaps.indices.map { k =>
      got.filter(x => !x.isNullAt(3 * k)).map(x =>
        hex.formatHex(x.getAs[Array[Byte]](3 * k)) -> (x.getLong(3 * k + 1), x.getLong(3 * k + 2)))
        .filter(x => keyHex.contains(x._1)).toMap
    }
    w.unpersist()
  }

  /** Warm-up: one unchecked round on the full snapshot. */
  override def setup(spark: SparkSession, r: Report): Unit = {
    step = 0
    commit(spark, r, new Samples, check = false)
    step = 0
  }

  override def round(spark: SparkSession, r: Report, s: Samples, streams: Option[StreamCounters]): Unit =
    commit(spark, r, s, check = true)

  private def commit(spark: SparkSession, r: Report, s: Samples, check: Boolean): Unit = {
    if (step == 0) {
      tableN += 1
      FileUtils.deleteQuietly(new File(s"$tables/rep-${tableN - 1}"))
      table = SnapshotReplay.createTable(spark, s"$tables/rep-$tableN/table", numBuckets = a.size.buckets)
      mv = MaterializedView.createOrOpen(spark, s"$tables/rep-$tableN/mv", table, Seq("owner"),
        Seq(AggSpec("count", "*", "n"), AggSpec("sum", "lamports", "total")), numBuckets = MvBuckets)
    }
    apply(spark, table, snaps(step), mor = false, None, s, kind = step, rows = events(step))
    r.op(true)
    (0 until a.size.bulkReads).foreach { _ =>
      val k = probeKeys(rnd.nextInt(probeKeys.size))
      val got = pointRead(table, Map("pubkey" -> k), s)
      if (check) {
        val want = winners(step).get(hex.formatHex(k))
        r.op(got.length == want.size && want.forall { case (wv, lam) =>
          got(0).getAs[Long]("writeVersion") == wv && got(0).getAs[Long]("lamports") == lam
        }, s"point read ${hex.formatHex(k)} after step $step: got ${got.length} rows, want $want")
      }
    }
    val v = table.currentVersion()
    (0 until ChangelogReads).foreach { _ =>
      val ch = changes(table, v - 1, v, s)
      if (check) r.op(ch.length == changed(step),
        s"readChanges(${v - 1}, $v) returned ${ch.length} rows, oracle says ${changed(step)}")
    }
    refresh(mv, s)
    if (check && step == snaps.size - 1) {
      val row = table.read().selectExpr("count(*)", s"bit_xor(xxhash64(${hashCols.mkString(", ")}))")
        .collect()(0)
      r.op((row.getLong(0), row.getLong(1)) == oracle(step),
        s"replayed table (${row.getLong(0)} rows, hash ${row.getLong(1)}) != oracle ${oracle(step)}")
    }
    step = (step + 1) % snaps.size
  }

  override def finish(spark: SparkSession, r: Report): Finish = {
    checkMv(mv, table, "owner", "lamports", r)
    val done = if (step == 0) snaps.size else step
    finishTable(table, snaps.take(done).map(Inputs.dirBytes).sum, oracle(done - 1)._1, r)
  }
}

/** Source-repo table tailed by CdcPipeline: each round delivers a few
  * change files (one micro-batch each), then a light serve probe. */
final class RepoStream(a0: Main.Args) extends Workload(a0) {
  import Workload._

  val schema: StructType = StructType.fromDDL(
    "repo STRING, path STRING, commit STRING, commitSeq BIGINT, lang STRING, content STRING")
  private lazy val gen = Inputs.repoBatches(a.size, a.seed)
  private val expected = mutable.HashMap[(String, String), String]()
  private var next = 0
  private var table: LakeTable = _
  private var mv: MaterializedView = _
  private var lastKeys: Seq[(String, String)] = Nil
  private val allKeys = mutable.ArrayBuffer[(String, String)]()

  override def probeInputs: (String, String) = (s"$in/probe-full", s"$in/probe.tar.zst")
  override def hasNext: Boolean = next + PerRound <= gen._1.size
  /** 3 rounds × 14 point reads: enough samples for the p75 tail */
  override def roundsPerUnit: Int = 3

  private def src = s"$tables/src"
  /** change files delivered per closed-loop round */
  private val PerRound = 2

  /** Copy batch files into the tailed directory; returns rows delivered. */
  private def deliver(n: Int): Long = {
    Files.createDirectories(Paths.get(src))
    var rows = 0L
    (0 until n).foreach { _ =>
      val b = gen._1(next)
      val dir = new File(s"$in/batches/b=$next")
      require(dir.isDirectory, s"change batch $next is empty; use more keys")
      dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = Paths.get(src, f"b$next%04d-${f.getName}")
        Files.copy(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + next))
      }
      b.foreach(c => expected((c.repo, c.path)) = sha256(c.content))
      lastKeys = b.map(c => (c.repo, c.path))
      rows += b.size
      next += 1
    }
    rows
  }

  private def stream(spark: SparkSession, s: Samples, streams: Option[StreamCounters], rows: Long,
      files: Seq[Long]): Unit = {
    val v0 = table.currentVersion()
    val (q, sec) = time(Trace.span("streaming.run") {
      streams.foreach(_.parentSpan = Trace.current)
      val q = CdcPipeline.start(spark, table, src, schema, s"$tables/cp", "repo", maxFilesPerTrigger = 1)
      q.awaitTermination()
      q
    })
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    s.commits ++= progress.map(_.batchDuration / 1e3)
    s.ingests += ((0, rows, sec))
    // wait for the listener to see every batch of this query, so that no
    // batch of an untraced round lands in a traced one
    val deadline = System.nanoTime() + 2000000000L
    def seen = streams.toSeq.flatMap(_.all.filter(_.run == q.runId.toString))
    while (streams.nonEmpty && seen.size < progress.length && System.nanoTime() < deadline)
      Thread.sleep(20)
    if (Trace.enabled) {
      s.deliveredRows += rows
      val bs = seen.sortBy(_.batchId)
      s.batches ++= bs
      // per-commit bytes: file lists of consecutive versions
      var prev = filesAt(v0)
      ((v0 + 1) to table.currentVersion()).zip(bs).zip(files).foreach { case ((v, b), inBytes) =>
        val cur = filesAt(v)
        val added = cur.keySet -- prev.keySet
        s.merges += MergeStat(streams.get.spanOf(b), added.toSeq.map(cur).sum, added.size, inBytes,
          metaBytes(table, v))
        prev = cur
      }
    }
  }

  private def filesAt(v: Long): Map[String, Long] =
    if (v == 0) Map.empty
    else table.readAt(v).inputFiles.map { p =>
      val f = new File(new java.net.URI(p))
      f.getPath -> f.length()
    }.toMap

  override def setup(spark: SparkSession, r: Report): Unit = {
    expected.clear(); next = 0; allKeys.clear()
    table = LakeTable.createOrOpen(spark, s"$tables/repo", schema, Seq("repo", "path"),
      Seq("commitSeq"), a.size.buckets)
    mv = MaterializedView.createOrOpen(spark, s"$tables/mv", table, Seq("lang"),
      Seq(AggSpec("count", "*", "n"), AggSpec("sum", "commitSeq", "total")), numBuckets = MvBuckets)
    // base load plus one change file as two micro-batches, then the probe ops
    val s = new Samples
    val rows = deliver(2)
    allKeys ++= gen._1.head.map(c => (c.repo, c.path))
    stream(spark, s, None, rows, Nil)
    serve(s, r, reads = 2, check = false)
  }

  private def serve(s: Samples, r: Report, reads: Int, check: Boolean): Unit = {
    (0 until reads).foreach { i =>
      val (repo, path) =
        if (i % 2 == 0) lastKeys(rnd.nextInt(lastKeys.size)) else allKeys(rnd.nextInt(allKeys.size))
      val got = pointRead(table, Map("repo" -> repo, "path" -> path), s)
      if (check) r.op(got.length == 1 && sha256(got(0).getAs[String]("content")) == expected((repo, path)),
        s"point read ($repo, $path): ${got.length} rows or content hash differs")
    }
    val v = table.currentVersion()
    (0 until ChangelogReads).foreach { _ =>
      val ch = changes(table, v - 1, v, s)
      if (check) r.op(ch.map(x => (x.getAs[String]("repo"), x.getAs[String]("path"))).toSet == lastKeys.toSet,
        s"readChanges(v-1, v) returned ${ch.length} rows, last batch had ${lastKeys.size} keys")
    }
    refresh(mv, s)
  }

  override def round(spark: SparkSession, r: Report, s: Samples, streams: Option[StreamCounters]): Unit = {
    val first = next
    val rows = deliver(PerRound)
    val inBytes = (first until next).map(i => Inputs.dirBytes(s"$in/batches/b=$i"))
    stream(spark, s, streams, rows, inBytes)
    (first until next).foreach(_ => r.op(true))
    serve(s, r, a.size.repoReads, check = true)
  }

  override def finish(spark: SparkSession, r: Report): Finish = {
    checkMv(mv, table, "lang", "commitSeq", r)
    val got = table.read().select(col("repo"), col("path"), sha2(col("content"), 256)).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getString(2)).toMap
    r.op(got == expected.toMap, s"final table: ${got.size} rows, " +
      s"${got.count { case (k, v) => !expected.get(k).contains(v) }} differ from the expected map")
    val inputBytes = (0 until next).map(i => Inputs.dirBytes(s"$in/batches/b=$i")).sum
    finishTable(table, inputBytes, expected.size.toLong, r)
  }
}
