package perfbench

/** Per-layer metrics of a traced run, computed from the recorded spans,
  * the Spark/streaming counters and the samples of the traced and untraced
  * rounds. A layer the workload does not exercise reports 0. */
final class Layers(spans: Seq[Span], counters: SparkCounters, traced: Samples, plain: Samples) {
  import Stats.medianOr0

  private val byName = spans.groupBy(_.name)
  private def named(n: String): Seq[Span] = byName.getOrElse(n, Nil)
  private def dur(s: Span): Double = (s.endNs - s.startNs) / 1e9
  private def jobsUnder(id: Long): Seq[Span] = Trace.descendants(spans, id).filter(_.name == "spark.job")
  private val spanById = spans.map(s => s.id -> s).toMap

  def report(r: Report, p: Probes, fin: Finish): Unit = {
    val accs = counters.accs
    def acc(id: Long) = accs.get(id)
    // the traced rounds and every span below them
    val rounds = named("bench.round")
    val inRounds = rounds.map(_.id).toSet ++ rounds.flatMap(s => Trace.descendants(spans, s.id)).map(_.id)

    // --- etl.binary / sources / operators: layer probes
    r.put("etl.binary.decode_events_per_s_1t", p.decodeEventsPerS1t, "events/s")
    val decodeS = spanById.get(p.decodeSpan).map(dur).getOrElse(0.0)
    r.put("sources.decode_s", decodeS, "s")
    r.put("sources.archive_decode_s", spanById.get(p.archiveSpan).map(dur).getOrElse(0.0), "s")
    val codecS = p.decodeEvents / p.decodeEventsPerS1t
    r.put("sources.encoder_tax", acc(p.decodeSpan).map(_.runMs / 1e3).getOrElse(0.0) / codecS, "ratio")
    r.put("operators.dedup_s", spanById.get(p.dedupSpan).map(dur).getOrElse(0.0), "s")
    r.put("operators.dedup_rows_out_per_in", p.dedupOut.toDouble / p.dedupIn, "ratio")
    r.put("operators.dedup_shuffle_bytes", acc(p.dedupSpan).map(_.shuffleWrite.toDouble).getOrElse(0.0), "bytes")

    // --- tables: merges. A snapshot's merge is its applySnapshot call; a
    // micro-batch's merge is its addBatch (the foreachBatch body).
    def mergeWall(m: MergeStat): Double = spanById.get(m.span) match {
      case Some(s) if s.name == "streaming.apply" => dur(s)
      case _ => traced.batches.find(b => batchSpan(b) == m.span).map(_.addBatchMs / 1e3).getOrElse(0.0)
    }
    r.put("tables.merge_s", medianOr0(traced.merges.map(mergeWall).toSeq), "s")
    r.put("tables.merge_jobs", medianOr0(traced.merges.map(m => jobsUnder(m.span).size.toDouble).toSeq), "count")
    val selfS = traced.merges.map { m =>
      val jobs = jobsUnder(m.span).map(j => (j.startNs, j.endNs))
      math.max(0.0, mergeWall(m) - (if (jobs.isEmpty) 0L else Trace.covered(jobs)) / 1e9)
    }
    r.put("tables.merge_driver_self_s", medianOr0(selfS.toSeq), "s")
    r.put("tables.merge_bytes_written", medianOr0(traced.merges.map(_.bytesWritten.toDouble).toSeq), "bytes")
    r.put("tables.merge_files_added", medianOr0(traced.merges.map(_.filesAdded.toDouble).toSeq), "count")
    r.put("tables.write_amp", medianOr0(traced.merges.map(m =>
      m.bytesWritten.toDouble / math.max(1L, m.inputBytes)).toSeq), "ratio")
    r.put("tables.commit_meta_bytes", medianOr0(traced.merges.map(_.metaBytes.toDouble).toSeq), "bytes")

    // --- tables: reads
    val reads = named("tables.point_read")
    r.put("tables.point_read_s", medianOr0(reads.map(dur)), "s")
    r.put("tables.point_read_input_bytes",
      medianOr0(reads.map(s => acc(s.id).map(_.inputBytes.toDouble).getOrElse(0.0))), "bytes")
    r.put("tables.mor_dirty_buckets", medianOr0(traced.dirtyAtRead.toSeq), "count")
    r.put("tables.changes_s", medianOr0(named("tables.changes").map(dur)), "s")
    r.put("tables.scan_s", fin.scanS, "s")
    r.put("tables.compact_s", fin.compactS, "s")
    r.put("tables.files", fin.files.toDouble, "count")
    r.put("tables.stored_bytes_per_input_byte", fin.storedBytes.toDouble / math.max(1L, fin.inputBytes), "ratio")

    // --- tables.MaterializedView
    val refreshes = named("tables.mv_refresh")
    r.put("tables.mv_refresh_s", medianOr0(refreshes.map(dur)), "s")
    r.put("tables.mv_jobs_per_refresh", medianOr0(refreshes.map(s => jobsUnder(s.id).size.toDouble)), "count")

    // --- streaming
    r.put("streaming.apply_s", medianOr0(named("streaming.apply").map(dur)), "s")
    val bs = traced.batches.toSeq
    r.put("streaming.add_batch_s", medianOr0(bs.map(_.addBatchMs / 1e3)), "s")
    r.put("streaming.trigger_overhead_s", medianOr0(bs.map(b => (b.durationMs - b.addBatchMs) / 1e3)), "s")
    r.put("streaming.source_rows_per_delivered_row",
      if (traced.deliveredRows == 0) 0.0 else bs.map(_.inputRows).sum.toDouble / traced.deliveredRows, "ratio")

    // --- spark engine counters over the traced rounds
    val all = accs.filter(x => inRounds.contains(x._1)).values
    val loopWall = rounds.map(dur).sum
    def total(f: SparkCounters#Acc => Long): Double = all.map(f).sum.toDouble
    r.put("spark.jobs", total(_.jobs), "count")
    r.put("spark.tasks", total(_.tasks), "count")
    r.put("spark.shuffle_write_bytes", total(_.shuffleWrite), "bytes")
    r.put("spark.shuffle_read_bytes", total(_.shuffleRead), "bytes")
    r.put("spark.spill_bytes", total(_.spill), "bytes")
    r.put("spark.gc_s", total(_.gcMs) / 1e3, "s")
    r.put("spark.executor_run_s", total(_.runMs) / 1e3, "s")
    r.put("spark.executor_cpu_s", total(_.cpuNs) / 1e9, "s")
    r.put("spark.task_wait_s", total(_.waitMs) / 1e3, "s")
    r.put("spark.task_skew", counters.taskSkew(inRounds), "ratio")
    r.put("spark.busy_ratio", total(_.runMs) / 1e3 / (loopWall * 4), "ratio")

    r.put("jvm.peak_rss_mb", Stats.peakRssMb(), "MB")

    // --- tracing overhead: traced ÷ untraced ingest time of the same
    // operations in alternating rounds (per-kind medians)
    r.put("trace.overhead_ratio", traced.ingestSeconds / plain.ingestSeconds, "ratio")
  }

  private def batchSpan(b: Batch): Long = counters.streamBatchSpan(b.query, b.batchId.toString)
}
