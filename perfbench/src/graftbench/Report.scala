package graftbench

import scala.collection.mutable.ArrayBuffer

/** Turns a traced run's records into per-layer metrics and the span
  * tree written to the detail file.
  *
  * Layers, by where the time is spent:
  *   - `streaming`: the micro-batch engine's own phases (`walCommit`,
  *     `commitOffsets`, the rest of the trigger);
  *   - `sources`: `latestOffset` + `getBatch` of the change-feed source
  *     (the decode itself runs inside the jobs: `sources.decode_cpu_ms`);
  *   - `spark`: Catalyst planning and jobs the program did not label;
  *   - `operators`: jobs the `sinks` module labelled (`store.*`,
  *     `index.*`, `bloom.*`) — the operators they run (envelope build,
  *     `latestByKey` shuffle, merge-write, postings, bloom build);
  *   - `fs`: filesystem calls outside any job (listings, renames,
  *     manifest and sidecar commits);
  *   - `sinks`: the rest of `addBatch` — driver-side work of the sink.
  * The micro-batch phases are laid end to end from the trigger's start
  * in Spark's execution order; jobs and filesystem calls carry their
  * own clock stamps.
  */
object Report {
  private val phases = Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
    "queryPlanning" -> "spark", "addBatch" -> "sinks", "commitOffsets" -> "streaming")

  private type Iv = (Double, Double)
  private def clip(iv: Seq[Iv], w: Iv): Seq[Iv] =
    iv.map { case (s, e) => (math.max(s, w._1), math.min(e, w._2)) }.filter { case (s, e) => e > s }
  private def u(iv: Seq[Iv]): Double = Tracer.unionMs(iv)
  private def jobName(j: JobRec) = "job:" + (if (j.labelled) j.kind else "unlabelled")

  final case class Layered(metrics: Map[String, Double], spans: Seq[Span], selfMs: Map[String, Double])

  def apply(t: Tracer, out: Outcome): Layered = {
    t.flush()
    val spans = ArrayBuffer.empty[Span]
    var id = 1000000000L
    def add(name: String, layer: String, s: Double, e: Double, parent: Long, trace: String): Long = {
      id += 1; spans += Span(id, name, layer, s, e, parent, trace); id
    }
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val self = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val batches = out.writeBatches
    val nb = math.max(1, batches.size).toDouble

    // ---- write phase: one trace per micro-batch
    val perBatch = batches.map { b =>
      val trace = s"batch-${b.id}"
      val root = add("stream.trigger", "streaming", b.start, b.end, 0L, trace)
      var cursor = b.start
      var addWin: Iv = (b.start, b.start)
      var addId = root
      phases.foreach { case (ph, layer) =>
        val d = b.ms(ph)
        val pid = add(s"stream.$ph", layer, cursor, cursor + d, root, trace)
        if (ph == "addBatch") { addWin = (cursor, cursor + d); addId = pid }
        else self(layer) += d
        cursor += d
      }
      self("streaming") += math.max(0.0, b.ms("triggerExecution") - phases.map(p => b.ms(p._1)).sum)
      val jobs = t.jobsIn(b.start - 1, b.end + 1)
      jobs.foreach { j =>
        val jid = add(jobName(j), if (j.labelled) "operators" else "spark", j.start, j.end, addId, trace)
        t.fsIn(j.start, j.end).foreach(f => add(f.name, "fs", f.start, f.end, jid, trace))
      }
      val jl = clip(jobs.filter(_.labelled).map(j => (j.start, j.end)), addWin)
      val ju = clip(jobs.filterNot(_.labelled).map(j => (j.start, j.end)), addWin)
      val jAll = jl ++ ju
      val fsOps = t.fsIn(b.start - 1, b.end + 1)
      val fsOut = fsOps.filterNot(f => jobs.exists(j => f.start >= j.start && f.end <= j.end))
      fsOut.foreach(f => add(f.name, "fs", f.start, f.end, addId, trace))
      val fIv = clip(fsOut.map(f => (f.start, f.end)), addWin)
      val opsMs = u(jl)
      val sparkJobMs = u(jAll) - opsMs
      val fsMs = u(jAll ++ fIv) - u(jAll)
      self("operators") += opsMs
      self("spark") += sparkJobMs
      self("fs") += fsMs
      self("sinks") += math.max(0.0, (addWin._2 - addWin._1) - u(jAll ++ fIv))
      (b, jobs, fsOps, (addWin._2 - addWin._1) - u(jAll))
    }
    def p50(f: BatchRec => Double) = Stats.median(batches.map(f))
    m("stream.trigger_ms") = p50(_.ms("triggerExecution"))
    m("stream.add_batch_ms") = p50(_.ms("addBatch"))
    m("stream.query_planning_ms") = p50(_.ms("queryPlanning"))
    m("stream.wal_commit_ms") = p50(_.ms("walCommit"))
    m("stream.commit_offsets_ms") = p50(_.ms("commitOffsets"))
    // sub-millisecond phases: the mean keeps their fractional part
    m("stream.latest_offset_ms") = Stats.mean(batches.map(_.ms("latestOffset")))
    m("stream.get_batch_ms") = Stats.mean(batches.map(_.ms("getBatch")))
    m("stream.batches") = batches.size
    m("stream.rows_per_batch") = Stats.mean(batches.map(_.rows.toDouble))
    m("stream.state_rows") = Stats.mean(batches.map(_.stateRows.toDouble))
    m("stream.state_commit_ms") = Stats.mean(batches.map(_.stateCommitMs.toDouble))

    def kindMs(jobs: Seq[JobRec], kinds: String*) = jobs.filter(j => kinds.contains(j.kind)).map(_.ms).sum
    val jobsOf = perBatch.map(_._2)
    def p50Kind(kinds: String*) = Stats.median(jobsOf.map(js => kindMs(js, kinds: _*)))
    m("sinks.jobs_per_batch") = Stats.mean(jobsOf.map(_.size.toDouble))
    m("sinks.driver_gap_ms") = Stats.median(perBatch.map(_._4))
    m("sinks.head_agg_ms") = p50Kind("store.head-agg")
    m("sinks.touched_ms") = p50Kind("store.touched")
    m("sinks.merge_write_ms") = p50Kind("store.merge-write")
    m("sinks.index_append_ms") = p50Kind("index.append")
    m("sinks.bloom_size_ms") = p50Kind("bloom.size")
    m("sinks.bloom_build_ms") = p50Kind("bloom.build")
    // a fold: from its store.compact job to the last job of that batch
    val folds = jobsOf.flatMap { js =>
      js.filter(_.kind == "store.compact").map(_.start).minOption.map(s => js.map(_.end).max - s)
    }
    m("sinks.maintenance_runs") = folds.size
    m("sinks.maintenance_ms") = folds.sum / nb

    val wjobs = jobsOf.flatten
    m("spark.jobs") = wjobs.size / nb
    m("spark.tasks") = wjobs.map(_.tasks).sum / nb
    m("spark.job_ms") = wjobs.map(_.ms).sum / nb
    m("spark.executor_cpu_ms") = wjobs.map(_.cpuMs).sum / nb
    m("sources.decode_cpu_ms") = wjobs.map(_.sourceCpuMs).sum / nb
    m("spark.executor_run_ms") = wjobs.map(_.runMs).sum / nb
    m("spark.shuffle_write_mb") = wjobs.map(_.shuffleWrite).sum / 1048576.0 / nb
    m("spark.shuffle_read_mb") = wjobs.map(_.shuffleRead).sum / 1048576.0 / nb
    m("spark.catalyst_ms") = batches.map(b => t.catalystIn(b.start, b.end + 50)).sum / nb

    val wfs = perBatch.flatMap(_._3)
    Seq("list", "rename", "create", "open", "delete").foreach { op =>
      m(s"fs.${op}_calls") = wfs.count(_.name == s"fs.$op") / nb
    }
    val written = batches.lastOption.map { last =>
      t.bytesAtBatch.getOrElse(last.id, 0L) - t.bytesAtBatch.getOrElse(batches.head.id - 1, 0L)
    }.getOrElse(0L)
    val changes = batches.lastOption.map(_.endOff - batches.head.startOff).getOrElse(0L)
    m("fs.bytes_written_per_change") = written.toDouble / math.max(1L, changes)

    // ---- read phase: one trace per read
    val reads = out.reads ++ out.checks
    val nr = math.max(1, reads.size).toDouble
    val readJobs = reads.map { r =>
      val trace = s"read-${r.n}"
      val rid = add(s"read.${r.kind}", "sinks", r.start, r.end, 0L, trace)
      val js = t.jobsIn(r.start, r.end)
      js.foreach(j => add(jobName(j), if (j.labelled) "operators" else "spark", j.start, j.end, rid, trace))
      val fsOps = t.fsIn(r.start, r.end)
      fsOps.foreach(f => add(f.name, "fs", f.start, f.end, rid, trace))
      val jIv = clip(js.map(j => (j.start, j.end)), (r.start, r.end))
      val fIv = clip(fsOps.map(f => (f.start, f.end)), (r.start, r.end))
      self("read.jobs") += u(jIv)
      self("read.fs") += u(jIv ++ fIv) - u(jIv)
      self("read.driver") += r.ms - u(jIv ++ fIv)
      (r, js, fsOps)
    }
    // latency per kind from the measured reads, else from the model
    // checks; a kind the workload never issues reads 0
    def orZero(d: Double) = if (d.isNaN) 0.0 else d
    Read.Kinds.foreach { k =>
      val measured = out.reads.filter(_.kind == k)
      m(s"read.${k}_ms") = orZero(Stats.median(
        (if (measured.nonEmpty) measured else out.checks.filter(_.kind == k)).map(_.ms)))
    }
    def labelled(kind: String) = readJobs.flatMap { case (_, js, _) =>
      val ms = js.filter(_.kind == kind).map(_.ms)
      if (ms.isEmpty) None else Some(ms.sum)
    }
    m("read.index_enumerate_ms") = orZero(Stats.median(labelled("index.enumerate")))
    m("read.index_probe_ms") = orZero(Stats.median(labelled("index.probe")))
    val absent = reads.map(_.absent).sum
    m("read.bloom_pruned_ratio") = if (absent == 0) 0.0 else reads.map(_.pruned).sum.toDouble / absent
    m("read.jobs_per_read") = readJobs.map(_._2.size).sum / nr
    Seq("list", "open").foreach { op =>
      m(s"read.fs_${op}_calls") = readJobs.map(_._3.count(_.name == s"fs.$op")).sum / nr
    }

    // ---- self time per layer, per batch and per read
    Seq("streaming", "sources", "spark", "operators", "fs", "sinks").foreach { l =>
      m(s"self.${l}_ms") = self(l) / nb
    }
    Seq("driver", "jobs", "fs").foreach(l => m(s"self.read_${l}_ms") = self(s"read.$l") / nr)

    m("gen.late_ms") = orZero(Stats.quantile(out.genLate, 0.99))
    m("jvm.gc_ms") = t.gcMs.toDouble
    m("jvm.heap_peak_mb") = t.heapPeakMb

    Layered(m.toMap, spans.toSeq, self.toMap)
  }
}
