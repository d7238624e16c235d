package graftbench

import graft.GraftSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM: builds the session, runs one workload,
  * checks it against the generator's model and prints one JSON line
  * (the last line of stdout) with the end-to-end metrics, or with the
  * per-layer metrics when `--trace 1`. The detail file gets everything,
  * spans included. `perfbench/run.py` is the front end.
  *
  * {{{
  *   graftbench.Main --workload ct_bulk --seed 1 --seconds 10 --trace 0
  *                   --work <scratch dir> --detail <file> [--corrupt-model 1] [--scale 0.05]
  * }}}
  */
object Main {
  private val units = Seq(
    "setup_s" -> "s", "ingest_rec_s" -> "rec/s", "store_mb" -> "MB", "lag_p50_s" -> "s", "lag_p90_s" -> "s",
    "read_p50_ms" -> "ms", "read_p95_ms" -> "ms", "reads_s" -> "reads/s")

  def main(args: Array[String]): Unit = {
    val t0 = Clock.nowMs
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt.get("trace").contains("1")
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)

    val b = GraftSession.builder(s"local[$cpus]", cpus)
      .appName("graft-perfbench")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
    if (traced) b.config(s"spark.hadoop.fs.${CountingFs.Scheme}.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val ctx = Ctx(spark, cpus, seed, seconds, work, tracer, opt.get("corrupt-model").contains("1"),
      opt.get("scale").map(_.toDouble).getOrElse(1.0))

    val result = scala.util.Try(Workloads.run(workload, ctx))
    val line = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> (if (traced) 1 else 0),
      "cpus" -> cpus)
    result match {
      case scala.util.Success(out) =>
        line("correct") = out.failures.isEmpty
        line("attempted") = out.attempted
        line("failed") = out.failed
        line("failures") = out.failures.take(5)
        line("samples") = out.samples
        line("end_to_end") = endToEnd(out, t0)
        line("fail_ratio") = out.failed.toDouble / math.max(1L, out.attempted)
        val records = Seq(
          "batches" -> out.writeBatches.map(b => Map("id" -> b.id, "start_ms" -> b.start, "end_ms" -> b.end,
            "rows" -> b.rows, "end_offset" -> b.endOff, "duration_ms" -> b.dur)),
          "reads" -> out.reads.map(r => Map("n" -> r.n, "kind" -> r.kind, "ms" -> r.ms, "ok" -> r.ok,
            "rows" -> r.rows)),
          "checks" -> out.checks.map(r => Map("n" -> r.n, "kind" -> r.kind, "ms" -> r.ms, "ok" -> r.ok,
            "rows" -> r.rows)))
        val layered = tracer.map(t => Report(t, out))
        layered.foreach(l => line("per_layer") = l.metrics)
        writeDetail(opt, line, records ++ layered.toSeq.flatMap(l => Seq(
          "self_ms" -> l.selfMs,
          "spans" -> l.spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
            "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent, "trace" -> s.trace)))))
      case scala.util.Failure(e) =>
        e.printStackTrace()
        line("correct") = false
        line("attempted") = 1
        line("failed") = 1
        line("failures") = Seq(s"run threw: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        writeDetail(opt, line, Nil)
    }
    tracer.foreach(_.stop())
    spark.streams.active.foreach(_.stop())
    spark.stop()
    println(Json(line))
  }

  private def endToEnd(out: Outcome, t0: Double): Map[String, Map[String, Any]] = {
    val readMs = out.reads.map(_.ms)
    val readWindowS = if (out.reads.isEmpty) Double.NaN else (out.reads.last.end - out.reads.head.start) / 1000.0
    val v = Map(
      "setup_s" -> (out.setupEnd - t0) / 1000.0,
      "ingest_rec_s" -> out.changes / (out.drainMs / 1000.0),
      "store_mb" -> out.storeBytes / 1048576.0,
      "lag_p50_s" -> Stats.weightedQuantile(out.lags, 0.5),
      "lag_p90_s" -> Stats.weightedQuantile(out.lags, 0.9),
      "read_p50_ms" -> Stats.quantile(readMs, 0.5),
      "read_p95_ms" -> Stats.quantile(readMs, 0.95),
      "reads_s" -> out.reads.size / readWindowS)
    units.map { case (k, u) => k -> Map("value" -> v(k), "unit" -> u) }.toMap
  }

  private def writeDetail(opt: Map[String, String], line: collection.Map[String, Any],
                          extra: Seq[(String, Any)]): Unit =
    opt.get("detail").foreach { path =>
      Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
      Files.write(Paths.get(path), Json(line ++ extra).getBytes(UTF_8))
    }
}
