package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The run's one time base: milliseconds since the process started
  * measuring, from `nanoTime` for the benchmark's own spans and from
  * wall-clock stamps for Spark's listener events. */
object Clock {
  private val t0Nanos = System.nanoTime()
  private val t0Wall = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  def wallToMs(wall: Long): Double = (wall - t0Wall).toDouble
  def nanoToMs(n: Long): Double = (n - t0Nanos) / 1e6
}

/** One traced interval. Times are [[Clock]] milliseconds; `parent` is another span's id (0 = root). Spans of one
  * micro-batch share the trace id `batch-<id>`, spans of one read
  * `read-<n>`. */
final case class Span(id: Long, name: String, layer: String, start: Double, end: Double,
                      parent: Long, trace: String) {
  def ms: Double = end - start
}

/** A finished Spark job as the `SparkListener` saw it, with the task
  * metrics of its completed stages summed; `sourceCpuMs` is the executor
  * CPU of those of its stages that scan the streaming source or run a
  * streaming state operator. `label` is the job
  * description the job ran under (the program's `Label.job` phase, or
  * the streaming engine's own batch description). */
final class JobRec(val id: Int, val label: String, val start: Double) {
  @volatile var end: Double = Double.NaN
  var tasks = 0L
  var cpuMs = 0.0
  var sourceCpuMs = 0.0
  var runMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  def ms: Double = end - start
  /** The program's phase label (`store.merge-write dbo.t b=7` ->
    * `store.merge-write`), or "" for a job it did not label. */
  val kind: String = JobRec.Phase.findPrefixMatchOf(label).map(_.matched).getOrElse("")
  def labelled: Boolean = kind.nonEmpty
}

object JobRec {
  private val Phase = "(store|index|bloom)\\.[a-z-]+".r
  /** RDDs of a stage that reads a DSv2 streaming source or keeps
    * streaming state. */
  val SourceRdds: Set[String] = Set("DataSourceRDD", "StateStoreRDD")
}

/** The traced run's recorder. Everything is observed from outside the
  * program: spans the benchmark opens around its own calls into the
  * program's modules, Spark jobs and stages (`SparkListener`),
  * micro-batch progress (`StreamingQueryListener`), Catalyst phase times
  * (`QueryExecutionListener` over `QueryExecution.tracker`), filesystem
  * calls ([[CountingFs]]) and the JVM's own MX beans. Spans stay in
  * memory and are written once, when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)

  private val fsSpans = ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  /** Bytes written through [[CountingFs]] when each batch's progress arrived. */
  val bytesAtBatch: mutable.HashMap[Long, Long] = mutable.HashMap.empty
  private val catalyst = ArrayBuffer.empty[(Double, Double)] // (end ms, analysis+optimization+planning ms)

  import Clock.{nowMs, wallToMs, nanoToMs}

  def fsOp(name: String, t0: Long, t1: Long): Unit = synchronized {
    fsSpans += Span(nextId.incrementAndGet(), s"fs.$name", "fs", nanoToMs(t0), nanoToMs(t1), 0L, "")
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val j = new JobRec(e.jobId, label, wallToMs(e.time))
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageToJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = wallToMs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      for (j <- stageToJob.get(info.stageId); m <- Option(info.taskMetrics)) {
        j.tasks += info.numTasks
        j.cpuMs += m.executorCpuTime / 1e6
        if (info.rddInfos.exists(r => JobRec.SourceRdds(r.name))) j.sourceCpuMs += m.executorCpuTime / 1e6
        j.runMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { bytesAtBatch(e.progress.batchId) = CountingFs.bytesWritten }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values.map(p => p.durationMs.toDouble).sum
      Tracer.this.synchronized { catalyst += ((nowMs, phases)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
  /** Peak heap since the last reset, over every heap pool. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
    Tracer.current = Some(this)
  }

  def stop(): Unit = {
    flush()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    Tracer.current = None
  }

  /** Waits (at most 5 s) until every job seen has ended and no new
    * listener event arrived for 200 ms, so the records are complete. */
  def flush(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val (n, open) = synchronized((jobs.size + bytesAtBatch.size + catalyst.size, jobs.values.exists(_.end.isNaN)))
      if (n != last || open) { last = n; stableSince = System.nanoTime() }
      else if (System.nanoTime() - stableSince > 200000000L) return
      Thread.sleep(20)
    }
  }

  def jobsIn(from: Double, to: Double): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.start >= from && j.start <= to && !j.end.isNaN).toSeq
  }
  def fsIn(from: Double, to: Double): Seq[Span] = synchronized {
    fsSpans.filter(s => s.start >= from && s.start <= to).toSeq
  }
  def catalystIn(from: Double, to: Double): Double = synchronized {
    catalyst.filter { case (t, _) => t >= from && t <= to }.map(_._2).sum
  }
}

object Tracer {
  @volatile var current: Option[Tracer] = None

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
