package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans, recorded from the benchmark's own calls into each
  * layer. A span's self time is its duration minus the part of it that its
  * children cover. Spans are written out once, when the run ends. A tracer
  * that is not `on` runs each body and records nothing: the baseline that
  * `trace.overhead` divides by. */
final class Tracer(on: Boolean = true) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()

  def span[T](name: String)(f: => T): T = if (!on) f else {
    val parent = stack.headOption.getOrElse(0)
    val id = synchronized {
      spans += Span(spans.size + 1, name, parent, System.nanoTime(), -1L)
      spans.size
    }
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      val end = System.nanoTime()
      synchronized { spans(id - 1) = spans(id - 1).copy(endNs = end) }
    }
  }

  /** A span timed by someone else (a micro-batch, from its progress
    * report), in epoch milliseconds. */
  def addEpochMs(name: String, parent: Int, startMs: Long, endMs: Long): Unit = synchronized {
    def ns(ms: Long) = originNs + (ms - originMs) * 1000000L
    spans += Span(spans.size + 1, name, parent, ns(startMs), ns(endMs))
  }

  private def secs(ns: Long) = ns / 1e9

  /** Self time per span id: duration minus the union of its children. */
  def selfSeconds: Map[Int, Double] = synchronized {
    val byParent = spans.toList.groupBy(_.parent)
    spans.toList.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> secs(s.endNs - s.startNs - Tracer.unionLength(kids))
    }.toMap
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def json: Seq[Map[String, Any]] = {
    val self = selfSeconds
    all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> secs(s.startNs - originNs), "end_s" -> secs(s.endNs - originNs),
      "self_s" -> self(s.id)))
  }
}

object Tracer {
  /** Length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered, reach = 0L
    var first = true
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (first || a > reach) { covered += b - a; reach = b; first = false }
      else if (b > reach) { covered += b - reach; reach = b }
    }
    covered
  }
}

/** Benchmark-owned Spark listener: job intervals and task metrics, so any
  * wall-clock region can be summarised after the fact. */
final class SparkTap extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, batch: Option[(String, Long)])
  final case class Task(endMs: Long, deserMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long)

  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // set by micro-batch execution on the jobs a batch runs
    val batch = for {
      p <- Option(e.properties)
      q <- Option(p.getProperty("sql.streaming.queryId"))
      b <- Option(p.getProperty("streaming.sql.batchId"))
    } yield (q, b.toLong)
    jobs += Job(e.jobId, e.time, -1L, batch)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.taskInfo.finishTime, m.executorDeserializeTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Jobs started in [t0, t1] (epoch ms). */
  def jobsIn(t0: Long, t1: Long): Seq[Job] = synchronized(jobs.filter(j => j.startMs >= t0 && j.startMs <= t1).toList)

  /** Job, task, driver-gap and task-metric totals over [t0, t1] (epoch ms).
    * The driver gap is the region's wall time that no job covers. */
  def summary(t0: Long, t1: Long): Map[String, Double] = synchronized {
    val js = jobsIn(t0, t1)
    val ts = tasks.filter(t => t.endMs >= t0 && t.endMs <= t1)
    val covered = Tracer.unionLength(js.map(j =>
      (math.max(j.startMs, t0), math.min(if (j.endMs < 0) t1 else j.endMs, t1))).filter(p => p._2 > p._1))
    Map(
      "jobs" -> js.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "driver_gap_s" -> (t1 - t0 - covered) / 1e3,
      "task_deser_s" -> ts.map(_.deserMs).sum / 1e3,
      "executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
      "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble)
  }
}

object SparkTap {
  /** `spark.<metric>` medians over several regions' summaries. */
  def medians(regions: Seq[Map[String, Double]]): Seq[(String, Double)] =
    regions.head.keys.toSeq.map(k => s"spark.$k" -> Stats.median(regions.map(_(k))))

  /** Jobs each micro-batch ran, median over `batches`. */
  def jobsPerBatch(jobs: Seq[SparkTap#Job], batches: Seq[Batch]): Double = {
    val n = jobs.flatMap(_.batch).groupBy(identity).view.mapValues(_.size).toMap
    Stats.median(batches.map(b => n.getOrElse((b.queryId, b.id), 0).toDouble))
  }
}

/** Benchmark-owned streaming listener: every query start and progress
  * report, as the micro-batch facts the streaming metrics are computed from. */
final class StreamTap extends StreamingQueryListener {
  private val progress = ArrayBuffer.empty[Batch]
  private val started = ArrayBuffer.empty[(String, Long)]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
    started += e.runId.toString -> java.time.Instant.parse(e.timestamp).toEpochMilli
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress ++= Batch.of(e.progress) }

  def batches: Seq[Batch] = synchronized(progress.toList)

  /** Per query that ran a batch: seconds from its start event to the
    * trigger of its first micro-batch (source set-up and planning). */
  def startSeconds: Seq[Double] = synchronized {
    val first = progress.groupBy(_.runId).view.mapValues(_.map(_.startMs).min).toMap
    started.toList.flatMap { case (q, t0) => first.get(q).map(t => (t - t0) / 1e3) }
  }
}

/** One executed micro-batch: its query, run, id, trigger start and phase
  * durations. */
final case class Batch(queryId: String, runId: String, id: Long, startMs: Long, durations: Map[String, Long],
    inputRows: Long) {
  def endMs: Long = startMs + durations("triggerExecution")
}

object Batch {
  /** Micro-batches per pass, jobs per batch, query start and per-batch
    * phase medians, as the `streaming.*` metrics; `streams` and `jobs` cover
    * `passes` passes. */
  def metrics(streams: StreamTap, jobs: Seq[SparkTap#Job], passes: Int = 1): Seq[(String, Double)] = {
    val batches = streams.batches
    def phase(k: String) = Stats.median(batches.map(_.durations.getOrElse(k, 0L) / 1e3))
    Seq(
      "streaming.batches" -> batches.size.toDouble / passes,
      "streaming.jobs_per_batch" -> SparkTap.jobsPerBatch(jobs, batches),
      "streaming.start_s" -> Stats.median(streams.startSeconds),
      "streaming.query_planning_s" -> phase("queryPlanning"),
      "streaming.get_batch_s" -> phase("getBatch"),
      "streaming.add_batch_s" -> phase("addBatch"),
      "streaming.wal_commit_s" -> phase("walCommit"),
      "streaming.commit_offsets_s" -> phase("commitOffsets"),
      "streaming.latest_offset_s" -> phase("latestOffset"))
  }

  /** The executed batch a progress report describes; idle reports (no
    * `addBatch` phase) describe none. */
  def of(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Option[Batch] = {
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (!d.contains("addBatch") || !d.contains("triggerExecution")) None
    else Some(Batch(p.id.toString, p.runId.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      d, p.numInputRows))
  }
}
