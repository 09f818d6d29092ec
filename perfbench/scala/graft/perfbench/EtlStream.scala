package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.config.{DataflowConf, MetadataReader}
import graft.streaming.StreamingPipeline

/** `etl_stream`: the `etl_batch` document over many small files, run by
  * `StreamingPipeline.runDataflow` on a checkpointed file source. A drain
  * starts on a pre-staged backlog (throughput), then an open-loop generator
  * moves the steady files into the watched directory on a fixed schedule
  * (latency, timed from each file's due time).
  *
  * Options: `--docs` (directory of per-drain documents `<tag>.json`),
  * `--inputs` (`backlog/`, `steady/` and `warm/` file sets), `--rate`
  * (steady files per second), `--files-per-trigger`, `--backlog-rows`. */
object EtlStream {

  final case class Move(file: String, dueMs: Long, movedMs: Long)

  final case class Drain(t0Ms: Long, t1Ms: Long, drainS: Double, batches: Seq[Batch],
      fileBatch: Map[String, Long], moves: Seq[Move], files: Int)

  private def jsonFiles(dir: String): Seq[Path] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".json")).map(_.toPath).sortBy(_.getFileName.toString)

  /** Which micro-batch committed each file, from the file source's log in
    * the checkpoint (`sources/0/<batch>` and its `.compact` files). */
  def fileBatches(checkpoint: String): Map[String, Long] = {
    val dir = new java.io.File(s"$checkpoint/sources/0")
    Option(dir.listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith(".") || f.getName.endsWith(".tmp"))
      .flatMap(f => Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString).drop(1))
      .map(Main.mapper.readTree)
      .map(n => Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString ->
        n.get("batchId").asLong)
      .toMap
  }

  /** One streaming dataflow over a fresh directory: drain the backlog,
    * then, if `rate` is given, feed the steady files on schedule. */
  def drain(spark: SparkSession, doc: String, backlog: String, steady: Option[String],
      rate: Double, filesPerTrigger: Int, tr: Option[Tracer] = None): Drain = {
    val conf: DataflowConf = MetadataReader.read(doc).dataflows.head
    val src = conf.sources.head
    val base = Paths.get(src.path).getParent.toString
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    Files.createDirectories(Paths.get(src.path))
    val staging = Files.createDirectories(Paths.get(base, "staging"))
    jsonFiles(backlog).foreach(f => Files.copy(f, Paths.get(src.path, f.getFileName.toString)))
    val pending = steady.toSeq.flatMap(jsonFiles).map(f =>
      Files.copy(f, staging.resolve(f.getFileName)))
    val source = spark.readStream.format(src.format.toLowerCase)
      .schema(StructType.fromDDL(src.schema.get))
      .option("maxFilesPerTrigger", filesPerTrigger.toLong)
      .load(src.path)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = StreamingPipeline.runDataflow(source, conf, s"$base/checkpoint")
    val (drainS, moves) =
      try {
        q.processAllAvailable()
        val drainS = (System.nanoTime() - t0) / 1e9
        // open loop: file i is due at start + i / rate, whatever the query does
        val start = System.currentTimeMillis() + 50
        val moves = pending.zipWithIndex.map { case (f, i) =>
          val due = start + (i * 1000.0 / rate).toLong
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          Files.move(f, Paths.get(src.path, f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
          Move(f.getFileName.toString, due, System.currentTimeMillis())
        }
        if (moves.nonEmpty) q.processAllAvailable()
        (drainS, moves)
      } finally q.stop()
    val t1Ms = System.currentTimeMillis()
    Option(q.exception.orNull).foreach(e => throw e)
    val batches = q.recentProgress.toSeq.flatMap(Batch.of)
    tr.foreach { t =>
      val root = t.all.filter(_.endNs < 0).last.id
      batches.headOption.foreach(b => t.addEpochMs("streaming.start", root, t0Ms, b.startMs))
      batches.foreach(b => t.addEpochMs("streaming.batch", root, b.startMs, b.endMs))
    }
    Drain(t0Ms, t1Ms, drainS, batches, fileBatches(s"$base/checkpoint"), moves,
      jsonFiles(backlog).size + pending.size)
  }

  /** Per steady file: its micro-batch's end minus the file's due time. A
    * file no batch committed gives no sample and counts as failed. */
  def latencies(d: Drain, out: Result): Seq[Double] = {
    val ends = d.batches.map(b => b.id -> b.endMs).toMap
    d.moves.flatMap { m =>
      val end = d.fileBatch.get(m.file).flatMap(ends.get)
      if (end.isEmpty) { out.failed += 1; out.error(s"no committed batch for ${m.file}") }
      end.map(e => (e - m.dueMs) / 1e3)
    }
  }

  def run(a: Main.Args, out: Result): Unit = {
    val docs = a.opts("docs")
    val inputs = a.opts("inputs")
    val rate = a.opts("rate").toDouble
    val perTrigger = a.opts("files-per-trigger").toInt
    val backlogRows = a.opts("backlog-rows").toDouble
    def feed(spark: SparkSession, tag: String, steady: Boolean, tr: Option[Tracer] = None) = {
      val d = drain(spark, s"$docs/$tag.json", s"$inputs/backlog",
        if (steady) Some(s"$inputs/steady") else None, rate, perTrigger, tr)
      out.attempted += d.files
      d
    }
    val warm: SparkSession => Unit = s =>
      drain(s, s"$docs/warm.json", s"$inputs/warm", None, rate, perTrigger)
    val (spark, setupS) = Main.setup(a, if (a.trace) 1 else 3, out)(warm)
    // the first full-size drain runs JIT-cold; it is not a sample
    val cold = feed(spark, "base", steady = false)
    out.facts("cold_drain_s") = cold.drainS
    if (!a.trace) {
      val d = feed(spark, "main", steady = true)
      val lat = latencies(d, out)
      out.metrics ++= Seq(
        "setup_s" -> setupS,
        "rows_per_s" -> backlogRows / d.drainS,
        "latency_p50_s" -> Stats.median(lat),
        "latency_p90_s" -> Stats.percentile(lat, 0.9),
        "peak_rss_mb" -> Main.peakRssMb())
      out.facts("latency_samples") = lat.size
      out.facts("backlog_drain_s") = d.drainS
      out.facts("batches") = d.batches.size
      out.facts("generator_late_s") = d.moves.map(m => (m.movedMs - m.dueMs) / 1e3).max
      Main.stop(spark)
      return
    }
    val base = feed(spark, "base", steady = false)
    val tap = new SparkTap
    val streams = new StreamTap
    spark.sparkContext.addSparkListener(tap)
    spark.streams.addListener(streams)
    val tr = new Tracer
    out.tracer = Some(tr)
    val d = tr.span("stream")(feed(spark, "main", steady = true, Some(tr)))
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.streams.removeListener(streams)
    spark.sparkContext.removeSparkListener(tap)
    latencies(d, out)
    out.metrics ++= Batch.metrics(streams, tap.jobsIn(d.t0Ms, d.t1Ms)) ++ Seq(
      "streaming.files_per_batch" -> d.fileBatch.size.toDouble / streams.batches.size,
      "gen.late_s" -> d.moves.map(m => (m.movedMs - m.dueMs) / 1e3).max)
    out.metrics ++= SparkTap.medians(Seq(tap.summary(d.t0Ms, d.t1Ms)))
    out.metrics("trace.overhead") = d.drainS / base.drainS
    val root = tr.all.find(_.name == "stream").get
    out.metrics("trace.coverage") =
      1.0 - tr.selfSeconds(root.id) / ((root.endNs - root.startNs) / 1e9)
    Main.stop(spark)
    val one = Main.session(1, a.run)
    warm(one)
    val single = feed(one, "single", steady = false)
    out.metrics("parallel.speedup") = single.drainS / base.drainS
    out.facts("backlog_drain_s") = Map("base" -> base.drainS, "traced" -> d.drainS,
      "single_thread" -> single.drainS)
    Main.stop(one)
  }
}
