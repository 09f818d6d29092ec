package graft.perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, size, sum, when}

import graft.config.MetadataReader
import graft.operators.{AddFields, ValidationSplit}
import graft.plans.PipelineRunner
import graft.sinks.Sinks
import graft.sources.SourceReader

/** `etl_batch`: the metadata document run end to end by
  * `PipelineRunner.runAll`, in a closed loop of back-to-back passes.
  *
  * Options: `--doc` (document), `--warm-doc` (small warm-up document),
  * `--rows` (input rows), `--sinks` (the document's sink root). */
object EtlBatch {

  /** One untraced pass: first call to last committed sink, in seconds. */
  def pass(spark: SparkSession, doc: String): Double =
    Main.wall(PipelineRunner.runAll(spark, MetadataReader.read(doc)))

  /** The same dataflow with each layer forced on its own inside a span:
    * scan, split (the shared annotated relation materialised), post stages,
    * file sinks and the Kafka payload projection. */
  def tracedPass(spark: SparkSession, doc: String, tr: Tracer,
      counts: scala.collection.mutable.Map[String, Double]): Unit = tr.span("dataflow") {
    val meta = tr.span("config.parse")(MetadataReader.read(doc))
    meta.dataflows.foreach { df =>
      val src = SourceReader.read(spark, df.sources)
      val scanned = Observation("scan")
      tr.span("sources.scan")(Main.force(src.observe(scanned, count(lit(1)).as("rows"))))
      val (fields, rules) = PipelineRunner.stages(df)
      val split = ValidationSplit.split(AddFields(fields)(src), rules)
      try {
        val sizes = Observation("split")
        val errs = size(col(ValidationSplit.ErrorCol))
        tr.span("operators.split")(Main.force(split.shared.observe(sizes,
          sum(when(errs === 0, 1).otherwise(0)).as("ok"), sum(when(errs > 0, 1).otherwise(0)).as("ko"))))
        val post = PipelineRunner.applyPost(split.ok, PipelineRunner.postStages(df))
        tr.span("operators.post")(Main.force(post))
        tr.span("sinks.files")(Sinks.persist(df.sinks,
          Map("ok_with_date" -> post, "validation_ko" -> split.ko), None))
        tr.span("sinks.kafka_payload")(Main.force(Sinks.kafkaPayload(post)))
        counts("sources.rows") = scanned.get("rows").toString.toDouble
        counts("operators.ok_rows") = sizes.get("ok").toString.toDouble
        counts("operators.ko_rows") = sizes.get("ko").toString.toDouble
      } finally split.unpersist()
    }
  }

  /** Data files (not markers) under `dir`, and their bytes. */
  def filesUnder(dir: String): (Int, Long) = {
    val files = org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), null, true)
    import scala.jdk.CollectionConverters._
    val data = files.asScala.filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    (data.size, data.map(_.length).sum)
  }

  def run(a: Main.Args, out: Result): Unit = {
    val doc = a.opts("doc")
    val rows = a.opts("rows").toDouble
    def timed(spark: SparkSession) = out.attempt("dataflow run")(pass(spark, doc))
    val warm: SparkSession => Unit = s => PipelineRunner.runAll(s, MetadataReader.read(a.opts("warm-doc")))
    val (spark, setupS) = Main.setup(a, if (a.trace) 1 else 3, out)(warm)
    // pass walls fall for the first five or so full-size passes while the
    // JIT compiles the hot paths; they are not samples
    out.facts("warm_passes_s") = Main.loop(0, 5)(timed(spark))
    if (!a.trace) {
      val cpu, steal = scala.collection.mutable.ArrayBuffer.empty[Double]
      val walls = Main.loop(a.seconds, 3) {
        val (c0, s0) = (Main.cpuS(), Main.stealS())
        val w = timed(spark)
        cpu += Main.cpuS() - c0
        steal += Main.stealS() - s0
        w
      }
      // the median pass: warm passes jitter by about a tenth either way, and
      // the fastest of them would drift with the number of passes
      out.metrics ++= Seq(
        "setup_s" -> setupS,
        "rows_per_s" -> rows / Stats.median(walls),
        "latency_p50_s" -> Stats.median(walls),
        "peak_rss_mb" -> Main.peakRssMb())
      out.facts("pass_walls_s") = walls
      out.facts("pass_cpu_s") = cpu.toList
      out.facts("pass_steal_s") = steal.toList
      Main.stop(spark)
      return
    }
    val untraced = Main.loop(0, 3)(timed(spark))
    val tap = new SparkTap
    val tr = new Tracer
    out.tracer = Some(tr)
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val regions = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    // pairs of passes that force the same stages: first with a tracer that
    // records nothing and no listener, then traced, so their ratio is the
    // cost of the spans and listeners alone
    val plain, traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    Main.loop(a.seconds, 3) {
      plain ++= out.attempt("forced dataflow run")(Main.wall(
        tracedPass(spark, doc, new Tracer(on = false), scala.collection.mutable.Map.empty)))
      System.gc()
      spark.sparkContext.addSparkListener(tap)
      val t0 = System.currentTimeMillis()
      val w = out.attempt("traced dataflow run")(Main.wall(tracedPass(spark, doc, tr, counts)))
      val t1 = System.currentTimeMillis()
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tap)
      regions += tap.summary(t0, t1)
      traced ++= w
      w
    }
    val (files, bytes) = filesUnder(a.opts("sinks"))
    val self = tr.selfSeconds
    val roots = tr.all.filter(_.name == "dataflow")
    def medianSelf(name: String) = Stats.median(roots.map { r =>
      tr.all.filter(s => s.parent == r.id && s.name == name).map(s => self(s.id)).sum })
    Seq("config.parse", "sources.scan", "operators.split", "operators.post", "sinks.files",
      "sinks.kafka_payload").foreach(l => out.metrics(s"${l}_s") = medianSelf(l))
    out.metrics ++= counts
    out.metrics("sinks.files_written") = files
    out.metrics("sinks.bytes_written") = bytes.toDouble
    out.metrics ++= SparkTap.medians(regions.toList)
    out.metrics("trace.overhead") = Stats.median(traced.toList) / Stats.median(plain.toList)
    out.metrics("trace.coverage") = Stats.median(roots.map(r =>
      1.0 - self(r.id) / ((r.endNs - r.startNs) / 1e9)))
    out.facts("forced_walls_s") = plain.toList
    out.facts("traced_walls_s") = traced.toList
    Main.stop(spark)
    // single-threaded baseline: the same passes at local[1]
    val one = Main.session(1, a.run)
    warm(one)
    Main.loop(0, 1)(timed(one))
    val single = Main.loop(0, 2)(timed(one))
    out.metrics("parallel.speedup") = Stats.median(single) / Stats.median(untraced)
    out.facts("untraced_walls_s") = untraced
    out.facts("single_thread_walls_s") = single
    Main.stop(one)
  }
}
