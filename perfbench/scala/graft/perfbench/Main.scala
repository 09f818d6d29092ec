package graft.perfbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark (`perfbench/run.py` builds and drives it).
  *
  * usage: Main --workload <etl_batch|etl_stream|curate_gates> --run <dir>
  *   --seconds <n> --trace <0|1> --cpus <n> [workload options]
  *
  * Reads the inputs `run.py` generated under `<dir>/inputs`, measures, and
  * writes `<dir>/result.json` (metrics, operation counts, facts) and, when
  * traced, `<dir>/trace.json` (spans). Output correctness is checked by
  * `run.py` afterwards, outside every timed region. */
object Main {
  final case class Args(workload: String, run: String, seconds: Double, trace: Boolean,
      cpus: Int, opts: Map[String, String])

  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("run"), kv("seconds").toDouble, kv("trace") == "1", kv("cpus").toInt,
      kv -- Seq("workload", "run", "seconds", "trace", "cpus"))
  }

  /** `graft.Bench`'s session settings, with scratch space inside the run
    * directory. */
  def session(cpus: Int, run: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Caches.quietCheckpointFreeWarnings()
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Session build plus one untimed warm-up, `n` times; the last session is
    * kept. Returns it with the median set-up time. */
  def setup(a: Args, n: Int, out: Result)(warmUp: SparkSession => Unit): (SparkSession, Double) = {
    var spark: SparkSession = null
    val times = (1 to n).map { i =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(a.cpus, a.run)
      warmUp(spark)
      (System.nanoTime() - t0) / 1e9
    }
    out.facts("setup_times_s") = times
    (spark, Stats.median(times))
  }

  /** Passes back to back until `seconds` have gone, at least `min` of
    * them, with a GC before each; a pass that gives no wall (it failed)
    * gives no sample. */
  def loop(seconds: Double, min: Int)(f: => Option[Double]): Seq[Double] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var n = 0
    while (n < min || System.nanoTime() < end) {
      System.gc()
      walls ++= f
      n += 1
    }
    walls.toList
  }

  /** Wall seconds of `f`. */
  def wall(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** CPU seconds this JVM has used, on all its threads. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Seconds the hypervisor has kept the machine's CPUs from running
    * (steal, from /proc/stat), per CPU; 0 where the kernel reports none. */
  def stealS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val cpus = src.getLines().takeWhile(_.startsWith("cpu")).toList
      val steal = cpus.headOption.map(_.split("\\s+")).filter(_.length > 8).map(_(8).toDouble)
      steal.map(_ / 100.0 / math.max(1, cpus.size - 1)).getOrElse(0.0)
    } finally src.close()
  }

  def loadavg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, mapper.writeValueAsString(v))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = new Result
    val loadBefore = loadavg()
    val code =
      try {
        a.workload match {
          case "etl_batch" => EtlBatch.run(a, out)
          case "etl_stream" => EtlStream.run(a, out)
          case "curate_gates" => CurateGates.run(a, out)
          case w => throw new IllegalArgumentException(s"unknown workload '$w'")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          out.error(s"${e.getClass.getName}: ${e.getMessage}")
          1
      }
    out.facts("loadavg_before") = loadBefore
    out.facts("loadavg_after") = loadavg()
    out.facts("load_suspect") = graft.Bench.loadSuspect(loadBefore, a.cpus)
    out.facts("cpus") = a.cpus
    out.facts("spark_version") = org.apache.spark.SPARK_VERSION
    out.facts("java_version") = System.getProperty("java.version")
    writeJson(s"${a.run}/result.json", out.json)
    out.tracer.foreach(t => writeJson(s"${a.run}/trace.json", t.json))
    // non-daemon threads of a failed streaming query must not keep the JVM up
    System.exit(code)
  }
}

/** What a run reports back: operation counts, metrics and facts. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val facts = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  var tracer: Option[Tracer] = None

  def error(msg: String): Unit = { errors += msg; System.err.println(s"[perfbench] $msg") }

  /** Run one operation; a throw counts it as failed and returns None. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch { case e: Exception =>
      failed += 1
      error(s"$what failed: ${e.getClass.getName}: ${e.getMessage}")
      None
    }
  }

  def json: Map[String, Any] = Map("attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.toMap, "facts" -> facts.toMap, "errors" -> errors.toList)
}

object Stats {
  /** Linear-interpolation percentile, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}
