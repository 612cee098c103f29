package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
                      work: String, traces: String, metrics: Seq[(String, String)],
                      params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def dbl(k: String): Double = params(k).toDouble
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => (k.drop(2), v) }.toSeq
    val m = kv.filter(_._1 != "param").toMap
    val params = kv.filter(_._1 == "param").map { case (_, p) =>
      val i = p.indexOf('='); require(i > 0, s"bad --param $p"); (p.take(i), p.drop(i + 1))
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("cores").toInt,
      m("work"), m("traces"), m("metrics").split(",").toSeq.filter(_.nonEmpty).map { nu =>
        val i = nu.lastIndexOf(':'); require(i > 0, s"bad --metrics entry $nu"); (nu.take(i), nu.drop(i + 1))
      }, params)
  }
}

/** The timed operations of one measurement window. `latMs` holds one
  * latency per operation (a batch job, or a streamed document). */
final case class Window(latMs: Array[Double], startMs: Double, endMs: Double, clientGapMsMax: Double)

/** What the untimed output checks found. */
final case class Checked(attempted: Long, failed: Long, info: Seq[String])

trait Workload {
  /** Writes the seeded inputs. Not part of set-up time. */
  def generate(): Unit
  /** Warm-up and index builds: part of set-up time. Traced in the traced run. */
  def setup(t: Tracer): Unit
  /** Runs timed operations for `seconds`, recording spans into `tracer`. */
  def measure(seconds: Double, tracer: Tracer): Window
  /** Checks every operation of every window measured so far. */
  def check(): Checked
  /** Bytes on disk per byte of generated input. */
  def storedPerInputByte: Double
  /** Workload-specific figures (job time, event latency, backlog), printed beside the JSON result. */
  def report(w: Window): Seq[String]
  /** Module metrics of a traced window and of the traced set-up. */
  def perLayer(w: Window, t: Tracer, setup: Tracer): Map[String, (Double, String)]
}

object Main {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(a)
    System.err.println(f"[perfbench] session ready ${(Clock.nowMs - jvmStartMs) / 1000}%.1f s after JVM start")
    val code =
      try { run(a, spark, jvmStartMs); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
      finally spark.stop()
    System.exit(code)
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench")
    val s = graft.GraftSession.tune(b, math.max(a.cores, 4))
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def make(a: Args, spark: SparkSession): Workload = a.workload match {
    case "open511_batch" => new Open511Batch(a, spark)
    case "stream_admission" => new StreamAdmission(a, spark)
    case "lookup_serve" => new LookupServe(a, spark)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def run(a: Args, spark: SparkSession, jvmStartMs: Double): Unit = {
    val w = make(a, spark)
    val g0 = Clock.nowMs
    w.generate()
    val genMs = Clock.nowMs - g0
    val setupTracer = if (a.trace) Tracer.on(spark) else Tracer.off(spark)
    w.setup(setupTracer)
    setupTracer.finish()
    val setupS = (Clock.nowMs - jvmStartMs - genMs) / 1000.0
    println(f"setup_s $setupS%.3f s (input generation ${genMs / 1000}%.3f s excluded)")

    val metrics: Map[String, (Double, String)] =
      if (!a.trace) {
        val win = w.measure(a.seconds, Tracer.off(spark))
        val rss = Proc.vmHwmMb()
        w.report(win).foreach(println)
        val (tail, pct, n) = Stats.tail(win.latMs)
        println(f"latency_ms_tail is p$pct%.2f of $n samples")
        Map(
          "setup_s" -> (setupS, "s"),
          "latency_ms_p50" -> (Stats.median(win.latMs), "ms"),
          "latency_ms_tail" -> (tail, "ms"),
          "stored_bytes_per_input_byte" -> (w.storedPerInputByte, "ratio"),
          "rss_peak_mb" -> (rss, "MB"))
      } else {
        // A traced window between two untraced half windows: the traced
        // median over the untraced one gives the overhead, with warm-up
        // drift on both sides of it.
        val before = w.measure(a.seconds / 2, Tracer.off(spark))
        val tracer = Tracer.on(spark)
        val gc0 = Proc.gcMs()
        Proc.resetHeapPeak()
        val win = w.measure(a.seconds, tracer)
        val gcMs = Proc.gcMs() - gc0
        val heapPeak = Proc.heapPeakMb()
        tracer.finish()
        val after = w.measure(a.seconds / 2, Tracer.off(spark))
        val own = w.perLayer(win, tracer, setupTracer)
        tracer.write(new File(a.traces, s"${a.workload}-seed${a.seed}.jsonl"))
        setupTracer.write(new File(a.traces, s"${a.workload}-seed${a.seed}-setup.jsonl"))
        // modules a workload bypasses report 0
        a.metrics.map { case (k, u) => k -> (0.0, u) }.toMap ++
          Layer.common(a, win, tracer, gcMs, heapPeak) ++ own ++ Map(
            "bench.generator_lag_ms_max" -> (win.clientGapMsMax, "ms"),
            "bench.trace_overhead_ratio" ->
              (Stats.median(win.latMs) / Stats.median(before.latMs ++ after.latMs), "ratio"))
      }

    val c0 = Clock.nowMs
    val chk = w.check()
    System.err.println(f"[perfbench] output checks took ${(Clock.nowMs - c0) / 1000}%.1f s")
    chk.info.foreach(println)
    val missing = a.metrics.map(_._1).filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not produced: ${missing.mkString(", ")}")
    val body = a.metrics.map { case (k, listed) =>
      val (v, unit) = metrics(k)
      require(unit == listed, s"metric $k is in $unit, BENCHMARK.json says $listed")
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": ${Stats.json(v)}, "unit": "$unit"}"""
    }.mkString(", ")
    println(s"""{"correct": ${chk.failed == 0}, "attempted": ${chk.attempted}, "failed": ${chk.failed}, "metrics": {$body}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toArray, 0.5)
  def quantile(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }
  /** The highest percentile with at least ten samples beyond it (the
    * eleventh-largest value), with that percentile and the sample count.
    * Below 21 samples that percentile would fall under the median, so the
    * median (p50) stands in: a window that short measures no tail. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted.toArray
    val n = s.length
    if (n >= 21) (s(n - 11), 100.0 * (n - 10) / n, n) else (quantile(s, 0.5), 50.0, n)
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def json(v: Double): String = if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
}

object Proc {
  /** Peak resident set size of this process (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
}

object Disk {
  private def files(root: String): Seq[Path] = {
    val p = Path.of(root)
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close() }
  }
  def bytes(root: String): Long = files(root).map(Files.size).sum
  def count(root: String): Long = files(root).size.toLong
}

/** Engine and JVM metrics every workload's traced window reports. Per
  * operation figures are means over the window's operations. */
object Layer {
  val MB: Double = 1024.0 * 1024.0

  def common(a: Args, w: Window, t: Tracer, gcMs: Double, heapPeakMb: Double): Map[String, (Double, String)] = {
    val ops = t.ops
    val n = math.max(ops.size, 1).toDouble
    val tasks = ops.flatMap(o => t.tasksWithin(o.startMs, o.endMs))
    val jobs = ops.map(o => t.engine.jobs.count(j => j.submitMs >= o.startMs - 1 && j.submitMs <= o.endMs + 1))
    val wallMs = ops.map(_.ms).sum
    Map(
      "spark.jobs" -> (jobs.sum / n, "count"),
      "spark.tasks" -> (tasks.size / n, "count"),
      "spark.task_run_s" -> (tasks.map(_.runMs).sum / 1000.0 / n, "s"),
      "spark.busy_share" -> (tasks.map(_.runMs).sum / math.max(wallMs * a.cores, 1.0), "ratio"),
      "spark.driver_gap_s" -> (ops.map(o => o.ms - t.busyMs(o.startMs, o.endMs)).sum / 1000.0 / n, "s"),
      "spark.shuffle_write_mb" -> (tasks.map(_.shuffleWrite).sum / MB / n, "MB"),
      "spark.shuffle_read_mb" -> (tasks.map(_.shuffleRead).sum / MB / n, "MB"),
      "spark.spill_mb" -> (tasks.map(_.spill).sum / MB / n, "MB"),
      "jvm.gc_s" -> (gcMs / 1000.0 / n, "s"),
      "jvm.heap_peak_mb" -> (heapPeakMb, "MB"))
  }

  /** Median per operation of the summed duration of spans called `name`, in s. */
  def spanS(t: Tracer, name: String): Double = {
    val per = t.named(name).groupBy(_.op).values.map(_.map(_.ms).sum / 1000.0).toSeq
    if (per.isEmpty) 0.0 else Stats.median(per)
  }
}
