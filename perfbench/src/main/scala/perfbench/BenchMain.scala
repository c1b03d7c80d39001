package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. The harness calls [[setup]] on a
  * fresh session, then either [[measure]] (timed run, no listeners) or
  * [[unit]] three times (traced run: plain, under [[Trace]], plain). */
trait Workload {
  /** Make this set-up's inputs from the seed under `dir`. */
  def setup(spark: SparkSession, dir: String): Unit
  /** Warm caches and codegen once, before anything is timed. */
  def warmUp(spark: SparkSession): Unit
  /** Run operations for about `seconds` seconds, recording samples. */
  def measure(spark: SparkSession, seconds: Double): Unit
  /** A fixed amount of work: the same jobs on every run of a seed. */
  def unit(spark: SparkSession, seconds: Double): Unit
  /** Layer numbers only the workload knows, read after a traced unit. */
  def traceExtra(layers: Map[String, Double]): Map[String, Double] = Map.empty
  /** The workload's own metrics: name -> (value, unit). */
  def named: Seq[(String, Double, String)]
  /** The end-to-end pair every workload reports: (fast_s, slow_s). */
  def fastSlow: (Double, Double)
  /** Facts the Python side checks against an independent engine. */
  def pyChecks: Map[String, Any] = Map.empty
  /** Directories whose persisted stores this run created. */
  def storeDirs: Seq[String] = Seq.empty

  var attempted = 0
  var failed = 0
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  protected def check(name: String, ok: Boolean, detail: => String): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.toIndexedSeq.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** The benchmark's JVM side. Usage:
  *   BenchMain --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * Writes `<work>/result.json`; `perfbench/run.py` runs the checks that
  * need DuckDB and prints the result line. */
object BenchMain {
  val Cores = 4
  val SetupReps = 3

  private val start = System.nanoTime()
  def say(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - start) / 1e9}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val w = Workloads(name, seed, work.toString)

    var spark: SparkSession = null
    def session(): SparkSession = graft.GraftSession.local(s"perfbench-$name", Cores.toString,
      Map("spark.local.dir" -> work.resolve("spark-local").toString,
        "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
        "spark.sql.streaming.numRecentProgressUpdates" -> "100000",
        "spark.sql.streaming.checkpointLocation" -> work.resolve("checkpoints").toString))
    var layers = Map.empty[String, Double]
    val setupS = ArrayBuffer.empty[Double]
    var warmS = 0.0
    try {
      // set-up repeated: session start + input generation; the median
      // discards the first repetition's JVM class loading
      (1 to SetupReps).foreach { r =>
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = session()
        w.setup(spark, work.resolve(s"setup$r").toString)
        setupS += (System.nanoTime() - t0) / 1e9
        say(f"set-up $r: ${setupS.last}%.2f s")
      }
      val t0 = System.nanoTime()
      w.warmUp(spark)
      warmS = (System.nanoTime() - t0) / 1e9
      say(f"warm-up: $warmS%.2f s")
      if (!traced) w.measure(spark, seconds)
      else {
        // the overhead compares the traced unit with the mean of an
        // untraced unit before and one after it
        def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; Workloads.seconds(t0) }
        val before = timed(w.unit(spark, seconds))
        val trace = new Trace(spark)
        trace.start()
        val tracedS = timed(trace.window(w.unit(spark, seconds)))
        val base = trace.stop()
        layers = base ++ w.traceExtra(base)
        val after = timed(w.unit(spark, seconds))
        layers += "trace.overhead_ratio" -> (tracedS / ((before + after) / 2) - 1.0)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        w.checks += (("no exception", false, e.toString.take(500)))
        w.failed += 1
    } finally {
      say("measured")
      if (spark != null) spark.stop()
      w.storeDirs.foreach(Workloads.dropStores)
      say("stopped")
    }
    val (fast, slow) = if (w.checks.forall(_._2)) w.fastSlow else (0.0, 0.0)
    val result = Map(
      "workload" -> name, "seed" -> seed, "traced" -> traced,
      "attempted" -> w.attempted, "failed" -> w.failed,
      "setup_reps_s" -> setupS.toSeq, "warm_up_s" -> warmS,
      "setup_s" -> (Stats.median(setupS.toSeq) + warmS),
      "fast_s" -> fast, "slow_s" -> slow,
      "rss_peak_mb" -> Workloads.vmHwmMb(),
      "named" -> w.named.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "layers" -> layers,
      "checks" -> w.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "py_checks" -> w.pyChecks,
      "host" -> Map("spark_cores" -> Cores,
        "jvm_processors" -> Runtime.getRuntime.availableProcessors,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> org.apache.spark.SPARK_VERSION,
        "scale" -> Workloads.scale(name)))
    Files.writeString(work.resolve("result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
  }
}
