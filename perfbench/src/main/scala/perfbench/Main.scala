package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What every workload's run shares: the session, the recorder, the seed,
  * its working directory, and the tally of operations and checks. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
                val dir: String) {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  /** One operation of the workload. A failure is counted and printed with
    * its stack trace, never swallowed; the run goes on so the remaining
    * operations and checks still report. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] operation $what failed:")
        e.printStackTrace()
        None
    }
  }

  /** One output check, run outside every timed region. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    attempted += 1
    val (ok, info) =
      try body
      catch {
        case e: Exception =>
          e.printStackTrace()
          (false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED: $info")
    }
    checks += ((name, ok, info))
  }
}

/** A workload's measured samples, in seconds unless named otherwise. */
final case class Samples(pass: Seq[Double], step: Seq[Double],
                         stepRows: Long, extra: Map[String, Any],
                         storageRatio: Double, stepTraced: Seq[Boolean])

trait Workload {
  /** Generates the inputs, registers the sources, creates indexes and
    * warms up: everything `setup_s` measures after session start. */
  def setup(ctx: Ctx): Unit
  /** The closed loop, for about `seconds` seconds of measured work. */
  def measure(ctx: Ctx, seconds: Double): Samples
  /** Output checks, after the measured loop. */
  def check(ctx: Ctx): Unit
  /** Per-layer metrics of a traced run. */
  def layers(ctx: Ctx): Map[String, Double]
}

object Main {
  val Cores = 4
  def workload(name: String, seed: Long): Workload = name match {
    case "dbt_project" => new DbtProject(seed)
    case "llm_pipeline" => new LlmPipeline(seed)
    case other => throw new IllegalArgumentException(
      s"--workload must be dbt_project or llm_pipeline, got '$other'")
  }

  def session(dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val eff = s.sparkContext.defaultParallelism
    if (eff != Cores)
      throw new IllegalStateException(
        s"effective defaultParallelism $eff != requested $Cores cores")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val start = System.nanoTime()
  /** Progress on stderr, with seconds since the process started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - start) / 1e9}%6.1f] $msg")

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length

  /** Live heap after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (opts.get("--selftest").contains("1")) { Gen.selfTest(); return }
    if (opts.get("--warm").contains("1")) {
      warm(opts("--dir"))
      System.exit(0)
    }
    val name = opts.getOrElse("--workload", "")
    val seed = opts.getOrElse("--seed", "1").toLong
    val seconds = opts.getOrElse("--seconds", "10").toDouble
    val traced = opts.getOrElse("--trace", "0") == "1"
    val work = opts.getOrElse("--dir",
      sys.error("--dir (the run's working directory) is required"))
    val traceOut = opts.get("--trace-out")
    val code =
      try run(name, seed, seconds, traced, work, traceOut)
      catch {
        case e: Throwable =>
          System.err.println("[perfbench] run aborted:")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  /** Loads the classes a run uses, for the build's class-data archive:
    * both workloads' set-up on the default seed. */
  def warm(work: String): Unit = {
    val spark = session(work)
    val ctx = new Ctx(spark, new Recorder(spark, enabled = false), 1L, work)
    new DbtProject(1L).setup(ctx)
    new LlmPipeline(1L).setup(ctx)
    stopSession(spark)
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean,
          work: String, traceOut: Option[String]): Int = {
    // set-up, once: the run's budget has no room for repeats (see the
    // benchmark's README); it starts cold, in a fresh JVM, as a user's does
    val t0 = System.nanoTime()
    val spark = session(work)
    val ctx = new Ctx(spark, new Recorder(spark, traced), seed, work)
    val w = workload(name, seed)
    w.setup(ctx)
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"set-up: $setupS%.2fs")
    val stamp = Map(
      "workload" -> name, "seed" -> seed, "traced" -> traced,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "sf_dir" -> "src")

    val samples = w.measure(ctx, seconds)
    log(s"measured: passes ${samples.pass.map(x => f"$x%.2f").mkString(" ")}, " +
      s"${samples.step.size} steps, median ${Stats.median(samples.step)}")
    w.check(ctx)
    log("checked")
    val heap = liveHeapMb()
    traceOut.foreach { path =>
      ctx.rec.drain()
      Files.write(Paths.get(path), Json(Map("env" -> stamp,
        "spans" -> ctx.rec.dump(s"$name-$seed"))).getBytes("UTF-8"))
    }
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        ctx.rec.drain()
        // step 0 is an untraced warm-up that carries the cold first calls
        val (on, off) = samples.step.zip(samples.stepTraced).drop(1)
          .partition(_._2)
        require(on.nonEmpty && off.nonEmpty,
          "a traced run needs traced and untraced steps")
        Metrics.complete(w.layers(ctx) + ("trace.overhead_s" ->
          (Stats.median(on.map(_._1)) - Stats.median(off.map(_._1)))))
      }
    val stepTime = samples.step.sum
    // one step is too short and too few to bound on its own: its time is
    // bounded as part of the session, and reported alone in the detail
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(samples.pass),
      "session_s" -> (samples.pass.sum + stepTime),
      "storage_ratio" -> samples.storageRatio,
      "heap_live_mb" -> heap)
    val errorRate = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    // the same figures under the workload's own names
    val (passN, stepN, rowsN) = Metrics.named(name)
    val n = samples.step.size
    val named = Map(
      "setup_s" -> Map("value" -> e2e("setup_s"), "unit" -> "s"),
      s"${passN}_s" -> Map("value" -> e2e("pass_s"), "unit" -> "s",
        "n" -> samples.pass.size),
      "session_s" -> Map("value" -> e2e("session_s"), "unit" -> "s"),
      s"${stepN}_p50_s" -> Map("value" -> Stats.median(samples.step),
        "unit" -> "s", "n" -> n),
      s"${stepN}_tail_s" -> Map("value" -> Stats.tail(samples.step),
        "unit" -> "s", "quantile" -> Stats.tailQuantile(n), "n" -> n),
      rowsN -> Map("value" -> samples.stepRows / stepTime,
        "unit" -> "rows/s"),
      "storage_ratio" -> Map("value" -> samples.storageRatio, "unit" -> "ratio"),
      "heap_live_mb" -> Map("value" -> heap, "unit" -> "MiB"),
      "error_rate" -> Map("value" -> errorRate, "unit" -> "ratio"))
    val detail = Map(
      "env" -> stamp,
      "metrics" -> named,
      "pass_samples_s" -> samples.pass,
      "step_samples_s" -> samples.step,
      "checks" -> ctx.checks.toSeq.map { case (n, ok, info) =>
        Map("check" -> n, "ok" -> ok, "info" -> info) }) ++ samples.extra
    println(Json(Map("detail" -> detail)))
    stopSession(spark)
    val units = Metrics.units
    val metrics = (if (traced) layers else e2e).map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> units(k))
    }
    println(Json(Map("correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> metrics)))
    0
  }
}

/** Minimal JSON encoder for the result lines and the trace file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
