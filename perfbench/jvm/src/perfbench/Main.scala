package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Benchmark process: one workload, one seed, one closed-loop caller.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json>
  * }}}
  *
  * Spark runs as `local[k]` with k = min([[MaxCores]], available processors).
  *
  * Set-up runs [[SetupRuns]] times (the median is the set-up time), then
  * [[WarmupPasses]] untimed passes, then timed passes until `--seconds` have
  * elapsed (at least [[MinPasses]]). With `--trace 1` timed passes alternate
  * untraced and traced, starting and ending untraced (at least
  * [[MinPasses]] + 1), so the tracing overhead is measured in the same
  * process with the warm-up trend on both sides. The raw record is written
  * to `--out`; `run.py` summarises it. */
object Main {
  val SetupRuns = 3
  val WarmupPasses = 1
  val MinPasses = 2
  val MaxCores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Path.of(a("work")).toAbsolutePath
    val cores = math.min(MaxCores, Runtime.getRuntime.availableProcessors)
    val scratch = work.resolve("scratch")
    FileTree.delete(scratch)
    Files.createDirectories(scratch)

    val spark = session(cores, work)
    val sessionStartS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark, traced)
    val h = new Harness(spark, tracer, scratch)
    val cache = work.resolve("inputs")
    val wl: Workload = workload match {
      case "sync_lifecycle" => new SyncLifecycle(h, cache, seed, rows = 10000, payloadBytes = 512)
      case "llm_pipeline" => new LlmPipeline(h, cache, seed, docs = 500, dups = 25, vectors = 1500)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = (1 to SetupRuns).map { _ =>
      val t0 = System.nanoTime()
      wl.setup()
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $s%.3f s")
      s
    }
    (1 to WarmupPasses).foreach(_ => h.pass("warmup", traced = false)(wl.pass()))
    val t0 = System.nanoTime()
    var n = 0
    val minPasses = if (traced) MinPasses + 1 else MinPasses
    while (n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds || (traced && n % 2 == 0)) {
      h.pass("timed", traced = traced && n % 2 == 1)(wl.pass())
      n += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    val conf = spark.conf.getAll.filter { case (k, _) =>
      !k.startsWith("spark.app.") && !k.contains(".id") && !k.contains("host") &&
        !k.contains(".port") && !k.endsWith("startTime")
    } ++ Map("jvm.max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jvm.version" -> System.getProperty("java.version"),
      "spark.version" -> spark.version,
      "jvm.input_arguments" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toString)
    val result = Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "conf" -> conf, "slots" -> wl.slots.toMap, "sizes" -> wl.sizes,
      "source_rows" -> wl.sourceRows, "session_start_s" -> sessionStartS,
      "setup_s" -> setupS, "measured_s" -> measuredS, "passes" -> h.passRecords) ++
      (if (traced) tracer.dump() else Map.empty)
    Files.write(Path.of(a("out")), Serialization.write(result)(DefaultFormats).getBytes(UTF_8))
    spark.stop()
    FileTree.delete(scratch)
  }

  /** Single-process Spark with k task slots; every setting is recorded
    * with the result. Temporary and warehouse files stay under `work`. */
  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
}
