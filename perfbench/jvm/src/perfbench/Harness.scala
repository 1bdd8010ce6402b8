package perfbench

import graft.ext.CacheLease
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The closed loop's bookkeeping: one caller issues each engine call only
  * after the previous one returned. An operation is ONE engine call, timed
  * alone after the session caches are cleared; its output check runs right
  * after, untimed for the operation but inside the pass time. */
final class Harness(val spark: SparkSession, val tracer: Tracer, val scratch: Path) {

  private val passes = mutable.ArrayBuffer[Map[String, Any]]()
  private var ops = mutable.ArrayBuffer[Map[String, Any]]()
  private var opNo = 0
  private var busyS = 0.0
  private var cpuS = 0.0
  private var filesWritten = 0L
  private var bytesWritten = 0L
  private var obsNo = 0
  private var notes = Map.empty[String, Any]

  /** Attaches a measured value (e.g. a recall) to the current operation. */
  def note(key: String, value: Any): Unit = notes += key -> value

  /** A fresh, unique observation name (observations must not be reused). */
  def observationName(): String = { obsNo += 1; s"perfbench_check_$obsNo" }

  /** Times `call` as one operation and records it with the verdict of
    * `check` (None = correct, Some(reason) = failed). An exception in either
    * counts as a failed operation. In traced passes the parquet files that
    * appear under `watch` during the call are counted as written files. */
  def op[T](slot: String, name: String, layer: String, watch: Seq[Path] = Nil)(
      call: => T)(check: T => Option[String]): Unit = {
    CacheLease.releaseAll(spark)
    spark.catalog.clearCache()
    tracer.drain()
    val id = opNo
    opNo += 1
    notes = Map.empty
    val filesBefore = if (tracer.enabled) FileTree.parquetSizes(watch) else Map.empty[String, Long]
    val in0 = tracer.inputBytes.get
    val out0 = tracer.outputBytes.get
    val cpu0 = Proc.userCpuS()
    val t0 = System.nanoTime()
    val result = try Right(tracer.span(name, layer, "op", id)(call))
      catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    tracer.drain()
    val inB = tracer.inputBytes.get - in0
    val outB = tracer.outputBytes.get - out0
    val t1 = System.nanoTime()
    val verdict = result match {
      case Left(e) => Some(s"threw: $e")
      case Right(v) =>
        try tracer.span(s"check $name", "bench", "check", id)(check(v))
        catch { case NonFatal(e) => Some(s"check threw: $e") }
    }
    busyS += secs + (System.nanoTime() - t1) / 1e9
    cpuS += Proc.userCpuS() - cpu0
    if (tracer.enabled) {
      val after = FileTree.parquetSizes(watch)
      val fresh = after.keySet -- filesBefore.keySet
      filesWritten += fresh.size
      bytesWritten += fresh.toSeq.map(after).sum
    }
    verdict.foreach(r => System.err.println(s"[perfbench] operation $name failed: $r"))
    ops += Map("op" -> id, "slot" -> slot, "name" -> name, "layer" -> layer,
      "s" -> secs, "ok" -> verdict.isEmpty, "error" -> verdict.getOrElse(""),
      "in_bytes" -> inB, "out_bytes" -> outB, "notes" -> notes)
  }

  /** One pass of a workload. Input preparation inside `body` (copying a
    * pristine target, deleting outputs) is not operation time, so pass_s
    * counts only the operations and their checks. */
  def pass(kind: String, traced: Boolean)(body: => Unit): Unit = {
    System.gc() // every pass starts from a collected heap
    Proc.takePeakHeapAfterGc()
    ops = mutable.ArrayBuffer()
    busyS = 0.0; cpuS = 0.0; filesWritten = 0L; bytesWritten = 0L
    tracer.enabled = traced
    val gc0 = Proc.gcS()
    val t0 = System.nanoTime()
    try tracer.span("pass", "bench", "pass")(body)
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
      System.err.println(f"[perfbench] $kind pass${if (traced) " (traced)" else ""}: " +
        f"operations and checks $busyS%.3f s, wall $wall%.3f s")
      passes += Map("kind" -> kind, "traced" -> traced, "pass_s" -> busyS,
        "wall_s" -> wall, "user_cpu_s" -> cpuS, "gc_s" -> (Proc.gcS() - gc0),
        "peak_heap_mb" -> Proc.takePeakHeapAfterGc() / 1048576.0,
        "files_written" -> filesWritten, "file_bytes_written" -> bytesWritten,
        "ops" -> ops.toList)
    }
  }

  def passRecords: List[Map[String, Any]] = passes.toList
}

/** File-system helpers for the benchmark's own scratch directories. */
object FileTree {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally s.close()
  }

  /** path -> size of every parquet file under the given roots. */
  def parquetSizes(roots: Seq[Path]): Map[String, Long] =
    roots.filter(Files.exists(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toList
      finally s.close()
    }.toMap
}
