package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM:
  *
  * `Main --workload <search|curate> --seed <n> --seconds <s>
  *       --trace <0|1> --work <dir> --cpus <n>`
  *
  * Generates the workload's inputs from the seed under `<dir>`, drives
  * the engine in-process through its public entry points, checks the
  * outputs, and prints one tab-separated line per metric
  * (`metric <name> <value> <unit>`), one per check
  * (`check <ok|FAIL> <what>`) and a final `counts <attempted> <failed>`.
  * `perfbench/run.py` turns those lines into the benchmark record. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, cpus: Int)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toInt,
      req("--trace") == "1", req("--work"), req("--cpus").toInt)
  }

  /** Metrics and check outcomes of one run, printed at the end. */
  final class Report {
    private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    private val checks = mutable.ArrayBuffer[(Boolean, String)]()
    private var ops = 0L
    private var opFailures = 0L

    def put(name: String, value: Double, unit: String): Unit =
      synchronized { metrics(name) = (value, unit) }

    /** One operation (request, admission, pass) attempted. */
    def op(ok: Boolean): Unit = synchronized {
      ops += 1; if (!ok) opFailures += 1
    }

    def check(ok: Boolean, what: String): Unit = synchronized {
      checks += ((ok, what))
    }

    def attempted: Long = synchronized(ops + checks.size)
    def failed: Long = synchronized(opFailures + checks.count(!_._1))

    def print(): Unit = synchronized {
      put("fail_ratio", failed.toDouble / math.max(1L, attempted), "ratio")
      checks.foreach { case (ok, what) =>
        println(s"check\t${if (ok) "ok" else "FAIL"}\t$what")
      }
      metrics.foreach { case (n, (v, u)) => println(s"metric\t$n\t$v\t$u") }
      println(s"counts\t$attempted\t$failed")
    }
  }

  // ---- small statistics helpers ------------------------------------

  /** Nearest-rank quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def ms(ns: Long): Double = ns / 1e6

  /** Fixed pure-JVM CPU probe (SHA-256 over 16 MiB, timed after one
    * untimed warm-up pass so the JIT state does not show): its wall time
    * moves only with the host, never with the program under test. */
  def controlProbeMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    def pass(): Long = {
      val t0 = System.nanoTime()
      (0 until 16).foreach(_ => md.update(buf))
      md.digest()
      System.nanoTime() - t0
    }
    pass()
    ms(pass())
  }

  /** Storage held by persisted RDDs and frames, memory plus disk. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  /** Bytes under a directory tree. */
  def treeBytes(path: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(path)) 0L else {
      val s = java.nio.file.Files.walk(path)
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }

  def treeFiles(path: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(path)) 0L else {
      val s = java.nio.file.Files.walk(path)
      try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val report = new Report
    val control0 = controlProbeMs()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.build(cpus = a.cpus.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    report.put("setup.session_s", sessionS, "s")
    try {
      a.workload match {
        case "search" => Serving.search(spark, a, report, sessionS)
        case "curate" => Curate.run(spark, a, report, sessionS)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        report.check(ok = false, s"workload raised ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
    }
    val control1 = controlProbeMs()
    report.put("host.control_start_ms", control0, "ms")
    report.put("host.control_end_ms", control1, "ms")
    report.put("host.control_ms", (control0 + control1) / 2, "ms")
    report.print()
    System.out.flush()
    spark.stop()
    // no thread the program left behind may keep the process alive
    System.exit(0)
  }
}
