package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark run, as passed by run.py. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      traced: Boolean, work: Path, data: Path, out: Path)

/** What a workload hands back besides its ledger of ops. */
final class Outcome {
  /** Wall seconds of each repetition of the workload's set-up. */
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** Wall seconds of the timed window. */
  var measureS = 0.0
  /** Named correctness checks: (name, passed, detail). */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Bytes under the warehouse and history dirs, and live rows, at the end. */
  var storedBytes = 0L
  var liveRows = 0L
  /** Free-form extra facts for the run's side file. */
  val extra = mutable.LinkedHashMap.empty[String, String]
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
}

trait Workload {
  def run(spark: SparkSession, a: Args, ledger: Ledger, out: Outcome): Unit
}

/** Entry point of the harness JVM. Runs one workload in one local[4]
  * session and writes a JSON record of every op to `--out`; run.py turns
  * it into the benchmark's metrics. */
object Main {
  /** Whether to start another whole pass of a timed window that began at
    * `start` and has run `done` passes: yes while the window, ending after
    * that pass, would end closer to `seconds` than it does now. */
  def another(start: Long, seconds: Double, done: Int): Boolean = {
    val elapsed = (System.nanoTime() - start) / 1e9
    done == 0 || elapsed + elapsed / done / 2 < seconds
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("work")).toAbsolutePath,
      Paths.get(kv("data")).toAbsolutePath, Paths.get(kv("out")).toAbsolutePath)
    val wl: Workload = a.workload match {
      case "ingest_trickle" => Ingest
      case "query_mix" => QueryMix
      case "lifecycle_mix" => Lifecycle
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
    if (a.traced) {
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      Ledger.TracedConf.foreach { case (k, v) => builder.config(k, v) }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (a.traced) CountingLocalFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ledger = new Ledger(spark, a.traced)
    val out = new Outcome
    try wl.run(spark, a, ledger, out)
    catch {
      case t: Throwable if scala.util.control.NonFatal(t) =>
        out.check("workload completed", ok = false, s"$t")
        t.printStackTrace()
    }
    val heapMb = Report.retainedHeapMb()
    Files.write(a.out, Report.json(a, sessionS, heapMb, ledger, out)
      .getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
