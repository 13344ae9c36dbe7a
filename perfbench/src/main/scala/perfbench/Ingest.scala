package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.load.WarehouseLoad
import graft.sources.CsvSource
import graft.transform.Transcode

/** `ingest_trickle`: the paper's own path. Small CSV arrivals (made by
  * run.py from the seed) land one at a time; each op crawls, reads and
  * transcodes the arrival, moves the JSON parts into the flat staging
  * dir, runs the idempotent COPY-style load and reads the warehouse
  * back (visibility read). */
object Ingest extends Workload {
  /** The warehouse DDL of the reference `customers` table. */
  val Target: StructType = StructType(Seq(
    "customerid" -> LongType, "namestyle" -> BooleanType, "title" -> StringType,
    "firstname" -> StringType, "middlename" -> StringType, "lastname" -> StringType,
    "suffix" -> StringType, "companyname" -> StringType, "salesperson" -> StringType,
    "emailaddress" -> StringType, "phone" -> StringType, "passwordhash" -> StringType,
    "passwordsalt" -> StringType, "rowguid" -> StringType, "modifieddate" -> TimestampType
  ).map { case (n, t) => StructField(n, t) })

  def liveBatches(spark: SparkSession, hist: String): Int =
    WarehouseLoad.versionBatches(spark, hist, WarehouseLoad.currentVersion(spark, hist))
      .map(_.size).getOrElse(0)

  private def csvs(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".csv")).toSeq.sortBy(_.toString)
    finally s.close()
  }

  private def dataRows(csv: Path): Long = {
    val s = Files.lines(csv)
    try s.count() - 1 finally s.close()
  }

  /** The dirs of one ingest pipeline instance. */
  private final class Pipe(root: Path) {
    val wh: String = root.resolve("warehouse").toString
    val hist: String = root.resolve("history").toString
    val staging: Path = root.resolve("staging")
    Files.createDirectories(staging)

    /** One arrival end to end; returns the visible row count and the
      * DataFrame of the visibility read. */
    def arrive(spark: SparkSession, l: Ledger, csv: Path, i: Int): (Long, DataFrame) = {
      val landing = root.resolve(f"landing/a$i%05d")
      Files.createDirectories(landing)
      Files.copy(csv, landing.resolve(csv.getFileName))
      val schema = l.call("sources.infer") {
        CsvSource.infer(spark, landing.toString, "arrival")
      }
      val df = l.call("sources.read") { CsvSource.read(spark, landing.toString, schema) }
      val json = root.resolve(f"json/a$i%05d")
      l.call("transform.to_json") { Transcode.toJson(df, json.toString) }
      val parts = Files.list(json)
      try parts.iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
        .foreach(p => Files.move(p, staging.resolve(f"a$i%05d-${p.getFileName}"),
          StandardCopyOption.ATOMIC_MOVE))
      finally parts.close()
      l.call("load.commit") {
        WarehouseLoad.batchIdempotent(spark, staging.toString, Target, wh, hist)
      }
      val read = l.call("load.read_plan") { WarehouseLoad.readWarehouse(spark, wh, hist).get }
      (l.call("exec.count") { read.count() }, read)
    }
  }

  def run(spark: SparkSession, a: Args, l: Ledger, out: Outcome): Unit = {
    val input = a.work.resolve("input")
    val warm = csvs(input.resolve("warm"))
    val timed = csvs(input.resolve("timed"))
    require(warm.size >= 6 && timed.nonEmpty, "ingest inputs missing")

    // Set-up: three fresh pipelines, each committing two warm arrivals.
    // Untimed by the ledger (a throwaway ledger records nothing).
    val scratch = new Ledger(spark, traced = false)
    warm.grouped(2).take(3).zipWithIndex.foreach { case (files, r) =>
      val t0 = System.nanoTime()
      val p = new Pipe(a.work.resolve(s"setup$r"))
      files.zipWithIndex.foreach { case (f, i) => p.arrive(spark, scratch, f, i) }
      out.setupS += (System.nanoTime() - t0) / 1e9
    }

    val root = a.work.resolve("run")
    val p = new Pipe(root)
    var expected = 0L
    var mismatches = 0
    var firstBad = ""
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    val it = timed.iterator.zipWithIndex
    while (System.nanoTime() < deadline && it.hasNext) {
      val (csv, i) = it.next()
      val rows = dataRows(csv)
      l.op("arrival", "write+read") { p.arrive(spark, l, csv, i) } match {
        case Some((n, read)) =>
          if (l.traced) {
            l.note("rows_out", n.toDouble)
            l.note("plans.roots", Lifecycle.roots(read).toDouble)
            l.note("plans.batches", liveBatches(spark, p.hist).toDouble)
          }
          expected += rows
          if (n != expected) {
            mismatches += 1
            if (firstBad.isEmpty) firstBad = s"arrival $i: visible $n, expected $expected"
          }
        case None => ()
      }
    }
    out.measureS = (System.nanoTime() - t0) / 1e9
    val arrivals = l.ops.size
    out.extra("arrivals") = arrivals.toString
    out.extra("inputs_exhausted") = (!it.hasNext).toString
    out.check("every visibility read sees exactly the rows landed so far",
      mismatches == 0, firstBad)

    // A re-run with nothing new staged must commit nothing.
    val hist = root.resolve("history").toString
    val wh = root.resolve("warehouse").toString
    val v0 = WarehouseLoad.currentVersion(spark, hist)
    WarehouseLoad.batchIdempotent(spark, p.staging.toString, Target, wh, hist)
    val v1 = WarehouseLoad.currentVersion(spark, hist)
    out.check("idempotent re-run commits nothing", v0 == v1, s"version $v0 -> $v1")

    // The final table, for run.py's content comparison with the input.
    val fin = WarehouseLoad.readWarehouse(spark, wh, hist).get
    fin.write.mode("overwrite").parquet(a.work.resolve("final").toString)
    out.liveRows = fin.count()
    out.check("final row count equals the rows landed", out.liveRows == expected,
      s"${out.liveRows} rows, expected $expected")
    out.storedBytes = Report.bytesUnder(root.resolve("warehouse"), root.resolve("history"))
    out.extra("live_batches") = liveBatches(spark, hist).toString
  }
}
