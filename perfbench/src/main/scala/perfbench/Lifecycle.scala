package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.load.WarehouseLoad
import graft.streaming.CommitLogStreamProvider

/** `lifecycle_mix`: writes beside reads on one committed table. The
  * table starts as the sf0.1 `orders` fixture committed in four
  * key-range batches; each cycle then runs a fixed multiset of ops in a
  * seeded order — streamed appends, MERGEs, deletion-vector takedowns,
  * zone-pruned range reads, time-travel reads and grouped full scans —
  * and ends with the maintenance pass (compactSmall, then vacuum).
  *
  * Maintenance policy: once per cycle, fold every batch under 64 MiB and
  * vacuum all but the last 10 versions. A cycle's mutations come in a
  * fixed order, one MERGE then nine takedowns, all keyed in the first
  * fixture batch's key range (the "hot" range); the seed interleaves the
  * appends and reads with them. So the hot batch takes ten mutations
  * between two compactions. Each one extends the batch id (a takedown by
  * 19 characters, a MERGE by 35), and the intent marker's temporary
  * checksum file adds 20 more: the tenth mutation's file name passes the
  * 255-byte limit and fails with "File name too long" at HEAD, once per
  * cycle, which shows in failed_ratio. */
object Lifecycle extends Workload {
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  private val Cols = Schema.fieldNames.toSeq.map(col)

  val FixtureRows = 150000L
  val FixtureBatches = 4
  val HotKeys = FixtureRows / FixtureBatches
  val SmallBytes: Long = 64L << 20
  val RetainVersions = 10
  /** The mutations of one cycle, in order. */
  val Mutations: Seq[String] = "merge" +: Seq.fill(9)("takedown")
  /** The other ops of one cycle, interleaved with the mutations by seed. */
  val Others: Seq[String] =
    Seq.fill(2)("append") ++ Seq.fill(8)("point") ++ Seq.fill(2)("travel") ++
      Seq.fill(2)("scan")
  val AppendRows = 500
  val MergeUpdates = 150
  val MergeInserts = 50
  val TakedownKeys = 100
  val PointWidth = 3000L

  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  final case class Order(key: Long, cust: Long, status: String, price: Double,
                         dateMicros: Long, prio: String) {
    /** Spark's xxhash64 over the six columns, seed 42. */
    val hash: Long = {
      var h = 42L
      h = XxHash64Function.hash(key, LongType, h)
      h = XxHash64Function.hash(cust, LongType, h)
      h = XxHash64Function.hash(UTF8String.fromString(status), StringType, h)
      h = XxHash64Function.hash(price, DoubleType, h)
      h = XxHash64Function.hash(dateMicros, TimestampType, h)
      XxHash64Function.hash(UTF8String.fromString(prio), StringType, h)
    }
    def toRow: Row = {
      val ts = new java.sql.Timestamp(Math.floorDiv(dateMicros, 1000L))
      ts.setNanos((Math.floorMod(dateMicros, 1000000L) * 1000L).toInt)
      Row(key, cust, status, price, ts, prio)
    }
    def json: String =
      s"""{"o_orderkey":$key,"o_custkey":$cust,"o_orderstatus":"$status",""" +
        s""""o_totalprice":$price,"o_orderdate":"${java.time.Instant.EPOCH
          .plusNanos(dateMicros * 1000L)}","o_orderpriority":"$prio"}"""
  }

  /** Order-independent content fingerprint: rows, key sum, xor of row hashes. */
  final case class Fp(rows: Long, keySum: Long, xor: Long)
  def fp(rows: Iterable[Order]): Fp =
    rows.foldLeft(Fp(0, 0, 0))((f, o) => Fp(f.rows + 1, f.keySum + o.key, f.xor ^ o.hash))
  private val FpAggs = Seq(count(lit(1)), coalesce(sum(col("o_orderkey")), lit(0L)),
    coalesce(bit_xor(xxhash64(Cols: _*)), lit(0L)))
  private def fpOf(r: Row, at: Int = 0): Fp = Fp(r.getLong(at), r.getLong(at + 1), r.getLong(at + 2))

  /** File-source roots left in a DataFrame's optimized plan. */
  def roots(d: DataFrame): Int = d.queryExecution.optimizedPlan.collect {
    case lr: LogicalRelation => lr.relation match {
      case r: HadoopFsRelation => r.location.rootPaths.size
      case _ => 0
    }
  }.sum

  private final class Table(root: Path) {
    val wh: String = root.resolve("warehouse").toString
    val hist: String = root.resolve("history").toString
    val staging: Path = root.resolve("staging")
    val streamIn: Path = root.resolve("stream-in")
    val ckpt: String = root.resolve("stream-ckpt").toString
    Seq(staging, streamIn).foreach(Files.createDirectories(_))
  }

  def run(spark: SparkSession, a: Args, l: Ledger, out: Outcome): Unit = {
    // ---- inputs: the fixture as four JSON files, and the model's rows
    val orders = spark.read.parquet(a.data.resolve("orders.parquet").toString)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), unix_micros(col("o_orderdate").cast(TimestampType)),
        col("o_orderpriority"))
    val model = mutable.HashMap.empty[Long, Order]
    orders.collect().foreach { r =>
      val o = Order(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4), r.getString(5))
      model(o.key) = o
    }
    require(model.size == FixtureRows, s"orders fixture has ${model.size} rows")
    val src = a.work.resolve("fixture-src")
    Files.createDirectories(src)
    (0 until FixtureBatches).foreach { b =>
      val lines = model.valuesIterator
        .filter(_.key / HotKeys == b).toSeq.sortBy(_.key).map(_.json)
      Files.write(src.resolve(s"orders-$b.json"), lines.asJava, StandardCharsets.UTF_8)
    }

    // ---- set-up: commit the fixture, three times into fresh tables
    val fixtureFp = (1 to FixtureBatches).map(v =>
      v.toLong -> fp(model.values.filter(_.key < v * HotKeys))).toMap
    var t: Table = null
    (0 until 3).foreach { r =>
      val t0 = System.nanoTime()
      t = new Table(a.work.resolve(s"setup$r"))
      (0 until FixtureBatches).foreach { b =>
        Files.copy(src.resolve(s"orders-$b.json"), t.staging.resolve(s"orders-$b.json"))
        WarehouseLoad.batchIdempotent(spark, t.staging.toString, Schema, t.wh, t.hist)
      }
      val got = fpOf(WarehouseLoad.readWarehouse(spark, t.wh, t.hist).get
        .agg(FpAggs.head, FpAggs.tail: _*).collect().head)
      out.setupS += (System.nanoTime() - t0) / 1e9
      out.check(s"fixture table $r equals the orders input", got == fixtureFp(FixtureBatches),
        s"$got vs ${fixtureFp(FixtureBatches)}")
    }

    // ---- the timed cycles
    val versionFp = mutable.HashMap.empty[Long, Fp] ++= fixtureFp
    var head = WarehouseLoad.currentVersion(spark, t.hist)
    var nextKey = FixtureRows
    val rnd = new scala.util.Random(a.seed)
    var bad = 0
    var firstBad = ""
    def expect(what: String, ok: Boolean, detail: => String): Unit =
      if (!ok) { bad += 1; if (firstBad.isEmpty) firstBad = s"$what: $detail" }

    def newOrder(key: Long): Order = Order(key, rnd.nextInt(15000).toLong,
      Statuses(rnd.nextInt(3)), (rnd.nextInt(49900000) + 100000) / 100.0,
      (9131L + rnd.nextInt(2405)) * 86400L * 1000000L, Priorities(rnd.nextInt(5)))
    def hotKeys(n: Int): Seq[Long] = {
      val hot = model.keysIterator.filter(_ < HotKeys).toArray
      java.util.Arrays.sort(hot)
      rnd.shuffle(hot.toSeq).take(n)
    }
    def df(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
    /** After a write op: record the model at the new head, or check that a
      * failed op left the head where it was. */
    def settle(op: String, ok: Boolean, changes: => Unit): Unit = {
      val v = WarehouseLoad.currentVersion(spark, t.hist)
      if (ok) {
        changes
        if (v != head) {
          (head + 1 until v).foreach(versionFp.remove) // intermediate commits
          versionFp(v) = fp(model.values)
        }
        head = v
      } else expect(s"failed $op", v == head, s"head moved $head -> $v")
    }
    def notePlan(d: DataFrame, version: Long, rowsOut: Long): Unit = if (l.traced) {
      l.note("rows_out", rowsOut.toDouble)
      l.note("plans.roots", roots(d).toDouble)
      l.note("plans.batches",
        WarehouseLoad.versionBatches(spark, t.hist, version).map(_.size).getOrElse(0).toDouble)
    }

    def runOp(kind: String): Unit = kind match {
      case "append" =>
        val rows = (0 until AppendRows).map(i => newOrder(nextKey + i))
        nextKey += AppendRows
        val tmp = a.work.resolve(s"append-$nextKey.json")
        Files.write(tmp, rows.map(_.json).asJava, StandardCharsets.UTF_8)
        val r = l.op("append", "write") {
          Files.move(tmp, t.streamIn.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
          l.call("load.append") {
            val q = spark.readStream.schema(Schema).json(t.streamIn.toString)
              .writeStream.format(classOf[CommitLogStreamProvider].getName)
              .option("warehouseDir", t.wh).option("historyDir", t.hist)
              .option("checkpointLocation", t.ckpt).option("sinkId", "append")
              .trigger(Trigger.AvailableNow()).start()
            q.awaitTermination()
          }
        }
        settle(kind, r.isDefined, rows.foreach(o => model(o.key) = o))
      case "merge" =>
        val upd = hotKeys(MergeUpdates).map(newOrder)
        val ins = (0 until MergeInserts).map(i => newOrder(nextKey + i))
        nextKey += MergeInserts
        val r = l.op("merge", "write") {
          val source = df((upd ++ ins).map(_.toRow), Schema)
          l.call("load.merge") {
            WarehouseLoad.mergeCommitted(spark, t.wh, t.hist, source, Seq("o_orderkey"))
          }
        }
        r.foreach(res => expect("merge counts", res == ((MergeUpdates.toLong,
          MergeInserts.toLong)), s"$res"))
        settle(kind, r.isDefined, (upd ++ ins).foreach(o => model(o.key) = o))
      case "takedown" =>
        val keys = hotKeys(TakedownKeys)
        val r = l.op("takedown", "write") {
          val kdf = df(keys.map(Row(_)), StructType(Seq(StructField("o_orderkey", LongType))))
          l.call("load.takedown") {
            WarehouseLoad.takedownVectorized(spark, t.wh, t.hist, kdf, Seq("o_orderkey"))
          }
        }
        r.foreach(n => expect("takedown rows hidden", n == TakedownKeys, s"$n"))
        settle(kind, r.isDefined, keys.foreach(model.remove))
      case "point" =>
        val lo = (rnd.nextDouble() * (nextKey - PointWidth)).toLong
        var q: DataFrame = null
        val r = l.op("point", "read") {
          val d = l.call("load.read_plan") { WarehouseLoad.readWarehouse(spark, t.wh, t.hist).get }
          q = d.filter(col("o_orderkey") >= lo && col("o_orderkey") < lo + PointWidth)
            .agg(FpAggs.head, FpAggs.tail: _*)
          fpOf(l.call("exec.collect") { q.collect() }.head)
        }
        r.foreach { got =>
          val want = fp(model.valuesIterator.filter(o => o.key >= lo && o.key < lo + PointWidth)
            .toSeq)
          expect(s"point read [$lo, ${lo + PointWidth})", got == want, s"$got vs $want")
          notePlan(q, head, got.rows)
        }
      case "travel" =>
        val cutoff = math.max(1L, head - RetainVersions + 1)
        val v = cutoff + rnd.nextInt((head - cutoff + 1).toInt)
        var q: DataFrame = null
        val r = l.op("travel", "read") {
          val d = l.call("load.read_plan") {
            WarehouseLoad.readWarehouseAt(spark, t.wh, t.hist, v).get
          }
          q = d.agg(FpAggs.head, FpAggs.tail: _*)
          fpOf(l.call("exec.collect") { q.collect() }.head)
        }
        r.foreach { got =>
          versionFp.get(v).foreach(want =>
            expect(s"time travel to version $v", got == want, s"$got vs $want"))
          notePlan(q, v, got.rows)
        }
      case "scan" =>
        var q: DataFrame = null
        val r = l.op("scan", "read") {
          val d = l.call("load.read_plan") { WarehouseLoad.readWarehouse(spark, t.wh, t.hist).get }
          q = d.groupBy(col("o_orderstatus")).agg(FpAggs.head, FpAggs.tail: _*)
          l.call("exec.collect") { q.collect() }
            .map(row => row.getString(0) -> fpOf(row, 1)).toMap
        }
        r.foreach { got =>
          val want = model.values.groupBy(_.status).map { case (s, os) => s -> fp(os) }
          expect("grouped scan", got == want, s"$got vs $want")
          notePlan(q, head, got.values.map(_.rows).sum)
        }
      case "compact" =>
        val r = l.op("compact", "write") {
          l.call("load.compact") { WarehouseLoad.compactSmall(spark, t.wh, t.hist, SmallBytes) }
        }
        settle(kind, r.isDefined, ())
      case "vacuum" =>
        val r = l.op("vacuum", "maint") {
          l.call("load.vacuum") {
            WarehouseLoad.vacuum(spark, t.wh, t.hist, retainVersions = RetainVersions)
          }
        }
        settle(kind, r.isDefined, ())
    }

    val start = System.nanoTime()
    var cycles = 0
    while (Main.another(start, a.seconds, cycles)) {
      // seeded slots for the mutations; they keep their fixed order
      val slots = rnd.shuffle((0 until Mutations.size + Others.size).toList)
        .take(Mutations.size).toSet
      val muts = Mutations.iterator
      val rest = rnd.shuffle(Others).iterator
      (0 until Mutations.size + Others.size)
        .map(i => if (slots(i)) muts.next() else rest.next())
        .foreach(runOp)
      Seq("compact", "vacuum").foreach(runOp)
      cycles += 1
    }
    out.measureS = (System.nanoTime() - start) / 1e9
    out.extra("cycles") = cycles.toString
    out.check("every read equals the model of the ops that succeeded", bad == 0, firstBad)

    // ---- end of run: the head and every retained version
    val cutoff = math.max(1L, head - RetainVersions + 1)
    val unknown = (cutoff to head).filterNot(versionFp.contains)
    val wrong = (cutoff to head).filter(versionFp.contains).flatMap { v =>
      val got = fpOf(WarehouseLoad.readWarehouseAt(spark, t.wh, t.hist, v).get
        .agg(FpAggs.head, FpAggs.tail: _*).collect().head)
      if (got == versionFp(v)) None else Some(s"v$v: $got vs ${versionFp(v)}")
    }
    out.check("every retained version equals the model", wrong.isEmpty, wrong.mkString("; "))
    out.extra("versions_checked") = (cutoff to head).size.toString
    out.extra("versions_unknown") = unknown.mkString(",")
    out.liveRows = model.size.toLong
    out.extra("live_batches") = Ingest.liveBatches(spark, t.hist).toString
    out.storedBytes = Report.bytesUnder(Path.of(t.wh), Path.of(t.hist))
  }
}
