package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.Locale

import scala.jdk.CollectionConverters._

/** Renders a run as JSON for run.py, and holds the span arithmetic. */
object Report {
  /** Driver heap in use after a full collection, in MB (10^6 bytes). Spark frees
    * broadcast and shuffle blocks asynchronously once their owners are
    * collected, so collect several times and keep the smallest reading. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  /** Total size of the regular files under `dirs`. */
  def bytesUnder(dirs: Path*): Long = dirs.filter(Files.exists(_)).map { d =>
    val s = Files.walk(d)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }.sum

  /** Length of the union of `spans`, each clipped to [lo, hi]. */
  def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    cl.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time (ms) of each layer within one op: a layer call's self
    * time is its span minus the Spark jobs inside it; `spark` is the
    * union of the op's job intervals; `harness` is the remainder, so the
    * values sum to the op's wall time. */
  def selfTimes(o: Op): Seq[(String, Double)] = {
    val byLayer = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var inCalls = 0L
    o.calls.foreach { c =>
      val layer = c.layer.takeWhile(_ != '.')
      val self = (c.endNs - c.startNs) - covered(o.jobs.toSeq, c.startNs, c.endNs)
      byLayer(layer) = byLayer.getOrElse(layer, 0L) + self
      inCalls += c.endNs - c.startNs
    }
    val jobs = covered(o.jobs.toSeq, o.startNs, o.endNs)
    val jobsInCalls = o.calls.map(c => covered(o.jobs.toSeq, c.startNs, c.endNs)).sum
    val harness = (o.endNs - o.startNs) - inCalls - (jobs - jobsInCalls)
    (byLayer.toSeq :+ ("spark" -> jobs) :+ ("harness" -> harness))
      .map { case (k, ns) => k -> ns / 1e6 }
  }

  /** A JSON string literal. */
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(d))
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def json(a: Args, sessionS: Double, heapMb: Double, l: Ledger, out: Outcome): String = {
    val ops = l.ops.map { o =>
      val base = Seq(
        "kind" -> str(o.kind), "cls" -> str(o.cls), "ms" -> num(o.ms),
        "ok" -> o.ok.toString, "error" -> str(o.error),
        "calls" -> obj(o.calls.groupBy(_.layer).toSeq.map { case (k, cs) =>
          k -> num(cs.map(_.ms).sum) }))
      val traced =
        if (!l.traced) Nil
        else Seq(
          "counters" -> obj(o.counters.toSeq.map { case (k, v) => k -> num(v) }),
          "self" -> obj(selfTimes(o).map { case (k, v) => k -> num(v) }),
          "driver_gap_ms" -> num(o.ms - covered(o.jobs.toSeq, o.startNs, o.endNs) / 1e6),
          // spans relative to the op start: [name, start ms, end ms]
          "spans" -> (o.calls.map(c => (c.layer, c.startNs, c.endNs)) ++
            o.jobs.map { case (s, e) => ("spark.job", s, e) }).map { case (n, s, e) =>
              s"[${str(n)},${num((s - o.startNs) / 1e6)},${num((e - o.startNs) / 1e6)}]"
            }.mkString("[", ",", "]"))
      obj(base ++ traced)
    }
    obj(Seq(
      "workload" -> str(a.workload),
      "seed" -> a.seed.toString,
      "traced" -> l.traced.toString,
      "session_start_s" -> num(sessionS),
      "setup_s" -> out.setupS.map(num).mkString("[", ",", "]"),
      "measure_s" -> num(out.measureS),
      "heap_retained_mb" -> num(heapMb),
      "stored_bytes" -> out.storedBytes.toString,
      "live_rows" -> out.liveRows.toString,
      "checks" -> out.checks.map { case (n, ok, d) =>
        obj(Seq("name" -> str(n), "ok" -> ok.toString, "detail" -> str(d)))
      }.mkString("[", ",", "]"),
      "extra" -> obj(out.extra.toSeq.map { case (k, v) => k -> str(v) }),
      "ops" -> ops.mkString("[", ",", "]")))
  }
}
