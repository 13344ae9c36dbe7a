package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `query_mix`: read-only analytics over the fixed sf0.1 tables. A fixed
  * subset of registered queries, including the carried slow item t16,
  * runs in a seeded order per pass, each consumed through a `noop` write
  * as `graft.Bench` does. q63, dedup and multimodal are left out for the
  * time budget (see `Subset`). No query in the subset commits to a
  * warehouse, so `load/` is not touched. */
object QueryMix extends Workload {
  /** Registry prefixes of the subset: the carried t16 BPE loop, a
    * non-committing streaming query, and one query each of the
    * relational, corpus, similarity and graph families. A run must fit
    * the benchmark's time budget, and a query runs in the cold pass, the
    * timed passes and the check pass of every run; so q63 (the recursive CTE,
    * about 20 s per run on its own) and the dedup and multimodal families
    * are left out. `graft.Bench` still times them. */
  val Subset: Seq[String] = Seq("q04", "t16", "st19", "c05", "s05", "g01")

  def resolve(prefixes: Seq[String]): Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq
    prefixes.map { p =>
      names.filter(_.split("_")(0) == p) match {
        case Seq(one) => one
        case other => throw new IllegalStateException(s"query prefix $p matches $other")
      }
    }
  }

  def run(spark: SparkSession, a: Args, l: Ledger, out: Outcome): Unit = {
    val names = resolve(Subset)
    val fns = SparkEntry.queries
    val data = a.data.toString
    val oracle = SparkEntry.oracleSql
    Files.write(a.work.resolve("oracle_sql.json"),
      names.map(n => s"${Report.str(n)}: ${Report.str(oracle(n))}").mkString("{", ",", "}")
        .getBytes(StandardCharsets.UTF_8))
    // Runs every query once and writes its result under `dir` for
    // run.py's comparison with the DuckDB oracle.
    def checkedPass(dir: String): Unit = names.foreach { n =>
      val ts = System.nanoTime()
      fns(n)(spark, data).write.mode("overwrite")
        .parquet(a.work.resolve(s"$dir/$n").toString)
      out.extra(s"${dir}_ms.$n") = f"${(System.nanoTime() - ts) / 1e6}%.1f"
    }

    // Set-up: the cold pass.
    val t0 = System.nanoTime()
    checkedPass("cold")
    out.setupS += (System.nanoTime() - t0) / 1e9

    val rnd = new scala.util.Random(a.seed)
    val start = System.nanoTime()
    var passes = 0
    while (Main.another(start, a.seconds, passes)) {
      rnd.shuffle(names).foreach { n =>
        l.op(s"query:$n", "query") {
          val df = l.call("queries.build") { fns(n)(spark, data) }
          l.call("exec.noop") { df.write.format("noop").mode("overwrite").save() }
        }
      }
      passes += 1
    }
    out.measureS = (System.nanoTime() - start) / 1e9
    // Untimed: the same queries again in the same session, so a defect
    // that shows only when a query runs again (a stale cached plan or
    // result) fails the oracle check too.
    checkedPass("after")
    out.extra("passes") = passes.toString
    out.extra("queries") = names.mkString(",")
  }
}
