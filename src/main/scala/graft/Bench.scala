package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: runs every SparkEntry query against
 * SPARK_GRAFT_SF_DIR (default sf0.1), forcing full plan execution via the
 * physical plan's RDD (so projections/aggregates aren't pruned away by a
 * count-only optimization), and prints one JSON metrics line. An entry
 * whose run throws is reported as failed, by name, and is never timed.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.get(s"local[$cpus]", cpus.toInt)

    // Warm the JVM + parquet footers once so timings measure query compute.
    SparkEntry.queries("q01_agg_groupby")(spark, sfDir).queryExecution.toRdd.count()

    // One untimed run, then the timed runs; the minimum is reported. The
    // comparison target is a warm, long-running Presto server process, so
    // one-time Catalyst planning + janino codegen compilation belongs to
    // startup, not per-query throughput. The untimed run compiles each
    // entry's classes once; they stay resident for the rest of the JVM
    // because GraftSession sizes the codegen cache to the whole suite, so
    // this holds for a mixed workload too, not only for back-to-back runs.
    // Optional comma-separated filter for timing a subset in isolation.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    // Validated: 0 would make Seq.fill(0)(once()) empty and ts.min throw;
    // a non-numeric value should fail with the variable's name, not a bare
    // NumberFormatException from somewhere inside the run loop.
    val runsPerQuery = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map { v =>
      val n = try v.toInt catch { case _: NumberFormatException =>
        sys.error(s"SPARK_GRAFT_BENCH_RUNS must be an integer >= 1, got '$v'") }
      require(n >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $n")
      n
    }.getOrElse(3)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        name -> measure(name, runsPerQuery)(fn(spark, sfDir).queryExecution.toRdd.count())
      }
    val sfName = new java.io.File(sfDir).getName
    val (line, spreadJson) = report(results, sfName, runsPerQuery)
    // Full spread (all three timed runs per query, ascending) to a file —
    // the stdout JSON line must stay inside the driver's ~2000-char
    // window, so the band lives here instead. The default name carries
    // an explicit single-JVM marker and must NEVER collide with the
    // committed `bench_spread_<sf>.json` artifacts: those come from
    // scripts/spread.py's independent-JVM protocol, and a default that
    // overwrote them silently replaced a cross-JVM measurement with
    // this run's in-JVM one (exactly the provenance confusion the r12
    // advice flagged — and a subset bench run in the repo root
    // reproduced it once in r13 before this rename).
    val spreadPath = sys.env.getOrElse("SPARK_GRAFT_SPREAD_OUT",
      s"bench_spread_inJVM_$sfName.json")
    // best-effort: an unwritable CWD must never cost the metrics line below
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(spreadPath), spreadJson)
    catch { case e: Exception =>
      System.err.println(s"[bench] spread write failed: ${e.getMessage}") }
    println(line)
    spark.stop()
  }

  /** One entry's timed runs in seconds, or the first failure's message.
    * A run that throws fails the whole entry: its elapsed time is never
    * reported as if it had succeeded. */
  private[graft] def measure(name: String, runs: Int)(run: => Unit): Either[String, Seq[Double]] = {
    def once(): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { run; Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        Left(e.toString)
      }
    }
    val warm = once()
    // GC between queries: lets the ContextCleaner drop the previous
    // query's broadcasts/shuffles so their collection isn't billed to a
    // later query (dominant noise source in a ~300-execution JVM). The
    // cleaner runs async after the GC notices dead references — give it a
    // beat to drain before the timed runs.
    System.gc()
    Thread.sleep(100)
    // Three timed runs (spread protocol): the reported number stays the
    // min (steady-state throughput, same comparison target as before),
    // and the min/max band is dumped per query so a cross-round delta
    // can be adjudicated as variance vs plan change mechanically — the
    // r8/r9 phantom-move lesson (d09/p05/s07/d10 moved >70% between
    // rounds with pinned plans, and min-of-2 could not say why).
    // SPARK_GRAFT_BENCH_RUNS overrides the count for runs where the
    // per-execution cost dwarfs run-to-run spread (the sf10 decade arm:
    // multi-minute kernels, ratio signal ≫ noise — warmup + 1 suffices).
    // A failed warm run skips the timed ones: the entry is failed anyway.
    warm.flatMap { _ =>
      val timed = Seq.fill(runs)(once())
      timed.collectFirst { case Left(e) => e }.toLeft(timed.collect { case Right(t) => t })
    }
  }

  /** The stdout metrics line and the spread file's JSON for `results`
    * (entry name in lexicographic order -> timed runs or failure). */
  private[graft] def report(results: Seq[(String, Either[String, Seq[Double]])],
                            sfName: String, runsPerQuery: Int): (String, String) = {
    // Compact line: the harness keeps only the last ~2000 chars of stdout,
    // so the whole JSON must fit inside that window (r10 measured: the
    // driver artifact's `tail` is exactly 2000 chars and the metrics line
    // must survive inside it). Centisecond precision with stripped zeros.
    // Two per-query blocks share the window:
    //   - "queries": the slowest entries under FULL names, filled greedily
    //     into WHATEVER space the window leaves after the fixed fields and
    //     the complete allCs block — at 317 entries the old fixed-budget
    //     scheme overflowed the window and degraded to "queries":{},
    //     leaving the driver's per-query regression/scaling comparison
    //     empty (PERF_r19 per_query:{}; the r19 verdict's #1 ask). The
    //     full 317-name map (~7.2k chars) can never fit in ~1900, so the
    //     named block carries the slowest ~30 and the spread file below
    //     carries every entry by full name.
    //   - "allCs": EVERY entry's min as INTEGER CENTISECONDS, grouped into
    //     per-family arrays ("a":[...], "q":[...], ...) ordered by plain
    //     lexicographic entry-name sort within the family (the same
    //     sortBy(_._1) order as the spread file) — complete per-query data
    //     at ~3 chars/entry (the old seconds-float encoding cost ~5 and
    //     starved the named block out of the window entirely).
    // Failed entries are named in "failed" ("nfailed" counts them all),
    // which takes the window's slack before "queries" does.
    def fmt(v: Double): String = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP).stripTrailingZeros.toPlainString
    def quote(v: String): String =
      "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance.quoteAsString(v)) + "\""
    val failed = results.collect { case (k, Left(e)) => k -> e }
    val mins = results.collect { case (k, Right(ts)) => k -> ts.min }
    // Every entry keeps its slot in allCs; a failed entry's slot is null.
    // results is in lexicographic name order, and groupBy keeps it.
    val allFamilies = results.groupBy(_._1.head).toSeq.sortBy(_._1)
      .map { case (fam, es) =>
        "\"" + fam + "\":[" + es.map(_._2.fold(_ => "null", ts => Math.round(ts.min * 100).toString))
          .mkString(",") + "]"
      }.mkString("{", ",", "}")
    // A failed entry's runs never count towards total.
    val total = mins.map(_._2).sum
    def metricsLine(fs: String, qs: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","nq":${results.size},"nfailed":${failed.size},"failed":$fs,"queries":$qs,"allCs":$allFamilies,"allOrder":"lexicographic entry name within family","allUnit":"centiseconds","sf":"$sfName"}"""
    // Greedy fill into the window's slack (hard line cap 1900 chars — see
    // the guard note below): failed entries by name first, then the
    // slowest entries with their minima.
    var budget = 1900 - metricsLine("[]", "{}").length
    def fill(items: Seq[String]): Seq[String] = items.filter { e =>
      val fits = e.length + 1 <= budget
      if (fits) budget -= e.length + 1
      fits
    }
    val fs = fill(failed.map(f => quote(f._1))).mkString("[", ",", "]")
    val qs = fill(mins.sortBy(-_._2).map { case (k, v) => quote(k) + ":" + fmt(v) })
      .mkString("{", ",", "}")
    // The spread file: each entry's timed runs ascending, each failed
    // entry's error under "failed".
    val spreadJson = results.collect { case (k, Right(ts)) =>
        quote(k) + ":[" + ts.sorted.map(fmt).mkString(",") + "]"
      }.mkString("{\"sf\":" + quote(sfName) + ",\"runs\":" + runsPerQuery + ",\"spread\":{", ",", "}") +
      failed.map { case (k, e) => quote(k) + ":" + quote(e) }.mkString(",\"failed\":{", ",", "}}")
    val line = metricsLine(fs, qs)
    // hard guard: a line longer than the driver's tail window would lose
    // its HEAD (the window keeps the END of stdout) and fail to parse.
    // The budget arithmetic above makes this unreachable, but keep the
    // degrade path as a belt-and-braces guard.
    (if (line.length <= 1900) line else metricsLine("[]", "{}"), spreadJson)
  }
}
