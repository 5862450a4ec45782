package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = Sessions.local()
    // warm the session once (parquet reader, shuffle machinery, codegen
    // infrastructure) so the first timed query measures itself, not
    // SparkSession startup
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => () }
    // failures are NOT swallowed into a timing: a failed query is timed as
    // its time-to-failure AND listed in "failed" so a regression can't hide
    // behind a plausible-looking number
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val memoWarm = scala.collection.mutable.ListBuffer.empty[String]
    // per-query MIN over reps (default 2): one rep conflates steady-state
    // throughput with one-time codegen/plan-compile cost and is hostage to
    // machine contention spikes (both prior driver runs were inflated
    // 2-8x vs controlled re-runs). Caches.clearAll() between reps rebuilds
    // the memoized shared chains, so every rep pays the true per-query
    // cost — the min is a fair steady-state number, not a memo hit.
    // at least one rep always runs (REPS=0 would leave perRep empty)
    val maxReps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    // local-iteration filter: comma-separated query names; unset = all
    val queries = SparkEntry.filteredQueries("SPARK_GRAFT_BENCH_ONLY")
    // wall-clock guard: a second rep only runs if the first stayed inside
    // the budget — on a contended machine (both prior driver runs were
    // inflated 2-8x) one rep's honest numbers beat risking a harness
    // timeout for a min-of-2
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "150").toDouble
    // SPARK_GRAFT_BENCH_COLD=1: clear ALL memoized chains between queries,
    // so every row pays its full build cost — no memo_warm rows at all.
    // Default off (the warm numbers are the production shape: consumers
    // DO share the chain); the automatic cold re-time pass below gives
    // the memo-warm rows their true cold numbers either way.
    val coldMode = sys.env.get("SPARK_GRAFT_BENCH_COLD").contains("1")
    val benchT0 = System.nanoTime()
    val perRep = scala.collection.mutable.ListBuffer.empty[Map[String, Double]]
    var rep = 0
    while (rep < maxReps &&
        (rep == 0 || (System.nanoTime() - benchT0) / 1e9 < budgetSec)) {
      val r = queries.map { case (name, fn) =>
        Caches.resetMemoHit()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            if (!failed.contains(name)) failed += name
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
        }
        // memo-luck attribution: a query that found a shared memo already
        // warm did NOT pay that memo's build cost — its per-query number
        // measures cache luck, not its plan. Flagged in "memo_warm" so a
        // 0.07s dd_minhash_lsh can't be mistaken for a plan win.
        if (Caches.memoHitSeen && !memoWarm.contains(name)) memoWarm += name
        if (coldMode) Caches.clearAll() else Caches.clearTransient()
        name -> (System.nanoTime() - t0) / 1e9
      }
      Caches.clearAll()
      perRep += r
      rep += 1
    }
    val reps = perRep.size
    // min over reps is only fair for queries that SUCCEEDED every rep; a
    // query that failed in some rep would otherwise report its (fast)
    // time-to-failure — for those take the max, the most conservative number
    var results = perRep.head.keys.map { name =>
      val ts = perRep.map(_(name))
      name -> (if (failed.contains(name)) ts.max else ts.min)
    }.toMap
    // contention-phantom recheck: on a loaded box a single-rep run reports
    // machine conditions, not plans (rounds 3-6 all produced >10s outliers
    // for queries that are sub-second under controlled reps, e.g. 18.8s vs
    // 0.30s). Queries whose best time is still an outlier vs the run's
    // median get one immediate re-run each (worst first, inside a grace
    // window beyond the main budget) and keep the min. Memos were cleared
    // after the last pass, so a re-run pays its full cost — the recheck can
    // only remove contention noise, never hide real work.
    val recheckSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_RECHECK_SEC", "90").toDouble
    val rechecked = scala.collection.mutable.ListBuffer.empty[String]
    if (results.nonEmpty && recheckSec > 0) {
      val sorted = results.values.toSeq.sorted
      val median = sorted(sorted.size / 2)
      val outliers = results.toSeq
        .filter { case (n, t) => !failed.contains(n) && t > math.max(2.0, 6 * median) }
        .sortBy(-_._2)
      // window measured from recheck START, not run start: the case this
      // exists for is precisely a rep-1 that overran the whole budget on
      // a contended box — anchoring to benchT0 would skip every recheck
      // exactly when they matter
      val recheckT0 = System.nanoTime()
      outliers.foreach { case (name, t) =>
        if ((System.nanoTime() - recheckT0) / 1e9 < recheckSec) {
          Caches.resetMemoHit()
          val t0 = System.nanoTime()
          try {
            queries(name)(spark, sfDir).count()
            val t2 = (System.nanoTime() - t0) / 1e9
            results = results.updated(name, math.min(t, t2))
            rechecked += name
            if (Caches.memoHitSeen && !memoWarm.contains(name)) memoWarm += name
          } catch { case _: Throwable => () } // keep the passing reps' number
          Caches.clearTransient()
        }
      }
      Caches.clearAll()
    }
    // COLD re-time of the memo-warm rows: a row that found a shared memo
    // already warm reported cache luck, not its own build cost — the last
    // cold measurement of e.g. the flagship Stage-0 chain would otherwise
    // be whatever round last reordered the query list. Each memo-warm row
    // re-runs after a full Caches.clearAll(), inside its own grace window
    // (beyond the main budget, like the recheck), and lands in
    // "queries_cold" NEXT TO its warm number — both columns per row.
    val coldSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_COLD_SEC", "90").toDouble
    var coldResults = Map.empty[String, Double]
    if (memoWarm.nonEmpty && coldSec > 0 && !coldMode) {
      val coldT0 = System.nanoTime()
      memoWarm.sorted.foreach { name =>
        if ((System.nanoTime() - coldT0) / 1e9 < coldSec) {
          Caches.clearAll()
          val t0 = System.nanoTime()
          try {
            queries(name)(spark, sfDir).count()
            coldResults += name -> (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => () } // warm row already reported
        }
      }
      Caches.clearAll()
    }
    // 3-decimal (ms) precision: full-precision doubles made the stdout line
    // ~5KB and the driver's tail window truncated it mid-object both prior
    // rounds ("parsed": null) — compact so the WHOLE line fits in the tail
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val rc = rechecked.map("\"" + _ + "\"").mkString("[", ",", "]")
    val mw = memoWarm.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val cq = coldResults.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","reps":$reps,"rechecked":$rc,"memo_warm":$mw,"queries_cold":$cq,"queries":$qs,"failed":$fl,"sf":"$sfDir"}"""
    println(json)
    // stdout gets tail-truncated by harnesses; the file copy is canonical
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"bench file write failed: $e") }
    Caches.clearAll()
    spark.stop()
  }
}
