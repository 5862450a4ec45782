package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan-evidence artifact generator: writes PLANS.md with, for every batch
  * query, the operator/exchange/codegen-span counts from the formatted
  * physical plan, plus the full plan TREES for the headline chains — the
  * driver-visible proof behind the "one id-shuffle per pass" claims in
  * `QTracePipeline` and the "linear + collisions" claims in the LSH tiers.
  *
  *   tools/run.sh graft.Plans [sfDir] [outFile]
  *
  * The tp_* trees are explained over the RAW DAG (`cleanedDag` /
  * `flaggedFrom` / `dailyPanel`) — the memo-served tp_* rows scan a
  * localCheckpoint, which would hide the upstream exchanges this artifact
  * exists to pin.
  */
object Plans {

  private[graft] case class Counts(
      ops: Int, shuffles: Int, broadcasts: Int, codegenSpans: Int)

  private[graft] def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** tree section only — the detail blocks repeat every node and would
    * swamp the artifact */
  private def tree(plan: String): String = {
    val cut = plan.indexOf("\n\n(1) ")
    if (cut >= 0) plan.substring(0, cut) else plan
  }

  private[graft] def counts(plan: String): Counts = {
    val node = """(?m)^\((\d+)\) (\S+)""".r
    val names = node.findAllMatchIn(plan).map(_.group(2)).toSeq
    val codegen = """codegen id : (\d+)""".r
    Counts(
      ops = names.size,
      shuffles = names.count(_ == "Exchange"),
      broadcasts = names.count(_ == "BroadcastExchange"),
      codegenSpans =
        codegen.findAllMatchIn(plan).map(_.group(1)).toSet.size)
  }

  /** exchange counts of a frame's pre-execution physical plan — the
    * plan-budget assertions in PlanBudgetSpec use this.
    */
  private[graft] def planCounts(df: DataFrame): Counts = counts(formatted(df))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = Sessions.local(logLevel = "ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan evidence\n\n"
    sb ++= s"Generated by `graft.Plans` over `$sfDir` at shuffle.partitions=4.\n"
    sb ++= "Counts are parsed from `explain(\"formatted\")`: `shuffle` = " +
      "`Exchange` nodes, `bcast` = `BroadcastExchange` nodes, `wsc` = " +
      "distinct whole-stage-codegen spans. Plans are pre-execution (AQE " +
      "may further coalesce/elide at runtime, never add exchanges).\n\n"

    // ---- summary over every batch query ------------------------------
    sb ++= "## Summary (all batch queries)\n\n"
    sb ++= "| query | ops | shuffle | bcast | wsc |\n"
    sb ++= "|---|---|---|---|---|\n"
    val skip: String => Boolean = n =>
      n.startsWith("stream_") || n == "s4_sink_roundtrip" ||
        n == "tx_shard_sink" || n == "tx_inverted_index"
    // the memoized pair tiers are explained over their RAW DAGs — the
    // production path scans a checkpoint barrier (ops=1), which would
    // hide exactly the exchanges this table exists to pin; their
    // consumers (tx_source_blocklist, dd_cluster_canonical) keep the
    // post-checkpoint shape, the honest incremental-consumer plan
    val rawDag: Map[String, (SparkSession, String) => DataFrame] = Map(
      "dd_minhash_lsh" -> ((s, d) => graft.queries.QDedup.minhashPairsDag(s, d)),
      "dd_simhash" -> ((s, d) => graft.queries.QDedup.simhashPairsDag(s, d)))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip(name)) {
        try {
          val c = counts(formatted(rawDag.getOrElse(name, fn)(spark, sfDir)))
          val tag = if (rawDag.contains(name)) " (raw DAG)" else ""
          sb ++= s"| $name$tag | ${c.ops} | ${c.shuffles} | ${c.broadcasts} | ${c.codegenSpans} |\n"
        } catch {
          case e: Throwable => sb ++= s"| $name | explain failed: ${e.getClass.getSimpleName} | | | |\n"
        }
        Caches.clearTransient()
      }
    }
    sb ++= "\n(`stream_*` excluded — streaming plans are per-micro-batch; " +
      "`s4_sink_roundtrip`/`tx_shard_sink`/`tx_inverted_index` excluded — their returned " +
      "frames are just re-read scans. `(raw DAG)` rows substitute the " +
      "un-memoized pair pipeline for the production checkpoint scan.)\n\n"

    // ---- full trees for the headline chains --------------------------
    import graft.queries.{QTracePipeline, Trades}
    val headline: Seq[(String, String, () => DataFrame)] = Seq(
      ("tp_clean_chain (raw DAG)",
        "J3/J7/J9 cleaning alone: the Stage-0 sorted pass per bond " +
          "(MapGroups) running only the Dick-Nielsen step — one id-shuffle",
        () => QTracePipeline.cleanedDag(spark, sfDir)),
      ("tp_stage0 (raw DAG)",
        "the flagged rows the memo-served tp_* queries read: ONE id-shuffle " +
          "into the sorted pass per bond (clean, shift, bounce-back flags), " +
          "no window, no join",
        () => QTracePipeline.flaggedFrom(Trades.df(spark, sfDir))),
      ("tp_full_panel (end-to-end)",
        "clean → shift → bounce-back → daily panel (entry()), the " +
          "production DAG itself: the pass, the filtered_error = 0 filter, " +
          "the dvol projection and the (id, dt) aggregate — two exchanges, " +
          "no barrier, no join",
        () => QTracePipeline.dailyPanel(spark, sfDir)),
      ("tp_stage1_panel (composed Stage-1 chain)",
        "ONE events scan and ONE Exchange hashpartitioning(id): above " +
          "it the (id, ord) dedup Window, the per-(id, dt) HashAggregate " +
          "(panel, error flag, max-ord rating and amount) and the Windows " +
          "for callable + as-of fill and W10/W14, with no exchange of " +
          "their own → FISD terms and analytics as projections → the " +
          "linker broadcast → winsorize's Exchange on dt",
        () => SparkEntry.queries("tp_stage1_panel")(spark, sfDir)),
      ("dd_minhash_lsh (raw DAG)",
        "shuffle-free per-doc profiles (ShingleHash60 + MinHashK inside " +
          "the document's row); only band keys and candidate pairs " +
          "shuffle — band buckets over spark.graft.lsh.maxBucket " +
          "star-pair around their min-id member (broadcast stats), so " +
          "one degenerate bucket can't go quadratic. Production memoizes " +
          "this behind a checkpoint barrier shared with " +
          "tx_source_blocklist",
        () => graft.queries.QDedup.minhashPairsDag(spark, sfDir)),
      ("dd_decontaminate",
        "per-row 8-gram hashing, broadcast eval gram set, anti-join",
        () => SparkEntry.queries("dd_decontaminate")(spark, sfDir)),
      ("sim_rhp_neardup",
        "shuffle-free native rhpbands signature projection, banded join",
        () => SparkEntry.queries("sim_rhp_neardup")(spark, sfDir)),
      ("sim_ivf_topk",
        "broadcast-centroid assignment, cell-pruned probe",
        () => SparkEntry.queries("sim_ivf_topk")(spark, sfDir)))
    sb ++= "## Headline plan trees\n\n"
    headline.foreach { case (title, note, mk) =>
      sb ++= s"### $title\n\n$note\n\n"
      try {
        val plan = formatted(mk())
        val c = counts(plan)
        sb ++= s"ops=${c.ops} shuffle=${c.shuffles} bcast=${c.broadcasts} wsc=${c.codegenSpans}\n\n"
        sb ++= "```\n" + tree(plan).trim + "\n```\n\n"
      } catch { case e: Throwable => sb ++= s"explain failed: $e\n\n" }
      Caches.clearTransient()
    }

    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $outFile")
    Caches.clearAll()
    spark.stop()
  }
}
