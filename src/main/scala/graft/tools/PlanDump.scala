package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dump `explain("formatted")` physical plans for representative queries
  * into PLANS.md — the evidence trail that scans prune/push down, small
  * sides broadcast, codegen spans cover the hot paths, and the
  * single-shuffle SCD2 really plans one exchange. Regenerate with:
  *   sbt "runMain graft.tools.PlanDump"
  * Or dump named queries one file each, `<outdir>/<query>_<suffix>.txt`
  * (before/after plan evidence for a change):
  *   sbt "runMain graft.tools.PlanDump <outdir> <suffix> <q1,q2,...>"
  */
object PlanDump {
  val picks: Seq[(String, String)] = Seq(
    "q02_filter_project" -> "predicate + column pruning must reach the parquet scan (PushedFilters/ReadSchema)",
    "q04_star_join" -> "fact-side shuffle join with broadcast dims",
    "q26_ngram_jaccard" -> "inverted-index candidates + PPJoin prefix/length filters + codegen merge-intersect verify",
    "q28_minhash_neardup" -> "LSH banding (cached), band-key self-join, exact verify",
    "q47_lsh_buckets" -> "SRP bucketing with driver-hoisted coefficient literals (no md5 in plan)",
    "q50_scd2_merge1" -> "single-shuffle SCD2: exactly ONE hashpartitioning exchange",
    "q64_rolling_window" -> "interval RANGE frame window",
    "q67_bloom_join" -> "bloom might_contain prefilter ahead of the join",
    // broadcast disabled for this dump: at bench scale the planner would
    // (correctly) broadcast the small orders table, hiding the property the
    // layout buys at 100 TB where neither fact side fits an executor
    "q82_bucketed_star" -> "co-bucketed fact-fact join: bucketed SMJ, NO exchange on l_orderkey/o_orderkey",
    "q83_dedup_latest_agg" -> "sort-free latest-row dedup: ObjectHashAggregate[arg_max], no Sort/Window",
    "q84_tfidf_topterms" -> "TF-IDF: tf partial-aggregated before its shuffle, vocabulary-sized dfreq side broadcast (no term-keyed shuffle of the big side)",
    "q38_ivf_topk" -> "IVF ANN: map-side cell assignment (array_min argmin over literal centroids — no exchange/window before the probed-cell join)",
    "q93_doc_chunks" -> "chunking: tokenize → chunk structs → ONE Generate, no exchange anywhere (scan-speed)",
    "q94_seq_packing" -> "packing: one hash exchange on the packer group + in-partition sort + streaming MapPartitions (the only imperative operator)",
    "q96_winnow_fingerprints" -> "winnowing: whole pipeline per-row inside codegen (nested higher-order funcs), one Generate, no exchange",
    "q99_filtered_ann" -> "filtered ANN: label predicate PUSHED to the corpus parquet scan (PushedFilters), below map-side cell assignment",
    "q101_range_join" -> "bucketed range join: hash equi-join on the bucket id — NO BroadcastNestedLoopJoin/CartesianProduct for a pure range predicate",
    "q117_dpp_join" -> "dynamic partition pruning: the dim filter reaches the partitioned fact scan as a runtime dynamicpruning subquery",
    "q132_ivf_topk_bc" -> "broadcast-centroid IVF: nearestcentroid(vec, Broadcast(..)) in a map-side Project — O(1) codegen in k, no literal tree, no exchange before the probe join",
    "q135_nb_langid" -> "NB langID scoring: nbscores(grams, Broadcast(..)) fold in a map-side Project — no gram explode, no join, no exchange before the output ordering",
    "q218_html_blocks" -> "HTML extraction: fenced block-array pipeline → ONE Generate (posexplode_outer), per-block gates as codegen'd attribute arithmetic, no UDF, no exchange before the output ordering",
    "q227_robots_wildcards" -> "RFC 9309 wildcards: rule patterns translate to regexes ONCE on the tiny broadcast side (BroadcastHashJoin per agent), regexp_like in the join condition, one URL-keyed aggregate",
    "q229_extract_lang" -> "per-language stopword gates: lang-dispatched regex counts as a lazily-branching when-chain in the same codegen'd projection — no extra Generate, no exchange beyond q218's",
    "q230_url_normalize" -> "URL normalization: percent decoder (transform with index) + dot-segment stack (aggregate fold) in one codegen'd Project — no UDF, no exchange before the survivor window"
  )

  def main(args: Array[String]): Unit = {
    if (args.length != 0 && args.length != 3) {
      System.err.println("usage: PlanDump | PlanDump <outdir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def plan(name: String): String = {
      val p = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // plans can embed control-char literals (the extractor's \u0000
      // block sentinel) — escape them so the dump stays a text file
      p.flatMap(c =>
        if (c < ' ' && c != '\n' && c != '\t') f"\\u${c.toInt}%04x" else c.toString)
    }
    args match {
      case Array(outDir, suffix, names) =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.split(',').foreach { name =>
          val out = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
          java.nio.file.Files.writeString(out,
            s"// $name — explain(formatted) at $sfDir ($suffix)\n" + plan(name) + "\n")
          System.err.println(s"[plandump] $name -> $out")
        }
      case _ =>
        val sb = new StringBuilder
        sb.append("# PLANS — physical-plan evidence (generated by graft.tools.PlanDump)\n\n")
        sb.append(s"Dataset: `$sfDir`. Regenerate: `sbt \"runMain graft.tools.PlanDump\"`.\n")
        picks.foreach { case (name, why) =>
          val noBroadcast = name == "q82_bucketed_star"
          val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
          if (noBroadcast) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          try {
            val note = if (noBroadcast) " (dumped with auto-broadcast off — see picks comment)" else ""
            sb.append(s"\n## $name\n\n_${why}${note}_\n\n```\n${plan(name)}```\n")
          } finally if (noBroadcast) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
        System.err.println(s"[plandump] wrote PLANS.md (${picks.size} plans)")
    }
    spark.stop()
  }
}
