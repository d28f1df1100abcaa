package graft

import graft.frontier.Wave
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan gates: the properties that make this engine viable at
  * 100 TB must hold in the PLAN, not just produce correct rows — filter
  * pushdown into the parquet scan, column pruning of the fat `html`
  * column, broadcast of small join sides, whole-stage codegen on the hot
  * path. A refactor that silently regresses any of these fails here.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  private def formatted(df: DataFrame): String = {
    import org.apache.spark.sql.execution.ExplainMode
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  val sf = "/root/testdata/sf0.001"

  test("q_fetch_join: predicates are pushed into the parquet scans") {
    val plan = formatted(SparkEntry.queries("q_fetch_join")(spark, sf))
    assert(plan.contains("PushedFilters"), plan.take(800))
    assert(plan.contains("GreaterThan(l_quantity,45.0)") ||
      plan.contains("GreaterThan(l_quantity"), "quantity filter not pushed")
    assert(plan.contains("EqualTo(o_orderstatus,F)"), "status filter not pushed")
  }

  test("q_fk_chain: dimension tables broadcast, no shuffle of nation/region") {
    val plan = planOf(SparkEntry.queries("q_fk_chain")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
  }

  test("page index prunes the fat html column at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    val cfg = SynthConfig(nAccounts = 2, articlesPerAccount = 5, longTail = 5)
    Synth.pages(spark, cfg).toDF().write.mode("overwrite").parquet(s"$dir/pages")
    val idx = Wave.pageIndex(spark.read.parquet(s"$dir/pages"))
    val plan = formatted(idx)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!readSchema.contains("html"),
      s"html must never be read by the fetch index: $readSchema")
    assert(readSchema.contains("url") && readSchema.contains("text"))
  }

  test("fused expressions run INSIDE whole-stage codegen (no fallback break)") {
    val cfg = SynthConfig(nAccounts = 2, articlesPerAccount = 5, longTail = 0)
    val arts = graft.extract.Extract.articles(
      Synth.pages(spark, cfg).toDF().filter(!col("url").contains("profile_ext")))
    val plan = planOf(arts)
    // executedPlan.toString marks codegen'd operators with "*(n)"; the
    // operator carrying the fused expression must have that prefix — a
    // CodegenFallback would print an unstarred Project around it
    // codegen'd operators render as "*(n) Project [...]" (tree-drawing
    // prefixes like "+- " may precede the star)
    def starred(line: String): Boolean = line.contains("*(")
    val extractLine = plan.linesIterator
      .find(l => l.toLowerCase.contains("extractarticle") && l.contains("Project"))
      .getOrElse("")
    assert(starred(extractLine), s"extractarticle not codegen'd:\n$plan")
    val idx = Wave.pageIndex(Synth.pages(spark, cfg).toDF())
    idx.collect() // finalize the adaptive plan so codegen stars render
    val urlLine = planOf(idx).linesIterator
      .find(l => l.toLowerCase.contains("urlparts") && l.contains("Project"))
      .getOrElse("")
    assert(starred(urlLine), s"urlparts not codegen'd:\n${planOf(idx)}")
    // and the generated code actually compiles: force an execution
    assert(arts.count() === 10L)
  }

  test("wave fetch join broadcasts the frontier slice (not the page index)") {
    import spark.implicits._
    val before = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "128m")
    try {
      val cfg = SynthConfig(nAccounts = 2, articlesPerAccount = 5, longTail = 10)
      val pagesIdx = Wave.pageIndex(Synth.pages(spark, cfg).toDF())
      val frontier = Synth.seedFrontier(spark, cfg).toDF()
      val joined = frontier.join(pagesIdx.select($"url_hash", $"text"), Seq("url_hash"))
      val plan = planOf(joined)
      assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    } finally before.foreach(v =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
  }

  test("robots gate shuffle regime: no broadcast anywhere, verdicts identical") {
    // the gate's join carries no hint: Spark picks the regime by size.
    // Under the crawl session's 128m threshold a small rule set
    // broadcasts; a rule set above the threshold (Common-Crawl regime,
    // multi-GB — forced here with threshold -1) must run with no
    // broadcast at all and agree with the broadcast plan row for row
    val cfg = SynthConfig(nAccounts = 3, articlesPerAccount = 4, longTail = 30)
    val frontier = Synth.seedFrontier(spark, cfg).toDF()
    val robots = Synth.robots(spark, cfg).toDF()
    def gate(threshold: String): (String, Seq[String], Seq[String]) =
      withConf("spark.sql.autoBroadcastJoinThreshold", threshold) {
        val (a, d) = Wave.robotsGate(frontier, robots)
        (planOf(a), a.collect().map(_.toString).sorted.toSeq,
          d.collect().map(_.toString).sorted.toSeq)
      }
    val (planB, aB, dB) = gate("128m")
    val (planS, aS, dS) = gate("-1")
    assert(planB.contains("BroadcastHashJoin"),
      s"a small rule set must broadcast:\n${planB.take(900)}")
    assert(!planS.contains("BroadcastExchange") && !planS.contains("BroadcastHashJoin"),
      s"shuffle regime must not broadcast:\n${planS.take(900)}")
    assert(dB.nonEmpty, "the fixture must deny some urls for the comparison to bite")
    assert(aS === aB, "allowed differ")
    assert(dS === dB, "denied differ")
  }

  test("dedup queries shuffle the 8-byte hash, never the document text") {
    Seq("q_dedup_exact", "q_dedup_norm").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(plan.contains("hashpartitioning(__h"),
        s"$q must exchange on the text hash:\n${plan.take(800)}")
      // map-side partial aggregation before the exchange: the shuffle
      // payload is (hash, partial keeper/copies/len), not the corpus body
      assert(plan.linesIterator.filter(_.contains("Exchange"))
        .forall(!_.contains("text")), s"$q shuffles text:\n${plan.take(800)}")
      assert(plan.contains("partial_min") || plan.contains("partial_count"),
        s"$q must partial-aggregate map-side")
    }
  }

  test("seen filter: shard-aligned probe, NO broadcast of seen state") {
    // structural 10^10 gate: the sketch state reaches executors via a
    // shard-clustered exchange into the probe operator (each task sees
    // only its shards), never as a broadcast variable/join; the exact
    // join sees only the maybe-slice
    import spark.implicits._
    val seen = (1L to 100L).toDF("url_hash")
    val shards = graft.seen.ShardedSeen.updatedShards(
      graft.seen.ShardedSeen.emptyShards(spark), seen,
      spark.range(0).selectExpr("id as url_hash"), 1000, 2)
    val frontier = (1L to 1000L).map(i => (i, s"u$i", 0L, "detail"))
      .toDF("url_hash", "url", "priority", "kind")
    val out = graft.seen.ShardedSeen.confirmFlag(
      graft.plans.GraftPlanner.probeDedupe(frontier, shards.toDF(), 2), seen)
    val plan = planOf(out)
    assert(plan.contains("ShardedProbe") && plan.contains("pmod"),
      s"probe must be shard-clustered:\n${plan.take(800)}")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"seen state must never broadcast:\n${plan.take(800)}")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      "exact confirm must be a shuffle-side join")
    assert(plan.toLowerCase.contains("union"), "definitely-new path must bypass the join")
    // the exact join is fed by a filter on the probe flag (maybe-slice only)
    assert(plan.contains("__maybe"), plan.take(800))
  }
}
