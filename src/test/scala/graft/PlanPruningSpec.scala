package graft

import graft.queries.Queries

/** Scan-efficiency pins for the relational gates: predicate pushdown and
  * column pruning must actually REACH the parquet reader. At 100 TB the
  * difference between `PushedFilters: [...]` and an empty pushdown list,
  * or between a 4-column `ReadSchema` and the full 16-column row, is the
  * difference between scanning terabytes and scanning everything — these
  * pins make a plan regression (a cast blocking pushdown, a stray
  * column reference defeating pruning) a test failure instead of a
  * silent slowdown.
  */
class PlanPruningSpec extends SparkSpec {

  private def scanLines(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("FileScan") || l.contains("PushedFilters") ||
        l.contains("ReadSchema")).toSeq

  private def planText(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q6: range + quantity filters push to the lineitem scan; only 4 columns read") {
    val plan = planText(Queries.q6ForecastRevenue(spark, sf()))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(!plan.contains("PushedFilters: []"),
      "q6's shipdate/discount/quantity predicates must push into the scan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // l_shipdate, l_discount, l_quantity, l_extendedprice — and nothing else
    Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice").foreach(c =>
      assert(read.contains(c), s"q6 must read $c: $read"))
    assert(!read.contains("l_comment") && !read.contains("l_orderkey"),
      s"q6 must not read unused lineitem columns: $read")
  }

  test("q1: unfiltered scan still prunes to the 5 aggregated columns") {
    val plan = planText(Queries.q1PricingSummary(spark, sf()))
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
      .foreach(c => assert(read.contains(c), s"q1 must read $c: $read"))
    assert(!read.contains("l_comment") && !read.contains("l_partkey"),
      s"q1 must not read unused columns: $read")
  }

  test("whole-stage codegen covers the relational gates' hot path") {
    // the agg/filter/project pipeline must live inside WholeStageCodegen
    // spans — an interpreted expression in the hot path breaks the span.
    // AQE only materializes codegen wrappers in the FINAL plan, so run
    // the query first and inspect the post-execution executedPlan.
    Seq(Queries.q6ForecastRevenue(spark, sf()),
        Queries.q1PricingSummary(spark, sf())).foreach { df =>
      df.collect()
      val plan = planText(df)
      // simpleString marks codegen stages with the "*(n)" prefix
      assert(plan.contains("*(") && plan.linesIterator.exists(l =>
        l.contains("*(") && l.contains("HashAggregate")),
        s"hot-path aggregate not inside a codegen span:\n$plan")
    }
  }

  test("new round-14 gates prune their scans to the referenced columns") {
    // q_unicode_clean touches only (doc_id, text); q_embed_standardize and
    // q_pca_contract only (vec_id, embedding) — a stray column reference
    // in these corpus-scan ops would multiply the 100 TB scan width.
    val uc = planText(Queries.qUnicodeClean(spark, sf()))
    val ucRead = uc.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(ucRead.contains("doc_id") && ucRead.contains("text") &&
      !ucRead.contains("source") && !ucRead.contains("lang") && !ucRead.contains("n_chars"),
      s"q_unicode_clean must read only doc_id+text: $ucRead")
    val es = planText(Queries.qEmbedStandardize(spark, sf()))
    val esRead = es.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(esRead.contains("embedding") && !esRead.contains("label"),
      s"q_embed_standardize must not read unused embedding-table columns: $esRead")
  }

  test("no relational gate plans a cartesian product") {
    // the full gate sweep runs in Verify; here the structural invariant is
    // pinned on the join-heavy gates (a lost equi-condition shows up as
    // CartesianProduct/BroadcastNestedLoopJoin in the physical plan)
    Seq("q3_join_revenue", "q5_multijoin_revenue", "q4_semi_join").foreach { name =>
      val plan = planText(SparkEntry.queries(name)(spark, sf()))
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"$name plans a cross product:\n$plan")
    }
  }

  test("an input table directory holding a subdirectory fails loudly, naming it") {
    val dir = tmpDir("nested-table")
    spark.range(10).write.mode("overwrite").parquet(s"$dir/t")
    assert(Queries.parquetRowCount(spark, s"$dir/t") == 10L)
    assert(Queries.readParquetCached(spark, s"$dir/t").count() == 10L)
    spark.range(5).write.parquet(s"$dir/t/nested")
    Seq[() => Any](() => Queries.parquetRowCount(spark, s"$dir/t"),
      () => Queries.readParquetCached(spark, s"$dir/t")).foreach { read =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains(s"$dir/t") && e.getMessage.contains("nested"), e.getMessage)
    }
  }
}
