package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ZipWith}

/** Plan hygiene: the declarative operators must actually get the Catalyst
  * treatment the 100 TB story depends on — filters and projections pushed
  * into the parquet scan, broadcast joins where hinted, whole-stage
  * codegen spans in the hot paths. This pins the PLAN, not just results. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString()

  /** The row-local operators may carry ONE round-robin repartition — the
    * guarded input-parallelism fix (operators.Spread) for a small/
    * unsplittable scan — but never a KEYED exchange (hash/range), which
    * would mean a data-dependent shuffle regression. */
  private def assertNoKeyedExchange(plan: String, what: String): Unit = {
    val keyed = plan.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("RoundRobinPartitioning")).toSeq
    assert(keyed.isEmpty,
      s"$what must not shuffle by key, found: ${keyed.mkString("; ")}\n${plan.take(2000)}")
  }

  test("filter + projection are pushed down to the parquet scan (q02)") {
    val plan = planOf("q02_filter_project")
    assert(plan.contains("PushedFilters:") &&
      (plan.contains("GreaterThanOrEqual(l_quantity,45.0)") ||
       plan.contains("GreaterThanOrEqual(l_quantity")),
      s"pushdown missing in:\n$plan")
    // column pruning: scan must not read all 11 lineitem columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate") || readSchema.count(_ == ',') < 8,
      s"scan reads too many columns: $readSchema")
  }

  test("broadcast hint produces a BroadcastHashJoin (q03)") {
    assert(planOf("q03_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("semi/anti joins plan as join strategies, not subquery re-scans") {
    assert(planOf("q05_semi_join").contains("LeftSemi"))
    assert(planOf("q06_anti_join").contains("LeftAnti"))
  }

  test("aggregations get map-side partial aggregation (q01)") {
    val plan = planOf("q01_agg_pricing")
    assert(plan.contains("HashAggregate"))
    // partial + final pair => two HashAggregate nodes around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2)
  }

  test("hot-key aggregates: partial aggregate, then ONE Exchange (q39, t49)") {
    // the map-side partial aggregate sends a hot key at most one row per map
    // task, so no (key, salt) pre-aggregation (2 Exchanges, 4 HashAggregates)
    // is needed to bound it
    Seq("q39_salted_agg", "t49_salted_conv_stats").foreach { name =>
      val plan = planOf(name)
      val lines = plan.linesIterator.toSeq
      assert(lines.count(_.contains("Exchange hashpartitioning")) == 1, s"$name:\n$plan")
      assert(lines.count(_.contains("HashAggregate(")) == 2, s"$name:\n$plan")
      assert(lines.indexWhere(_.contains("functions=[partial_")) >
        lines.indexWhere(_.contains("Exchange hashpartitioning")),
        s"$name: no partial aggregate below the Exchange:\n$plan")
    }
  }

  test("light per-row work before an aggregate or a window is not Spread (q51, q53)") {
    // the aggregate's partial pre-combine and the window's own exchange
    // already spread the rows; a round-robin shuffle in front costs more
    Seq("q51_source_filter", "q53_pack_sequences").foreach { name =>
      val plan = planOf(name)
      val lines = plan.linesIterator.toSeq
      assert(lines.count(_.contains("Exchange")) == 1, s"$name:\n$plan")
      assert(!plan.contains("RoundRobinPartitioning"), s"$name:\n$plan")
    }
  }

  // '*(N)' prefixes in executedPlan.toString mark whole-stage-codegen stages
  test("whole-stage codegen covers the scan->filter->project hot path (q02)") {
    val plan = planOf("q02_filter_project")
    assert(plan.contains("*(1) Project") && plan.contains("*(1) Filter"),
      s"no codegen span in:\n$plan")
  }

  test("custom parse_temp expression participates in codegen (q40)") {
    val plan = planOf("q40_custom_expression")
    assert(plan.contains("*(1) Project"), s"no codegen span in:\n$plan")
    assert(plan.contains("parse_temp"), s"expression missing in:\n$plan")
  }

  // Regression pins for round-2 perf fixes — the shapes below each cost
  // 10x+ when they regress (see BASELINE.md round-2 notes).

  test("minhash LSH pairs scan the corpus exactly ONCE (no signature self-join)") {
    val plan = planOf("q32_minhash_lsh")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 corpus scan, found $scans in:\n${plan.take(3000)}")
  }

  test("q41 global-scalar plan has no Window and no whole-table single-partition funnel") {
    val plan = planOf("q41_scalar_subquery")
    assert(!plan.contains("Window"), s"empty-key Window regressed:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastExchange"), s"scalar must broadcast:\n${plan.take(2000)}")
  }

  test("simhash is row-local: no keyed shuffle, no explode (q34)") {
    val plan = planOf("q34_simhash")
    assertNoKeyedExchange(plan, "simhash (explode+groupBy regression)")
    assert("Scan parquet".r.findAllIn(plan).size == 1)
  }

  test("pivot with explicit values scans the table once (no distinct pre-query)") {
    val plan = planOf("q43_pivot")
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan.take(2000))
  }

  test("PII redaction is a keyed-shuffle-free codegen projection (q47)") {
    val plan = planOf("q47_pii_redact")
    assertNoKeyedExchange(plan, "q47")
    assert("Scan parquet".r.findAllIn(plan).size == 1)
  }

  test("int8 quantization is row-local: no keyed shuffle, one scan (q49)") {
    val plan = planOf("q49_embed_quantize")
    assertNoKeyedExchange(plan, "q49")
    assert("Scan parquet".r.findAllIn(plan).size == 1)
  }

  test("repetition stats scan the corpus once and partial-aggregate (q46)") {
    val plan = planOf("q46_repetition_stats")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"row-local fractions must ride the gram aggregate, not re-scan:\n${plan.take(2000)}")
    assert("HashAggregate".r.findAllIn(plan).size >= 4, // partial+final × 2 keys
      s"expected partial aggregation on both groupBys:\n${plan.take(2000)}")
  }

  test("LSH projection folds never sit in a Filter; one scan per table side (q36b, q36c, q37b, q37c)") {
    // a plain posexplode over the bucket array makes InferFiltersFromGenerate
    // add a `size(array(<every fold>)) > 0` Filter below the Generate,
    // running each plane fold twice per row. Folds, counted in the
    // optimized plan (the plan string elides arrays past 25 elements):
    // each plane once per hashed side (bands x bits, one side for q36b's
    // candidate stage, two for the joins) — a bucket or mask that
    // re-embedded the projection array would multiply them. Scans: one
    // per join side (q36b: the candidate stage plus its two verify sides)
    Seq(("q36b_embed_neardup_lsh", 3, 4 * 8), ("q36c_neardup_vs_corpus", 2, 2 * 4 * 8),
        ("q37b_ann_lsh_banded", 2, 2 * 4 * 4), ("q37c_ann_lsh_multiprobe", 2, 2 * 4 * 4))
      .foreach { case (name, scans, folds) =>
        val plan = planOf(name)
        val folded = plan.linesIterator
          .filter(l => l.contains("Filter") && l.contains("zip_with(embedding")).toSeq
        assert(folded.isEmpty, s"$name re-runs projection folds in a Filter:\n${folded.mkString("\n").take(2000)}")
        val n = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
          .collect { case node => node.expressions.map(_.collect {
            case ZipWith(v: AttributeReference, _, _) if v.name == "embedding" => v
          }.size).sum }.sum
        assert(n == folds, s"$name folds $n planes, expected $folds")
        assert("Scan parquet".r.findAllIn(plan).size == scans, s"$name:\n${plan.take(3000)}")
      }
  }
}
