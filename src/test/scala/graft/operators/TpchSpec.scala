package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Plan-shape pins for the round-13 TPC-H queries: the decorrelated
  * forms must plan as joins/aggregates of the RIGHT kind — semi/anti
  * where the SQL says EXISTS/NOT IN, broadcast hash joins on the
  * small dims, and never a per-outer-row subquery re-execution. Value
  * correctness is the DuckDB oracle's job; this suite guards the
  * plans against regressions that would still pass the oracle. */
class TpchSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("EXISTS/nested-IN queries plan as left-semi joins " +
      "(Q4, Q20)") {
    assert(plan("q4_order_priority").contains("LeftSemi"))
    assert(plan("q20_promotion_suppliers").contains("LeftSemi"))
  }

  test("NOT IN / NOT EXISTS queries plan as anti joins (Q16, Q22)") {
    assert(plan("q16_supplier_cnt").contains("LeftAnti"))
    assert(plan("q22_inactive_customers").contains("LeftAnti"))
  }

  test("dimension sides broadcast: the deep join trees carry " +
      "BroadcastHashJoin, never a shuffled nation/region " +
      "(Q2, Q8, Q9, Q21)") {
    for (q <- Seq("q2_min_cost_supplier", "q8_market_share",
        "q9_product_profit", "q21_suppliers_waiting")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: expected broadcast dims:\n$p")
    }
  }

  test("correlated scalar subqueries are decorrelated to aggregates " +
      "— no per-row subquery re-execution anywhere in the dial") {
    for (name <- Tpch.ops.map(_.key)) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian")
      // a surviving correlated subquery would plan as a
      // BroadcastNestedLoopJoin over the outer — only the two
      // broadcast-scalar threshold joins are allowed BNLJ
      // (RegistryGuardSpec's allowlist), and those are 1-row sides
      if (!Set("q11_important_parts", "q22_inactive_customers")(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name: unexpected nested-loop join:\n$p")
    }
  }

  test("Q17's per-part average aggregates over the brand slice, not " +
      "the whole fact table (the semi join precedes the aggregate)") {
    val analyzed = Tpch.q17SmallQtyRevenue(spark, sf)
      .queryExecution.optimizedPlan.toString
    // the avg's input must carry the partkey semi join below it —
    // visible as a LeftSemi under the Aggregate in the optimized plan
    assert(analyzed.contains("LeftSemi"),
      s"expected the brand-slice semi join:\n$analyzed")
  }
}
