package graft

import org.apache.spark.sql.functions.{count, lit}

/** Driver-contract smoke tests. */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001 (driver smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle has a matching query; names are distinct") {
    val q = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(q.keySet))
    assert(q.size >= 45)
  }

  test("the declared SURVEY §2.B operator inventory is fully registered") {
    val declared = Seq(
      "q_parse_alb", "q_filter", "q_project", "q_cast_guard", "q_ts_parse",
      "q_url_path", "q_join_inner", "q_join_left", "q_join_full",
      "q_join_semi", "q_join_anti", "q_join_broadcast", "q_join_range",
      "q_agg_group", "q_agg_distinct", "q_agg_rollup", "q_agg_cube",
      "q_window_rank", "q_window_lag", "q_window_frame",
      "q_sort", "q_limit", "q_topk", "q_union", "q_intersect", "q_except",
      "q_string_fns", "q_date_fns", "q_math_fns", "q_array_fns",
      "q_json_fns", "q_explode", "q_dedup_exact", "q_similarity_topk",
      "q_text_tokens", "q_window_tumbling", "q_window_session", "q_udaf")
    val missing = declared.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"missing §2.B queries: $missing")
    // §2.B queries must all be oracle-checked (none demoted to rows-only)
    val unoracled = declared.filterNot(SparkEntry.oracleSql.contains)
    assert(unoracled.isEmpty, s"§2.B queries without oracle: $unoracled")
  }

  test("approx_count_distinct lands within 5% of exact counts") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_agg_approx")(spark, sf)
      .join(Tables.lineitem(spark, sf).groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("check_parts")), Seq("l_returnflag"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[Long]("exact_parts") == r.getAs[Long]("check_parts"))
      assert(r.getAs[Boolean]("parts_within_5pct") &&
        r.getAs[Boolean]("supps_within_5pct"),
        s"sketch estimate out of its 5% band: $r")
    }
  }

  test("all queries execute and return rows on sf0.001") {
    // Bench.hash, not count(): count() lets Catalyst prune projected
    // columns, so a derived column that throws at runtime would pass
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.agg(count(lit(1)), Bench.hash(df)).head().getLong(0)
      if (n == 0 && name != "q_except") Some(name) else None
    }
    assert(empties.isEmpty, s"queries with zero rows: $empties")
  }
}
