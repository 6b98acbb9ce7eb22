package graft.operators

import graft.model.RobotsRule

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** C4: the robots.txt gate (north rule: "per-host politeness buckets and
  * robots.txt gates enforced via salted hash-partitioning on host").
  *
  * The rule table is tiny and per-host (a real crawl fetches+parses one
  * robots.txt per host), so the gate compiles the rules INTO the plan as a
  * codegen'd disjunction over (host, path-prefix) — zero join, zero shuffle.
  * At a rule-set size where literal folding stops making sense (millions of
  * hosts), the same predicate becomes a broadcast join on host with the
  * prefix test as the join filter; the dataflow position (before politeness
  * scheduling, after D1) is unchanged.
  */
object Robots {

  /** True when (host, url path) matches a disallow rule. Empty rules → never
    * denied. */
  def denied(url: Column, host: Column, rules: Seq[RobotsRule]): Column =
    if (rules.isEmpty) lit(false)
    else {
      val path = coalesce(parse_url(substring_index(url, "#", 1), lit("PATH")), lit(""))
      rules.map(r => host === r.host && path.startsWith(r.path_prefix)).reduce(_ || _)
    }
}
