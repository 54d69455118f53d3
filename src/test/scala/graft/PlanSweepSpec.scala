package graft

import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.joins.{CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Registry-wide plan regression guard: every declared query's physical
  * plan is swept for the four scale anti-patterns that individual
  * PlansSpec tests only pin for hand-picked queries —
  *
  *   1. an unpartitioned window (empty PARTITION BY ⇒ Exchange
  *      SinglePartition ⇒ the whole relation serializes through one
  *      task at 100 TB),
  *   2. a cartesian product (pair materialization),
  *   3. a shuffled join (sort-merge / shuffled-hash) whose build side
  *      Catalyst itself estimates under the 8 MB broadcast bar — a
  *      dimension that should have been broadcast and wasn't,
  *   4. an unpushed parquet filter — a FilterExec sitting directly on a
  *      parquet scan that pushed NOTHING, not even an inferred
  *      IsNotNull: the whole predicate is opaque to the source, and at
  *      100 TB that is the difference between row-group skipping at the
  *      source and decoding every page to throw rows away one exec node
  *      later. A pushable twin usually exists (the five queries this
  *      check first caught all gained a semantically-implied IsNotNull
  *      conjunct on the scanned column).
  *
  * Planned (not executed) at sf0.001 — plan SHAPE is scale-invariant
  * for these patterns: empty partitionSpec and CartesianProductExec are
  * data-independent, a sub-8 MB-estimated side at planning time would
  * broadcast identically on a cluster, and pushdown is decided from the
  * predicate's shape, not the data. Allowlist entries carry the reason
  * the pattern is deliberate there. */
class PlanSweepSpec extends SparkSpec {

  /** name -> reason the flagged shape is intentional AND bounded. */
  private val allow: Map[String, String] = Map(
    "q_salted_join" -> ("the POINT of the query is the salted shuffled " +
      "join (hot-key mitigation for when the dim is too big to " +
      "broadcast); SHUFFLE_HASH-hinted by design"))

  private def offenders(p: SparkPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    // Nodes on the BUILD side of a broadcast join are bounded by the
    // broadcast hard cap (8 GB / 512M rows — the build FAILS loudly past
    // it), so an unpartitioned window there cannot be the silent
    // corpus-through-one-task shape this sweep hunts. Ranking.groupedRank
    // legitimately runs its offset prefix-sum window over the
    // domain-bounded histogram it then broadcasts; with empty groupCols
    // the constant partition key folds away and the window plans
    // unpartitioned — over a relation the same plan proves broadcast-small.
    //
    // SCOPE (ADVICE r14 #2): the cap bounds the relation AT the exchange,
    // not intermediates below it — corpus → unpartitioned window →
    // aggregate → broadcast would still funnel the whole corpus through
    // one task. The traversal therefore stops at the first
    // cardinality-collapsing node (aggregate/limit): everything between
    // the exchange and that node is provably cap-bounded; below it the
    // input can be arbitrarily large and stays in scope for the sweep.
    val bounded = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def markBounded(n: SparkPlan): Unit = {
      bounded.add(n)
      n match {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec |
             _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec |
             _: org.apache.spark.sql.execution.aggregate.SortAggregateExec |
             _: org.apache.spark.sql.execution.GlobalLimitExec |
             _: org.apache.spark.sql.execution.LocalLimitExec |
             _: org.apache.spark.sql.execution.CollectLimitExec => ()
        case _ => n.children.foreach(markBounded)
      }
    }
    p.foreach {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        markBounded(if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) j.left else j.right)
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        markBounded(if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) j.left else j.right)
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        markBounded(b.child) // executed plans carry the explicit exchange
      case _ => ()
    }
    // A window fed by a top-k limit (TakeOrderedAndProject, the plan of
    // an unpartitioned `row_number() <= k`) sees at most k rows: the
    // limit is the same cardinality collapse markBounded stops at, seen
    // from above. Only row-preserving nodes may sit in between.
    def overLimit(n: SparkPlan): Boolean = n match {
      case _: TakeOrderedAndProjectExec => true
      case _: ProjectExec | _: FilterExec | _: SortExec => overLimit(n.children.head)
      case _ => false
    }
    p.foreach {
      case w: WindowExec if w.partitionSpec.isEmpty && !bounded.contains(w) &&
          !overLimit(w.child) =>
        out += "unpartitioned WindowExec"
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty && !bounded.contains(w) =>
        out += "unpartitioned WindowGroupLimitExec"
      case _: CartesianProductExec =>
        out += "CartesianProductExec"
      case j: SortMergeJoinExec =>
        smallSide(j.joinType, j.left, j.right)
          .foreach(s => out += s"SortMergeJoin(${j.joinType}) with $s")
      case j: ShuffledHashJoinExec =>
        smallSide(j.joinType, j.left, j.right)
          .foreach(s => out += s"ShuffledHashJoin(${j.joinType}) with $s")
      case f: FilterExec =>
        f.child match {
          // Catalyst's v1 planner records every translatable conjunct in
          // the scan's PushedFilters as it plans, so "a Filter directly
          // on a parquet scan that pushed NOTHING — not even an inferred
          // IsNotNull" means the whole predicate is opaque to the source
          // (coalesce()/UDF/derived-expression shapes): every page
          // decodes only to discard rows one node later, when a
          // pushable rewrite usually exists. (DSv2 scans are out of
          // scope here: their pushdown happens in the ScanBuilder and
          // isn't generically introspectable; every fixture table is a
          // v1 parquet read.)
          case scan: FileSourceScanExec
              if scan.metadata.getOrElse("PushedFilters", "[]") == "[]" =>
            out += "unpushed parquet filter: " +
              f.condition.sql.replaceAll("\\s+", " ").take(90)
          case _ => ()
        }
      case _ => ()
    }
    out.toSeq.distinct
  }

  /** Catalyst's own planning-time estimate, via the physical node's
    * logical link — the number the broadcast decision was made from.
    * Only sides that could LEGALLY be the broadcast build side for the
    * join type count: a full-outer join can broadcast neither side, a
    * left-outer/semi/anti only its right — an SMJ there is Catalyst's
    * only option and the correct scale posture, not a missed broadcast. */
  private def smallSide(jt: JoinType, left: SparkPlan,
                        right: SparkPlan): Option[String] = {
    val bar = 8L * 1024 * 1024
    val (leftLegal, rightLegal) = jt match {
      case Inner | Cross => (true, true)
      case LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin => (false, true)
      case RightOuter => (true, false)
      case _ => (false, false) // FullOuter & anything exotic
    }
    def est(p: SparkPlan): Option[BigInt] =
      p.logicalLink.map(_.stats.sizeInBytes)
    (est(left), est(right)) match {
      case (Some(l), _) if leftLegal && l < bar =>
        Some(s"${l}B-estimated broadcastable left side")
      case (_, Some(r)) if rightLegal && r < bar =>
        Some(s"${r}B-estimated broadcastable right side")
      case _ => None
    }
  }

  test("the unpushed-filter detector actually fires (not vacuously green)") {
    // a null-TOLERANT predicate on a derived expression: nothing
    // translates (no comparison, and no inferred IsNotNull either), so
    // the scan pushes NOTHING — the smell the fourth check exists for,
    // here deliberately constructed (the pushable rewrite is
    // `o_orderpriority IS NULL OR o_orderpriority = ''`)
    val df = Tables.orders(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions
        .coalesce(org.apache.spark.sql.functions.col("o_orderpriority"),
          org.apache.spark.sql.functions.lit("")) === "")
    val found = offenders(df.queryExecution.sparkPlan)
    assert(found.exists(_.startsWith("unpushed parquet filter")),
      s"detector missed the opaque-predicate plan; saw: $found")
    // and the pushable rewrite is NOT flagged
    val good = Tables.orders(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("o_orderpriority").isNull ||
        org.apache.spark.sql.functions.col("o_orderpriority") === "")
    assert(!offenders(good.queryExecution.sparkPlan)
      .exists(_.startsWith("unpushed parquet filter")))
  }

  test("the broadcast-build exemption stops at the first aggregate " +
      "(corpus → window → agg → broadcast still flagged)") {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit, row_number, sum}
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val orders = Tables.orders(spark, dir)
    // ABOVE the collapse: window over an aggregate's (bounded) output,
    // broadcast afterwards — the groupedRank histogram shape, exempt
    val hist = orders.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("o_orderpriority"))))
    val good = orders.join(broadcast(hist), Seq("o_orderpriority"))
    assert(!offenders(good.queryExecution.sparkPlan)
      .exists(_.startsWith("unpartitioned Window")),
      "histogram-shape window under a broadcast must stay exempt")
    // BELOW the collapse: the whole corpus runs through one window task
    // before the aggregate shrinks it — the silent shape the sweep hunts;
    // the broadcast above must NOT exempt it (ADVICE r14 #2)
    val bad = orders.withColumn("rk",
        row_number().over(Window.orderBy(col("o_orderkey"))))
      .groupBy(col("o_orderpriority")).agg(sum(col("rk")).as("v"))
    val badJoined = orders.join(broadcast(bad), Seq("o_orderpriority"))
    assert(offenders(badJoined.queryExecution.sparkPlan)
      .exists(_.startsWith("unpartitioned Window")),
      "corpus-wide window below an aggregate on a broadcast build side " +
        "must still be flagged")
  }

  test("a window over a top-k limit is exempt; the same window over the " +
      "corpus is still flagged") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    // row_number() <= 20 plans as a Window over TakeOrderedAndProject(20)
    val topk = orders.withColumn("rk", row_number().over(w)).filter(col("rk") <= 20)
    assert(!offenders(topk.queryExecution.sparkPlan)
      .exists(_.startsWith("unpartitioned Window")),
      "a window over the 20 rows of a top-k limit must stay exempt")
    // no limit: the whole corpus runs through one window task
    val full = orders.withColumn("rk", row_number().over(w))
    assert(offenders(full.queryExecution.sparkPlan)
      .exists(_.startsWith("unpartitioned Window")),
      "a corpus-wide unpartitioned window must still be flagged")
  }

  // ---- repeated-subtree execution sweep (VERDICT r10 #5): two round-10
  // fixes (the band self-join running twice before localCheckpoint,
  // CurateCorpus's candidate relation) were found by eye; this catches
  // the class. An expensive subtree (join/aggregate/window) whose
  // canonicalized form appears more than once in the physical plan
  // executes that many times — UNLESS Spark's exchange reuse dedups it,
  // which it does exactly when the repeats sit under canonically
  // identical Exchange nodes. The sweep therefore works on the PREPARED
  // plan (exchanges inserted — `sparkPlan` has none yet), applies
  // Spark's own ReuseExchangeAndSubquery rule (the same canonical-key
  // criterion AQE's runtime stage cache uses), and then counts, for
  // each duplicated expensive node, how many occurrences still read a
  // REAL base (a leaf that is not a ReusedExchange). Two or more
  // real-base occurrences = the scans and everything above them
  // genuinely execute twice; one real + N reused = only the cheap
  // post-shuffle merge repeats (the percent-of-total idiom — accepted).
  // The fix on a hit is a localCheckpoint/cache pin on the shared
  // relation. Known limitation: AQE's runtime reuse has been observed
  // not to engage on some shapes this static rule dedups
  // (ops/Components.scala doc) — the sweep is a floor, not a ceiling.

  private val expensiveAllow: Map[String, String] = Map.empty

  private def preparedWithReuse(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    val p = df.queryExecution.executedPlan match {
      // pre-execution AQE wrapper: executedPlan here is the initial
      // physical plan with exchanges inserted, nothing has run
      case aqe: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        aqe.executedPlan
      case other => other
    }
    org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery.apply(p)
  }

  private def repeatedExpensive(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val plan = preparedWithReuse(df)
    def expensive(p: SparkPlan): Boolean = p match {
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec |
           _: CartesianProductExec | _: WindowExec => true
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec |
           _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec |
           _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec |
           _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
      case _ => false
    }
    def realBase(p: SparkPlan): Boolean =
      p.collectLeaves().exists {
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => false
        case _ => true
      }
    val occs = scala.collection.mutable.LinkedHashMap[SparkPlan,
      scala.collection.mutable.ArrayBuffer[SparkPlan]]()
    plan.foreach { n =>
      if (expensive(n))
        occs.getOrElseUpdate(n.canonicalized,
          scala.collection.mutable.ArrayBuffer()) += n
    }
    val flagged = occs.filter(_._2.count(realBase) >= 2).keys.toSeq
    // report only MAXIMAL repeated subtrees: a doubled join doubles its
    // child aggregates too — one root cause, one line
    val maximal = flagged.filterNot(g =>
      flagged.exists(h => (h ne g) && h.children.exists(_.find(_ == g).isDefined)))
    maximal.map(g =>
      s"${occs(g).count(realBase)}x ${g.nodeName} over " +
        g.collectLeaves().map(_.nodeName.trim).distinct.mkString("/"))
  }

  test("the repeated-subtree detector actually fires (not vacuously green)") {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit, sum}
    // one expensive relation (fact scan + broadcast join), consumed by
    // two aggregations with DIFFERENT grouping keys: the two required
    // hash partitionings share no exchange, so exchange reuse cannot
    // dedup the base — the scan and join execute twice. This is exactly
    // the r10 band-join shape.
    val j = Tables.orders(spark, "/root/testdata/sf0.001")
      .join(broadcast(Tables.customer(spark, "/root/testdata/sf0.001")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("c_custkey") === col("o_custkey"))
    // both consumers read the SAME columns (column pruning would
    // otherwise make the two occurrences canonically different — the
    // detector pins literal duplicates, the shape a shared val produces)
    def twoAggs(base: org.apache.spark.sql.DataFrame) =
      base.groupBy(col("c_nationkey")).agg(sum(col("o_totalprice")).as("v"))
        .join(base.groupBy(col("o_totalprice"))
          .agg(count(col("c_nationkey")).as("n")), lit(true), "cross")
    val found = repeatedExpensive(twoAggs(j))
    assert(found.nonEmpty, "detector missed a twice-executed join subtree")
    // the pinned twin is NOT flagged: localCheckpoint turns the shared
    // relation into a scanned leaf, executed once
    assert(repeatedExpensive(twoAggs(j.localCheckpoint())).isEmpty,
      "a checkpoint-pinned relation must not be flagged")
    // and the reuse-aware half does not over-fire: the percent-of-total
    // idiom (re-aggregating an aggregate — identical exchange below,
    // only the tiny post-shuffle merge repeats) stays green
    val rev = Tables.orders(spark, "/root/testdata/sf0.001")
      .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("v"))
    val tot = rev.agg(sum(col("v")).as("t"))
    assert(repeatedExpensive(rev.join(broadcast(tot), lit(true), "cross")).isEmpty,
      "a reused-exchange re-aggregation must not be flagged")
  }

  test("no expensive subtree executes more than once (post exchange-reuse) " +
      "across the full query registry") {
    val dir = "/root/testdata/sf0.001"
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val found = repeatedExpensive(fn(spark, dir))
      if (found.nonEmpty && !expensiveAllow.contains(name))
        violations += s"$name: ${found.mkString("; ")}"
    }
    assert(violations.isEmpty,
      s"\n${violations.size} queries with repeated expensive subtrees:\n" +
        violations.mkString("\n"))
  }

  test("no unpartitioned window / cartesian / unbroadcast-small-side " +
      "shuffled join / unpushed parquet filter across the full query registry") {
    val dir = "/root/testdata/sf0.001"
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val found = offenders(fn(spark, dir).queryExecution.sparkPlan)
      if (found.nonEmpty && !allow.contains(name))
        violations += s"$name: ${found.mkString("; ")}"
    }
    assert(violations.isEmpty,
      s"\n${violations.size} queries with scale anti-patterns:\n" +
        violations.mkString("\n"))
  }
}
