package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-6 additions: DSIR importance
  * weights and CCNet perplexity terciles. The oracle gate pins exact
  * values; these pin the properties any refactor must preserve. */
class Round6QueriesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("text_dsir_weights: one row per doc, exactly 50 selected, selection is top-by-weight") {
    val rows = run("text_dsir_weights").collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs)
    val (sel, unsel) = rows.partition(_.getInt(3) == 1)
    assert(sel.length == 50)
    // the cut is a total order on (logw DESC, doc_id): no unselected doc
    // may strictly outweigh a selected one
    assert(sel.map(_.getDouble(2)).min >= unsel.map(_.getDouble(2)).max)
  }

  test("text_dsir_weights: target-source docs skew target-like per token") {
    // the raw weight is length-dominated (longer doc = bigger |Σ n_f·lr|);
    // the self-fit bias shows in the per-token normalized weight
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source")
    val by = run("text_dsir_weights").join(docs, "doc_id")
      .groupBy(col("source") === "src0")
      .agg(avg(col("logw") / col("n_tokens")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(by(true) > by(false),
      s"src0 docs must score more target-like per token: $by")
  }

  test("dedup_semantic: one decision per vector, outlier-first keep rule") {
    val rows = run("dedup_semantic").collect() // (vec_id, cid, sim_c, kept)
    val nVecs = Tables.embeddings(spark, sfDir).count()
    assert(rows.length == nVecs)
    assert(rows.exists(_.getInt(3) == 0), "fixture near-dups must produce drops")
    // SemDeDup keeps cluster outliers: the farthest-from-centroid row of
    // every cluster is first in prune order and can never be dropped
    rows.groupBy(_.getLong(1)).foreach { case (cid, rs) =>
      val farthest = rs.minBy(r => (r.getDouble(2), r.getLong(0)))
      assert(farthest.getInt(3) == 1,
        s"cell $cid: farthest-from-centroid vector must be kept")
    }
  }

  test("text_perplexity_buckets: per-language terciles partition the corpus") {
    val rows = run("text_perplexity_buckets").collect()
    val perLang = rows.groupBy(_.getString(0))
    val docCounts = Tables.documents(spark, sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, rs) =>
      assert(rs.map(_.getString(1)).sorted.toSeq == Seq("head", "middle", "tail"))
      val sizes = rs.map(_.getLong(2))
      assert(sizes.sum == docCounts(lang), s"$lang tercile sizes must cover the corpus")
      assert(sizes.max - sizes.min <= 1, s"$lang terciles must be balanced: ${sizes.toSeq}")
      // head = least perplexed: bucket ranges ordered and non-overlapping
      val byB = rs.map(r => r.getString(1) -> (r.getDouble(3), r.getDouble(4))).toMap
      assert(byB("head")._1 >= byB("middle")._2,
        s"$lang head lp_min below middle lp_max")
      assert(byB("middle")._1 >= byB("tail")._2,
        s"$lang middle lp_min below tail lp_max")
    }
  }

  test("text_exactsubstr_dedup: removes exactly the maximal shared run from the later doc") {
    import spark.implicits._
    // doc 1 owns the 10-token run a..j; doc 2 embeds it at offset 2 —
    // its three duplicated 8-gram windows (offsets 2,3,4) must union to
    // the WHOLE run (positions 2..11), leaving exactly "x y z"; doc 3
    // shares nothing and must survive untouched
    val dir = java.nio.file.Files.createTempDirectory("graft_exsub").toString
    Seq(
      (1L, "a b c d e f g h i j", "en", "s0", 19L),
      (2L, "x y a b c d e f g h i j z", "en", "s0", 25L),
      (3L, "p q r s t u v w", "en", "s0", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("text_exactsubstr_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows(1L) === ((10L, 0L, md5("a b c d e f g h i j"))),
      "keeper doc must be untouched")
    assert(rows(2L) === ((13L, 10L, md5("x y z"))),
      "later doc must lose the full maximal run, not just one gram")
    assert(rows(3L) === ((8L, 0L, md5("p q r s t u v w"))),
      "unique doc must be untouched")
  }

  test("text_exactsubstr_dedup: fixture corpus removal is substantial and digest-consistent") {
    val rows = run("text_exactsubstr_dedup").collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    val removed = rows.map(_.getLong(2)).sum
    assert(removed > 0, "planted near-dup pairs must produce span removal")
    // a doc with zero removals keeps its original text digest
    val orig = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.filter(_.getLong(2) == 0L).foreach { r =>
      assert(r.getString(3) === orig(r.getLong(0)),
        s"doc ${r.getLong(0)}: untouched doc's digest must equal original")
    }
  }

  test("q_auc_rank == brute-force pairwise Mann-Whitney AUC") {
    val rows = Tables.documents(spark, sfDir)
      .select(col("n_chars"), (col("lang") === "en").as("y")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val wins = (for (p <- pos; q <- neg) yield
      if (p > q) 2L else if (p == q) 1L else 0L).sum
    val expected = wins.toDouble / (2L * pos.length * neg.length)
    val got = run("q_auc_rank").collect().head
    assert(got.getLong(0) == pos.length && got.getLong(1) == neg.length)
    assert(math.abs(got.getDouble(2) - expected) < 1e-12,
      s"auc ${got.getDouble(2)} != $expected")
    // the histogram path must handle ties: the fixture has them
    assert(pos.toSet.intersect(neg.toSet).nonEmpty, "no tied scores — tie term unexercised")
  }

  test("q_chisq_independence == scalar contingency recompute") {
    val rows = Tables.documents(spark, sfDir)
      .select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toDouble
    val rm = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val cm = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val cells = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    // the COMPLETE r×c grid (gate-blindness fix, round 11): an
    // unobserved cell still contributes (0−E)²/E = E to the statistic
    val grid = for (l <- rm.keys.toSeq; s <- cm.keys.toSeq) yield (l, s)
    val chi2 = grid.sorted.foldLeft(0.0) {
      case (acc, (l, s)) =>
        val o = cells.getOrElse((l, s), 0L)
        val e = (rm(l) * cm(s)).toDouble / n
        acc + (o - e) * (o - e) / e
    }
    val got = run("q_chisq_independence").collect().head
    assert(got.getLong(0) == rows.length)
    assert(got.getLong(1) == (rm.size - 1L) * (cm.size - 1L))
    assert(math.abs(got.getDouble(2) - chi2) < 1e-6)
    val v = math.sqrt(chi2 / (n * math.min(rm.size - 1, cm.size - 1)))
    assert(math.abs(got.getDouble(3) - v) < 1e-6)
  }

  test("text_bm25 == scalar re-derivation from raw corpus statistics") {
    // recompute BM25 start-to-finish in plain Scala from the collected
    // corpus and check the engine's top-20 (scores AND ranking) — catches
    // any drift in tf/df/dl wiring, the fold order, or the constants
    val qset = Seq("hash", "join", "vector", "stream")
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.length.toDouble).sum / n
    val df = qset.map(t => t -> docs.values.count(_.contains(t)).toDouble).toMap
    val scored = docs.toSeq.flatMap { case (id, toks) =>
      val terms = qset.filter(toks.contains).sorted
      if (terms.isEmpty) None else Some {
        val s = terms.foldLeft(0.0) { (acc, t) =>
          val tf = toks.count(_ == t).toDouble
          acc + math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) *
            (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * toks.length / avgdl))
        }
        (id, terms.size.toLong,
          BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.sortBy { case (id, _, s) => (-s, id) }.take(20)
    val got = run("text_bm25").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === scored)
  }

  test("q_assoc_rules: counts/conf/lift re-derived from brute-force basket pairs") {
    val baskets = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val nB = baskets.size.toDouble
    val supp = baskets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val pairSupp = baskets.values.toSeq
      .flatMap(b => b.toSeq.sorted.combinations(2))
      .groupBy(identity).view.mapValues(_.size).toMap
      .filter(_._2 >= 3)
    val expect = pairSupp.map { case (Seq(a, b), s) =>
      (a, b, s.toLong, s / supp(a).toDouble, s / supp(b).toDouble,
        s * nB / (supp(a).toDouble * supp(b)))
    }.toSet
    val got = run("q_assoc_rules").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("q_incremental_agg_merge: base+delta merge == full recompute (the refresh invariant)") {
    val full = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("cust"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("sum_cents"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_day"))
      .withColumn("avg_cents", floor(col("sum_cents") / col("n")).cast("long"))
      .orderBy("cust").collect().toSeq
    val merged = run("q_incremental_agg_merge").collect().toSeq
    assert(merged === full)
    // both sides of the split must be non-trivial or the merge is vacuous
    val split = lit("2000-01-01").cast("timestamp_ntz")
    assert(Tables.orders(spark, sfDir).filter(col("o_orderdate") < split).count() > 0)
    assert(Tables.orders(spark, sfDir).filter(col("o_orderdate") >= split).count() > 0)
  }

  test("q_er_gram_blocked == brute-force all-pairs on adversarial lengths (count-filter soundness)") {
    import spark.implicits._
    // strings straddling every code path: below-q (no grams), short
    // (≤ 8, broadcast fallback), boundary 8/9, long (gram count filter),
    // plus planted ed ≤ 2 pairs via substitution / insertion / deletion
    val rng = new scala.util.Random(42)
    val base = Seq("ab", "hot", "hot bolt", "hot bolts", "cold bolt",
      "navy lace spring", "navy lace sprigg", "navy lacespring",
      "goldenrod chocolate", "goldenrod chocolatee", "xgoldenrod chocolate")
    val fuzz = (0 until 40).map { _ =>
      val s = "abcdefgh".take(3 + rng.nextInt(6)) + " " +
        Seq("ring", "bolt", "lace", "ring").apply(rng.nextInt(4))
      if (rng.nextBoolean()) s.updated(rng.nextInt(s.length), 'z') else s
    }
    val names = (base ++ fuzz).zipWithIndex
      .map { case (n, i) => (i.toLong * 50, n, "x", 1, s"m$i", "JUMBO", 1, 0.0, "c") }
    val dir = java.nio.file.Files.createTempDirectory("graft_er").toString
    names.toDF("p_partkey", "p_name", "p_mfgr", "p_brand", "p_type",
        "p_container", "p_size", "p_retailprice", "p_comment")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("q_er_gram_blocked")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rel = names.map(t => (t._1, t._2)).toDF("id", "name")
    val truth = graft.ops.TextOps.allPairsLevenshteinLocal(rel, "id", "name", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === truth)
    assert(truth.nonEmpty, "fixture must contain true near-pairs")
    assert(truth.exists { case (a, b, _) => // both paths exercised
      val byId = names.map(t => t._1 -> t._2).toMap
      byId(a).length <= 8 && byId(b).length <= 8
    }, "no short-short pair — fallback path unexercised")
  }

  test("Tables.events normalizes both fixture layouts (nanos-long and micros-NTZ) identically") {
    import spark.implicits._
    // canonical read of the current (TIMESTAMP_NTZ micros) fixture
    val canon = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), unix_micros(col("ts")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // re-write the same instants in the LEGACY layout: ts as a raw
    // nano-of-epoch LONG column (what parquet TIMESTAMP(NANOS) surfaces
    // as under the nanosAsLong conf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_nanos")
    Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), (unix_micros(col("ts")) * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
    val legacy = Tables.events(spark, dir.toString)
      .select(col("event_id"), unix_micros(col("ts")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(legacy === canon)
  }

  test("Tables.events: every session loading a TIMESTAMP(NANOS) file gets the " +
      "legacy conf, whichever session cached its schema (the cache is path-keyed)") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_nanos_sessions")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val file = dir.resolve("events.parquet").toString
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    val nanos = Seq(1L -> 1700000000123456789L, 2L -> -1500L)
    val groups = new SimpleGroupFactory(schema)
    try nanos.foreach { case (id, ts) =>
      writer.write(groups.newGroup().append("event_id", id).append("ts", ts))
    } finally writer.close()
    def micros(s: org.apache.spark.sql.SparkSession): Map[Long, Long] =
      Tables.events(s, dir.toString)
        .select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // floor division: -1500 ns is -2 µs, not -1
    val expected = Map(1L -> 1700000000123456L, 2L -> -2L)
    // the first session trips the NANOS retry and caches the schema; the
    // second hits the cache and never sees the failure that sets the conf
    val first = spark.newSession()
    assert(micros(first) === expected)
    val second = spark.newSession()
    assert(micros(second) === expected)
    // both end in the same state: a direct read of the file infers its
    // schema in the second session too, instead of failing on NANOS
    for (s <- Seq(first, second)) {
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
      assert(s.read.parquet(file).schema("ts").dataType ===
        org.apache.spark.sql.types.LongType)
    }
  }

  test("text_hash_classifier: sigmoid bounds, margin/label consistency, both labels present") {
    val rows = run("text_hash_classifier").collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val (score, label) = (r.getDouble(2), r.getString(3))
      assert(score > 0.0 && score < 1.0, s"sigmoid out of range: $score")
      // sigmoid(margin) > 0.5 <=> margin > 0 <=> label 'keep' (score is
      // rounded to 6dp, so allow the knife-edge at exactly 0.5)
      if (score > 0.500001) assert(label == "keep")
      if (score < 0.499999) assert(label == "drop")
    }
    val labels = rows.map(_.getString(3)).toSet
    assert(labels == Set("keep", "drop"),
      s"a hash-random model over 500 docs must split both ways: $labels")
  }

  test("text_hash_classifier: model is a pure function of the token multiset") {
    // same doc text => same score: apply the query to a table with a
    // duplicated text under a new id and require identical scores
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hc").toString
    val one = Tables.documents(spark, sfDir).limit(1).collect().head
    Seq((1L, one.getString(1), "en", "src0", one.getString(1).length.toLong),
        (2L, one.getString(1), "en", "src0", one.getString(1).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val scores = SparkEntry.queries("text_hash_classifier")(spark, dir)
      .collect().map(_.getDouble(2)).toSeq
    assert(scores.distinct.size == 1, s"identical texts must tie: $scores")
  }

  test("dedup_source_matrix: cells conserve the verified pair count, order-normalized") {
    val cells = run("dedup_source_matrix").collect()
    val pairs = run("dedup_minhash_lsh").count()
    assert(cells.map(_.getLong(2)).sum == pairs,
      "every verified pair lands in exactly one (src_a, src_b) cell")
    cells.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "matrix must be upper-triangular")
      val avg = r.getDouble(3)
      assert(avg >= 0.8 && avg <= 1.0, s"avg jaccard of verified pairs: $avg")
    }
  }

  test("sim_knn_graph: full coverage, rank-monotone, useful recall of true top-1s") {
    val edges = run("sim_knn_graph").collect()
    val nVecs = Tables.embeddings(spark, sfDir).count()
    // every vector gets a full k=5 list (cells of ~100 always have ≥6)
    assert(edges.length == nVecs * 5)
    edges.groupBy(_.getLong(0)).foreach { case (_, es) =>
      val byRank = es.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "cosine must be non-increasing in rank")
    }
    // cell blocking must still recover a useful share of the TRUE
    // (brute-force) nearest neighbors — 0.42 observed on the fixture;
    // 0.3 is the regression floor, not the target
    val adj = edges.groupBy(_.getLong(0))
      .map { case (v, es) => v -> es.map(_.getLong(2)).toSet }
    val top1 = run("sim_cosine_topk").collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getLong(2))
    val hit = top1.count { case (q, n) => adj.getOrElse(q, Set.empty).contains(n) }
    assert(hit.toDouble / top1.length >= 0.3,
      s"top-1 recall collapsed: $hit/${top1.length}")
  }

  test("q_er_resolve: cluster sizes equal a driver-side union-find replay of the pairs") {
    val rows = run("q_er_resolve").collect()
    val ids = Tables.part(spark, sfDir).filter(col("p_partkey") % 50 === 0)
      .select("p_partkey").collect().map(_.getLong(0))
    val pairs = run("q_er_gram_blocked").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    // union-by-min: the surviving root of a component is its min id,
    // matching the query's min-label propagation
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.groupBy(find).map { case (root, ms) => root -> ms.length.toLong }
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(expected.values.exists(_ > 1), "fixture must produce a real merge")
  }

  test("q_interval_join: bin-compiled overlap counts equal a brute-force replay") {
    val got = run("q_interval_join").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = orders.groupBy(_._1).flatMap { case (cust, os) =>
      val n = os.combinations(2).count { case Array((_, k1, s1), (_, k2, s2)) =>
        s1 < s2 + 7 && s2 < s1 + 7
      }
      if (n > 0) Some(cust -> n.toLong) else None
    }.toMap
    assert(got === brute)
    assert(brute.nonEmpty, "fixture must contain overlapping windows")
  }

  test("q_target_encoding: shrinkage pulls every cell between raw mean and prior") {
    val rows = run("q_target_encoding").collect()
    assert(rows.length == 125, "25 nations x 5 segments")
    // global mean reconstructed from the cells (exact cents weighting)
    val n = rows.map(_.getLong(2)).sum
    val gm = rows.map(r => r.getDouble(3) * r.getLong(2)).sum / n
    rows.foreach { r =>
      val (nOrders, raw, enc) = (r.getLong(2), r.getDouble(3), r.getDouble(4))
      val lo = math.min(raw, gm) - 0.02 // raw_avg is rounded to 4dp
      val hi = math.max(raw, gm) + 0.02
      assert(enc >= lo && enc <= hi,
        s"encoded $enc must sit between raw $raw and prior $gm")
      // shrinkage weight: with m=10, the encoded value is closer to the
      // raw mean than the prior whenever the cell outweighs the prior
      if (nOrders > 50)
        assert(math.abs(enc - raw) < math.abs(enc - gm),
          s"populous cell must stay near its raw mean ($nOrders orders)")
    }
  }
}
