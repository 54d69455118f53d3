package graft.queries

import graft.Tables
import graft.ops.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis surface over `documents` (north-star ops): token
  * statistics, quality scoring, n-gram language ID, and md5-derived
  * document fingerprints. All narrow map + one groupBy per query —
  * linear in corpus size at any scale. */
object TextQueries extends QueryRegistry {

  private val stopwords = Seq("the", "a", "of", "and", "in", "to", "is")

  // Array-local per-doc stats: no explode, no shuffle (except the final
  // sort) — at 100 TB the explode+groupBy(doc_id) form would shuffle one
  // row per TOKEN; this computes inside the row. avg is exact integer-sum
  // arithmetic over int lengths, identical to the grouped form.
  private val tokenStats = NamedQuery(
    "text_token_stats",
    (spark, d) => Tables.documents(spark, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).as("n_tokens"),
        size(array_distinct(col("ws"))).as("n_uniq"),
        // raw-emit rational mean (rule 12): exact int char sum / count
        aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w))
          .cast("double").divide(size(col("ws"))).as("avg_word_len"),
        array_max(transform(col("ws"), w => length(w))).as("max_word_len"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, count(*) AS n_tokens,
        |  count(DISTINCT word) AS n_uniq,
        |  CAST(sum(length(word)) AS DOUBLE) / count(*) AS avg_word_len,
        |  max(length(word)) AS max_word_len
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // Heuristic quality score: length saturation + lexical diversity +
  // (1 − stopword density), the standard pretraining-filter trio.
  private val quality = NamedQuery(
    "text_quality_score",
    // THE shared scorer (see qualityScored below): text_quality_score,
    // pipeline_curate, and pipeline_train_mix all gate through this one
    // definition — a weight or stopword edit cannot desync them. Row-
    // local token stats (zero shuffle), no round(): every term is
    // IEEE-exact arithmetic on integer aggregates evaluated in the same
    // order as the oracle, while round() half-way tie-breaking DIFFERS
    // between engines and would desync exact .5 cases.
    (spark, d) => qualityScored(Tables.documents(spark, d)).orderBy("doc_id"),
    Some(s"""WITH $qualityCteSql
        |SELECT doc_id, quality FROM q ORDER BY doc_id""".stripMargin))

  private val langStats = NamedQuery(
    "text_lang_stats",
    (spark, d) => Tables.documents(spark, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        // raw-emit rational mean (rule 12): exact int sum / count
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        sum(size(TextOps.words(col("text")))).as("total_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang"),
    // CAST(sum(...) AS BIGINT): DuckDB sum over integers is HUGEINT →
    // float via the driver's pandas bridge → value-hash mismatch vs
    // Spark's LongType.
    Some("""SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  // n-gram-heuristic language ID: vote by disjoint marker-word sets,
  // argmax with deterministic tie-break, 'und' when no marker fires.
  private val markers = Seq(
    "the" -> "en", "and" -> "en", "el" -> "es", "las" -> "es",
    "der" -> "de", "und" -> "de", "le" -> "fr", "les" -> "fr",
    "shi" -> "zh", "wo" -> "zh")

  private val langid = NamedQuery(
    "text_langid",
    (spark, d) => {
      import spark.implicits._
      val mk = broadcast(markers.toDF("word", "mlang"))
      val docs = Tables.documents(spark, d)
      val votes = docs
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
        .join(mk, "word")
        .groupBy("doc_id", "mlang")
        .agg(count(lit(1)).as("v"))
      val w = Window.partitionBy(col("doc_id")).orderBy(desc("v"), col("mlang"))
      val best = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("mlang"))
      docs.select(col("doc_id"), col("lang").as("labeled"))
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("mlang"), lit("und")).as("predicted"),
          col("labeled"))
        .orderBy("doc_id")
    },
    Some(s"""WITH markers(word, mlang) AS (VALUES
        |  ${markers.map { case (w, l) => s"('$w','$l')" }.mkString(",\n  ")}),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |votes AS (SELECT doc_id, mlang, count(*) AS v
        |          FROM tok JOIN markers USING (word) GROUP BY 1, 2),
        |best AS (SELECT doc_id, mlang
        |         FROM (SELECT *, row_number() OVER (
        |                 PARTITION BY doc_id ORDER BY v DESC, mlang) AS rn
        |               FROM votes) t WHERE rn = 1)
        |SELECT d.doc_id, coalesce(b.mlang, 'und') AS predicted, d.lang AS labeled
        |FROM documents d LEFT JOIN best b USING (doc_id)
        |ORDER BY doc_id""".stripMargin))

  // Repetition-based quality metrics in the Gopher filter family (Rae
  // et al. 2021 §A1.1). Two metric FLAVORS per n-gram statistic:
  //   - occurrence fractions (top_bigram_frac, dup_trigram_frac) —
  //     share of n-gram OCCURRENCES; compact and threshold-friendly,
  //     but NOT the published definition;
  //   - character fractions (top_bigram_char_frac,
  //     dup_trigram_char_frac) — Rae et al.'s actual filters are
  //     "fraction of CHARACTERS in the most common n-gram" / "in
  //     duplicate n-grams", approximated as count·len(gram)/n_chars
  //     (overlapping occurrences can exceed 1, as the paper notes) —
  //     emitted so a consumer applying the PUBLISHED thresholds gets
  //     the published quantity (gate-blind label fix, review r11).
  // Top-gram tie-break: max (count, char-length) — deeper ties leave
  // count·len unchanged. Docs with exactly 2 tokens have one bigram and
  // NO trigrams: they emit top_bigram_frac = 1 with NULL
  // dup_trigram_frac (a bi⋈tri inner join silently dropped them — the
  // short boilerplate this query exists to surface; review r11). Docs
  // with < 2 tokens have no n-gram statistics at all and are absent.
  // Fractions are ONE division each → bit-identical across engines,
  // emitted raw (COVERAGE.md determinism rule 2).
  private val repetition = NamedQuery(
    "text_repetition",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      val bi = TextOps.ngrams(docs, "doc_id", "text", 2)
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("topc"),
          max(struct(col("c"), length(col("gram")).as("glen"))).as("top"))
      val tri = TextOps.ngrams(docs, "doc_id", "text", 3)
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_trigrams"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dupc"),
          sum(when(col("c") > 1, col("c") * length(col("gram")))
            .otherwise(0L)).as("dupchars"))
      bi.join(tri, Seq("doc_id"), "left")
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .select(col("doc_id"), col("n_bigrams"),
          (col("topc") / col("n_bigrams")).as("top_bigram_frac"),
          (col("dupc") / col("n_trigrams")).as("dup_trigram_frac"),
          (col("top.c") * col("top.glen") / col("n_chars"))
            .as("top_bigram_char_frac"),
          (coalesce(col("dupchars"), lit(0L)) / col("n_chars"))
            .as("dup_trigram_char_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |bi AS (SELECT doc_id, array_to_string(words[i:i+1], ' ') AS g
        |       FROM w, unnest(generate_series(1, len(words) - 1)) t(i)),
        |bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
        |bia AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |               max(c) AS topc FROM bic GROUP BY 1),
        |bitop AS (SELECT doc_id, c, glen FROM (
        |            SELECT doc_id, c, length(g) AS glen, row_number() OVER (
        |              PARTITION BY doc_id ORDER BY c DESC, length(g) DESC) AS rn
        |            FROM bic) t WHERE rn = 1),
        |tri AS (SELECT doc_id, array_to_string(words[i:i+2], ' ') AS g
        |        FROM w, unnest(generate_series(1, len(words) - 2)) t(i)),
        |tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
        |tria AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
        |                CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupc,
        |                CAST(sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END)
        |                     AS BIGINT) AS dupchars
        |         FROM tric GROUP BY 1)
        |SELECT bia.doc_id, n_bigrams,
        |  topc / CAST(n_bigrams AS DOUBLE) AS top_bigram_frac,
        |  dupc / CAST(n_trigrams AS DOUBLE) AS dup_trigram_frac,
        |  (bitop.c * bitop.glen) / CAST(d.n_chars AS DOUBLE) AS top_bigram_char_frac,
        |  coalesce(dupchars, 0) / CAST(d.n_chars AS DOUBLE) AS dup_trigram_char_frac
        |FROM bia
        |JOIN bitop USING (doc_id)
        |LEFT JOIN tria USING (doc_id)
        |JOIN documents d USING (doc_id)
        |ORDER BY doc_id""".stripMargin))

  // Document fingerprints: whole-text md5 plus a 1-hash MinHash over
  // 3-gram shingles (the md5-derived 60-bit hash is engine-portable).
  private val fingerprint = NamedQuery(
    "text_fingerprint",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      val sh = TextOps.shingles(docs, "doc_id", "text", 3)
      val sig = sh.groupBy("doc_id")
        .agg(min(TextOps.md5Long(col("shingle"))).as("min_shingle_hash"))
      docs.select(col("doc_id"), md5(col("text")).as("text_md5"))
        .join(sig, Seq("doc_id"), "left")
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
        |       FROM w, unnest(generate_series(1, len(words) - 2)) AS t(i)),
        |sig AS (SELECT doc_id,
        |          min(('0x' || substr(md5(shingle), 1, 15))::BIGINT) AS min_shingle_hash
        |        FROM sh GROUP BY doc_id)
        |SELECT d.doc_id, md5(d.text) AS text_md5, s.min_shingle_hash
        |FROM documents d LEFT JOIN sig s USING (doc_id)
        |ORDER BY doc_id""".stripMargin))

  // Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03
  // — the MOSS algorithm): hash every k-gram (k=4), slide a w=5 window
  // over the hash sequence, select each window's minimum; any shared
  // substring of ≥ k+w−1 tokens between two documents is GUARANTEED to
  // share a selected hash, at ~2/(w+1) the storage of full shingling.
  // The output pins each doc's selected-set cardinality and a digest of
  // the set (min/max/mod-sum) — the downstream join key material.
  // Scale shape: every pass is row-local (per-token polynomial char
  // fold, O(k)-integer-op k-gram combine — see TextOps.winnowSelect for
  // why md5-per-k-gram was retired); the intermediate arrays are pinned
  // (localCheckpoint) against the TextOps.shingles CollapseProject trap.
  // No shuffle anywhere except the final ORDER BY.
  private val winnowing = NamedQuery(
    "text_winnowing",
    (spark, d) => {
      TextOps.winnowSelect(Tables.documents(spark, d), "doc_id", "text",
          k = 4, w = 5)
        .select(col("doc_id"), col("n_windows"),
          size(col("sel")).cast("long").as("n_selected"),
          array_min(col("sel")).as("sel_min"),
          array_max(col("sel")).as("sel_max"),
          expr("aggregate(sel, cast(0 as bigint), (a, x) -> a + x % 1000000007)")
            .as("sel_digest"))
        .orderBy("doc_id")
    },
    Some("""WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |th AS (
        |  SELECT doc_id, list_transform(ws, t -> list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(t, '(?s).'),
        |                     c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647)) AS th
        |  FROM ws),
        |hs AS (
        |  SELECT doc_id, list_transform(range(1, len(th) - 2),
        |    i -> (((((th[i]) * 1000003 + th[i+1]) % 2147483647)
        |            * 1000003 + th[i+2]) % 2147483647)
        |          * 1000003 + th[i+3]) AS hs0
        |  FROM th),
        |hsm AS (
        |  SELECT doc_id, list_transform(hs0, h -> h % 2147483647) AS hs
        |  FROM hs),
        |sel AS (
        |  SELECT doc_id, len(hs) - 4 AS n_windows,
        |    list_distinct(list_transform(range(1, len(hs) - 3),
        |      i -> list_min(hs[i:i+4]))) AS sel
        |  FROM hsm)
        |SELECT doc_id, cast(n_windows AS BIGINT) AS n_windows,
        |  cast(len(sel) AS BIGINT) AS n_selected,
        |  list_min(sel) AS sel_min, list_max(sel) AS sel_max,
        |  cast(list_sum(list_transform(sel, h -> h % 1000000007)) AS BIGINT)
        |    AS sel_digest
        |FROM sel ORDER BY doc_id""".stripMargin))

  // Regex tokenization (the BPE-ish split path) + a true polynomial
  // rolling hash over the character stream: h ← (31h + code) mod (2³¹−1),
  // exact BIGINT arithmetic both engines (chars via regexp '(?s).' so
  // the char streams are identical INCLUDING line terminators — a bare
  // '.' skips \n/\r in both RE2 and Java, so 'foo\nbar' and 'foobar'
  // would hash the same: a gate-blind fingerprint-collision class —
  // and Spark split-on-empty has edge empties).
  private val tokenRegex = NamedQuery(
    "text_token_regex",
    (spark, d) => Tables.documents(spark, d)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_alpha"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_num"),
        aggregate(
          transform(expr("regexp_extract_all(text, '(?s).', 0)"),
            c => ascii(c).cast("long")),
          lit(0L), (h, c) => (h * 31 + c) % 2147483647L).as("rolling_hash"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_alpha,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_num,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(text, '(?s).'),
        |                     c -> CAST(ascii(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 2147483647) AS rolling_hash
        |FROM documents ORDER BY doc_id""".stripMargin))

  // Deterministic hash sampling (training-data pipelines need REPRODUCIBLE
  // samples — rand()-based sampling differs per run/engine/partitioning;
  // md5-derived bucketing is stable everywhere). ~1-in-5 Bernoulli by
  // hash bucket, with per-stratum acceptance stats.
  private val sampleHash = NamedQuery(
    "q_sample_hash",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      docs
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(TextOps.md5Long(col("doc_id")) % 5 === 0, 1L).otherwise(0L))
            .as("n_sampled"))
        .select(col("lang"), col("n_total"), col("n_sampled"),
          (col("n_sampled") / col("n_total")).as("rate"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |                     % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |                     % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(count(*) AS DOUBLE) AS rate
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  // Deterministic per-stratum top-k sampling: the k docs with the
  // smallest md5 hash per language — a reproducible "reservoir" whose
  // membership is stable under any partitioning or row order.
  private val samplePerGroup = NamedQuery(
    "q_sample_per_group",
    (spark, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      Tables.documents(spark, d)
        .select(col("lang"), col("doc_id"), TextOps.md5Long(col("doc_id")).as("h"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy("lang", "rk")
    },
    Some("""SELECT lang, rk, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |             doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin))

  // The capstone composition — a corpus-curation pass chaining the
  // pipeline's own operators: quality-filter (score ≥ 0.5) → exact-dedup
  // to keepers (min doc_id per md5) → deterministic 1-in-2 hash sample →
  // per-language yield report. Every stage is one of the oracle-checked
  // primitives above; this query pins that they COMPOSE without
  // re-deriving anything (the shape an actual pretraining data job has).
  /** The curation quality score (doc_id, quality) — ONE definition
    * shared by pipeline_curate and pipeline_train_mix so the capstone
    * provably composes the same gate the curate query verifies. */
  private def qualityScored(docs: org.apache.spark.sql.DataFrame) =
    TextOps.qualityStatsLocal(docs, "doc_id", "text", col("n_chars"), stopwords)
      .select(col("doc_id"),
        (lit(0.4) * least(col("n_chars") / 500.0, lit(1.0))
          + lit(0.3) * (col("n_uniq") / col("n_tokens").cast("double"))
          + lit(0.3) * (lit(1.0) - col("n_stop") / col("n_tokens").cast("double")))
          .as("quality"))

  /** Exact-dedup keepers (min doc_id per distinct text) — shared for the
    * same reason. */
  private def exactKeepers(docs: org.apache.spark.sql.DataFrame) =
    docs.groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** Per-language mixture keep predicate (deterministic md5-Bernoulli,
    * dyadic rates so rate·2⁶⁰ is integer-exact in both engines) — ONE
    * definition shared by q_sample_mixture and pipeline_train_mix, so a
    * rate edit cannot silently make the capstone verify a different
    * mixture than the stage query. */
  private def mixtureKeep: org.apache.spark.sql.Column = {
    val rate = when(col("lang") === "en", 0.25)
      .when(col("lang") === "zh", 0.75)
      .otherwise(0.5)
    TextOps.md5Long(col("doc_id")) < rate * lit(1152921504606846976.0)
  }

  /** DuckDB dual of [[mixtureKeep]]; `p` prefixes the doc columns
    * ("" for bare, "d." under an alias). */
  private def mixtureKeepSql(p: String): String =
    s"('0x' || substr(md5(CAST(${p}doc_id AS VARCHAR)), 1, 15))::BIGINT" +
      s" < (CASE ${p}lang WHEN 'en' THEN 0.25 WHEN 'zh' THEN 0.75" +
      " ELSE 0.5 END) * 1152921504606846976.0"

  /** SQL mirrors of the two shared stages (CTE bodies, identical text in
    * both oracles). */
  private val keepersCteSql =
    "keepers AS (\n  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))"
  private def qualityCteSql = s"""q AS (
    |  SELECT doc_id,
    |    0.4 * least(n_chars / 500.0, 1.0)
    |      + 0.3 * (n_uniq / CAST(n_tokens AS DOUBLE))
    |      + 0.3 * (1.0 - n_stop / CAST(n_tokens AS DOUBLE)) AS quality
    |  FROM (
    |    SELECT doc_id, count(*) AS n_tokens, count(DISTINCT word) AS n_uniq,
    |      sum(CASE WHEN word IN (${stopwords.map("'" + _ + "'").mkString(",")})
    |          THEN 1 ELSE 0 END) AS n_stop,
    |      first(n_chars) AS n_chars
    |    FROM (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS word
    |          FROM documents) t
    |    GROUP BY doc_id) s)""".stripMargin

  private val curate = NamedQuery(
    "pipeline_curate",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      val quality = qualityScored(docs)
      val keepers = exactKeepers(docs)
      docs
        .join(keepers, "doc_id")
        .join(quality, "doc_id")
        .filter(col("quality") >= 0.5)
        .filter(TextOps.md5Long(col("doc_id")) % 2 === 0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          round(avg(col("quality")), 4).as("avg_quality"))
        .orderBy("lang")
    },
    Some(s"""WITH $qualityCteSql,
        |$keepersCteSql
        |SELECT d.lang, count(*) AS n_kept,
        |  round(avg(q.quality), 4) AS avg_quality
        |FROM documents d
        |JOIN keepers k USING (doc_id)
        |JOIN q USING (doc_id)
        |WHERE q.quality >= 0.5
        |  AND ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
        |GROUP BY d.lang
        |ORDER BY d.lang""".stripMargin))

  // TF-IDF keyword extraction: the classic corpus-statistics projection —
  // tf(doc, word) × ln(N/df(word)), top-3 terms per document. All
  // relational (two aggregations + one window); ln is transcendental so
  // the score is rounded to 6 before ranking, and the rank is computed ON
  // the rounded value in both engines with `word` as the tie-break.
  private val tfidf = NamedQuery(
    "text_tfidf_top",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      // row-local term counts (one row per distinct term, not per token);
      // checkpointed — read by the df aggregation AND the scoring join
      val tf = TextOps.termCountsLocal(docs, "doc_id", "text").localCheckpoint()
      val dfc = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(desc("tfidf"), col("word"))
      tf.join(dfc, "word")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("word"), col("tfidf"))
        .orderBy("doc_id", "rk")
    },
    Some("""WITH wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |               FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM wds GROUP BY 1, 2),
        |dfc AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT doc_id, rk, word, tfidf FROM (
        |  SELECT tf.doc_id, tf.word,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / tf_df.df), 6) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / tf_df.df), 6) DESC,
        |               tf.word) AS rk
        |  FROM tf JOIN dfc tf_df USING (word) CROSS JOIN n) t
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin))

  // Bigram collocation mining via pointwise mutual information:
  // pmi(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) over all bigram
  // occurrences and p(·) over all token occurrences. The corpus-level
  // n-gram statistics pass every tokenizer/phrase-mining pipeline runs;
  // division order is written identically in both engines and the
  // transcendental result is rounded before the ORDER BY/LIMIT.
  private val pmi = NamedQuery(
    "text_bigram_pmi",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      val uni = docs.select(explode(TextOps.words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      val bi = TextOps.ngrams(docs, "doc_id", "text", 2)
        .groupBy("gram").agg(count(lit(1)).as("c_ab"))
      // totals from ONE row-local scan, not from re-aggregating the
      // unigram/bigram exchanges (r15): Σc over uni IS Σ|words| and
      // Σc_ab over bi IS Σ max(|words|−1, 0) — the two agg-consumers
      // previously re-ran the full 270k-gram hash aggregation just to
      // sum it (StageProfile: 740 ms of 2.4 s executor on the bigram
      // re-agg alone). A null text contributes nothing to either side
      // (explode of a null array emits no rows; sum skips the null
      // size, greatest(null−1, 0) folds to 0).
      val totals = docs
        .select(size(TextOps.words(col("text"))).cast("long").as("n"))
        .agg(sum(col("n")).as("u_total"),
          sum(greatest(col("n") - 1L, lit(0L))).as("b_total"))
      bi.filter(col("c_ab") >= 20)
        .withColumn("w1", split(col("gram"), " ").getItem(0))
        .withColumn("w2", split(col("gram"), " ").getItem(1))
        .join(uni.select(col("word").as("w1"), col("c").as("c_a")), "w1")
        .join(uni.select(col("word").as("w2"), col("c").as("c_b")), "w2")
        .crossJoin(broadcast(totals))
        .withColumn("pmi",
          round(log((col("c_ab").cast("double") / col("b_total")) /
            ((col("c_a").cast("double") / col("u_total"))
              * (col("c_b").cast("double") / col("u_total")))), 6))
        .select(col("gram"), col("c_ab"), col("pmi"))
        .orderBy(desc("pmi"), col("gram"))
        .limit(50)
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |uni AS (SELECT word, count(*) AS c
        |        FROM (SELECT unnest(words) AS word FROM w) t GROUP BY 1),
        |ut AS (SELECT CAST(sum(c) AS BIGINT) AS u_total FROM uni),
        |bi AS (SELECT gram, count(*) AS c_ab FROM (
        |         SELECT array_to_string(words[i:i+1], ' ') AS gram
        |         FROM w, unnest(generate_series(1, len(words) - 1)) AS t(i)) s
        |       GROUP BY 1),
        |bt AS (SELECT CAST(sum(c_ab) AS BIGINT) AS b_total FROM bi)
        |SELECT gram, c_ab,
        |  round(ln((CAST(c_ab AS DOUBLE) / b_total) /
        |    ((CAST(a.c AS DOUBLE) / u_total) * (CAST(b.c AS DOUBLE) / u_total))), 6) AS pmi
        |FROM bi
        |JOIN uni a ON a.word = string_split(gram, ' ')[1]
        |JOIN uni b ON b.word = string_split(gram, ' ')[2]
        |CROSS JOIN ut CROSS JOIN bt
        |WHERE c_ab >= 20
        |ORDER BY pmi DESC, gram LIMIT 50""".stripMargin))

  // Corpus length histogram: fixed-width integer buckets (100 chars) per
  // language — the length-distribution profile every curation run reports
  // before choosing truncation/filter thresholds. Integer bucket math is
  // engine-exact (no round()).
  private val histogram = NamedQuery(
    "text_length_histogram",
    (spark, d) => Tables.documents(spark, d)
      .select(col("lang"), (floor(col("n_chars") / 100) * 100).as("bucket"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "bucket"),
    // CAST: DuckDB's floor(BIGINT/100) arrives as DOUBLE, and its integer
    // division differs — keep the arithmetic double-then-cast both sides
    Some("""SELECT lang,
        |  CAST(floor(n_chars / 100.0) * 100 AS BIGINT) AS bucket,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin))

  // Fixed-size document chunking: split each document into 16-token
  // chunks preserving token order — the sequence-prep step a training
  // pipeline runs after curation. Chunk text is emitted as md5 (the
  // comparison only needs identity; full text would bloat the result),
  // with token counts per chunk. Order inside a chunk is pinned by
  // sorting on position, never by shuffle luck.
  private val chunking = NamedQuery(
    "text_chunking",
    (spark, d) => {
      val chunkSize = 16
      Tables.documents(spark, d)
        .select(col("doc_id"), posexplode(TextOps.words(col("text"))).as(Seq("pos", "word")))
        .groupBy(col("doc_id"), (col("pos") / chunkSize).cast("long").as("chunk_id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("word")))),
              x => x.getField("word")),
            " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""SELECT doc_id, CAST(floor((pos - 1) / 16.0) AS BIGINT) AS chunk_id,
        |  count(*) AS n_tokens,
        |  md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_md5
        |FROM (SELECT doc_id,
        |        generate_subscripts(string_split(text, ' '), 1) AS pos,
        |        unnest(string_split(text, ' ')) AS word
        |      FROM documents) t
        |GROUP BY 1, 2 ORDER BY doc_id, chunk_id""".stripMargin))

  // PII redaction: the scrub pass every public-web training corpus runs
  // before anything else. The fixture text is synthetic word salad, so
  // the PII is injected deterministically per doc (email, phone, numeric
  // id) and then redacted back out — the redaction kernel (ordered
  // regexp_replace chain: most-specific pattern first so the generic
  // digit-run rule can't eat half a phone number) is what the query
  // exercises. Patterns stay in the Java/RE2 common subset. Narrow
  // per-row map; the redacted text leaves as md5 (identity is what the
  // oracle checks; shipping full text would bloat the diff surface).
  private[graft] val emailP = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private[graft] val phoneP = "\\+1-555-[0-9]{4}"
  private[graft] val numP = "[0-9]+"

  /** PII injection column (deterministic per doc) — shared with the spec
    * so the test asserts the SAME kernel the query ships. */
  private[graft] def piiSalted: org.apache.spark.sql.Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" ref "), (col("doc_id") * 37).cast("string"))

  /** The redaction chain itself — most-specific pattern first. */
  private[graft] def piiRedacted(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(raw, emailP, "<EMAIL>"),
        phoneP, "<PHONE>"),
      numP, "<NUM>")

  private val piiRedact = NamedQuery(
    "text_pii_redact",
    (spark, d) => {
      Tables.documents(spark, d)
        .select(col("doc_id"), piiSalted.as("raw"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("raw"), lit(emailP), lit(0))).as("n_email"),
          size(regexp_extract_all(col("raw"), lit(phoneP), lit(0))).as("n_phone"),
          piiRedacted(col("raw")).as("redacted"))
        .select(col("doc_id"), col("n_email"), col("n_phone"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(raw, '\+1-555-[0-9]{4}')) AS INT) AS n_phone,
        |  md5(regexp_replace(
        |        regexp_replace(
        |          regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
        |          '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
        |        '[0-9]+', '<NUM>', 'g')) AS redacted_md5
        |FROM (SELECT doc_id,
        |        text || ' contact user' || doc_id || '@example.com or +1-555-' ||
        |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |        ' ref ' || CAST(doc_id * 37 AS VARCHAR) AS raw
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin))

  // Benchmark-contamination scan: flag corpus documents sharing any
  // 8-gram with a held-out eval set (doc_id % 10 = 0) — the n-gram
  // overlap check run before training on scraped data (GPT-3 appendix C
  // / PaLM-style decontamination). Grams are md5-hashed to 60-bit keys
  // so the equi-join carries 8-byte ints. The eval split here is a
  // MODULUS of the corpus (doc_id % 10), so its gram set grows linearly
  // with the corpus — a fixed FRACTION is not a fixed SIZE, and a
  // forced broadcast() of it would OOM at 100 TB (the r9 review's
  // fraction-fallacy finding; text_contamination_bloom exists precisely
  // because a real held-out gram set can outgrow a broadcast). No hint:
  // Catalyst auto-broadcasts while the eval side fits and falls back to
  // a shuffled hash/sort-merge equi-join when it doesn't; the corpus
  // side never self-joins (inverted-index cost Σ_gram df, not n²).
  private val contamination = NamedQuery(
    "text_contamination",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      // row-local hashed shingles (no posexplode, no per-doc window sort;
      // 8-byte join keys) — the same kernel the Jaccard pipelines share.
      // The eval/corpus split happens BEFORE the kernel: a filter cannot
      // be pushed through mapPartitions, so filtering first is the
      // pushdown, done by hand — each document is shingled exactly once.
      def grams(pred: org.apache.spark.sql.Column) =
        TextOps.shinglesHashedLocal(docs.filter(pred), "doc_id", "text", 8)
          .select(col("doc_id"), col("shingle").as("g"))
      val evalGrams = grams(col("doc_id") % 10 === 0)
        .select(col("g")).distinct()
      grams(col("doc_id") % 10 =!= 0)
        .join(evalGrams, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_grams"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g_s AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+7], ' ') AS gram
        |        FROM w, unnest(generate_series(1, len(words) - 7)) AS t(i)),
        |g AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g
        |      FROM g_s),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0)
        |SELECT doc_id, count(*) AS n_shared_grams
        |FROM g JOIN ev USING (g)
        |WHERE doc_id % 10 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // Greedy sequence packing (concat-and-chunk), SHARDED — the declared
  // query IS the scale shape: documents are routed to 16 shards by
  // doc_id, each shard lays its documents out on its own token tape in
  // doc_id order and cuts every 512 tokens (each doc's pack is
  // floor(shard_start_offset / 512), namespaced as shard·2⁴⁰ + local
  // pack — 2⁴⁰ local packs ≈ 5.6·10¹⁴ tokens per shard before the
  // namespace could collide, comfortably above the ~1.5·10¹² tokens a
  // shard carries at 100 TB; the previous 10⁶ multiplier collided at
  // 512M tokens/shard, with both engines computing the identical wrong
  // id — the r9 review's gate-blind finding). The step after chunking
  // in sequence prep: small docs share
  // a training sequence instead of wasting pad tokens. Packing has no
  // cross-shard semantics — training sequences are independent — so
  // the cumulative window runs partitionBy(shard): embarrassingly
  // parallel, every partition sorts locally, no global order needed or
  // wanted. The oracle replays the identical sharded arithmetic.
  private val packSequences = NamedQuery(
    "text_pack_sequences",
    (spark, d) => {
      val seqLen = 512
      val nShards = 16
      val w = Window.partitionBy("shard").orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(spark, d)
        .select(col("doc_id"), size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
        .withColumn("shard", pmod(col("doc_id"), lit(nShards)).cast("long"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id",
          // integer div, not floor(double /): a tape offset beyond 2^53
          // tokens would round through a double
          col("shard") * (1L << 40) +
            expr(s"(cum - n_tokens) div ${seqLen}L"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("pack_id")
    },
    Some("""SELECT pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM (
        |  SELECT doc_id, n_tokens,
        |    CAST((doc_id % 16) * 1099511627776 +
        |      (sum(n_tokens) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - n_tokens) // 512 AS BIGINT) AS pack_id
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |        FROM documents) t) s
        |GROUP BY pack_id ORDER BY pack_id""".stripMargin))

  // Data-mixture sampling: per-language target rates (the "data mixing
  // weights" step of corpus assembly — upsample scarce/high-value
  // languages, downsample the dominant one) applied as a deterministic
  // Bernoulli thinning: keep iff md5-uniform(doc_id) < rate·2⁶⁰. The
  // md5 draw makes membership reproducible under any partitioning, row
  // order, or engine — no RNG, no sampleBy seed drift. Pure narrow map
  // + one partial-aggregated groupBy; achieved rates land on target
  // within binomial noise, which the output exposes directly.
  private val mixtureSample = NamedQuery(
    "q_sample_mixture",
    (spark, d) => {
      // md5Long is uniform on [0, 2^60); mixtureKeep (the ONE shared
      // definition, also composed by pipeline_train_mix) compares
      // against rate·2^60 — integer-exact in both engines.
      Tables.documents(spark, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(mixtureKeep, 1L).otherwise(0L)).as("n_kept"))
        .select(col("lang"), col("n_total"), col("n_kept"),
          (col("n_kept") / col("n_total")).as("achieved_rate"))
        .orderBy("lang")
    },
    Some(s"""SELECT lang, n_total, n_kept,
        |  n_kept / CAST(n_total AS DOUBLE) AS achieved_rate
        |FROM (
        |  SELECT lang, count(*) AS n_total,
        |    CAST(sum(CASE WHEN ${mixtureKeepSql("")}
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |  FROM documents GROUP BY lang) t
        |ORDER BY lang""".stripMargin))

  // ---- Cross-document duplicate-span profile: for every document, the
  // fraction of its distinct 8-gram spans that also occur in ANOTHER
  // document — the corpus-duplication diagnostic run before committing
  // to a dedup threshold (C4/RefinedWeb report exactly this curve).
  // Distinct from text_repetition (within-doc duplication) and the
  // dedup_* family (pair extraction): this is a per-doc marginal over
  // the corpus-wide span document-frequency table. Spans are hashed
  // row-locally (TextOps kernel, 60-bit md5 keys shared with the
  // oracle); the df aggregation and the doc rollup are the only
  // shuffles, both map-side combined. Documents shorter than 8 tokens
  // have no spans and drop out identically in both engines.
  private val duplicateSpans = NamedQuery(
    "text_duplicate_spans",
    (spark, d) => {
      // read twice (df aggregation + the per-doc join): pin the kernel
      // output or the whole corpus re-shingles per branch
      val sh = TextOps.shinglesHashedLocal(
        Tables.documents(spark, d), "doc_id", "text", n = 8)
        .localCheckpoint()
      val df = sh.groupBy("shingle").agg(count(lit(1)).as("sdf"))
      sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_spans"),
          sum(when(col("sdf") > 1, lit(1L)).otherwise(lit(0L)))
            .cast("bigint").as("n_shared"))
        // raw-emit rational ratio (COVERAGE rule 12): exact ints, one
        // identical division — round() would desync boundary rationals
        .withColumn("shared_frac",
          col("n_shared") / col("n_spans").cast("double"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh_s AS (
        |  SELECT DISTINCT doc_id, array_to_string(words[i:i+7], ' ') AS s
        |  FROM w, unnest(generate_series(1, len(words) - 7)) AS t(i)),
        |sh AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS shingle
        |  FROM sh_s),
        |sdfs AS (SELECT shingle, count(*) AS sdf FROM sh GROUP BY shingle)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN sdf > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  sum(CASE WHEN sdf > 1 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE) AS shared_frac
        |FROM sh JOIN sdfs USING (shingle)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin))

  // ---- Unigram LM quality score (the CCNet-style perplexity filter,
  // reduced to its unigram core): score every document by the mean
  // log-probability of its tokens under the CORPUS unigram
  // distribution. Anomalously high scores = degenerate repetitive text,
  // anomalously low = token-salad / wrong-language text; production
  // pipelines threshold both tails. The vocabulary is LEFT UNHINTED:
  // whitespace-split web text's distinct-token set grows with the
  // corpus (Heaps' law plus unbounded junk tokens — the premise
  // text_heavy_hitters' sketch pre-gate exists for), so Catalyst
  // auto-broadcasts while it fits and shuffles the probe join when it
  // doesn't; the total-count scalar stays a 1-row broadcast. ln() goes
  // through round(6) per COVERAGE rule 2.
  private val unigramLogprob = NamedQuery(
    "text_unigram_logprob",
    (spark, d) => {
      // (doc, word) → multiplicity FIRST (the text_perplexity_buckets
      // shape, gate-proven at sf1): the map-side partial agg collapses
      // the token stream before anything is pinned or joined, so the
      // checkpointed relation and the probe join carry one row per
      // DISTINCT word per doc — an order of magnitude narrower than the
      // raw token table this query used to checkpoint. avg(ln p) over
      // tokens ≡ Σ m·ln p / Σ m over distinct words, stated identically
      // in the oracle.
      val docWord = Tables.documents(spark, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).as("m"))
        .localCheckpoint() // vocab rollup + probe join: tokenize once
      val cnt = docWord.groupBy("w").agg(sum(col("m")).as("c"))
      val tot = cnt.agg(sum(col("c")).as("t"))
      docWord.join(cnt, "w")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(sum(col("m")).cast("bigint").as("n_tokens"),
          round(sum(col("m") * log(col("c") / col("t").cast("double"))) /
            sum(col("m")), 6).as("avg_logprob"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |dw AS (SELECT doc_id, w, count(*) AS m FROM tok GROUP BY doc_id, w),
        |cnt AS (SELECT w, sum(m) AS c FROM dw GROUP BY w),
        |tot AS (SELECT sum(c) AS t FROM cnt)
        |SELECT doc_id,
        |  CAST(sum(m) AS BIGINT) AS n_tokens,
        |  round(sum(m * ln(c / CAST(t AS DOUBLE))) / sum(m), 6) AS avg_logprob
        |FROM dw JOIN cnt USING (w) CROSS JOIN tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin))

  // ---- Training-mix capstone: the full pre-training data path in one
  // declared query — exact-dedup keepers → quality gate → decontaminate
  // against the held-out eval split (any shared 8-gram disqualifies) →
  // per-language mixture thinning (deterministic md5 rates) → packing
  // yield per language (greedy concat-and-chunk onto 512-token
  // sequences ≡ ceil(Σtokens/512) per language tape). Every stage is
  // individually oracle-checked elsewhere (dedup_exact_keepers,
  // pipeline_curate, text_contamination, q_sample_mixture,
  // text_pack_sequences); this pins their COMPOSITION — join order,
  // filter interaction, and the final mixture accounting. All document
  // volume flows through row-local kernels and semi/anti equi-joins;
  // the eval-gram side is corpus-proportional (a doc_id % 10 modulus,
  // not a bounded set), so it carries NO broadcast hint — Catalyst
  // auto-broadcasts while small and degrades to a shuffled join at
  // scale (swap in the text_contamination_bloom pre-gate when even the
  // shuffle is too wide). The wide shuffles are that join and the dedup
  // groupBy.
  private val trainMix = NamedQuery(
    "pipeline_train_mix",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      val keepers = exactKeepers(docs)
      val quality = qualityScored(docs)
      def grams(pred: org.apache.spark.sql.Column) =
        TextOps.shinglesHashedLocal(docs.filter(pred), "doc_id", "text", 8)
      val evalGrams = grams(col("doc_id") % 10 === 0)
        .select(col("shingle")).distinct()
      val contaminated = grams(col("doc_id") % 10 =!= 0)
        .join(evalGrams, "shingle")
        .select("doc_id").distinct()
      docs.filter(col("doc_id") % 10 =!= 0)
        .join(keepers, "doc_id")
        .join(quality, "doc_id")
        .filter(col("quality") >= 0.5)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(mixtureKeep)
        .groupBy("lang")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(size(split(col("text"), " "))).cast("bigint").as("n_tokens"))
        .withColumn("n_sequences",
          ceil(col("n_tokens") / 512.0).cast("bigint"))
        // raw-emit (rule 12): identical int inputs, identical chain
        .withColumn("pack_efficiency",
          col("n_tokens") / (col("n_sequences") * 512.0))
        .orderBy("lang")
    },
    Some(s"""WITH $keepersCteSql,
        |$qualityCteSql,
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g_s AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+7], ' ') AS gram
        |        FROM w, unnest(generate_series(1, len(words) - 7)) AS t(i)),
        |g AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gm
        |      FROM g_s),
        |ev AS (SELECT DISTINCT gm FROM g WHERE doc_id % 10 = 0),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM g JOIN ev USING (gm)
        |  WHERE doc_id % 10 <> 0),
        |kept AS (
        |  SELECT d.lang, len(string_split(d.text, ' ')) AS n_tok
        |  FROM documents d
        |  JOIN keepers k USING (doc_id)
        |  JOIN q USING (doc_id)
        |  WHERE d.doc_id % 10 <> 0
        |    AND q.quality >= 0.5
        |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
        |    AND ${mixtureKeepSql("d.")})
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(ceil(sum(n_tok) / 512.0) AS BIGINT) AS n_sequences,
        |  sum(n_tok) / (ceil(sum(n_tok) / 512.0) * 512.0)
        |    AS pack_efficiency
        |FROM kept
        |GROUP BY lang
        |ORDER BY lang""".stripMargin))

  // ---- Deterministic train/val/test split: every corpus prep ends by
  // carving held-out splits, and at 100 TB the split MUST be a pure
  // function of a stable key (a random() split is irreproducible across
  // retries and re-partitions, and leaks rows between splits on
  // recompute). md5-bucket assignment: bucket = md5_60(doc_id) mod 20 →
  // 18/1/1 buckets = 90/5/5. The query emits the per-(lang, split)
  // census — counts and token volume — the sanity report checked before
  // any training run. One scan, one shuffle on the tiny (lang, split)
  // key space; the assignment itself is row-local and embarrassingly
  // parallel.
  private val splitTvt = NamedQuery(
    "q_split_train_val_test",
    (spark, d) => {
      val bucket = pmod(TextOps.md5Long(col("doc_id")), lit(20L))
      val split = when(bucket < 18, "train")
        .when(bucket === 18, "val")
        .otherwise("test")
      Tables.documents(spark, d)
        .select(col("lang"), split.as("split"),
          size(TextOps.words(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy("lang", "split")
    },
    Some("""SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT lang,
        |    CASE WHEN b < 18 THEN 'train' WHEN b = 18 THEN 'val'
        |         ELSE 'test' END AS split,
        |    len(string_split(text, ' ')) AS n_tok
        |  FROM (SELECT lang, text,
        |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |            % 20 AS b
        |        FROM documents) h) t
        |GROUP BY lang, split
        |ORDER BY lang, split""".stripMargin))

  // ---- Temperature-scaled mixture sampling (the multilingual-corpus
  // rebalancing rule: sampling probability ∝ share^α, α = 0.5): unlike
  // q_sample_mixture's FIXED per-language rates, the rates here are
  // COMPUTED from the observed language shares — upsampling the tail
  // languages, downsampling the head — then realized as deterministic
  // md5-Bernoulli thinning targeting half the corpus. Two corpus scans
  // by construction (shares must exist before thinning); everything
  // between them is language-cardinality-sized one-row/`k`-row
  // broadcasts, so at 100 TB the cost is exactly two passes with
  // map-side-combined aggregates. α enters as sqrt (IEEE-exact both
  // engines); the keep predicate compares the raw 60-bit md5 uniform
  // against rate·2^60 — sub-ulp rate drift can only flip a hash lying
  // within ~2^-40 of the boundary, i.e. never on real corpora.
  private val temperatureSample = NamedQuery(
    "q_sample_temperature",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      val shares = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
      val tot = shares.agg(sum(col("n_total")).as("n_corpus"))
      val weights = shares.crossJoin(broadcast(tot))
        .withColumn("w",
          sqrt(col("n_total").cast("double") / col("n_corpus").cast("double")))
      val wsum = weights.agg(sum(col("w")).as("wsum"))
      val rates = weights.crossJoin(broadcast(wsum))
        .withColumn("rate",
          least(lit(1.0),
            col("w") / col("wsum") * lit(0.5) * col("n_corpus").cast("double")
              / col("n_total").cast("double")))
        .select(col("lang"), col("rate"))
      val keep = TextOps.md5Long(col("doc_id")) <
        col("rate") * lit(1152921504606846976.0)
      docs.join(broadcast(rates), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          round(first(col("rate")), 6).as("target_rate"))
        .select(col("lang"), col("n_total"), col("n_kept"), col("target_rate"),
          (col("n_kept").cast("double") / col("n_total").cast("double"))
            .as("achieved_rate"))
        .orderBy("lang")
    },
    Some("""WITH shares AS (
        |  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_total) AS BIGINT) AS n_corpus FROM shares),
        |weights AS (
        |  SELECT lang, n_total,
        |    sqrt(CAST(n_total AS DOUBLE) / CAST(n_corpus AS DOUBLE)) AS w,
        |    n_corpus
        |  FROM shares, tot),
        |wsum AS (SELECT sum(w) AS wsum FROM weights),
        |rates AS (
        |  SELECT lang, n_total,
        |    least(1.0, w / wsum * 0.5 * CAST(n_corpus AS DOUBLE)
        |      / CAST(n_total AS DOUBLE)) AS rate
        |  FROM weights, wsum)
        |SELECT d.lang, r.n_total,
        |  CAST(sum(CASE WHEN
        |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      < r.rate * 1152921504606846976.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(r.rate, 6) AS target_rate,
        |  CAST(sum(CASE WHEN
        |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      < r.rate * 1152921504606846976.0
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(r.n_total AS DOUBLE)
        |    AS achieved_rate
        |FROM documents d JOIN rates r USING (lang)
        |GROUP BY d.lang, r.n_total, r.rate
        |ORDER BY d.lang""".stripMargin))

  // ---- Corpus heavy hitters: tokens carrying more than 0.2% of all
  // token occurrences — the vocabulary-pruning / stopword-discovery
  // pass. The token counts are a two-phase partial agg (one (token,
  // count) pair per distinct token crosses the wire), the corpus total
  // is ONE scalar derived from that same aggregate and broadcast back
  // (never a second corpus scan — the q11/q15 posture), and the
  // threshold compares integer cross-products (cnt·1000 > tot·2), so no
  // float enters the decision. At 100 TB the same plan stands; if the
  // distinct-token set itself outgrew the shuffle, a count-min sketch
  // would pre-gate candidates (the text_contamination_bloom posture)
  // with this exact agg as the verify step.
  private val heavyHitters = NamedQuery(
    "text_heavy_hitters",
    (spark, d) => {
      val counts = Tables.documents(spark, d)
        .select(explode(TextOps.words(lower(col("text")))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("tot"))
      counts.crossJoin(broadcast(total))
        .filter(col("cnt") * 1000L > col("tot") * 2L)
        .select(col("token"), col("cnt"),
          (col("cnt").cast("double") / col("tot").cast("double")).as("ratio"))
        .orderBy(desc("cnt"), col("token"))
    },
    Some("""WITH toks AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM counts)
        |SELECT token, cnt,
        |  CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS ratio
        |FROM counts, tot
        |WHERE cnt * 1000 > tot * 2
        |ORDER BY cnt DESC, token""".stripMargin))

  // ---- DSIR-style importance weights (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling"): score every raw
  // document by how target-like its hashed bag-of-words is under two
  // Laplace-smoothed multinomial LMs — log w(x) = Σ_f n_f(x)·(ln
  // p_tgt(f) − ln p_raw(f)) over 1024 md5-hashed word features. The
  // target distribution here is the `src0` slice of the corpus; at
  // 100 TB it is the curated seed corpus. Scale shape: the entire model
  // is a ≤1024-row feature table (broadcast); corpus cost is one
  // (doc, feature) aggregate feeding both LM fits and the probe join
  // (pinned so the corpus tokenizes once), and no shuffle carries more
  // than one row per (doc, distinct feature). The top-50 selection is an
  // ordered limit, which Spark plans as TakeOrderedAndProject (per-
  // partition bounded top-50, no global sort anywhere); `selected` is the
  // resampling decision downstream stages would act on.
  private val dsirWeights = NamedQuery(
    "text_dsir_weights",
    (spark, d) => {
      val feats = Tables.documents(spark, d)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"), col("source"),
          pmod(TextOps.md5Long(col("w")), lit(1024L)).as("f"))
        .groupBy("doc_id", "source", "f")
        .agg(count(lit(1)).as("nf"))
        .localCheckpoint()
      val tgt = feats.filter(col("source") === "src0")
        .groupBy("f").agg(sum("nf").as("ct"))
      val raw = feats.groupBy("f").agg(sum("nf").as("cr"))
      val tt = tgt.agg(sum(col("ct")).as("t_tgt"))
      val rt = raw.agg(sum(col("cr")).as("t_raw"))
      val model = raw.join(tgt, Seq("f"), "left")
        .crossJoin(tt).crossJoin(rt)
        .select(col("f"),
          (log((coalesce(col("ct"), lit(0L)) + lit(1L)) / (col("t_tgt") + lit(1024.0))) -
            log((col("cr") + lit(1L)) / (col("t_raw") + lit(1024.0)))).as("lr"))
      val weights = feats.join(broadcast(model), "f")
        .groupBy("doc_id")
        .agg(sum("nf").cast("bigint").as("n_tokens"),
          round(sum(col("nf") * col("lr")), 6).as("logw"))
        .localCheckpoint() // feeds the top-50 cut AND the output join: pin
                           // (24 B/doc) or the corpus-wide weight agg runs twice
      val top = weights.orderBy(col("logw").desc, col("doc_id").asc).limit(50)
        .select(col("doc_id"), lit(1).as("selected"))
      weights.join(broadcast(top), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("logw"),
          coalesce(col("selected"), lit(0)).as("selected"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(w), 1, 15))::BIGINT % 1024 AS f,
        |    count(*) AS nf
        |  FROM tok GROUP BY 1, 2, 3),
        |tgt AS (SELECT f, sum(nf) AS ct FROM feats WHERE source = 'src0' GROUP BY f),
        |raw AS (SELECT f, sum(nf) AS cr FROM feats GROUP BY f),
        |tt AS (SELECT sum(ct) AS t_tgt FROM tgt),
        |rt AS (SELECT sum(cr) AS t_raw FROM raw),
        |model AS (
        |  SELECT r.f,
        |    ln((coalesce(ct, 0) + 1) / (t_tgt + 1024.0)) -
        |    ln((cr + 1) / (t_raw + 1024.0)) AS lr
        |  FROM raw r LEFT JOIN tgt USING (f) CROSS JOIN tt CROSS JOIN rt),
        |w AS (SELECT doc_id, CAST(sum(nf) AS BIGINT) AS n_tokens,
        |        round(sum(nf * lr), 6) AS logw
        |      FROM feats JOIN model USING (f) GROUP BY doc_id),
        |sel AS (SELECT doc_id FROM w ORDER BY logw DESC, doc_id LIMIT 50)
        |SELECT doc_id, n_tokens, logw,
        |  CAST(doc_id IN (SELECT doc_id FROM sel) AS INT) AS selected
        |FROM w ORDER BY doc_id""".stripMargin))

  // ---- CCNet-style perplexity bucketing (Wenzek et al. 2020): rank
  // every document by unigram-LM average log-prob WITHIN its language
  // and cut head/middle/tail terciles — the standard "keep the head,
  // maybe the middle, drop the tail" pre-training quality gate. A
  // per-language `ntile(3)` window would sort each language's full
  // corpus slice in one partition (languages are few ⇒ partitions are
  // corpus-sized); the declared shape ranks through the two-phase
  // histogram (ops.Ranking.groupedRank): the only window partitions by
  // (language, logprob-bucket), and the histogram/offset relations stay
  // broadcast-sized at any corpus size.
  private val perplexityBuckets = NamedQuery(
    "text_perplexity_buckets",
    (spark, d) => {
      // (doc, word) → multiplicity FIRST: the map-side partial agg
      // collapses the exploded token stream before it ever shuffles, and
      // everything downstream (the pinned relation, the vocab rollup,
      // the probe join) carries one row per DISTINCT word per doc — an
      // order of magnitude narrower than the raw token table the
      // previous shape checkpointed and joined.
      val docWord = Tables.documents(spark, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(count(lit(1)).as("m"))
        .localCheckpoint() // vocab rollup + probe join: tokenize once
      val cnt = docWord.groupBy("w").agg(sum(col("m")).as("c"))
      val tot = cnt.agg(sum(col("c")).as("t"))
      // vocabulary probe join UNHINTED (same reasoning as
      // text_unigram_logprob: the distinct-token set grows with the
      // corpus — Heaps' law — so the hint would force an OOM broadcast
      // at scale; Catalyst auto-broadcasts while it fits)
      val lp = docWord.join(cnt, "w")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(round(
          sum(col("m") * log(col("c") / col("t").cast("double"))) /
            sum(col("m")), 6).as("lp"))
      // rank on −lp (ascending) ≡ lp DESC: tercile 1 = head (highest
      // log-prob = least perplexed). Bucket key floor(−lp·16) is
      // monotone in −lp, so offset + local rank is the global rank.
      val ranked = graft.ops.Ranking.groupedRank(
        lp, Seq("lang"), negate(col("lp")),
        floor(negate(col("lp")) * 16).cast("long"), Seq("doc_id"))
      ranked
        .withColumn("tercile",
          graft.ops.Ranking.ntileFromRank(col("rank"), col("grp_n"), 3))
        .withColumn("bucket",
          when(col("tercile") === 1, "head")
            .when(col("tercile") === 2, "middle").otherwise("tail"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          round(min("lp"), 6).as("lp_min"),
          round(max("lp"), 6).as("lp_max"))
        .orderBy("lang", "bucket")
    },
    Some("""WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |dw AS (SELECT doc_id, lang, w, count(*) AS m
        |       FROM tok GROUP BY doc_id, lang, w),
        |cnt AS (SELECT w, sum(m) AS c FROM dw GROUP BY w),
        |tot AS (SELECT sum(c) AS t FROM cnt),
        |lp AS (SELECT doc_id, lang,
        |         round(sum(m * ln(c / CAST(t AS DOUBLE))) / sum(m), 6) AS lp
        |       FROM dw JOIN cnt USING (w) CROSS JOIN tot
        |       GROUP BY doc_id, lang),
        |r AS (SELECT lang, lp, ntile(3) OVER (
        |        PARTITION BY lang ORDER BY lp DESC, doc_id) AS tercile
        |      FROM lp)
        |SELECT lang,
        |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round(min(lp), 6) AS lp_min,
        |  round(max(lp), 6) AS lp_max
        |FROM r GROUP BY lang, tercile ORDER BY lang, bucket""".stripMargin))

  // ---- fastText-style hashed linear quality classifier (Joulin et al.
  // 2016, arXiv:1607.01759 — the model family behind the CCNet/GPT-3
  // quality filters): unigram features hashed into a fixed 1024-bucket
  // space (the hashing trick — collisions are part of the model), a
  // per-bucket weight from a deterministic "pretrained" table (60-bit
  // md5 of the bucket id, affine-mapped to [-1, 1]), document margin =
  // mean feature weight, score = sigmoid(margin), keep/drop at margin 0.
  // Scale shape: the entire model application is ROW-LOCAL array
  // arithmetic (transform + fold inside the row — no explode, no
  // shuffle, no join against a weight table because the weight function
  // is computable in-expression); a real exported weight vector would
  // broadcast 1024 floats and nothing else changes. The only exchange
  // is the final presentation sort.
  private val hashClassifier = NamedQuery(
    "text_hash_classifier",
    (spark, d) => {
      Tables.documents(spark, d)
        .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
        .select(col("doc_id"), size(col("ws")).cast("bigint").as("n_tokens"),
          TextOps.hashClassifierMargin(col("ws")).as("margin"))
        .select(col("doc_id"), col("n_tokens"),
          round(lit(1.0) / (lit(1.0) + exp(negate(col("margin")))), 6).as("score"),
          when(col("margin") > 0, "keep").otherwise("drop").as("label"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |wt AS (SELECT doc_id,
        |    ((('0x' || substr(md5(CAST(
        |        ('0x' || substr(md5(w), 1, 15))::BIGINT % 1024
        |      AS VARCHAR)), 1, 15))::BIGINT % 2001) - 1000) / 1000.0 AS wv
        |  FROM tok),
        |m AS (SELECT doc_id, count(*) AS n_tokens, avg(wv) AS margin
        |      FROM wt GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(1.0 / (1.0 + exp(-margin)), 6) AS score,
        |  CASE WHEN margin > 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM m ORDER BY doc_id""".stripMargin))

  // ---- ExactSubstr span-REMOVAL dedup (the Lee et al. 2021
  // "Deduplicating Training Data Makes Language Models Better" shape,
  // arXiv:2107.06499, reduced to its 8-gram-seed relational core): where
  // text_duplicate_spans only PROFILES cross-doc span overlap, this
  // produces the cleaned corpus — every token range covered by an
  // 8-gram that also occurs in an earlier document (min-doc_id keeper)
  // is cut from the later document, and the query emits each doc's
  // token count, removed-token count, and the md5 of its cleaned text
  // (the digest stands in for the corpus-sized string column, same
  // rationale as tagger_throughput_500k). A maximal duplicated run of
  // L ≥ 8 tokens is exactly the union of its L−7 duplicated 8-gram
  // windows, so removing gram-covered positions removes whole spans,
  // not samples of them. Scale shape: the positioned grams are built
  // row-locally (no per-doc window), duplicated grams survive a
  // two-phase groupBy BEFORE the occurrence join, position expansion is
  // 8× only on duplicated occurrences, and the doc-partitioned rollup
  // is the single corpus-wide shuffle — no window ever sorts more than
  // one document's tokens.
  private val exactSubstr = NamedQuery(
    "text_exactsubstr_dedup",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      // read twice (gram-frequency aggregation + occurrence probe): pin
      // the kernel output or the corpus re-shingles per branch
      val g = TextOps.shinglePositionsLocal(docs, "doc_id", "text", 8)
        .localCheckpoint()
      val dupGrams = g.groupBy("shingle")
        .agg(min("doc_id").as("keeper"), countDistinct("doc_id").as("ndocs"))
        .filter(col("ndocs") >= 2)
        .drop("ndocs")
      val covered = g.join(dupGrams, "shingle")
        .filter(col("doc_id") =!= col("keeper"))
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + 7)).as("pos"))
        .distinct()
      val tok = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tw")))
        .withColumn("pos", col("pos").cast("long"))
      tok.join(covered.withColumn("rm", lit(1)), Seq("doc_id", "pos"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_tokens"),
          sum(when(col("rm").isNotNull, 1L).otherwise(0L))
            .cast("bigint").as("n_removed"),
          md5(array_join(transform(array_sort(collect_list(
              when(col("rm").isNull, struct(col("pos"), col("tw"))))),
            s => s("tw")), " ")).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |tok AS (
        |  SELECT doc_id, i - 1 AS pos, words[i] AS tw
        |  FROM w, unnest(generate_series(1, len(words))) AS t(i)),
        |g_s AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(words[i:i+7], ' ') AS s
        |  FROM w, unnest(generate_series(1, len(words) - 7)) AS t(i)),
        |g AS (
        |  SELECT doc_id, pos, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
        |  FROM g_s),
        |stats AS (
        |  SELECT h, min(doc_id) AS keeper FROM g GROUP BY h
        |  HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT g.doc_id, u.p AS pos
        |  FROM g JOIN stats USING (h),
        |       unnest(generate_series(g.pos, g.pos + 7)) AS u(p)
        |  WHERE g.doc_id <> stats.keeper)
        |SELECT t.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c.pos IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_removed,
        |  md5(coalesce(string_agg(CASE WHEN c.pos IS NULL THEN t.tw END,
        |    ' ' ORDER BY t.pos), '')) AS clean_md5
        |FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin))

  // BM25 retrieval ranking, k1=1.2 b=0.75 — the lexical search /
  // RAG-retrieval scoring stage TF-IDF doesn't cover: term saturation
  // (k1) and doc-length normalization (b). The idf is the
  // Lucene/ATIRE variant ln(1 + (N−df+0.5)/(df+0.5)) (Trotman et al.,
  // "Improvements to BM25 and Language Models Examined", ADCS 2014;
  // Lucene BM25Similarity), chosen deliberately: classic
  // Robertson/Okapi idf ln((N−df+0.5)/(df+0.5)) goes NEGATIVE for
  // df > N/2 and lets a stop-word-ish query term SUBTRACT relevance.
  // (Labeled "Robertson/Okapi" until review r11 — the formulas differ
  // in ranking, not just scale, and both engines carried the same
  // label error.) Scale shape: the
  // query is a TINY broadcast dimension, so the per-doc tf rows (row-local
  // termCountsLocal kernel, one row per distinct term) are pruned to query
  // postings BEFORE any shuffle; df and corpus stats (N, avgdl — integer-
  // valued sums, exact in double) are one-row broadcasts; at 100 TB only
  // the postings of the 4 query terms move. Determinism: all constants
  // written in the SAME literal form both engines (0.25 = 1−b and 0.75
  // are exact binary; 2.2 = k1+1 as ONE literal, never computed), the
  // per-doc sum is an explicit LEFT FOLD of the word-ordered score list
  // (not an unordered SUM), and the transcendental ln result is rounded
  // only at the very end.
  private val bm25 = NamedQuery(
    "text_bm25",
    (spark, d) => {
      import spark.implicits._
      val docs = Tables.documents(spark, d)
      val qterms = Seq("hash", "join", "vector", "stream").toDF("word")
      val dl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("double").as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl")).as("avgdl"))
      val tf = TextOps.termCountsLocal(docs, "doc_id", "text")
        .join(broadcast(qterms), "word")
        // pinned: the corpus-wide tokenization kernel feeds BOTH the df
        // aggregation and the scoring join — unpinned it runs twice (the
        // text_tfidf_top precedent). Post-prune this is only the 4 query
        // terms' postings, a trivial relation to hold.
        .localCheckpoint()
      val dfc = tf.groupBy("word").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfc), "word")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("s",
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          round(aggregate(
            transform(array_sort(collect_list(struct(col("word"), col("s")))),
              x => x.getField("s")),
            lit(0.0), (acc, x) => acc + x), 4).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(20)
    },
    Some("""WITH q AS (SELECT unnest(['hash','join','vector','stream']) AS word),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        |       FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, word, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |             FROM documents) t JOIN q USING (word)
        |       GROUP BY 1, 2),
        |dfc AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.word,
        |         ln(1.0 + (st.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
        |           * (tf.tf * 2.2)
        |           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
        |       FROM tf JOIN dfc USING (word) JOIN dl USING (doc_id) CROSS JOIN st)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(s ORDER BY word)), (a, b) -> a + b), 4) AS bm25
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin))

  // ---- Zipf rank-frequency slope per language: regress ln(freq) on
  // ln(rank) over each language's top-100 terms — the corpus-health
  // diagnostic that flags machine-generated / template-heavy slices
  // (natural language sits near slope −1; generated spam flattens or
  // steepens it). Scale shape: term frequencies are one partial-agg
  // shuffle on (lang, term); the top-100 cut is a `row_number() <= 100`
  // window that Spark plans as a map-side WindowGroupLimit (bounded per
  // partition — no vocab-sized shuffle), and the same row_number is the
  // regression's rank; the regression then sees ≤ 100 rows per
  // language. Determinism: freq/rank are exact integers → ln() is
  // bit-identical; regr_slope over ≤ 100 points reassociates within
  // ~1e-14, absorbed by round(4).
  private val zipfSlope = NamedQuery(
    "text_zipf_slope",
    (spark, d) => {
      val tf = Tables.documents(spark, d)
        .select(col("lang"), explode(TextOps.words(col("text"))).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("freq"))
      tf
        .withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(desc("freq"), col("term"))))
        .filter(col("rank") <= 100)
        .groupBy("lang")
        .agg(round(regr_slope(log(col("freq").cast("double")),
            log(col("rank").cast("double"))), 4).as("zipf_slope"),
          count(lit(1)).as("n_terms"))
        .orderBy("lang")
    },
    Some("""WITH tf AS (
        |  SELECT lang, term, count(*) AS freq
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
        |        FROM documents) t
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT lang, freq,
        |    row_number() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rank
        |  FROM tf),
        |cut AS (SELECT lang, freq, rank FROM top WHERE rank <= 100)
        |SELECT lang,
        |  round(regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
        |    AS zipf_slope,
        |  count(*) AS n_terms
        |FROM cut GROUP BY lang ORDER BY lang""".stripMargin))

  val all: Seq[NamedQuery] =
    Seq(tokenStats, quality, langStats, langid, fingerprint, winnowing, tokenRegex,
      repetition, sampleHash, samplePerGroup, curate, tfidf, pmi, histogram,
      chunking, piiRedact, contamination, packSequences, mixtureSample,
      duplicateSpans, unigramLogprob, trainMix, splitTvt, heavyHitters,
      temperatureSample, dsirWeights, perplexityBuckets, exactSubstr, bm25,
      hashClassifier, zipfSlope)
}
