package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The relational tagging core — the reference's `get_tags` + sigmoid
  * (reference appV2.py:74-101,174) re-expressed as Spark built-ins.
  *
  * The central reframing (SURVEY.md §2): a score vector per item is a
  * long-format relation scores(image_id, tag_idx, prob) joined to the
  * vocabulary dimension; tag selection is
  *   - per-category top-1 (unthresholded) for rating/quality (appV2.py:77-83)
  *   - per-category threshold filter for the other six (appV2.py:86-97)
  *   - a substring blacklist anti-filter on meta tags (appV2.py:98-99)
  *   - underscore→space projection (appV2.py:83,97)
  *   - ordered group-concat, order = (category emission rank, JSON
  *     insertion position) (appV2.py:62-68,77,86-89,93)
  *
  * PRECISION (deliberate divergence, r9 review): probabilities compute
  * in f64; the reference's numpy chain stays in f32 (appV2.py:174 —
  * outputs are float32 and numpy preserves the dtype). Consequences are
  * (a) sub-ulp differences at threshold boundaries (a prob within one
  * f32 ulp of θ can flip sides) and (b) argmax ordering among
  * NEAR-SATURATED logits: f32 σ(x) rounds to exactly 1.0 for x ≳ 16.6,
  * so the reference ties all such tags and emits the first by insertion
  * order, while this engine keeps the true σ ordering. Quantizing to
  * f32 here would also quantize ties into the oracle contract (adjacent
  * fixture logits near p≈0.98 collide in f32), forcing every tagger
  * oracle onto struct-ordered argmax — traded away for keeping the
  * strictly-more-precise math. The NaN and empty-name contracts ARE
  * mirrored exactly (see clippedSigmoid / selectTags).
  *
  * Everything here is Catalyst built-ins (whole-stage codegen'd, no UDFs):
  * scale comes from one shuffle on image_id for the argmax aggregation and
  * one for the final concat; the vocab join is an explicit broadcast (the
  * dimension is tiny — mirror of the reference's in-memory index,
  * appV2.py:70-71).
  */
object Tagging {

  /** Clipped sigmoid 1/(1+e^-clip(x,-30,30)) (appV2.py:174). The clip is
    * semantic, not cosmetic: logits beyond ±30 saturate to the SAME prob,
    * so argmax tie-breaking (first in category-index insertion order,
    * numpy argmax contract) can engage where raw logits would differ.
    *
    * NaN PROPAGATES (reference parity): np.clip(NaN) is NaN and the
    * reference's σ(NaN) = NaN then fails every `>= θ` comparison (numpy
    * comparisons with NaN are False) while WINNING np.argmax (NaN
    * poisons numpy's running maximum). Spark's least/greatest would
    * instead clip NaN to 30 (NaN sorts greatest), silently scoring a
    * broken logit as near-certain — the explicit isnan branch keeps the
    * reference's semantics; selectTags excludes NaN from thresholds. */
  def clippedSigmoid(x: Column): Column = {
    val xd = x.cast("double")
    val s = lit(1.0) /
      (lit(1.0) + exp(-greatest(least(xd, lit(30.0)), lit(-30.0))))
    when(isnan(xd), xd).otherwise(s)
  }

  /** Vector → long format: (id, tag_idx LONG, logit DOUBLE). posexplode is
    * the Spark dual of numpy fancy-indexing over the score vector
    * (appV2.py:79,92). */
  def explodeScores(scores: DataFrame, idCol: String = "image_id",
                    vecCol: String = "logits"): DataFrame =
    scores.select(
      col(idCol).as("image_id"),
      posexplode(col(vecCol)).as(Seq("tag_idx", "logit")))
      .select(col("image_id"), col("tag_idx").cast("long").as("tag_idx"),
        col("logit").cast("double").as("logit"))

  /** Category → emission rank (appV2.py:77,86-89): rating, quality first
    * (argmax loop order), then threshold_map insertion order. */
  def catRank(category: Column): Column =
    Vocab.emissionRank.foldLeft(lit(-1)) { case (acc, (cat, rank)) =>
      when(category === cat, lit(rank)).otherwise(acc)
    }

  /** From long-format probs (image_id, tag_idx, prob) and the vocab
    * dimension (must carry emit_pos — Vocab.toDF / syntheticVocab do),
    * select tags per the reference contract. Returns
    * (image_id, cat_rank INT, emit_pos LONG, tag_idx LONG, display STRING). */
  def selectTags(probs: DataFrame, vocab: DataFrame,
                 genThreshold: Double = 0.55, charThreshold: Double = 0.60): DataFrame = {
    // Inner join reproduces both the dense-array hole skip and the
    // None-name guard (appV2.py:82,96): a tag_idx with no vocab row
    // selects nothing.
    val joined = probs.join(broadcast(vocab), "tag_idx")

    // Unthresholded per-category argmax for rating/quality (appV2.py:77-83).
    // numpy argmax returns the FIRST max in the category index array,
    // which is built in JSON-insertion order (appV2.py:62-68) → ties
    // break to the lowest emit_pos, NOT the lowest tag_idx (they differ
    // when the mapping's keys are not ascending); max_by over
    // struct(prob, -emit_pos) encodes exactly that.
    val argmax = joined
      .filter(col("category").isin(Vocab.argmaxCategories: _*))
      .groupBy("image_id", "category")
      .agg(max_by(
        struct(col("emit_pos"), col("tag_idx"), col("tag_name")),
        struct(col("prob"), negate(col("emit_pos")))).as("best"))
      .select(col("image_id"), col("category"),
        col("best.emit_pos").as("emit_pos"),
        col("best.tag_idx").as("tag_idx"), col("best.tag_name").as("tag_name"))

    // Category-dependent threshold filter (appV2.py:86-97); >= not >.
    // !isnan: numpy's `NaN >= θ` is False (tag NOT emitted), but Spark
    // orders NaN greatest so its `>=` would be TRUE — without the guard
    // a NaN prob would emit through every threshold lane.
    val thresholded = joined
      .filter(!isnan(col("prob")) &&
        ((col("category").isin(Vocab.genThresholdCategories: _*) &&
          col("prob") >= lit(genThreshold)) ||
        (col("category").isin(Vocab.charThresholdCategories: _*) &&
          col("prob") >= lit(charThreshold))))
      .select("image_id", "category", "emit_pos", "tag_idx", "tag_name")

    val display = regexp_replace(col("tag_name"), "_", " ")
    // Substring (not word) blacklist on meta tags, checked on the
    // lower-cased underscore-replaced name (appV2.py:97-98 — replace
    // happens BEFORE the check).
    val blacklisted = Vocab.metaBlacklist
      .map(s => lower(display).contains(s))
      .reduce(_ || _)

    argmax.unionByName(thresholded)
      // the reference's `names[global_idx]` TRUTHINESS guard
      // (appV2.py:82,96): an empty-string tag name is selected but never
      // EMITTED — for argmax lanes the empty-named winner still blocks
      // the runner-up (no fallback), which is why this filter sits AFTER
      // the argmax, not in the vocab
      .filter(col("tag_name").isNotNull && col("tag_name") =!= "")
      .filter(!(col("category") === "meta" && blacklisted))
      .select(col("image_id"), catRank(col("category")).as("cat_rank"),
        col("emit_pos"), col("tag_idx"), display.as("display"))
  }

  /** Ordered group-concat (appV2.py:101): ", ".join in (cat_rank,
    * emit_pos) order — the reference emits threshold tags in category-
    * index (JSON insertion) order. `ids` must hold one row per input item
    * (column image_id) so items with zero selected tags still emit an
    * empty string, like the reference writing an empty .txt. */
  def concatTags(ids: DataFrame, selected: DataFrame): DataFrame = {
    val agg = selected
      .groupBy("image_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("cat_rank"), col("emit_pos"), col("display")))),
          x => x.getField("display")),
        ", ").as("tags"))
    ids.select(col("image_id")).join(agg, Seq("image_id"), "left")
      .withColumn("tags", coalesce(col("tags"), lit("")))
  }

  /** Full pipeline: scores(id, logits ARRAY) × vocab → (image_id, tags). */
  def pipeline(scores: DataFrame, vocab: DataFrame,
               genThreshold: Double = 0.55, charThreshold: Double = 0.60,
               idCol: String = "image_id", vecCol: String = "logits"): DataFrame = {
    val probs = explodeScores(scores, idCol, vecCol)
      .withColumn("prob", clippedSigmoid(col("logit")))
    val selected = selectTags(probs, vocab, genThreshold, charThreshold)
    concatTags(scores.select(col(idCol).as("image_id")), selected)
  }

  /** appV2 parity for a vocabulary that OVERRUNS the model's output
    * dimension (appV2.py:79,92 — `probs[categories[cat]]`): numpy fancy
    * indexing raises IndexError inside the per-image try/except, so
    * EVERY image fails; a silent "skip the overrun entries" would be
    * reference-unfaithful for this misconfiguration. Returns numpy's
    * error text for the FIRST offending index in the reference's
    * traversal order (category emission rank, then JSON insertion
    * position — the order the arrays are built and indexed), None when
    * the vocab fits. Blacklisted and empty-named entries still offend:
    * the reference indexes the full category array before any emission
    * check runs. */
  def overrunError(entries: Seq[Vocab.Entry], nOutputs: Int): Option[String] =
    entries
      // an unrecognized category is dropped at LOAD in the reference
      // (appV2.py:68 `if cat in categories`) — its index never enters a
      // category array, so it can never raise. Vocab.parseJson already
      // drops these, but tagImages accepts an arbitrary vocab DataFrame;
      // without this filter such an entry would NoSuchElementException
      // the emissionRank sort below (ADVICE r11) where the reference
      // tags normally.
      .filter(e => Vocab.emissionRank.contains(e.category))
      // python-faithful bounds: negative indices WRAP (int("-1") parses,
      // numpy probs[-1] is the last logit — see SelectionProgram.tags);
      // only idx ≥ n or idx < −n raises
      .filter(e => e.tagIdx >= nOutputs || e.tagIdx < -nOutputs.toLong)
      .sortBy(e => (Vocab.emissionRank(e.category), e.emitPos))
      .headOption
      .map(e => s"index ${e.tagIdx} is out of bounds for axis 0 with size $nOutputs")

  /** A compiled, serializable form of the whole tag-selection program:
    * per-lane primitive index arrays in emission order, displays
    * pre-normalized, the meta blacklist applied at BUILD time (it depends
    * only on the tag name, appV2.py:98). One instance is closed over by
    * the partition functions of pipelineLocal and Images.tagImages — the
    * executor-side equivalent of the reference's precomputed category
    * index (appV2.py:62-71). */
  private[graft] final case class SelectionProgram(
      argmaxLanes: Array[(Array[Int], Array[String])],
      thresholdLanes: Array[(Array[Int], Array[String], Double)],
      maxIdx: Int, minIdx: Int) extends Serializable {

    // identical double math to Spark's exp builtin (java.lang.Math.exp
    // in codegen) → bit-identical probs and therefore identical
    // comparisons vs the relational pipeline. NaN PROPAGATES, mirroring
    // clippedSigmoid's isnan branch and the reference (np.clip(NaN) is
    // NaN): a NaN prob wins argmax (numpy's poisoned running maximum ≡
    // Double.compare treating NaN greatest) but is excluded from every
    // threshold lane (numpy `NaN >= θ` is False).
    @inline private def sigmoid(x: Double): Double =
      if (x.isNaN) x
      else {
        val clipped = if (x > 30.0) 30.0 else if (x < -30.0) -30.0 else x
        1.0 / (1.0 + java.lang.Math.exp(-clipped))
      }

    /** The reference's get_tags over one score vector (appV2.py:74-101).
      * Returns NULL when any vocab index overruns the vector — the
      * reference's numpy IndexError fails the whole image (see
      * [[Tagging.overrunError]]); callers represent failure as a null
      * tags value (tagImages turns it into the reference's per-image
      * IndexError status, the same null-tags convention it uses for
      * decode-failed rows). NEGATIVE indices wrap like numpy
      * (probs[-1] = last logit) down to −len, below which numpy raises
      * too — before this contract, vec(-1) was an
      * ArrayIndexOutOfBoundsException that killed the whole JOB on one
      * malformed vocab row.
      *
      * DELIBERATE DIVERGENCE (ADVICE r11, documented not replicated):
      * the PROBS wrap is faithful, but the reference's display-name
      * lookup goes through a dense `names` list sized max(keys)+1
      * (appV2.py:62), so a negative KEY there python-wraps the list
      * ASSIGNMENT at load: `names[-1] = tag` overwrites the top slot,
      * aliasing the max-index entry's display name to the negative
      * entry's (both then emit the negative entry's name), and a key
      * below −(max+1) IndexErrors at LOAD — the reference dies before
      * tagging any image. This engine has no names array (hole = absent
      * row; each entry carries its own name), so each entry displays its
      * OWN name and a deeply-negative key is a per-image failure (the
      * overrun contract above) rather than a load-time crash. Chosen:
      * per-image well-defined behavior over replicating load-order-
      * dependent slot aliasing; display output can differ from the
      * reference on vocabs with negative keys. */
    def tags(vec: Array[Double]): String = {
      if (maxIdx >= vec.length || minIdx < -vec.length) return null
      val sb = new java.lang.StringBuilder(64)
      var lane = 0
      while (lane < argmaxLanes.length) {
        val (idxs, displays) = argmaxLanes(lane)
        // numpy argmax: first strict max in category-index insertion
        // order; emits even at vanishing probability (appV2.py:77-83)
        var best = -1; var bestP = Double.NaN
        var i = 0
        while (i < idxs.length) {
          val raw = idxs(i)
          // numpy wrap: a negative index reads from the end; the
          // out-of-bounds cases already returned null above
          val idx = if (raw < 0) raw + vec.length else raw
          val p = sigmoid(vec(idx))
          // Double.compare ≡ Spark's max_by struct ordering (NaN-safe)
          if (best < 0 || java.lang.Double.compare(p, bestP) > 0) { best = i; bestP = p }
          i += 1
        }
        // displays(best) == null marks an EMPTY-NAMED winner (the
        // reference's names[global_idx] truthiness, appV2.py:82): it won
        // the argmax — no runner-up — but emits nothing
        if (best >= 0 && displays(best) != null) {
          if (sb.length > 0) sb.append(", ")
          sb.append(displays(best))
        }
        lane += 1
      }
      lane = 0
      while (lane < thresholdLanes.length) {
        val (idxs, displays, theta) = thresholdLanes(lane)
        var i = 0
        while (i < idxs.length) {
          val raw = idxs(i)
          val idx = if (raw < 0) raw + vec.length else raw // numpy wrap
          val p = sigmoid(vec(idx))
          // primitive >= is already numpy's semantics: NaN >= θ false
          if (!p.isNaN && p >= theta) {
            if (sb.length > 0) sb.append(", ")
            sb.append(displays(i))
          }
          i += 1
        }
        lane += 1
      }
      sb.toString
    }
  }

  private[graft] object SelectionProgram {
    def apply(vocabEntries: Seq[Vocab.Entry],
              genThreshold: Double, charThreshold: Double): SelectionProgram = {
      val boundEntries = vocabEntries.filter(e => Vocab.emissionRank.contains(e.category))
      val byCat = vocabEntries.groupBy(_.category)
        .map { case (c, es) => c -> es.sortBy(_.emitPos) }
      def lane(cat: String, argmaxLane: Boolean): (Array[Int], Array[String]) = {
        val es = byCat.getOrElse(cat, Seq.empty)
        // plan-time blacklist: a meta tag whose display contains a
        // blacklisted substring can never be emitted (appV2.py:98).
        // Empty-NAMED entries (the names[global_idx] truthiness guard,
        // appV2.py:82,96) also never emit — but an argmax lane must KEEP
        // them in the index array (they can still WIN and block the
        // runner-up), marked with a null display; threshold lanes drop
        // them outright (selection there is per-entry).
        val kept =
          if (cat == "meta")
            es.filterNot(e => Vocab.metaBlacklist.exists(
              e.tagName.replace('_', ' ').toLowerCase.contains(_)))
          else es
        val emittable = kept.filter(e => e.tagName != null && e.tagName.nonEmpty)
        if (argmaxLane)
          (kept.map(_.tagIdx.toInt).toArray,
           kept.map(e => if (e.tagName == null || e.tagName.isEmpty) null
                         else e.tagName.replace('_', ' ')).toArray)
        else
          (emittable.map(_.tagIdx.toInt).toArray,
           emittable.map(_.tagName.replace('_', ' ')).toArray)
      }
      SelectionProgram(
        Vocab.argmaxCategories.map(lane(_, argmaxLane = true)).toArray,
        (Vocab.genThresholdCategories.map(c => {
           val (i, d) = lane(c, argmaxLane = false); (i, d, genThreshold) }) ++
         Vocab.charThresholdCategories.map(c => {
           val (i, d) = lane(c, argmaxLane = false); (i, d, charThreshold) }))
          .toArray,
        // from the RECOGNIZED-category entries only (the same filter as
        // overrunError, ADVICE r12): an unrecognized category is dropped
        // at LOAD in the reference (appV2.py:68), so its index never
        // enters a category array and can never trip the IndexError —
        // bounds-checking it here would null every image's tags where
        // the reference (and this engine's relational path, whose inner
        // join drops the entry) tags normally. Blacklisted and
        // empty-named entries are KEPT: they do sit in the reference's
        // category arrays and do raise.
        // clamped, not truncated: a Long index past Int range must trip
        // the bounds pre-check, never wrap through toInt into the lanes
        if (boundEntries.isEmpty) -1
        else math.min(boundEntries.map(_.tagIdx).max, Int.MaxValue.toLong).toInt,
        if (boundEntries.isEmpty) 0
        else math.max(boundEntries.map(_.tagIdx).min, Int.MinValue.toLong).toInt)
    }
  }

  /** The SCALE path: the whole tag-selection program computed row-locally
    * — zero shuffles, zero joins, one narrow map over the scan.
    *
    * The relational `pipeline` above is the oracle-checkable reframing
    * (SURVEY.md §2); at 100 TB its posexplode multiplies the row count by
    * |vocab| and pushes tens of billions of rows through two shuffles and
    * an items×items join. But the vocabulary is a broadcast-sized
    * dimension and every selection rule (argmax, threshold, blacklist,
    * emission order) is a function of ONE row's score vector plus that
    * dimension, so the correct distribution strategy is per-row local
    * evaluation — exactly how the reference's in-memory loop works
    * (appV2.py:165-185), parallelized over partitions.
    *
    * Why mapPartitions and not Column expressions (SURVEY §7.4 ladder):
    * Spark's higher-order functions (transform/filter/aggregate lambdas)
    * do NOT participate in whole-stage codegen — an HOF formulation
    * evaluates ~|vocab| interpreted, boxing lambda calls per row (5×
    * SLOWER than the relational form, measured), and a flat when-chain
    * expression tree codegens only while |vocab| stays under the 64KB
    * method limit (the real CL tagger vocabulary is ~12k tags). A
    * partition function over primitive double[] is JIT-compiled straight
    *-line math — the Dataset encoder's Array[Double] fast path avoids
    * per-element boxing both ways.
    *
    * Output is bit-identical to `pipeline` for every vocab that FITS the
    * score vectors (same java.lang.Math.exp, same comparisons; the tags
    * column is a string) — on an OVERRUN vocab the two deliberately
    * part: the relational form's inner join can only skip (its DuckDB
    * oracle mirrors the join, keeping the gate engine-vs-engine exact),
    * while this path and tagImages implement the reference's IndexError
    * row failure — and numpy's NEGATIVE-index wrap (probs[-1] = last
    * logit), per row against the vector length. Pinned by TaggingSpec
    * and the tagger_pipeline_local oracle query. Images.tagImages runs
    * the same SelectionProgram over its scored relation, so the flagship
    * path is zero-shuffle too; ImagesSpec pins it against `pipeline`.
    * A vocab entry whose tag_idx reaches the score vector's length fails
    * the ROW (null tags) — the reference's numpy IndexError, see
    * [[overrunError]]; the old silent skip was reference-unfaithful
    * (holes — an absent vocab row for an existing output — remain skips,
    * the correct direction).
    *
    * The id column keeps its own family: a STRING id (the image-path ids
    * scoreImages emits — the documented 100 TB wiring) rides a
    * string-keyed encoder; anything else takes the long path. The old
    * unconditional cast("long") turned every path id into NULL and the
    * output could no longer be joined back to its images. */
  def pipelineLocal(scores: DataFrame, vocabEntries: Seq[Vocab.Entry],
                    genThreshold: Double = 0.55, charThreshold: Double = 0.60,
                    idCol: String = "image_id", vecCol: String = "logits"): DataFrame = {
    val program = SelectionProgram(vocabEntries, genThreshold, charThreshold)
    val spark = scores.sparkSession
    import spark.implicits._
    val vec = col(vecCol).cast("array<double>").as("logits")
    scores.schema(idCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        scores.select(col(idCol).as("image_id"), vec)
          .as[(String, Array[Double])]
          .mapPartitions { it => it.map { case (id, v) => (id, program.tags(v)) } }
          .toDF("image_id", "tags")
      case _ =>
        scores.select(col(idCol).cast("long").as("image_id"), vec)
          .as[(Long, Array[Double])]
          .mapPartitions { it => it.map { case (id, v) => (id, program.tags(v)) } }
          .toDF("image_id", "tags")
    }
  }

  /** Deterministic synthetic vocabulary over tag_idx 0..n-1, mirrored
    * exactly by SQL in the DuckDB oracle (see SparkEntry.oracleSql):
    * category cycles through the 8 recognized ones; every 16th index in
    * the meta lane gets a blacklisted name (substring "id") to keep the
    * anti-filter under oracle test; underscore names exercise the
    * underscore→space projection. */
  def syntheticVocab(spark: SparkSession, n: Int = 64): DataFrame =
    spark.range(n).select(
      col("id").as("tag_idx"),
      // synthetic mapping is ascending → insertion order == tag_idx
      col("id").as("emit_pos"),
      expr("CASE WHEN id % 8 = 5 AND id % 16 = 13 " +
        "THEN concat('meta_id_', CAST(id AS STRING)) " +
        "ELSE concat('tag_', CAST(id AS STRING)) END").as("tag_name"),
      expr("CASE CAST(id % 8 AS INT) " +
        "WHEN 0 THEN 'rating' WHEN 1 THEN 'general' WHEN 2 THEN 'artist' " +
        "WHEN 3 THEN 'character' WHEN 4 THEN 'copyright' WHEN 5 THEN 'meta' " +
        "WHEN 6 THEN 'quality' ELSE 'model' END").as("category"))

  /** Driver-side twin of syntheticVocab for pipelineLocal (same generator,
    * materialized as entries; lockstep pinned by TaggingSpec). */
  def syntheticVocabEntries(n: Int = 64): Seq[Vocab.Entry] =
    (0L until n.toLong).map { id =>
      val name =
        if (id % 8 == 5 && id % 16 == 13) s"meta_id_$id" else s"tag_$id"
      val cat = (id % 8) match {
        case 0 => "rating"; case 1 => "general"; case 2 => "artist"
        case 3 => "character"; case 4 => "copyright"; case 5 => "meta"
        case 6 => "quality"; case _ => "model"
      }
      Vocab.Entry(id, name, cat, id)
    }

  /** SQL text of the synthetic vocab for the DuckDB oracle (DuckDB `range`
    * produces column `range`). Must stay in lockstep with syntheticVocab. */
  def syntheticVocabSql(n: Int = 64): String =
    s"""SELECT range AS tag_idx,
       |  CASE WHEN range % 8 = 5 AND range % 16 = 13
       |       THEN 'meta_id_' || CAST(range AS VARCHAR)
       |       ELSE 'tag_' || CAST(range AS VARCHAR) END AS tag_name,
       |  CASE CAST(range % 8 AS INT)
       |       WHEN 0 THEN 'rating' WHEN 1 THEN 'general' WHEN 2 THEN 'artist'
       |       WHEN 3 THEN 'character' WHEN 4 THEN 'copyright' WHEN 5 THEN 'meta'
       |       WHEN 6 THEN 'quality' ELSE 'model' END AS category
       |FROM range(0, $n)""".stripMargin
}
