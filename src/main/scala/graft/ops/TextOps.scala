package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, document fingerprinting.
  *
  * All pure column expressions (codegen'd, no UDFs) so they stream through
  * a parquet scan of billions of documents without materializing tokens.
  */
object TextOps {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword proxy count: word chunks plus digit runs plus
    * punctuation marks, the common pre-tokenizer split (GPT-2 style regex,
    * simplified to what codegen regex supports). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Heuristic document-quality score in [0,1]: blend of length band,
    * alpha ratio, punctuation ratio and mean word length — the usual
    * cheap pre-filter ahead of model-based scoring. Over n characters,
    * a `[A-Za-z ]` and p `[.,;:!?]` characters and t [[tokenCount]]
    * tokens: round(clamp01(0.5·a/n + 0.3·(t in [10, 100000] ? 1 : 0.5)
    * + 0.1·(1 − min(1, 10·p/n)) + (n/t in [2, 12] ? 0.1 : 0)), 4), with
    * each ratio 0 over a zero count; a null text scores 0.0. One native
    * byte pass per row ([[graft.functions.TextKernels.qualityScore]]). */
  def qualityScore(text: Column): Column =
    graft.functions.GraftFunctions.quality_score(text)

  /** Word n-gram shingles, in position order. Built by chained
    * zip_with over shifted slices: every lambda reads ONLY its input
    * elements. (The earlier transform-over-positions formulation
    * captured `toks` inside its lambda via slice(toks, i+1, n), and a
    * captured outer expression re-evaluates per element — every
    * shingle position re-split the whole text, which benched ~5x slower
    * on the corpus bigram count.) zip_with pads the shorter side with
    * null and concat_ws skips nulls, so the trailing (n-1) short entries
    * are cut by the final slice instead of a per-shingle token-count
    * filter — output is identical to the old formulation. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val rolled = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, k, 1 << 30), (a, b) => concat_ws(" ", a, b))
    }
    slice(rolled, lit(1), greatest(size(toks) - (n - 1), lit(0)))
  }

  /** Stopword-profile language ID: scores each candidate language by hits
    * of its most frequent function words and returns the argmax, 'und' when
    * nothing matches. N-gram-profile LID in the Cavnar-Trenkle spirit,
    * reduced to the top-word profile so it stays a pure expression. */
  def langId(text: Column): Column = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
      "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
      "fr" -> Seq("le", "la", "et", "les", "des", "est", "pas", "une"),
      "es" -> Seq("el", "la", "de", "que", "los", "es", "una", "por"),
      "it" -> Seq("il", "di", "che", "la", "per", "con", "una", "sono"),
    )
    // the score-0 sentinel below wins ties only because 'und' sorts
    // lexicographically ABOVE every profile code — a future profile
    // named 'vi'/'zh' would silently steal the no-hits case from 'und'
    // unless this invariant is kept (round-13 ADVICE)
    require(profiles.forall(_._1 < "und"),
      "langId profile codes must sort below the 'und' sentinel")
    // ONE codegen'd regexp_count pass per language, not 8 interpreted
    // HOF filter() passes each re-evaluating the split (the ngramRows
    // lesson: HOFs have no doGenCode and their task time scales with
    // thread count; 40 such passes made langId ~the whole cost of
    // t01's noop-timed stats pass). `(?:^|\s)w(?=\s|$)` counts exactly
    // the whitespace-token equality matches the filter form counted:
    // the lookahead leaves the trailing separator unconsumed, so
    // back-to-back stopwords all match; same Java regex engine as the
    // split, so whitespace classes agree.
    val norm = lower(trim(text))
    val scores = profiles.map { case (lang, words) =>
      val pat = words.mkString("(?:^|\\s)(?:", "|", ")(?=\\s|$)")
      struct(regexp_count(norm, lit(pat)).cast("int").as("score"),
        lit(lang).as("lang"))
    }
    // 'und' rides INSIDE the greatest as a score-0 sentinel instead of
    // a CASE around it: the CASE form evaluates the greatest twice
    // (condition + value — conditional branches defeat subexpression
    // elimination), doubling every regex pass. Ordering is unchanged:
    // at score 0 the sentinel wins because 'und' sorts above every
    // profile code ('en'..'it'); any positive score beats it.
    val sentinel = struct(lit(0).cast("int").as("score"),
      lit("und").as("lang"))
    greatest(scores :+ sentinel: _*).getField("lang")
  }

  /** Content-defined document fingerprint: hash of the normalized text
    * (case-folded, whitespace-collapsed) — the exact-dup key. */
  def docFingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** First 32 bits of md5(s) as an unsigned long in [0, 2^32) — the
    * deterministic, cross-engine-recomputable uniform hash used for
    * sampling decisions (DuckDB: ('0x'||substr(md5(s),1,8))::bigint). */
  def md5U32(s: Column): Column =
    // native kernel; value-identical to the conv/substring/md5 chain
    // (see Stats.hash60)
    graft.functions.GraftFunctions.md5_prefix(s, 8)

  /** Deterministic hash-threshold sampling: keep a row iff
    * md5_u32(salt || key) < rate * 2^32. Reproducible across runs,
    * engines and cluster sizes (no RNG state, no partition dependence) —
    * the property a training-mix needs so re-runs select the same
    * documents and holdouts never leak. `rate` is a per-row Column, so
    * stratified mixes are just a CASE expression (quality band -> rate).
    * Different `salt`s give independent samples from the same corpus. */
  def hashSample(df: DataFrame, key: Column, rate: Column,
                 salt: String = ""): DataFrame =
    df.filter(md5U32(concat(lit(salt), key.cast("string"))) <
      (rate * lit(4294967296.0)).cast("long"))

  /** Priority sampling (Duffield, Lund & Thorup, "Priority sampling
    * for estimation of arbitrary subset sums", JACM 2007): a
    * weight-proportional k-sample per group with deterministic
    * md5-derived randomness — each row draws u in (0, 1] from a salted
    * hash of its id, its priority is weight/u, and the k highest
    * priorities per group win (inclusion probability ≈ min(1, w/τ)
    * with τ the (k+1)-th priority — heavier rows win proportionally
    * more often, every row has a chance). The whole rank key is one
    * long→double cast, one exact power-of-two scaling and one IEEE
    * division — deliberately NO pow/ln (the A-Res u^(1/w) key), whose
    * cross-engine libm drift could flip a rank: an external engine
    * replays the IDENTICAL sample (the t73 oracle does).
    *
    * Scale: one shuffle on the group key; the rank plans as a
    * WindowGroupLimit (map-side partial top-k), so only ~k rows per
    * group per partition cross the exchange. */
  def prioritySample(df: DataFrame, group: Column, weight: Column,
                     id: Column, k: Int,
                     salt: String = "psamp"): DataFrame = {
    require(k > 0, "sample size k must be positive")
    val u = (graft.ops.Stats.hash60(concat(lit(salt), id.cast("string")))
      + 1).cast("double") / lit(1152921504606846976.0) // 2^60
    df.withColumn("priority", weight.cast("double") / u)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(group).orderBy(col("priority").desc, id)))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Nucleus (top-p) selection by mass: rank each group's rows by
    * (score desc, id) and keep the minimal prefix covering at least
    * num/den of the group's total `weight` — top-p sampling's idea
    * applied to curation ("keep the best documents until half the
    * token mass is covered"), the mass-aware cousin of
    * [[keepTopFraction]] (which cuts by row count). A row is kept iff
    * its PRECEDING cumulative mass is under the cut, so the
    * boundary-crossing row is kept and coverage ≥ p. With integer
    * weights every comparison is exact long arithmetic — no double
    * accumulation anywhere, any engine replays it bit-for-bit.
    * Returns every row + `is_kept` 0/1. One shuffle on the group key;
    * both windows share one sort. */
  def topPByMass(df: DataFrame, group: Column, score: Column,
                 weight: Column, id: Column, num: Int,
                 den: Int): DataFrame = {
    require(den > 0 && num >= 0 && num <= den,
      s"mass fraction $num/$den must sit in [0, 1]")
    val w = Window.partitionBy(group).orderBy(score.desc, id)
    val cumPrev = coalesce(sum(weight.cast("long")).over(
      w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val total = sum(weight.cast("long")).over(
      Window.partitionBy(group).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing))
    df.withColumn("is_kept",
      (cumPrev * den < total * num).cast("long"))
  }

  /** Deterministic EXACT-proportion stratified split (train/val/test):
    * within each stratum, rows are permuted by a salted md5 of their id
    * (a deterministic uniform shuffle) and cut at the floor of the
    * cumulative-weight boundaries — every stratum lands within one row
    * of its exact target fraction no matter how skewed strata sizes are,
    * where a Bernoulli hash split ([[hashSplit]]) only holds proportions
    * in expectation. Weights are normalized; dyadic fractions (0.75,
    * 0.125, …) keep the floor arithmetic integer-exact across engines
    * (the t47 oracle). Returns every input row + a `split` label.
    *
    * Scale shape: one shuffle on the stratum key, then a per-stratum
    * window rank — a SINGLE task sorts each stratum, so this is the
    * bounded-strata path (strata of millions, not billions). For
    * corpus-sized strata use [[hashSplit]]: map-side only, no exchange,
    * proportions exact to ~n^-1/2. */
  def stratifiedSplit(df: DataFrame, weights: Seq[(String, Double)],
                      strataCol: String = "source",
                      idCol: String = "doc_id",
                      salt: String = "split"): DataFrame = {
    require(weights.nonEmpty, "at least one split label required")
    require(weights.forall(_._2 > 0), "split weights must be positive")
    val total = weights.map(_._2).sum
    val cums = weights.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / total)
    val rn = row_number().over(Window.partitionBy(col(strataCol))
      .orderBy(md5(concat(lit(salt), col(idCol).cast("string"))),
        col(idCol)))
    val n = count(lit(1)).over(Window.partitionBy(col(strataCol)))
    val label = weights.init.map(_._1).zip(cums.init)
      .foldRight(lit(weights.last._1): Column) { case ((w, c), rest) =>
        when(col("__rn") <= floor(lit(c) * col("__n")), w).otherwise(rest)
      }
    df.withColumn("__rn", rn).withColumn("__n", n)
      .withColumn("split", label)
      .drop("__rn", "__n")
  }

  /** Shuffle-free Bernoulli twin of [[stratifiedSplit]] — the 100 TB
    * path: the split label is a pure per-row function of
    * md5(salt || id) against the cumulative-weight thresholds, so the
    * plan is map-side only (no exchange, no window) and any engine or
    * cluster size reproduces the same assignment. Proportions hold per
    * stratum in expectation (~n^-1/2 deviation) because the hash is
    * independent of every stratum column. */
  def hashSplit(df: DataFrame, weights: Seq[(String, Double)],
                idCol: String = "doc_id",
                salt: String = "split"): DataFrame = {
    require(weights.nonEmpty, "at least one split label required")
    require(weights.forall(_._2 > 0), "split weights must be positive")
    val total = weights.map(_._2).sum
    val cums = weights.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / total)
    val u = md5U32(concat(lit(salt), col(idCol).cast("string")))
    val label = weights.init.map(_._1).zip(cums.init)
      .foldRight(lit(weights.last._1): Column) { case ((w, c), rest) =>
        when(u < (lit(c) * lit(4294967296.0)).cast("long"), w)
          .otherwise(rest)
      }
    df.withColumn("split", label)
  }

  /** (doc_id, pos, dg) word-n-gram rows with the 0-based START position
    * of every window — the positional form of [[ngramRows]] that
    * [[repeatedNgramRemoval]] needs to excise runs. Same codegen-only
    * construction (shifted slices + arrays_zip + posexplode, no
    * interpreted HOFs on the corpus path); gram keys are lowercased,
    * digests hash60 (md5-derived long — cross-engine) or xxhash64
    * (scale family). */
  private def gramPositionRows(docs: DataFrame, n: Int, idCol: String,
                               textCol: String,
                               md5Keys: Boolean): DataFrame = {
    // NO fanOutReady here (round-14 measurement): unlike the termRows
    // tokenize (5.5 s serial, clear win), spreading the gram explode
    // made the whole t27/t54/t61/t122 family 15-40% SLOWER at sf0.1 —
    // the round-robin exchange of full text + 32-way fan-in overhead
    // on the small digest aggregates exceeds the serial explode cost.
    // Revisit only with profile evidence at a larger corpus.
    // both families carry the digest as a LONG: the oracle family is
    // hash60 (first 15 hex chars of md5 — DuckDB replays it as
    // ('0x'||substr(md5(g),1,15))::bigint, the KMV discipline). The
    // original full-hex md5 STRING keys shuffled 4x the bytes and the
    // dg-keyed aggregates ran GC-bound on 32-char comparisons —
    // measured on t123: string keys 9.3 MB / 22 s executor time at
    // sf0.1, long keys ~1/4 the shuffle and most of the wait gone.
    // Round-17: the whole window machinery (n shifted slices,
    // arrays_zip, struct posexplode, per-window concat_ws + digest
    // chain) collapsed into ONE native kernel emitting the compact
    // per-position digest array — value-identical on both families
    // (SketchExprSpec pins kernel == column chain), and the serial
    // fixture-scan gram stage (t54: 1.9 s one-task) does a fraction of
    // the allocation per window.
    docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.GraftFunctions.gram_digests(
          col(textCol), n, md5Keys)))
      .select(col("doc_id"), col("pos"), col("col").as("dg"))
  }

  /** Cross-document repeated-substring removal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" §4,
    * re-expressed relationally at word-shingle granularity): any word
    * `n`-gram occurring in >= `minDocs` DISTINCT documents is
    * boilerplate; every token covered by a flagged window is excised
    * and each document reassembled from its surviving tokens in order.
    * Overlapping and adjacent flagged windows merge into maximal runs
    * automatically (coverage is a position-set union), so a reflowed
    * license block or navigation chrome is cut as one span wherever it
    * sits — including ACROSS line boundaries, the case [[lineDedup]]
    * (line-aligned) and the MinHash/SimHash family (whole-document)
    * both miss. Windows straddling a boilerplate/unique boundary are
    * per-document unique, so they never flag and excision cannot eat
    * into surrounding unique text beyond the shared span itself.
    *
    * Output is the normalized token stream (tokens joined by single
    * spaces — what a tokenizer consumes; original intra-token case is
    * preserved, gram matching is case-insensitive):
    * (doc_id, clean_text, n_kept, n_removed). Deterministic and
    * SQL-expressible — the t54 oracle replays shingle counts, run
    * detection and excision term-for-term.
    *
    * `keepFirst = true` switches from the boilerplate contract (cut
    * EVERY copy — chrome and license blocks should vanish entirely) to
    * the dedup contract (Lee et al.'s actual dedup move: keep exactly
    * ONE copy corpus-wide — the min (doc_id, pos) occurrence — and cut
    * the rest, so duplicated CONTENT is not lost, merely de-weighted;
    * t122 oracle-replays the canonical choice).
    *
    * Scale shape — one digest-keyed discipline, NO suffix arrays, no
    * per-partition collects: the corpus-side gram explode is map-side
    * and carries (id, pos, digest) rows only; corpus-wide frequency is
    * ONE digest-keyed aggregate (map-side partial count of distinct
    * per-doc gram rows); flagged positions come back through a
    * digest-keyed semi-join; coverage is a doc-keyed aggregate over
    * FLAGGED rows only (boilerplate-sized, bounded per doc by token
    * count); and document text moves exactly once, in the final
    * doc-keyed join that projects kept tokens by index.
    *
    * `md5Keys` keys the grams by hash60 (md5-derived, so DuckDB
    * recomputes the digests: the t54/t122 oracle path); the default
    * xxhash64 family is the scale path. Family parity on fixture
    * corpora is spec-guarded (TextDedupSpec). */
  def repeatedNgramRemoval(docs: DataFrame, n: Int = 5, minDocs: Int = 2,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           keepFirst: Boolean = false,
                           md5Keys: Boolean = false): DataFrame = {
    require(n > 0, "shingle width must be positive")
    require(minDocs > 1, "minDocs < 2 would flag every gram")
    // materialized once — the gram frame feeds TWO branches (the
    // document-frequency aggregate and the probe side of the
    // semi-join); without this the tokenize + explode + digest lineage
    // runs once per branch (the t03 band-frame discipline; measured on
    // t123's twin chain, the recompute was a third of the cost)
    val grams = gramPositionRows(docs, n, idCol, textCol, md5Keys)
      .localCheckpoint()
    // document frequency per digest; a gram repeated WITHIN one doc
    // counts once (distinct doc_id) — the cross-document rule
    val flagged = grams.groupBy(col("dg"))
      .agg(count_distinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("dg"))
    val occ = grams.join(flagged, Seq("dg"), "left_semi")
    // covered 1-based token positions per doc: union of [pos+1, pos+n]
    // over flagged window starts — collect_set merges overlaps into
    // maximal runs; only flagged rows reach this aggregate.
    //
    // keepFirst = the DEDUP contract instead of the boilerplate one:
    // the corpus keeps exactly one copy of every duplicated span — the
    // CANONICAL occurrence, min (doc_id, pos) per digest (an arg-min
    // AGGREGATE, map-side combinable — deliberately not a per-digest
    // window, whose one-task partition a boilerplate gram in millions
    // of docs would hot-spot). A token is excised only when NO
    // canonical window covers it, so the winning document's span
    // survives verbatim while every other copy — including a SECOND
    // occurrence inside the winner itself — is cut. Unique-window
    // coverage deliberately does NOT save a token: the k-1 edge tokens
    // of a duplicated run always sit under unique straddling windows,
    // and saving them would shrink every excision by its margins.
    val coveredRows =
      if (!keepFirst)
        occ.select(col("doc_id"),
          explode(sequence(col("pos") + 1, col("pos") + n)).as("cp"))
      else {
        val canon = occ.groupBy(col("dg"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("__c"))
        occ.join(canon, Seq("dg"))
          .withColumn("__canon",
            (col("__c.doc_id") === col("doc_id") &&
              col("__c.pos") === col("pos")).cast("int"))
          .select(col("doc_id"), col("__canon"),
            explode(sequence(col("pos") + 1, col("pos") + n)).as("cp"))
          .groupBy(col("doc_id"), col("cp"))
          .agg(max(col("__canon")).as("__saved"))
          .filter(col("__saved") === 0)
          .select(col("doc_id"), col("cp"))
      }
    val covered = coveredRows
      .groupBy(col("doc_id"))
      .agg(collect_set(col("cp")).as("__cov"))
    // reassembly is O(tokens + covered) per doc: kept positions come
    // from ONE array_except (hash-set membership, ascending order
    // preserved), then a direct index projection — a per-token
    // array_contains over the covered set would be O(tokens x covered),
    // quadratic for a large fully-boilerplate doc. The per-doc covered
    // array is bounded by the doc's own token count (the same order as
    // the text row it sits next to), so the single aggregate row adds
    // no new memory class.
    docs.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("__toks"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("__cov",
        coalesce(col("__cov"), array().cast("array<int>")))
      // split("") yields [""], so __toks is never empty and the
      // ascending sequence(1, n) is always well-formed
      .withColumn("__kept",
        array_except(sequence(lit(1), size(col("__toks"))), col("__cov")))
      .select(col("doc_id"),
        array_join(transform(col("__kept"),
          p => element_at(col("__toks"), p)), " ").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        size(col("__cov")).cast("long").as("n_removed"))
  }

  /** Cross-document duplicated-SPAN report — the audit artifact next to
    * [[repeatedNgramRemoval]]'s excision (the t61 decontamination-report
    * discipline applied to dedup): for every document, the maximal runs
    * of tokens covered by word `n`-grams that occur in >= `minDocs`
    * distinct documents. Spans are maximal unions of the covered
    * intervals [start, start+n-1]: interval merging over sorted starts
    * (a new span opens only where a start clears the running covered
    * end by more than one), NOT consecutive-start islands — two flagged
    * starts 2 apart with an unflagged start between them still overlap
    * in coverage and must report as ONE span.
    *
    * Output: (doc_id, span_start, span_end, span_tokens, n_windows) —
    * 1-based inclusive token positions, `n_windows` = flagged window
    * starts merged into the span. What it's for: sizing a dedup BEFORE
    * running it (how much mass would keepFirst cut, which sources
    * carry it), and pinning down WHERE the duplication sits for audit.
    *
    * Scale shape: the same digest-keyed aggregate + semi-join as the
    * removal (nothing new shuffles corpus-wide); the islands window
    * partitions by doc_id — bounded by one document's own flagged
    * windows, never corpus-sized.
    *
    * `md5Keys` picks the gram-digest family as in
    * [[repeatedNgramRemoval]] (md5: the t123 oracle path). */
  def duplicateSpans(docs: DataFrame, n: Int = 5, minDocs: Int = 2,
                     idCol: String = "doc_id",
                     textCol: String = "text",
                     md5Keys: Boolean = false): DataFrame = {
    require(n > 0, "shingle width must be positive")
    require(minDocs > 1, "minDocs < 2 would flag every gram")
    // one materialization, two consumers — same rationale as the
    // removal's gram checkpoint above
    val grams = gramPositionRows(docs, n, idCol, textCol, md5Keys)
      .localCheckpoint()
    val flagged = grams.groupBy(col("dg"))
      .agg(count_distinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("dg"))
    // one row per flagged window start (a start can carry only one
    // digest, so the semi-join cannot duplicate it); interval merging:
    // a start opens a NEW span only when it clears the running covered
    // end (max prior start + n - 1) by more than one — running-sum of
    // the break flag is the span id
    val starts = grams.join(flagged, Seq("dg"), "left_semi")
      .select(col("doc_id"), (col("pos") + 1).as("p")) // 1-based
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val prevEnd = max(col("p"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1)) + (n - 1)
    starts
      .withColumn("__new",
        when(prevEnd.isNull || col("p") > prevEnd + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long")
          .as("span_tokens"),
        col("n_windows").cast("long").as("n_windows"))
  }

  /** Deterministic corpus shard-shuffle — the training-order
    * randomization a mix egress ends with: rows are globally ordered by
    * the salted md5 of their id (a deterministic uniform permutation —
    * the same engine-replayable key discipline as [[stratifiedSplit]])
    * and cut into `shards` contiguous, maximally equal shards
    * (sizes differ by at most one row, the standard floor(i*S/n)
    * partition). Returns every input row plus (shard, pos_in_shard);
    * reading shards in order of (shard, pos_in_shard) replays the
    * exact global hash order, so any engine — or a resumed training
    * run — reproduces the identical document sequence. All the cut
    * arithmetic is integer (div), so the t55 oracle replays it exactly.
    *
    * Scale shape: ONE global sort (a range-partitioned exchange on the
    * 16-byte key), the row count riding in as a broadcast scalar — the
    * BOUNDED-CORPUS path, exact shard equality. This path serializes
    * the permutation through a single sorted pass by construction, so
    * it guards itself: more than `maxRows` input rows fail the job
    * with a pointer at [[hashShard]] (map-side assignment, no
    * exchange, balanced in expectation — the mandatory form for
    * corpus-sized inputs; [[writeTrainingMixSharded]] uses it). */
  def shardShuffle(df: DataFrame, shards: Int, idCol: String = "doc_id",
                   salt: String = "shuffle",
                   maxRows: Long = 100000000L): DataFrame = {
    require(shards > 0, "shards must be positive")
    val key = md5(concat(lit(salt), col(idCol).cast("string")))
    // the count joins in as a broadcast one-row frame instead of a
    // second unbounded window — one fewer whole-corpus window pass
    val n = df.agg(count(lit(1)).as("__n"))
    df.withColumn("__rn",
        row_number().over(Window.orderBy(key, col(idCol))))
      .crossJoin(broadcast(n))
      // shard s covers global positions [ceil(s*n/S), ceil((s+1)*n/S));
      // both bounds via integer div so every engine agrees on every cut.
      // assert_true (null when passing) is woven into the always-kept
      // shard column so column pruning can never drop the guard
      .withColumn("shard",
        when(assert_true(col("__n") <= maxRows,
            lit(s"shardShuffle is the bounded-corpus exact path (one " +
              s"global sort); input exceeds $maxRows rows — use " +
              "hashShard, the exchange-free twin")).isNull,
          expr(s"((cast(__rn as bigint) - 1) * $shards) div __n")))
      .withColumn("pos_in_shard",
        expr(s"(cast(__rn as bigint) - 1) - " +
          s"((shard * __n + ${shards - 1}) div $shards)"))
      .drop("__rn", "__n")
  }

  /** Shuffle-free scale twin of [[shardShuffle]] — the 100 TB path:
    * shard = md5_u32(salt || id) mod `shards`, a pure per-row
    * projection (no exchange, no window; the map-side discipline of
    * [[hashSplit]]). Shards are balanced in expectation (~n^-1/2
    * deviation) and the within-shard order key is returned
    * (`shuffle_key`) so a writer lays each shard out in hash order
    * with one `repartition(shard) + sortWithinPartitions` — global
    * order then differs from [[shardShuffle]]'s only in interleaving
    * BETWEEN shards, which training-order randomization does not care
    * about. */
  def hashShard(df: DataFrame, shards: Int, idCol: String = "doc_id",
                salt: String = "shuffle"): DataFrame = {
    require(shards > 0, "shards must be positive")
    val key = md5(concat(lit(salt), col(idCol).cast("string")))
    df.withColumn("shuffle_key", key)
      .withColumn("shard", pmod(md5U32(concat(lit(salt + ":shard"),
        col(idCol).cast("string"))), lit(shards.toLong)))
  }

  /** C4-style line-rule cleaning (Raffel et al. 2020 §2.2 — "we
    * retained only lines that ended in a terminal punctuation mark",
    * "discarded any ... line with fewer than [minWords] words",
    * "removed any line with the word Javascript"): each doc's lines
    * are kept iff they end in `.` `!` `?` `"`, carry at least
    * `minWords` whitespace tokens, and contain no blocklist phrase
    * (case-insensitive); survivors reassemble in order. `page_ok`
    * carries the page-level screens ("lorem ipsum", curly brace) so
    * the caller decides drop-vs-keep at the doc grain.
    *
    * Scale shape: a PURE per-row projection — split, filter (all three
    * rules are codegen'd string ops), rejoin; no explode, no shuffle,
    * no state (spec-pinned exchange-free plan). The complement of
    * [[lineDedup]]: that removes lines the CORPUS repeats, this
    * removes lines that fail local rules — compose freely, both move
    * each doc's text once. */
  def c4LineFilter(docs: DataFrame, minWords: Int = 5,
                   blocklist: Seq[String] =
                     Seq("javascript", "cookie policy"),
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(blocklist.nonEmpty, "pass a non-empty blocklist")
    val lines = split(col(textCol), "\n")
    def keepRule(ln: Column): Column = {
      val t = trim(ln)
      substring(t, -1, 1).isin(".", "!", "?", "\"") &&
        size(split(t, "\\s+")) >= minWords &&
        !blocklist.map(p => lower(t).contains(lit(p.toLowerCase)))
          .reduce(_ || _)
    }
    docs.select(col(idCol).as("doc_id"),
        lines.as("__ls"), col(textCol).as("__t"))
      .withColumn("__kept", filter(col("__ls"), keepRule(_)))
      .select(col("doc_id"),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__ls")) - size(col("__kept"))).cast("long")
          .as("n_removed"),
        (!lower(col("__t")).contains("lorem ipsum") &&
          !col("__t").contains("{")).as("page_ok"))
  }

  /** Context-length chunking — the training-prep splitter for documents
    * past the model's window, and [[packDocuments]]'s inverse companion
    * (that concatenates short docs up to capacity; this splits long
    * ones down to it): token windows of `maxTokens` advancing by
    * `maxTokens - overlap`, so consecutive chunks share exactly
    * `overlap` tokens, every token lands in at least one chunk, and
    * only the final window may run short. Every boundary is integer
    * arithmetic the t64 oracle replays cut-for-cut.
    *
    * Scale shape: a pure per-row explode (chunk count rows per doc) —
    * no shuffle, no state; chunk text is a slice of the doc's own
    * token array. */
  def chunkDocuments(docs: DataFrame, maxTokens: Int, overlap: Int = 0,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(overlap >= 0 && overlap < maxTokens,
      "overlap must sit in [0, maxTokens)")
    val stride = maxTokens - overlap
    docs.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("__toks"))
      .withColumn("__n", size(col("__toks")))
      // last chunk index: ceil((n - maxTokens)/stride), floored at 0 —
      // div truncates toward zero but the operand is only negative when
      // the clamp wins, so every engine agrees on every value
      .withColumn("__last", greatest(lit(0),
        expr(s"(__n - $maxTokens + ${stride - 1}) div $stride")))
      .select(col("doc_id"), col("__toks"), col("__n"),
        explode(sequence(lit(0), col("__last"))).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
        array_join(slice(col("__toks"), col("chunk_no") * stride + 1,
          lit(maxTokens)), " ").as("chunk_text"),
        least(lit(maxTokens), col("__n") - col("chunk_no") * stride)
          .cast("long").as("n_chunk_tokens"))
  }

  /** Corpus-wide exact line deduplication (C4-style boilerplate removal):
    * every distinct non-blank line is kept only at its first occurrence —
    * the (doc_id, line_no)-lowest — and removed everywhere else; blank
    * lines pass through; surviving lines are reassembled in order.
    *
    * Scale shape: explode to lines, ONE shuffle keyed by md5(line) for the
    * min-occurrence pick (a window over the compact digest, not the line
    * text), one hash aggregate to rebuild documents. The md5 group key is
    * also what lets the DuckDB oracle recompute survivorship exactly. */
  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")))
      .select(col("doc_id"), (col("pos") + 1).as("line_no"),
        col("col").as("ln"))
    // first occurrence = min(struct(doc_id, line_no)): struct ordering is
    // field-by-field, so this is doc_id-major, line-order minor with NO
    // domain bound — it works for string ids and million-line docs alike
    // (the earlier doc_id*1e6+line_no arithmetic key silently produced
    // NULL for non-numeric ids, dropping every non-blank line)
    val kept = lines
      .withColumn("__min_occ",
        min(struct(col("doc_id"), col("line_no"))).over(
          Window.partitionBy(md5(col("ln")))))
      .filter(trim(col("ln")) === "" ||
        (col("doc_id") === col("__min_occ.doc_id") &&
          col("line_no") === col("__min_occ.line_no")))
    kept.groupBy(col("doc_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("line_no"), col("ln")))),
          s => s.getField("ln")), "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** Scale-path twin of [[lineDedup]] (benched as x15): line text never
    * crosses a shuffle. The native codegen'd
    * [[graft.functions.LineHashesExpr]] emits (line_no, xxhash64, blank)
    * per line in ONE pass — exploded rows carry an 8-byte digest, not the
    * line string; survivorship is a map-side-combinable
    * min(struct(doc_id, line_no)) AGGREGATE over the digests (the md5
    * formulation windows over every line's full text and re-emits all
    * rows); documents rebuild by direct index projection into their own
    * split-line array. One corpus scan, one kernel pass, and in order:
    * a (blank, hash[, doc_id, line_no]) keyed aggregate after partial
    * combine; a (doc_id)-keyed kept-index aggregate; one doc_id-keyed
    * join of the kept-index arrays back to the corpus — the only point
    * where text moves, and it moves once. Output matches
    * [[lineDedup]] up to hash family (xxhash64 vs md5 — survivorship can
    * differ only under a content-hash collision); equality on fixture
    * corpora is spec-guarded (TextDedupSpec). */
  def lineDedupScalable(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    import graft.functions.GraftFunctions.line_hashes
    val meta = docs.select(col(idCol).as("doc_id"),
        explode(line_hashes(col(textCol))).as("lh"))
      .select(col("doc_id"), col("lh.line_no").as("line_no"),
        col("lh.h").as("h"), col("lh.blank").as("blank"))
    // ONE aggregate decides survivorship for both populations: non-blank
    // rows group by content hash (winner = min occurrence), blank rows
    // carry their own (doc_id, line_no) in the key so every occurrence is
    // a singleton group that survives — no second corpus scan / kernel
    // pass for a blanks branch, no union
    val kept = meta
      .groupBy(col("blank"), col("h"),
        when(col("blank"), col("doc_id")).as("__bd"),
        when(col("blank"), col("line_no")).as("__bl"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("mo"))
      .groupBy(col("mo.doc_id").as("doc_id"))
      .agg(sort_array(collect_list(col("mo.line_no"))).as("__keep"),
        count(lit(1)).as("n_kept"))
    // __lines is projected ONCE then referenced inside the lambda — an
    // attribute capture, not an expression capture (a captured split()
    // would re-split per element)
    docs.select(col(idCol).as("doc_id"),
        split(col(textCol), "\n").as("__lines"))
      .join(kept, Seq("doc_id"))
      .select(col("doc_id"),
        array_join(transform(col("__keep"),
          i => element_at(col("__lines"), i)), "\n").as("clean_text"),
        col("n_kept"))
  }

  /** Sequence packing for pretraining batches: lay documents end-to-end in
    * id order and cut the token stream every `capacity` tokens — a
    * document's bin is the capacity-sized window its FIRST token falls
    * into. This is boundary-straddling packing (the standard pretraining
    * packer shape, where a document crossing a sequence boundary is split/
    * truncated): a bin's assigned documents can exceed `capacity` by up to
    * one document's tail; it is NOT first-fit — use
    * [[packDocumentsFirstFit]] when bins must be hard-capped. Documents
    * are hash-bucketed (`buckets` strata packed independently and in
    * parallel — the 100 TB shape: no global sort, one window per bucket).
    * Deterministic — same binning on every run and engine — and
    * SQL-expressible, so the oracle recomputes it with a windowed running
    * sum. Returns (doc_id, bucket, bin, n_tokens). */
  def packDocuments(docs: DataFrame, capacity: Int, buckets: Int = 8,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), pmod(col(idCol), lit(buckets)).as("bucket"),
        tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("__before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("bucket").cast("long").as("bucket"),
        (col("__before") / capacity).cast("long").as("bin"),
        col("n_tokens").cast("long").as("n_tokens"))
  }

  /** First-fit sequence packing: within each hash bucket, documents are
    * scanned in id order and a document opens a new bin iff it does not
    * fit in the current one — bins NEVER exceed `capacity` except for a
    * single oversized document (> capacity) which gets a bin of its own.
    *
    * The running decision is inherently sequential per bucket, so this is
    * the one place a window can't express it: each bucket is routed to one
    * partition (`repartition(bucket)` + in-partition sort) and folded with
    * a per-partition scan. Buckets are the parallelism unit — size
    * `buckets` to the cluster (e.g. 10k buckets over 100 TB keeps every
    * core busy and every partition bounded). Returns the same
    * (doc_id, bucket, bin, n_tokens) shape as [[packDocuments]]. */
  def packDocumentsFirstFit(docs: DataFrame, capacity: Int, buckets: Int = 8,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sized = docs.select(col(idCol).cast("long").as("doc_id"),
        pmod(col(idCol), lit(buckets)).cast("long").as("bucket"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .repartition(buckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col("doc_id"))
    sized.as[(Long, Long, Long)].mapPartitions { it =>
      // state per bucket: a partition can host several buckets (hash
      // collisions when partitions < buckets is impossible here since we
      // repartition to exactly `buckets`, but keep it correct regardless)
      val used = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      it.map { case (id, bucket, n) =>
        val (bin, fill) = used.getOrElse(bucket, (0L, 0L))
        val (newBin, newFill) =
          if (fill > 0 && fill + n > capacity) (bin + 1, n)
          else (bin, fill + n)
        used(bucket) = (newBin, newFill)
        (id, bucket, newBin, n)
      }
    }.toDF("doc_id", "bucket", "bin", "n_tokens")
  }

  /** Standard document-stats projection over a corpus. */
  def documentStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // fanOutReady (round-16 profile): the per-row stats battery (two
    // regex splits, regexp_extract_all, two regexp_replace, langId's
    // profile probes) ran entirely inside the one-task scan of a
    // single-row-group corpus file — 2.2 s serial with 31 cores idle
    // at sf0.1 (t01). Same win class as the termRows tokenize; the
    // guard's floor/ceiling keeps streaming microbatches and
    // already-wide production scans exchange-free.
    Par.fanOutReady(docs).select(
      col("doc_id"),
      tokenCount(t).as("n_tokens"),
      bpeTokenCount(t).as("n_bpe_tokens"),
      length(t).as("n_chars_measured"),
      qualityScore(t).as("quality"),
      langId(t).as("lang_pred"),
      docFingerprint(t).as("fingerprint"))
  }

  /** Word n-grams as EXPLODED rows — the formulation for corpus-scale
    * n-gram counting. Semantically `explode(wordShingles(text, n))` (plus
    * the `keep` pass-through columns), but built from codegen'd operators
    * only: n shifted slices of the token array, arrays_zip + explode +
    * concat_ws, with the padded tail rows filtered on the last zip field.
    * [[wordShingles]]'s higher-order functions (zip_with / transform) have
    * no doGenCode and evaluate interpreted; profiled on the corpus bigram
    * count, the interpreted form's task time scaled with THREAD COUNT
    * (lock/allocation contention in the fallback path) while this form
    * stays inside whole-stage codegen and scales with cores. */
  private[graft] def ngramRows(docs: DataFrame, n: Int,
                               textCol: String = "text",
                               keep: Seq[String] = Nil): DataFrame = {
    val k0 = keep.map(col)
    // no fanOutReady — see gramPositionRows (measured regression).
    // Round-17: the slices/arrays_zip/struct-explode/concat_ws window
    // machinery collapsed into the native gram_strings kernel —
    // value-identical (SketchExprSpec pins kernel == column chain for
    // every token-count shape), one compact string array per doc.
    docs.select(k0 :+ explode(graft.functions.GraftFunctions
      .gram_strings(col(textCol), n)).as("ngram"): _*)
  }

  /** Bigram-LM document quality score — the CCNet-style language-model
    * perplexity filter (Wenzek et al. 2020) re-expressed relationally:
    * add-one-smoothed bigram conditional probabilities are trained on
    * `corpus` and each `docs` row is scored as the mean log-probability
    * of its word bigrams,
    * avg_logp = (1/n) * sum ln((c(w1 w2) + 1) / (c1(w1) + V)),
    * where c1 counts bigram-prefix occurrences and V is the corpus token
    * vocabulary. Low avg_logp = improbable text (gibberish, shuffled
    * boilerplate) — the screen a training mix ranks or thresholds on.
    * Unseen bigrams/prefixes take the smoothing mass (left joins), so
    * any frame can be scored against a fixed corpus model; docs without
    * a single bigram return n_bigrams = 0 and NULL score (no evidence).
    *
    * Determinism: each ln() term is computed in double (ln agrees
    * across engines — t25's precedent) and accumulated as
    * DECIMAL(27,12), so the per-doc sum is partitioning- and
    * order-independent; the mean divides in double and rounds to 6 —
    * the t48 oracle replays every term.
    *
    * Scale shape: [[ngramRows]] is codegen'd and map-side; scoring is
    * two shuffle equi-joins on compact string keys (bigram, prefix)
    * against count tables Catalyst may broadcast when small; the
    * per-doc aggregate ships (id, decimal) rows only. */
  def lmScore(docs: DataFrame, corpus: DataFrame,
              idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val grams = ngramRows(corpus, 2, textCol)
    val c2 = grams.groupBy(col("ngram")).agg(count(lit(1)).as("__c2"))
    val c1 = grams
      .select(substring_index(col("ngram"), " ", 1).as("__w1"))
      .groupBy(col("__w1")).agg(count(lit(1)).as("__c1"))
    val vocab = ngramRows(corpus, 1, textCol)
      .filter(col("ngram") =!= "")
      .agg(count_distinct(col("ngram")).as("__v"))
    val perDoc = ngramRows(docs, 2, textCol, keep = Seq(idCol))
      .join(c2, Seq("ngram"), "left")
      .withColumn("__w1", substring_index(col("ngram"), " ", 1))
      .join(c1, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__lp",
        log((coalesce(col("__c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("__c1"), lit(0L)) + col("__v")).cast("double"))
          .cast("decimal(27,12)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__lp")).cast("double") / count(lit(1))).as("__avg"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("__avg"), 6).as("avg_logp"))
  }

  /** Unicode script profile — the multilingual-curation companion to
    * [[langId]]: per document, character counts for the major script
    * blocks (Latin, CJK, Cyrillic, Arabic, digits, whitespace, other)
    * and the dominant script. A wrong-script document inside a language
    * shard (mojibake, scraped boilerplate, mislabeled source) is the
    * multilingual pipeline's cheapest red flag, and codepoint-range
    * counting is alphabet-truth where an n-gram langId can be fooled.
    *
    * Each count is `length(text) − length(regexp_replace(text,
    * [range], ''))` — one char per match, so the difference IS the
    * count; explicit BMP code-unit ranges mean Java regex and RE2
    * count identically (the oracle replays with the 'g' flag).
    * Dominance resolves by a FIXED script order among count-ties, so
    * the label is deterministic cross-engine; empty/null text is
    * 'none'. Pure codegen projection — no shuffle, no UDF. */
  def scriptProfile(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def cnt(pattern: String): Column =
      (length(t) - length(regexp_replace(t, pattern, ""))).cast("long")
    val classes = Seq(
      // ASCII letters + Latin-1 Supplement / Extended-A/B letters +
      // Latin Extended Additional (precomposed Vietnamese lives in
      // U+1E00-U+1EFF): accented Latin must count as latin, or a
      // diacritic-heavy doc flips dominant_script to 'none' — the
      // round-10 advice. U+00D7 × and U+00F7 ÷ are excluded: math
      // signs, not letters. BMP ranges replay identically in Java
      // regex and RE2.
      "latin" -> cnt("[A-Za-z\\u00C0-\\u00D6\\u00D8-\\u00F6" +
        "\\u00F8-\\u024F\\u1E00-\\u1EFF]"),
      "cjk" -> cnt("[\\u4E00-\\u9FFF]"),
      "cyrillic" -> cnt("[\\u0400-\\u04FF]"),
      "arabic" -> cnt("[\\u0600-\\u06FF]"),
      "digit" -> cnt("[0-9]"),
      // explicit, not \s: Java's \s includes \x0B where RE2's does
      // not — the one class that would silently diverge cross-engine
      "space" -> cnt("[ \\t\\n\\x0B\\f\\r]"))
    // fanOutReady (round-16 profile): six regexp_replace passes per row
    // ran inside the one-task corpus scan (t104 ~0.7 s serial)
    val withCounts = Par.fanOutReady(docs).select(
      col(idCol) +: classes.map { case (n, c) =>
        coalesce(c, lit(0L)).as(s"n_$n") } :+
        coalesce(length(t), lit(0)).cast("long").as("n_chars"): _*)
    val scriptCols = Seq("latin", "cjk", "cyrillic", "arabic")
    val m = greatest(scriptCols.map(n => col(s"n_$n")): _*)
    val dominant = scriptCols.foldRight(lit("none")) { (n, rest) =>
      when(m > 0 && col(s"n_$n") === m, lit(n)).otherwise(rest)
    }
    withCounts
      .withColumn("n_other", col("n_chars") - scriptCols.map(n =>
        col(s"n_$n")).reduce(_ + _) - col("n_digit") - col("n_space"))
      .withColumn("dominant_script", dominant)
  }

  /** Linear text-classifier inference — the fastText-style quality /
    * domain classifier scoring step of a curation pipeline (CCNet and
    * the GPT-3/PaLM data recipes score every page against a learned
    * linear model; training happens offline, INFERENCE is the 100 TB
    * pass this op is): given a learned `(term, weight)` table, each
    * document scores `bias + Σ_terms tf(term) · weight(term)` over the
    * shared whitespace tokenizer, and `prob = σ(score)`. Terms without
    * a weight contribute nothing (inner join); documents with no
    * weighted term score the bare bias.
    *
    * Determinism: tf · weight products are exact decimals accumulated
    * as DECIMAL(27,12) (order/partitioning-free); the sigmoid runs in
    * double on that exact sum and rounds to 6 (exp agrees across
    * engines to well past 6 dp — the t85 log precedent), so an oracle
    * replays every document. `exactSums = false` is the production
    * knob (round 15, the x78/PQ fast-sum precedent): the per-doc sum
    * accumulates in double — this is the 100 TB inference pass, and
    * the decimal path pays one BigDecimal box per (doc, hit-term)
    * row. Score/prob identity at the round-6 output granularity is
    * TextQualitySpec-pinned on the fixture; the t102 ORACLE query
    * keeps the exact default.
    *
    * Scale shape: tokenize map-side ([[ngramRows]] is codegen'd), one
    * (doc, term) aggregate, one broadcast join against the model-sized
    * weight table, one per-doc aggregate — no corpus-sized shuffle
    * beyond the tf group. */
  def linearScore(docs: DataFrame, weights: DataFrame, bias: Double = 0.0,
                  idCol: String = "doc_id",
                  textCol: String = "text",
                  exactSums: Boolean = true): DataFrame = {
    val tf = ngramRows(docs, 1, textCol, keep = Seq(idCol))
      .filter(col("ngram") =!= "")
      .groupBy(col(idCol), col("ngram").as("term"))
      .agg(count(lit(1)).as("__tf"))
    val rawSum =
      if (exactSums)
        sum((col("__tf") * col("__w")).cast("decimal(27,12)"))
          .cast("double")
      else sum(col("__tf").cast("double") * col("__w").cast("double"))
    val perDoc = tf
      .join(broadcast(weights.select(col("term"),
        col("weight").cast("decimal(18,9)").as("__w"))), Seq("term"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"), rawSum.as("__raw"))
    val s = coalesce(col("__raw"), lit(0.0)) + lit(bias)
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hit_terms"), lit(0L)).as("n_hit_terms"),
        round(s, 6).as("score"),
        round(lit(1.0) / (lit(1.0) + exp(-s)), 6).as("prob"))
  }

  /** UniMax-style per-source epoch allocation (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling for
    * Large-Scale Multilingual Pretraining"): each source contributes
    * epochs = min(maxEpochs, budgetTokens / source_tokens) passes over
    * its documents — small sources repeat up to the epoch cap instead of
    * being drowned by large ones, large sources are subsampled to the
    * budget. The integer part replicates every doc; the fractional
    * epoch picks docs by the deterministic md5 threshold
    * ([[hashSample]]'s rule), so re-runs select the same documents.
    * Returns (id, source, n_tokens, n_copies) — n_copies = 0 drops the
    * doc, >= 2 repeats it; feed into the mix writer via an explode on
    * `sequence(1, n_copies)`.
    *
    * Scale shape: one per-source token aggregate (a rows-per-source
    * frame, broadcast back), then a map-side projection — no per-doc
    * shuffle beyond the count. */
  def epochAllocation(docs: DataFrame, budgetTokens: Long,
                      maxEpochs: Double = 4.0, salt: String = "epochs",
                      idCol: String = "doc_id", srcCol: String = "source",
                      textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    // a source of only empty docs has zero tokens: the explicit branch
    // pins it at the epoch cap (its token-free docs replicate cost-free).
    // The branch is NOT redundant — under ANSI mode (Spark 4's default)
    // budget/0 RAISES rather than returning NULL/Inf, so without it the
    // whole allocation would crash on one degenerate source; the edge is
    // spec-pinned (TextQualitySpec "epochAllocation caps a zero-token
    // source at maxEpochs")
    val toks = docs.select(col(idCol), col(srcCol),
      tokenCount(col(textCol)).as("n_tokens"))
    val bySrc = toks.groupBy(col(srcCol))
      .agg(sum(col("n_tokens")).as("__st"))
      .withColumn("__e", when(col("__st") === 0, lit(maxEpochs))
        .otherwise(least(lit(maxEpochs),
          lit(budgetTokens).cast("double") / col("__st"))))
    toks.join(broadcast(bySrc.select(col(srcCol), col("__e"))), Seq(srcCol))
      .withColumn("__full", floor(col("__e")).cast("long"))
      .withColumn("__frac", col("__e") - floor(col("__e")))
      .withColumn("n_copies", col("__full") +
        when(md5U32(concat(lit(salt), col(idCol).cast("string"))) <
          floor(col("__frac") * lit(4294967296.0)).cast("long"), 1L)
          .otherwise(0L))
      .select(col(idCol), col(srcCol), col("n_tokens"), col("n_copies"))
  }

  /** Temperature-scaled mix allocation (the multinomial
    * temperature-sampling rule of mT5 / XLM-R, Conneau et al. 2020 §3;
    * generalizes [[epochAllocation]]): source s receives the share
    * w_s = tokens_s^(1/T) / sum_r tokens_r^(1/T) of `totalBudgetTokens`,
    * so epochs_s = min(maxEpochs, budget * w_s / tokens_s). T = 1 is
    * proportional sampling (every source the same epoch count); larger T
    * flattens the distribution toward per-source-equal budgets,
    * upsampling low-resource sources the way multilingual pretraining
    * mixes do. Replication semantics are [[epochAllocation]]'s: integer
    * part replicates, the fractional epoch picks docs by the
    * deterministic md5 threshold.
    *
    * Determinism: the share normalizer sums the double pow() terms as
    * DECIMAL(27,12), so it is partitioning- and order-independent and
    * the t53 oracle replays it term-for-term.
    *
    * Scale shape: one per-source token aggregate, a 1-row normalizer
    * broadcast back, then a map-side projection. */
  def temperatureAllocation(docs: DataFrame, totalBudgetTokens: Long,
                            temperature: Double = 2.0,
                            maxEpochs: Double = 4.0,
                            salt: String = "epochs",
                            idCol: String = "doc_id",
                            srcCol: String = "source",
                            textCol: String = "text"): DataFrame = {
    require(totalBudgetTokens > 0, "totalBudgetTokens must be positive")
    require(temperature > 0, "temperature must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val toks = docs.select(col(idCol), col(srcCol),
      tokenCount(col(textCol)).as("n_tokens"))
    val bySrc = toks.groupBy(col(srcCol))
      .agg(sum(col("n_tokens")).as("__st"))
      .withColumn("__pw", pow(col("__st").cast("double"),
        lit(1.0 / temperature)))
    val z = bySrc.agg(sum(col("__pw").cast("decimal(27,12)"))
      .cast("double").as("__z"))
    // zero-token source: share pw = 0 and tokens = 0 give 0/0, which
    // RAISES under ANSI mode (Spark 4 default) — pin it at the cap, the
    // T>1 limit of budget*t^(1/T-1)/z as t->0 and epochAllocation's rule
    val epochs = bySrc.crossJoin(broadcast(z))
      .withColumn("__e", when(col("__st") === 0, lit(maxEpochs))
        .otherwise(least(lit(maxEpochs),
          lit(totalBudgetTokens).cast("double") * col("__pw") /
            col("__z") / col("__st"))))
      .select(col(srcCol), col("__e"))
    toks.join(broadcast(epochs), Seq(srcCol))
      .withColumn("__full", floor(col("__e")).cast("long"))
      .withColumn("__frac", col("__e") - floor(col("__e")))
      .withColumn("n_copies", col("__full") +
        when(md5U32(concat(lit(salt), col(idCol).cast("string"))) <
          floor(col("__frac") * lit(4294967296.0)).cast("long"), 1L)
          .otherwise(0L))
      .select(col(idCol), col(srcCol), col("n_tokens"), col("n_copies"))
  }

  /** Per-language [[lmScore]] — CCNet's actual form: one bigram model
    * per language (the `langCol` key rides every count table and the
    * vocabulary), so a French document scores against the French
    * distribution instead of a corpus-wide blend that penalizes every
    * minority language. A doc whose language has no model row falls
    * back to pure smoothing mass (left joins; its V comes back NULL →
    * no score, honest "no evidence"). Same determinism contract as
    * [[lmScore]]: double ln() terms, DECIMAL(27,12) accumulation,
    * round-6 mean — the t51 oracle replays it per language. */
  def lmScoreByLang(docs: DataFrame, corpus: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    langCol: String = "lang"): DataFrame = {
    val grams = ngramRows(corpus, 2, textCol, keep = Seq(langCol))
    val c2 = grams.groupBy(col(langCol), col("ngram"))
      .agg(count(lit(1)).as("__c2"))
    val c1 = grams
      .select(col(langCol), substring_index(col("ngram"), " ", 1).as("__w1"))
      .groupBy(col(langCol), col("__w1")).agg(count(lit(1)).as("__c1"))
    val vocab = ngramRows(corpus, 1, textCol, keep = Seq(langCol))
      .filter(col("ngram") =!= "")
      .groupBy(col(langCol)).agg(count_distinct(col("ngram")).as("__v"))
    val perDoc = ngramRows(docs, 2, textCol, keep = Seq(idCol, langCol))
      .join(c2, Seq(langCol, "ngram"), "left")
      .withColumn("__w1", substring_index(col("ngram"), " ", 1))
      .join(c1, Seq(langCol, "__w1"), "left")
      .join(broadcast(vocab), Seq(langCol), "left")
      .withColumn("__lp",
        log((coalesce(col("__c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("__c1"), lit(0L)) + col("__v")).cast("double"))
          .cast("decimal(27,12)"))
      .groupBy(col(idCol))
      .agg(count(col("__lp")).as("n_bigrams"),
        (sum(col("__lp")).cast("double") / count(col("__lp"))).as("__avg"))
    docs.select(col(idCol), col(langCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col(langCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("__avg"), 6).as("avg_logp"))
  }

  /** Gopher-style repetition quality stats per document (Rae et al. 2021
    * §A1.1 repetition filters, re-expressed relationally): duplicate-line
    * fraction, duplicate-line character fraction, and the modal word-bigram
    * occurrence fraction — the standard cheap screens for boilerplate and
    * degenerate repetition ahead of training-mix construction.
    *
    * Scale shape: the line metrics are PURE column expressions (split /
    * array_distinct / aggregate) — a map-only projection that streams
    * through the corpus scan with no shuffle. Only the bigram mode needs
    * an aggregation: explode to (doc, bigram) with map-side partial
    * counts, then one doc-keyed max/sum reduce joined back. Blank lines
    * are excluded from line stats; docs with < 2 tokens have no bigrams
    * (fraction 0). All ratios round(4) so an oracle can mirror them
    * term-for-term. */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val d = docs
    val lines = filter(split(col(textCol), "\n"), l => trim(l) =!= "")
    val uniq = array_distinct(lines)
    val sumLen = (a: Column) =>
      aggregate(a, lit(0L), (acc, x) => acc + length(x))
    val lineStats = d.select(col(idCol).as("doc_id"),
        size(lines).as("n_lines"),
        size(uniq).as("n_distinct"),
        sumLen(lines).as("tot_chars"),
        sumLen(uniq).as("uniq_chars"))
    val bigrams = ngramRows(
        d.select(col(idCol).as("doc_id"), col(textCol)),
        n = 2, textCol, keep = Seq("doc_id"))
      .groupBy(col("doc_id"), col("ngram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_c"), sum(col("c")).as("n_bg"))
    val frac = (num: Column, den: Column) =>
      round(when(den === 0, 0.0)
        .otherwise(num.cast("double") / den.cast("double")), 4)
    lineStats.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_lines").cast("long").as("n_lines"),
        frac(col("n_lines") - col("n_distinct"), col("n_lines"))
          .as("dup_line_frac"),
        frac(col("tot_chars") - col("uniq_chars"), col("tot_chars"))
          .as("dup_line_char_frac"),
        coalesce(frac(col("max_c"), col("n_bg")), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** Per-group document cap (RefinedWeb/CCNet-style per-domain balancing):
    * keep at most `n` rows per `group`, chosen by the deterministic
    * [[md5U32]] order over `key` (ties broken by `key`) — so the retained
    * subset is a reproducible uniform sample of each group, stable across
    * runs, engines and cluster sizes, and different `salt`s draw
    * independent caps. Returns the input columns plus the within-group
    * rank `rk`.
    *
    * Scale shape: one shuffle keyed on the group column; the
    * `row_number <= n` filter is rewritten by Catalyst into
    * WindowGroupLimit, so each map task forwards at most `n` rows per
    * group before the exchange — the reduce side never sees more than
    * n * shuffle_partitions rows per group. */
  def capPerGroup(df: DataFrame, group: Column, key: Column, n: Int,
                  salt: String = ""): DataFrame =
    df.withColumn("rk", row_number().over(
        Window.partitionBy(group).orderBy(
          md5U32(concat(lit(salt), key.cast("string"))), key)))
      .filter(col("rk") <= n)

  /** Corpus-wide heavy hitters: the `k` most frequent word `n`-grams with
    * exact counts (rank ties break by n-gram ascending, so the result is
    * total-ordered and reproducible). The usual vocabulary/contamination
    * screen — e.g. the top boilerplate bigrams to strip before training.
    *
    * Scale shape: explode to n-gram rows (map-side partial count keeps
    * the exchange vocabulary-sized, not corpus-sized), one n-gram-keyed
    * aggregate, then a global rank that Catalyst collapses to
    * TakeOrderedAndProject — each task forwards only its local top `k`,
    * so the final step merges k * partitions rows, never the vocabulary
    * (plan verified: no vocabulary-sized single-partition exchange). For
    * a one-pass approximate variant with bounded state see
    * [[graft.functions.MisraGries]]. */
  def topNgrams(docs: DataFrame, n: Int = 2, k: Int = 20,
                textCol: String = "text"): DataFrame =
    ngramRows(docs, n, textCol)
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("ngram"))))
      .filter(col("rk") <= k)
      .select(col("rk").cast("long").as("rk"), col("ngram"),
        col("cnt").cast("long").as("cnt"))

  private val email = graft.functions.TextKernels.EmailRegex
  private val phone = graft.functions.TextKernels.PhoneRegex
  private val card  = graft.functions.TextKernels.CardRegex
  private val nMatches = (c: Column, pat: String) =>
    size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")

  /** Total PII matches in `text` under [[scrubPii]]'s patterns and
    * double-claim rule (cards counted on the raw text, phones on the
    * card-masked text, e-mails on the raw) — the per-document alarm
    * metric of the streaming ingest gate. Null for a null text. One
    * native pass per row over the three precompiled patterns
    * ([[graft.functions.TextKernels.piiCount]]). */
  def piiCount(text: Column): Column =
    graft.functions.GraftFunctions.pii_count(text)

  /** PII scrubbing for training corpora: masks e-mail addresses,
    * NNN-NNN-NNNN / NNN.NNN.NNNN phone numbers and 13-16-digit card
    * numbers with typed placeholder tokens, and reports per-document
    * match counts (the audit trail a redaction pass needs). Patterns are
    * deliberately restricted to the regex subset with identical semantics
    * in Java regex and RE2, so an external engine can replay the scrub
    * byte-for-byte. Card runs are masked before phones so a separator-free
    * digit run is never half-claimed by the phone pattern; e-mails last
    * (their local parts cannot match the digit patterns' word boundaries).
    *
    * Scale shape: a pure projection — three codegen'd regexp_replace /
    * regexp_extract_all chains, no shuffle, streams through the scan. */
  def scrubPii(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // fanOutReady (round-16 profile): five regex passes per row ran
    // inside the one-task corpus scan (t37 ~1.3 s serial)
    Par.fanOutReady(docs).select(col(idCol).as("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, card, "<CARD>"),
          phone, "<PHONE>"),
        email, "<EMAIL>").as("clean_text"),
      nMatches(t, email).as("n_emails"),
      nMatches(regexp_replace(t, card, "<CARD>"), phone).as("n_phones"),
      nMatches(t, card).as("n_cards"))
  }

  /** Materialize packed training sequences: for each (bucket, bin) of a
    * [[packDocuments]] assignment, the member documents concatenated in
    * id order with `sep` between them — the payload step that turns a
    * packing PLAN into the pretraining batches themselves. Returns
    * (bucket, bin, n_docs, n_tokens, seq_text), deterministic (id-order
    * concatenation) and SQL-expressible so an oracle recomputes the
    * sequence text byte-for-byte.
    *
    * Scale shape: one doc_id-keyed join of the (id, bucket, bin) plan
    * back to the corpus — the only point text moves — then one
    * (bucket, bin)-keyed aggregate; a bin's payload is bounded by
    * `capacity` tokens plus one straddling tail, so no group outgrows
    * memory by construction. */
  def materializeSequences(docs: DataFrame, packed: DataFrame,
                           sep: String = "<|eos|>",
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(packed.select(col(idCol).as("doc_id"), col("bucket"),
        col("bin"), col("n_tokens")), Seq("doc_id"))
      .groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("__text")))),
          s => s.getField("__text")), sep).as("seq_text"))

  /** Deterministic training-mix materialization — the last mile of the
    * corpus pipeline, composing the mix primitives into one egress:
    * [[capPerGroup]] bounds every source's share, [[hashSample]] applies
    * the per-band keep rate, [[packDocuments]] lays the survivors into
    * capacity-token sequences, and the result lands as bucket-partitioned
    * parquet (one writer task per bucket — the fact-layout discipline of
    * `Scale.writeFactByMonth`). Every stage keys off md5 of the document
    * id under a derived salt, so the SAME mix comes out on every run,
    * engine and cluster size — re-runs are bit-stable and an external
    * engine can audit membership row by row. Returns the read-back frame
    * (doc_id, `sourceCol`, n_tokens, bin, bucket) so the WRITE path —
    * not a plan that was never materialized — is what downstream checks
    * hash.
    *
    * Scale shape: cap = one group-keyed WindowGroupLimit exchange;
    * sample = stateless filter; pack = one per-bucket window; write =
    * `buckets` parallel writers, each a single partition directory.
    * Nothing corpus-sized is collected or broadcast. */
  def writeTrainingMix(docs: DataFrame, path: String, capPerSource: Int,
                       rate: Column, salt: String, capacity: Int,
                       buckets: Int = 8, idCol: String = "doc_id",
                       textCol: String = "text",
                       sourceCol: String = "source"): DataFrame = {
    val out = mixFrame(docs, capPerSource, rate, salt, capacity, buckets,
      idCol, textCol, sourceCol)
    out.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    // sibling manifest: what SHOULD be in every (bucket, bin) — counts,
    // token sums, an order-independent membership hash. Written from the
    // pre-write frame, so auditTrainingMix comparing it against the
    // landed payload catches write loss, not just plan drift
    mixManifest(out).coalesce(1)
      .write.mode("overwrite").parquet(path + "_manifest")
    docs.sparkSession.read.parquet(path)
  }

  /** Shard-shuffled mix egress — the opt-in final stage that finishes
    * what [[shardShuffle]] opened: the same deterministic mix as
    * [[writeTrainingMix]], laid out as `shards` shard=N directories in
    * training order instead of bucket directories. Shard assignment and
    * the within-shard order key come from [[hashShard]] (map-side md5,
    * no global sort), and each shard directory is written in
    * `shuffle_key` order by ONE `repartition(shard) +
    * sortWithinPartitions` — so a trainer (or a resumed run) reading a
    * shard's rows in file order replays the documented hash order, and
    * the only exchange in the plan is the shard repartition. The
    * `shuffle_key` rides along in the payload as the order's audit
    * trail. The sibling manifest and [[auditTrainingMix]] work
    * unchanged: they key on the (bucket, bin) DATA columns, which the
    * sharded layout carries like any other field. */
  def writeTrainingMixSharded(docs: DataFrame, path: String,
                              capPerSource: Int, rate: Column,
                              salt: String, capacity: Int,
                              buckets: Int = 8, shards: Int = 8,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              sourceCol: String = "source"): DataFrame = {
    val out = mixFrame(docs, capPerSource, rate, salt, capacity, buckets,
      idCol, textCol, sourceCol)
    hashShard(out, shards, idCol, salt = salt + ":shuffle")
      .repartition(shards, col("shard"))
      // shard leads the sort so the partitioned writer's required
      // ordering (partition columns first) is already satisfied —
      // otherwise FileFormatWriter inserts its own shard-only sort and
      // destroys the shuffle_key order this layout exists to persist
      .sortWithinPartitions(col("shard"), col("shuffle_key"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    mixManifest(out).coalesce(1)
      .write.mode("overwrite").parquet(path + "_manifest")
    docs.sparkSession.read.parquet(path)
  }

  /** The deterministic mix frame (doc_id, bucket, bin, n_tokens,
    * source) — the computation [[writeTrainingMix]] materializes and
    * [[repairTrainingMix]] recomputes for damaged buckets. */
  private def mixFrame(docs: DataFrame, capPerSource: Int, rate: Column,
                       salt: String, capacity: Int, buckets: Int,
                       idCol: String, textCol: String,
                       sourceCol: String): DataFrame = {
    val capped = capPerGroup(docs, col(sourceCol), col(idCol),
      capPerSource, salt + ":cap").drop("rk")
    val sampled = hashSample(capped, col(idCol), rate, salt + ":mix")
    packDocuments(sampled, capacity, buckets, idCol, textCol)
      .join(sampled.select(col(idCol), col(sourceCol)), Seq(idCol))
  }

  /** Repair a damaged [[writeTrainingMix]] layout in place: recompute
    * the mix (same inputs, same salt — the determinism that makes
    * repair possible at all), and rewrite ONLY the buckets whose
    * [[auditTrainingMix]] rows flag, via dynamic partition overwrite —
    * healthy buckets' files are never touched. The damaged-bucket list
    * is collected to the driver, bounded by `buckets` by construction.
    * Returns the post-repair audit (all-ok on success). */
  def repairTrainingMix(docs: DataFrame, path: String, capPerSource: Int,
                        rate: Column, salt: String, capacity: Int,
                        buckets: Int = 8, idCol: String = "doc_id",
                        textCol: String = "text",
                        sourceCol: String = "source"): DataFrame = {
    val spark = docs.sparkSession
    val bad = auditTrainingMix(spark, path).filter(!col("ok"))
      .select(col("bucket")).distinct()
      .collect().map(_.getLong(0))
    if (bad.nonEmpty)
      mixFrame(docs, capPerSource, rate, salt, capacity, buckets,
          idCol, textCol, sourceCol)
        .filter(col("bucket").isin(bad.toIndexedSeq: _*))
        .repartition(col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(path)
    auditTrainingMix(spark, path)
  }

  /** Per-(bucket, bin) mix summary: document count, token sum, and an
    * order-independent membership hash (xxhash64 of the sorted id list —
    * id sets at a few hundred docs per bin, bounded by the packer). */
  private def mixManifest(mix: DataFrame): DataFrame =
    mix.groupBy(col("bucket").cast("long").as("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        xxhash64(concat_ws(",",
          array_sort(collect_list(col("doc_id").cast("string")))))
          .as("content_hash"))

  /** Audit a [[writeTrainingMix]] layout: recompute the manifest from
    * the LANDED payload and diff it against the sibling manifest written
    * at mix time. Returns one row per (bucket, bin) present on either
    * side with both views and an `ok` flag — a dropped partition, a
    * half-written bin or a membership change all surface as ok=false
    * rows (empty-result audit == clean layout when filtered on !ok).
    * The audit reads payload metadata columns only (id/token/bucket/
    * bin), never the text payload. */
  def auditTrainingMix(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame = {
    val actual = mixManifest(spark.read.parquet(path)
        .select(col("doc_id"), col("n_tokens"), col("bucket"), col("bin")))
      .select(col("bucket"), col("bin"), col("n_docs").as("a_docs"),
        col("n_tokens").as("a_tokens"), col("content_hash").as("a_hash"))
    val expected = spark.read.parquet(path + "_manifest")
      .select(col("bucket"), col("bin"), col("n_docs").as("e_docs"),
        col("n_tokens").as("e_tokens"), col("content_hash").as("e_hash"))
    expected.join(actual, Seq("bucket", "bin"), "full_outer")
      .withColumn("ok",
        col("e_docs") === col("a_docs") &&
          col("e_tokens") === col("a_tokens") &&
          col("e_hash") === col("a_hash"))
      .withColumn("ok", coalesce(col("ok"), lit(false)))
  }

  /** Per-group head-of-distribution pruning (the CCNet discipline of
    * keeping the best slice of each domain's quality/perplexity
    * distribution): every row is ranked within its group by
    * (`score` desc, `id`) and flagged kept while
    * rank·`den` <= n·`num` — the RANK formulation of "keep the top
    * num/den fraction of each group", all integer arithmetic. An
    * interpolated-quantile threshold would make the boundary row
    * engine-dependent at float equality; the rank cut is exact and
    * any engine replays it (t60 oracle). Returns every input row plus
    * (grp_rank, grp_n, is_kept) — an auditable drop list, the
    * retainBest discipline; callers filter on is_kept.
    *
    * Scale shape: ONE group-keyed exchange (both windows share the
    * partition spec); groups are domain-sized and sort within
    * themselves. If a single group dwarfs executor memory, derive an
    * approximate score threshold instead ([[graft.ops.Stats]]
    * percentilesBy on a sample + broadcast join) and accept an
    * inexact boundary. */
  def keepTopFraction(df: DataFrame, group: Column, score: Column,
                      id: Column, num: Int, den: Int): DataFrame = {
    require(den > 0 && num >= 0 && num <= den,
      s"keep fraction $num/$den must sit in [0, 1]")
    val w = Window.partitionBy(group)
    df.withColumn("grp_rank",
        row_number().over(w.orderBy(score.desc, id)))
      .withColumn("grp_n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("is_kept",
        (col("grp_rank").cast("long") * den <=
          col("grp_n") * num).cast("long"))
  }

  /** TF-IDF keyword extraction: the top-`k` terms per document by
    * `tf * ln(N / df)` over the corpus (terms = lowercased whitespace
    * tokens of >= `minLen` chars; N = corpus document count; ties break
    * by term ascending). The arithmetic is written so an exact oracle can
    * mirror it term-for-term: integer tf and df, one double division
    * inside the log.
    *
    * Scale shape: token explode -> (doc, term) count -> term-keyed df
    * aggregate joined back -> per-doc top-k window. The exploded frame
    * carries (id, token) rows only; df is corpus-vocabulary-sized and
    * shuffles once. */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 3, minLen: Int = 3,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val terms = docs
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+"))
        .as("term"))
      .filter(length(col("term")) >= minLen)
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * log(col("__n").cast("double") / col("df")))
      .withColumn("term_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("term_rank") <= k)
      .select(col(idCol), col("term_rank"), col("term"), col("score"))
  }

  /** Fan-out parallelism guard for the explode-style tokenizers —
    * the shared [[Par.fanOutReady]] contract (stats window, streaming
    * skip), kept as a local alias because every postings-family call
    * site reads it. Round-14 t84 profile: one sub-split-size file ->
    * ONE task carrying the whole ~100x tokenize explode, 5.5 s of CPU
    * while 31 cores idled. */
  private def fanOutReady(df: DataFrame): DataFrame = Par.fanOutReady(df)

  /** Drop the storage blocks of a `localCheckpoint`-backed Dataset.
    * `Dataset.unpersist` cannot do this: localCheckpoint persists the
    * INTERNAL RDD directly (MEMORY_AND_DISK) without registering in
    * the CacheManager, and Dataset.unpersist only uncaches via the
    * CacheManager — the blocks would otherwise linger until the
    * ContextCleaner GCs the RDD (round-14 ADVICE). The checkpointed
    * RDD is the one captured in the Dataset's LogicalRDD leaf;
    * non-blocking unpersist, and a non-LogicalRDD plan (not a
    * checkpoint product) is left alone. */
  private def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Lowercased whitespace tokens of >= `minLen` chars as
    * (__id, term) rows — the shared tokenizer of the postings family
    * ([[sparseCosineTopK]], [[bm25TopK]]). Its shape is mirrored
    * verbatim by the t77/t78/t79 oracle `tok` CTEs; a change here
    * must change those together. */
  private def termRows(df: DataFrame, minLen: Int, idCol: String,
                       textCol: String): DataFrame = fanOutReady(df)
    .select(col(idCol).as("__id"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
    .filter(length(col("term")) >= minLen)

  /** (__id, term, __tf) occurrence counts over [[termRows]] — the
    * oracle `t` CTE. */
  private def termFreq(df: DataFrame, minLen: Int, idCol: String,
                       textCol: String): DataFrame =
    termRows(df, minLen, idCol, textCol)
      .groupBy(col("__id"), col("term")).agg(count(lit(1)).as("__tf"))

  /** Sparse lexical similarity search via an inverted-index join —
    * all-pairs cosine over unit-normalized TF-IDF vectors, the
    * term-space twin of the embedding ANN family (the APSS shape,
    * e.g. Lin, "Brute force and indexed approaches to pairwise
    * document similarity with MapReduce", SIGIR 2009): candidates are
    * generated ONLY through shared-term postings, so two documents
    * meet iff they share a term, and the per-term pair fan-out is
    * bounded by the df cap squared — the cap is the standard stop-term
    * prune (a term in more than `maxDfNum/maxDfDen` of the corpus
    * carries ~no signal and quadratic cost), expressed as a FRACTION
    * of the corpus in integer arithmetic (`df * den <= N * num`) so it
    * scales with the data and replays exactly. Pruned terms still
    * count in the NORMS, so their
    * exclusion from the dot is the documented approximation, not a
    * silent renormalization; with a cap >= the max df the result is
    * the exact tf-idf cosine (spec-pinned). Weights use t25's
    * `tf * ln(N/df)`; dots and norms accumulate as decimal(27,12)
    * (order-independent, the t66 discipline), so the oracle replays
    * every product. Returns the t06 contract: (query_id, rank,
    * neighbor_id, cosine round 4), ranked on the unrounded cosine
    * with neighbor-id ties.
    *
    * Scale shape: token explode → (doc, term) tf → term-keyed df join
    * → ONE postings self-join on term (each list <= N*num/den rows) →
    * pair-keyed aggregate → per-query top-k (WindowGroupLimit). No
    * all-pairs stage anywhere; the quadratic knob is explicit and
    * per-term. */
  def sparseCosineTopK(docs: DataFrame, k: Int, maxDfNum: Int,
                       maxDfDen: Int, minLen: Int = 3,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(k > 0 && maxDfDen > 0 && maxDfNum > 0 &&
      maxDfNum <= maxDfDen, "need k > 0 and a df cap fraction in (0,1]")
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val tf = termFreq(docs, minLen, idCol, textCol)
    // weight rows feed the norms AND both sides of the postings join —
    // materialize once
    val w = tf.join(tf.groupBy(col("term")).agg(count(lit(1)).as("__df")),
        "term")
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("__id"), col("__df"), col("__n"),
        (col("__tf") * log(col("__n").cast("double") / col("__df")))
          .as("__w"))
      .localCheckpoint()
    val nrm = w.groupBy(col("__id"))
      .agg(sqrt(sum((col("__w") * col("__w")).cast("decimal(27,12)"))
        .cast("double")).as("__nrm"))
    val postings = w.filter(
      col("__df") * maxDfDen <= col("__n") * maxDfNum)
    val dots = postings
      .select(col("term"), col("__id").as("__ida"), col("__w").as("__wa"))
      .join(postings.select(col("term"), col("__id").as("__idb"),
        col("__w").as("__wb")), Seq("term"))
      .filter(col("__ida") =!= col("__idb"))
      .groupBy(col("__ida"), col("__idb"))
      .agg(sum((col("__wa") * col("__wb")).cast("decimal(27,12)"))
        .cast("double").as("__dot"))
    val cosRaw = col("__dot") / (col("__na") * col("__nb"))
    dots
      .join(nrm.select(col("__id").as("__ida"), col("__nrm").as("__na")),
        Seq("__ida"))
      .join(nrm.select(col("__id").as("__idb"), col("__nrm").as("__nb")),
        Seq("__idb"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__ida"))
          .orderBy(cosRaw.desc, col("__idb"))))
      .filter(col("rank") <= k)
      .select(col("__ida").as("query_id"),
        col("rank").cast("long").as("rank"),
        col("__idb").as("neighbor_id"),
        round(cosRaw, 4).as("cosine"))
  }

  /** BM25 retrieval (Robertson–Spärck Jones Okapi weighting, the
    * Lucene `ln(1 + (N-df+0.5)/(df+0.5))` idf variant so every term
    * contributes >= 0): each query document's distinct terms are
    * matched against the corpus postings and each (query, doc) pair
    * scores
    * `sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b + b*dl*N/Ltot))`,
    * where dl is the doc's token count and N/Ltot replace the usual
    * dl/avgdl division with one integer product over the corpus token
    * total (fewer double ops, exact integers). This is the lexical
    * retrieval face of the curation kit — decontamination by
    * retrieval, quality-classifier seed mining, eval-set neighbor
    * audits — next to [[sparseCosineTopK]]'s all-pairs cosine.
    *
    * Determinism: each per-term score is ONE double expression of
    * integer counts (tf, df, dl, N, Ltot) and the k1/b literals —
    * both engines fold the identical IEEE constants — accumulated as
    * decimal(27,12) (order-independent, the t66 discipline), ranked
    * unrounded with doc-id ties; the t78 oracle replays every term.
    * Query terms count ONCE each (distinct — the Lucene practical
    * rule, documented rather than Robertson's (k3+1)qtf saturation).
    * An optional fractional df cap (`maxDfNum/maxDfDen`, t77's
    * integer form) drops stop-term postings from the join; at the
    * default 1/1 the result is the exact BM25 ranking.
    *
    * Scale shape: corpus explode → (doc, term) tf (ONE corpus-sized
    * shuffle) → vocabulary-sized df + doc-sized dl joins → postings
    * join on term with fan-out |query terms| x df (capped) →
    * (query, doc)-keyed aggregate → per-query top-k
    * (WindowGroupLimit). N and Ltot are 1-row broadcasts; no
    * all-pairs stage. `exactSums = false` swaps the decimal(27,12)
    * pair accumulator for a plain double sum — the production path
    * when the postings fan-out reaches tens of millions of rows
    * (decimal(27,12) exceeds Spark's long-backed fast path, so every
    * partial sum boxes a BigDecimal; measured ~4x the aggregate cost
    * at an 8M-row fan-out, x78 vs t78). Same plan, same ranking
    * except where two docs' scores collide within double-accumulation
    * error (spec-pinned rank-identical on the fixture); the oracle
    * family keeps the exact path. */
  def bm25TopK(queries: DataFrame, corpus: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               maxDfNum: Int = 1, maxDfDen: Int = 1, minLen: Int = 3,
               idCol: String = "doc_id",
               textCol: String = "text",
               exactSums: Boolean = true): DataFrame = {
    // validate BEFORE bm25Index eagerly tokenizes + checkpoints the
    // corpus — a doomed k must not cost a corpus-sized job
    require(k > 0, "need k > 0")
    bm25TopKIndexed(queries,
      bm25Index(corpus, k1, b, maxDfNum, maxDfDen, minLen, idCol,
        textCol), k, minLen, idCol, textCol, exactSums)
  }

  /** The frozen half of [[bm25TopK]] — every corpus-side quantity of
    * the BM25 score (tf, df, dl, N, Ltot, the k1/b saturation) baked
    * into one (term, doc_id, s) postings frame: s is corpus doc
    * `doc_id`'s FULL per-term contribution, so scoring any query is
    * just distinct-terms → postings join → per-pair sum. Build once
    * over a benchmark/reference corpus and probe forever — the
    * [[graft.ops.Dedup.nearDupIndex]] index discipline applied to
    * lexical retrieval (the s12 streaming gate screens every
    * microbatch against it). localCheckpoint'd: the corpus tokenize
    * runs once at build, never per probe. */
  def bm25Index(corpus: DataFrame, k1: Double = 1.2, b: Double = 0.75,
                maxDfNum: Int = 1, maxDfDen: Int = 1, minLen: Int = 3,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(maxDfDen > 0 && maxDfNum > 0 &&
      maxDfNum <= maxDfDen && k1 >= 0 && b >= 0 && b <= 1,
      "need a df cap fraction in (0,1], k1 >= 0, b in [0,1]")
    // tf feeds the token total, dl, df AND the postings — materialize
    // the one corpus-sized shuffle once (the t77 discipline).
    // Width guard (round-14 t84 profile): AQE coalesces a SMALL tf's
    // final-agg exchange to one partition before localCheckpoint
    // freezes it, and every downstream consumer inherits that width —
    // the postings projection + dl/dfreq joins + idf*tfn scoring all
    // ran as ONE task (4.5 s CPU, 31 cores idle). The checkpoint is
    // already materialized, so its width is known for free: re-spread
    // only when it froze narrower than the cluster's parallelism (the
    // re-checkpoint is by definition tiny — that is WHY it coalesced);
    // a corpus-scale tf is already wide and skips both steps.
    // Round-16: spread BEFORE the checkpoint. The tf aggregate's final
    // exchange is bytes-small, so AQE coalesced it to one partition and
    // the checkpoint froze width 1 — the widening below then paid a
    // SECOND full materialization of tf every build (profile: ~0.5 s
    // narrow checkpoint + 1.6 s re-spread checkpoint per t78 run).
    // fanOutReady's stats window pre-spreads exactly the small-corpus
    // case (a corpus-scale tf is past the ceiling, stays untouched),
    // so the width check below it almost never fires and one
    // materialization survives as a fallback for mis-estimated stats.
    val tf0 = Par.fanOutReady(termFreq(corpus, minLen, idCol, textCol))
      .localCheckpoint()
    val want = corpus.sparkSession.sparkContext.defaultParallelism
    // tf0's .rdd is free here — localCheckpoint already materialized it
    val tf = if (tf0.rdd.getNumPartitions < want) {
      // the re-checkpoint is EAGER, so once it exists tf0's blocks are
      // dead weight. Dataset.unpersist would be a NO-OP here —
      // localCheckpoint persists the internal RDD directly without
      // registering in the CacheManager, which is all
      // Dataset.unpersist consults (round-14 ADVICE) — so reach into
      // the LogicalRDD and drop the checkpointed RDD's blocks itself.
      // (Failure semantics unchanged in kind: local checkpoints are
      // unreliable by contract — losing an executor already fails any
      // consumer of tf0; dropping tf0's blocks just extends that to
      // `wide`-block recompute, which local checkpointing forbids
      // anyway. Spark logs a WARN acknowledging the truncation.)
      val wide = tf0.repartition(want).localCheckpoint()
      unpersistLocalCheckpoint(tf0)
      wide
    } else tf0
    val nDocs = corpus.agg(count(lit(1)).as("__n"))
    val ltot = tf.agg(sum(col("__tf")).as("__lt"))
    val dl = tf.groupBy(col("__id")).agg(sum(col("__tf")).as("__dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val tfn = (col("__tf") * lit(k1 + 1.0)) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) +
        lit(b) * ((col("__dl") * col("__n")).cast("double") /
          col("__lt"))))
    tf.join(dl, "__id").join(dfreq, "term")
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(ltot))
      .filter(col("__df") * maxDfDen <= col("__n") * maxDfNum)
      .select(col("term"), col("__id").as("doc_id"),
        (idf * tfn).as("s"))
  }

  /** (query, corpus-doc) BM25 sums of `queries` against a
    * [[bm25Index]]: (__qid, __did, __score). */
  private def bm25Scores(queries: DataFrame, index: DataFrame,
                         minLen: Int, idCol: String, textCol: String,
                         exactSums: Boolean,
                         pinWidth: Boolean = true): DataFrame = {
    val pairSum =
      if (exactSums) sum(col("__s").cast("decimal(27,12)")).cast("double")
      else sum(col("__s"))
    val qterms = termRows(queries, minLen, idCol, textCol)
      .select(col("__id").as("__qid"), col("term")).distinct()
    val post = index.select(col("term"), col("doc_id").as("__did"),
      col("s").as("__s"))
    // Explicit-width postings shuffle (round-17 profile): the term join
    // is bytes-tiny (terms + doubles), so AQE coalesced its reduce side
    // to ONE partition and the pair fan-out + the exact-decimal partial
    // sums — the CPU amplifier — ran serial (t78: a 1.9 s one-task
    // stage, 31 cores idle; coalesce-off A/B read exec 2.9 -> 1.4 s).
    // The x95 discipline: REPARTITION_BY_NUM on the join key (AQE's
    // coalescer leaves it alone, the join reuses it — no extra
    // exchange), gated on the Par stats window so an above-ceiling
    // corpus (already split-parallel at scan time) keeps its natural
    // width. `pinWidth = false` is the per-trigger opt-out: the gate
    // reads the INDEX size (always past the floor), so a streaming
    // microbatch probe would pay the exchanges EVERY trigger for a
    // fan-out a ~75 KB probe never produces — the round-14 s12 floor
    // lesson; [[bm25ScreenFlag]], the streaming runner's screen, opts
    // out at its call (the round-16 x63 discipline). Dev-lens A/B read s12 flat either way
    // (cold-JVM floor dominates a single-key stream run); the opt-out
    // is kept on the floor principle, not a measured win.
    val want = queries.sparkSession.sparkContext.defaultParallelism
    val pin = pinWidth && !queries.isStreaming && !index.isStreaming && {
      val b = post.queryExecution.optimizedPlan.stats.sizeInBytes
      b >= 128L * 1024 && b < BigInt(want) * 16L * 1024 * 1024
    }
    val (ql, pl) =
      if (pin) (qterms.repartition(want, col("term")),
        post.repartition(want, col("term")))
      else (qterms, post)
    ql.join(pl, "term")
      .groupBy(col("__qid"), col("__did"))
      .agg(pairSum.as("__score"))
  }

  /** [[bm25TopK]] against a prebuilt [[bm25Index]] — the probe half;
    * `minLen` must match the index build or query terms silently miss
    * postings. */
  def bm25TopKIndexed(queries: DataFrame, index: DataFrame, k: Int,
                      minLen: Int = 3, idCol: String = "doc_id",
                      textCol: String = "text",
                      exactSums: Boolean = true): DataFrame = {
    require(k > 0, "need k > 0")
    bm25Scores(queries, index, minLen, idCol, textCol, exactSums)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__qid"))
          .orderBy(col("__score").desc, col("__did"))))
      .filter(col("rank") <= k)
      .select(col("__qid").as("query_id"),
        col("rank").cast("long").as("rank"),
        col("__did").as("doc_id"),
        round(col("__score"), 4).as("score"))
  }

  /** Decontamination-by-retrieval screen: every incoming document's
    * TOP BM25 score against the frozen benchmark [[bm25Index]],
    * flagged `is_contaminated` when it reaches `tau` — the
    * eval-set-leak gate (an incoming doc that retrieves too strongly
    * against a held-out benchmark is a paraphrase/copy suspect; cf.
    * the n-gram-overlap decontamination t27/t61, which this
    * complements with scored lexical retrieval). Returns every input
    * row + (bm25_top round 4, is_contaminated); docs sharing no
    * term with the benchmark carry a null top and pass with 0. The
    * t84 oracle replays the index arithmetic, the max and the flag;
    * the streaming twin ([[graft.streaming.Streams.startBm25Gate]],
    * s12) screens each paced microbatch stateless against the same
    * frozen index, so paced == batch by construction.
    *
    * Scale shape: batch-sized qterms join the benchmark-sized index
    * (fan-out sum-of-matched-dfs, the [[bm25TopK]] knob applies at
    * index build), one (doc, bench-doc) aggregate, one max per doc,
    * one id-keyed join back. */
  def bm25ScreenFlag(docs: DataFrame, index: DataFrame, tau: Double,
                     minLen: Int = 3, idCol: String = "doc_id",
                     textCol: String = "text",
                     exactSums: Boolean = true): DataFrame = {
    // no width pin for the screen shape (round-17 full-bench A/B): its
    // query side is a corpus-sized incoming batch, so the postings
    // fan-out is bytes-large and AQE keeps natural width anyway (t84's
    // pair stage already ran 32-wide) — the pin only added exchanges
    // (t84 2.77 -> 3.11 s). The few-query topK probes (t78/t79:
    // 0.74x/0.70x) keep it.
    val top = bm25Scores(docs, index, minLen, idCol, textCol, exactSums,
      pinWidth = false)
      .groupBy(col("__qid").as(idCol))
      .agg(max(col("__score")).as("__top"))
    docs.join(top, Seq(idCol), "left")
      .withColumn("bm25_top", round(col("__top"), 4))
      .withColumn("is_contaminated",
        coalesce(col("__top") >= lit(tau), lit(false)).cast("long"))
      .drop("__top")
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every `raw` document by how much more probable its word
    * n-grams are under the `target` corpus's hashed-feature
    * distribution than under `raw`'s own,
    * log_weight = sum over the doc's gram occurrences of
    * ln( p_target(bucket) / p_raw(bucket) ),
    * where bucket = md5_u32(salt || gram) mod `buckets` and both
    * distributions are add-one smoothed over the bucket space
    * (p(b) = (count(b)+1)/(total+buckets)) so unseen buckets carry
    * smoothing mass, never a zero. High log_weight = looks like the
    * target; feed into [[hashSample]] with an exp-weight-derived rate
    * or [[keepTopFraction]] for the resampling step. Docs without a
    * single n-gram return n_grams = 0 and NULL weight (no evidence —
    * the [[lmScore]] contract).
    *
    * Determinism: each ln() term is one double expression of integer
    * counts — (ct+1)·(Nr+B) / ((cr+1)·(Nt+B)) with every factor cast
    * to double BEFORE multiplying, so nothing overflows at corpus
    * scale and every engine computes the identical double —
    * accumulated as DECIMAL(27,12) (order-independent), mean-free sum,
    * rounded to 6 (t66 oracle replays every term).
    *
    * Scale shape: both corpora explode to gram rows map-side
    * ([[ngramRows]]), each collapsing to a `buckets`-row count table
    * (map-side partial agg) — the [[dsirProfile]]; scoring is then
    * one map-only projection ([[dsirScore]]), nothing corpus-sized
    * shuffles. The feature space is fixed at `buckets` regardless of
    * corpus size — the reason DSIR scales where exact-vocabulary
    * importance weights don't. */
  def dsirWeights(raw: DataFrame, target: DataFrame, n: Int = 2,
                  buckets: Int = 4096, salt: String = "dsir",
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    dsirScore(raw, dsirProfile(raw, target, n, buckets, salt, textCol),
      n, buckets, salt, idCol, textCol)

  private def dsirBucketRows(df: DataFrame, n: Int, buckets: Int,
                             salt: String, textCol: String,
                             keep: Seq[String]): DataFrame =
    ngramRows(df, n, textCol, keep)
      .withColumn("__b",
        pmod(md5U32(concat(lit(salt), col("ngram"))), lit(buckets)))

  /** Frozen DSIR profile — the build-once half of [[dsirWeights]], the
    * index discipline ([[graft.ops.Dedup.nearDupIndex]] /
    * `semanticIndex`) applied to the data-selection model: every one
    * of the `buckets` feature buckets with its target count, raw
    * count and both corpus totals attached — a self-contained
    * `buckets`-row frame (every possible bucket present, so scoring
    * NEVER misses a join key even on documents whose grams the
    * profile corpora never saw). Build once, materialize, then score
    * any frame — batches or stream microbatches — with [[dsirScore]]
    * under the same (n, buckets, salt). */
  def dsirProfile(raw: DataFrame, target: DataFrame, n: Int = 2,
                  buckets: Int = 4096, salt: String = "dsir",
                  textCol: String = "text"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val tc = dsirBucketRows(target, n, buckets, salt, textCol, Nil)
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val rc = dsirBucketRows(raw, n, buckets, salt, textCol, Nil)
      .groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    val dist = raw.sparkSession.range(buckets).select(col("id").as("__b"))
      .join(tc, Seq("__b"), "left").join(rc, Seq("__b"), "left")
      .select(col("__b"), coalesce(col("__ct"), lit(0L)).as("__ct"),
        coalesce(col("__cr"), lit(0L)).as("__cr"))
    dist.crossJoin(broadcast(dist.agg(sum(col("__ct")).as("__nt"),
      sum(col("__cr")).as("__nr"))))
  }

  /** Score any frame against a frozen [[dsirProfile]] — the
    * probe-forever half: per document, the sum over its gram
    * occurrences of the add-one-smoothed log likelihood ratio (see
    * [[dsirWeights]] for the arithmetic contract; (n, buckets, salt)
    * MUST match the profile's or the buckets silently disagree). One
    * output row per input row, in input order: (idCol, n_grams,
    * log_weight). Stateless per input frame, so the streaming runner
    * applies it per-microbatch against the frozen profile unchanged
    * (s09).
    *
    * Scale shape: the profile's `buckets` ln() terms (each cast to
    * decimal(27,12) by Spark) ship once to the
    * executors ([[graft.functions.StaticCache]]: frozen for a
    * checkpointed profile, collected per call otherwise), and a native
    * kernel sums each document's own grams against them as unscaled
    * longs, beside one that counts the grams — one map-only projection,
    * no gram rows, no join, no shuffle. The sum is exact or loud: past
    * the 64-bit unscaled range it throws, naming dsirScore. */
  def dsirScore(docs: DataFrame, profile: DataFrame, n: Int = 2,
                buckets: Int = 4096, salt: String = "dsir",
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol) +:
      dsirColumns(col(textCol), profile, n, buckets, salt): _*)

  /** [[dsirScore]]'s (n_grams, log_weight) of `text` against `profile`'s
    * frozen terms, one native kernel each
    * ([[graft.functions.TextKernels.dsirGrams]],
    * [[graft.functions.StaticKernels.dsirLogWeight]]). */
  private[graft] def dsirColumns(text: Column, profile: DataFrame, n: Int,
                                 buckets: Int, salt: String): Seq[Column] =
    Seq(graft.functions.GraftFunctions.dsir_grams(text, n).as("n_grams"),
      graft.functions.GraftFunctions.dsir_log_weight(text, n, salt,
        dsirTerms(profile, buckets)).as("log_weight"))

  /** A [[dsirProfile]] as its per-bucket terms: element b is bucket b's
    * ln(p_target / p_raw) cast to decimal(27,12), as an unscaled long.
    * The profile must hold each of the `buckets` buckets exactly once. */
  private val dsirTermsCache = new graft.functions.StaticCache[Array[Long]]

  private[graft] def dsirTerms(profile: DataFrame, buckets: Int)
    : org.apache.spark.broadcast.Broadcast[Array[Long]] = {
    val terms = dsirTermsCache(profile) { p =>
      val terms = new Array[Long](buckets)
      val seen = new Array[Boolean](buckets)
      val rows = p.select(col("__b"), log(
          ((col("__ct") + 1).cast("double") *
            (col("__nr") + buckets).cast("double")) /
          ((col("__cr") + 1).cast("double") *
            (col("__nt") + buckets).cast("double")))
          .cast("decimal(27,12)"))
        .collect()
      rows.foreach { r =>
        val b = r.getLong(0)
        require(b >= 0 && b < buckets && !seen(b.toInt),
          s"dsirScore: profile bucket $b is not one of 0..${buckets - 1} " +
            "exactly once")
        seen(b.toInt) = true
        terms(b.toInt) =
          r.getDecimal(1).setScale(12).unscaledValue.longValueExact
      }
      require(rows.length == buckets, s"dsirScore: the profile has " +
        s"${rows.length} buckets, the score asks for $buckets")
      terms
    }
    require(terms.value.length == buckets, s"dsirScore: the profile has " +
      s"${terms.value.length} buckets, the score asks for $buckets")
    terms
  }
}
