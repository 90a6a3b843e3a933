package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-curation quality signals beyond the per-document scores in
  * `TextFunctions`: intra-document repetition statistics (the Gopher-style
  * "repetitious document" filters) and PII detection/redaction.
  *
  * Scale notes (100 TB): `repetitionStats` is two hash aggregations keyed
  * by (doc_id, gram) then doc_id — partial aggregation applies to both, and
  * the row-local fractions ride through the aggregates as primitive
  * first() columns so the documents table is scanned exactly once.
  * `piiRedact` is a pure codegen'd projection (regexp over the scan, no
  * shuffle at all).
  *
  * Cross-engine determinism: fractions are ratios of small integers rounded
  * at 1e-6 (Queries.scala conventions); the redaction regexes use only
  * syntax with identical semantics in Java regex and RE2 (character
  * classes, bounded/unbounded greedy repeats — both engines match
  * leftmost-greedy here), so the DuckDB oracle replays them verbatim.
  */
object QualityOps {

  /** Email/phone patterns — restricted to the Java-regex/RE2 common subset
    * (no backrefs, no lookaround) so oracles replay them unchanged. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Per-document repetition signals over whitespace tokens:
    *  - dup_token_frac: 1 − |distinct tokens| / |tokens| (row-local)
    *  - dup_2gram_frac: same over word 2-grams (row-local)
    *  - top_2gram_frac: occurrences of the most frequent 2-gram / total
    *    2-grams (grouped: needs the per-gram counts)
    * High values flag boilerplate/spam documents that length or stopword
    * filters miss (the classic "same sentence 400 times" page). */
  def repetitionStats(docs: DataFrame): DataFrame = {
    // The row-local metrics ride through both aggregates as primitive
    // first() columns (NOT a struct: a struct-typed first() has an
    // immutable aggregation buffer, which kicks the whole pipeline out of
    // HashAggregate into SortAggregate — PlanSpec pins the hash shape).
    //
    // The metrics struct AND the gram array are materialized in a
    // projection BELOW the explode: a single select(m, explode(grams))
    // puts the struct in the Project Catalyst places ABOVE the Generate,
    // re-evaluating the whole tokenize+distinct pipeline once PER GRAM
    // (O(tokens) work × O(tokens) rows — measured as ~10x this operator's
    // cost); the gram array is also built once here instead of twice
    // (once for dup_2gram_frac, once for the explode).
    val perDoc = Spread(docs).select(
      col("doc_id"),
      TextFunctions.bound(TextFunctions.tokens(col("text"))) { tk =>
        TextFunctions.bound(TextFunctions.shinglesOf(tk, 2)) { g =>
          struct(
            size(tk).cast("long").as("n_tokens"),
            round(lit(1.0) -
              size(array_distinct(tk)).cast("double") / size(tk).cast("double"), 6)
              .as("dup_token_frac"),
            round(lit(1.0) -
              size(array_distinct(g)).cast("double") / size(g).cast("double"), 6)
              .as("dup_2gram_frac"),
            g.as("grams"))
        }
        // aliases inside a lambda are stripped (fields come out col1..colN);
        // the positional struct cast restores the names
      }.cast("struct<n_tokens:bigint,dup_token_frac:double," +
        "dup_2gram_frac:double,grams:array<string>>").as("m"))
    val perGram = perDoc
      .select(col("doc_id"),
        col("m.n_tokens").as("n_tokens"),
        col("m.dup_token_frac").as("dup_token_frac"),
        col("m.dup_2gram_frac").as("dup_2gram_frac"),
        explode(col("m.grams")).as("gram"))

    perGram
      .groupBy(col("doc_id"), col("gram"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        first(col("dup_token_frac")).as("dup_token_frac"),
        first(col("dup_2gram_frac")).as("dup_2gram_frac"),
        count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        first(col("dup_token_frac")).as("dup_token_frac"),
        first(col("dup_2gram_frac")).as("dup_2gram_frac"),
        max(col("c")).as("top_c"), sum(col("c")).as("n_grams"))
      .select(col("doc_id"), col("n_tokens"), col("dup_token_frac"),
        col("dup_2gram_frac"),
        round(col("top_c").cast("double") / col("n_grams").cast("double"), 6)
          .as("top_2gram_frac"))
  }

  /** Detect + redact emails/phone numbers in `text`: emits match counts and
    * the redacted text. Redaction order (emails, then phones) is part of
    * the contract; the patterns cannot overlap so the order only matters
    * for documentation. Zero-shuffle codegen projection. */
  def piiRedact(docs: DataFrame): DataFrame =
    Spread(docs).select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("clean"))

  /** Source-level curation (the C4/RefinedWeb "drop the bad domain"
    * step): aggregate per-document signals to the source and emit a
    * keep/drop verdict — sources whose short-document share exceeds
    * `maxShortFrac` or with fewer than `minDocs` documents are dropped
    * wholesale. One partial-agg shuffle on source; the verdict joins back
    * to documents as a broadcast (sources ≪ documents at any scale).
    * Averages divide exact integer sums, so the doubles are identical
    * cross-engine before the 1e-6 rounding. */
  def sourceStats(docs: DataFrame, shortChars: Int = 100,
      maxShortFrac: Double = 0.5, minDocs: Long = 3): DataFrame =
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(TextFunctions.tokenCount(col("text"))), 6).as("avg_tokens"),
        // NULL n_chars rows are EXCLUDED from the fraction (avg skips
        // NULLs), matching the oracle's avg(CAST(n_chars < 100 AS INT))
        // which also skips them — the earlier otherwise(0.0) silently
        // counted a NULL row as "not short" (ADVICE r5; driver tables
        // carry no NULLs, so gated results are unchanged)
        round(avg(when(col("n_chars").isNull, lit(null))
          .when(col("n_chars") < shortChars, 1.0).otherwise(0.0)), 6)
          .as("short_frac"))
      .withColumn("verdict",
        when(col("short_frac") <= maxShortFrac && col("n_docs") >= minDocs,
          "keep").otherwise("drop"))

  /** Benchmark decontamination: flag corpus documents sharing any word
    * 3-gram with the held-out/eval set, with the shared-shingle count as
    * evidence. The eval side is distinct-collapsed and broadcast (eval
    * sets are thousands of docs against billions) — the corpus is scanned
    * once, shuffled once on doc_id for the count. Per-doc shingles are
    * distinct-collapsed first so n_shared = |shingle-set intersection|. */
  def decontaminate(corpus: DataFrame, eval: DataFrame): DataFrame = {
    val corpusSh = Spread(corpus).select(col("doc_id"),
      explode(array_distinct(TextFunctions.shingles(col("text"), 3))).as("sh"))
    val evalSh = eval
      .select(explode(TextFunctions.shingles(col("text"), 3)).as("sh"))
      .distinct()
    corpusSh.join(broadcast(evalSh), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Sequential sequence packing: within each stratum (e.g. lang), lay the
    * documents out in doc_id order and cut fixed `window`-token context
    * windows from the running token count; a document's bin is
    * floor(start_offset / window). This is the deterministic "pack in
    * arrival order" strategy (not bin-packing — no reordering), so it is
    * a window cumsum: one shuffle on the stratum, spillable sort inside.
    * At 100 TB, strata are date×lang shards, keeping each sort bounded;
    * the bin arithmetic is pure integers (engine-exact).
    * Emits start_tok (0-based running offset) and seq_bin. */
  def packSequences(docs: DataFrame, window: Int = 2048): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_bin", (col("start_tok") / window).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("start_tok"), col("seq_bin"))
  }

  /** Per-document top-k salient terms by tf·(N/df) — the ratio-idf
    * variant rather than tf·ln(N/df), because ln() is libm-dependent and
    * NOT bit-identical across engines, while one integer-exact division
    * is. Ranking happens on the full-precision score with a total-order
    * token tie-break; the emitted score is rounded at 1e-6.
    * Plan: explode → (doc,tok) count → df from that same aggregate →
    * broadcast-joined back → per-doc window top-k. The (doc,tok)
    * aggregate feeds BOTH tf and df; Spark's lazy evaluation has no
    * cross-branch common-subexpression reuse (and after column pruning
    * the two subtrees differ, so ReuseExchange cannot fire), so the df
    * branch re-derives from a second corpus scan — measured at sf0.1 the
    * recompute is 4.5× FASTER than persisting the aggregate (local scans
    * are cheap and the columnar cache round-trip is not); on a 100 TB
    * corpus where the scan dominates, pre-materialize the (doc,tok)
    * aggregate as a table instead. (The round-5 `reuseTf` persist flag
    * was removed: slower here, used by no gate, and it leaked executor
    * storage memory because nothing ever unpersisted it — ADVICE r5.)
    * df stays a partial-agg groupBy rather than a count-over-window on
    * tok, which would funnel every stopword occurrence into one task
    * (hot-key skew with no map-side combine). */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = Spread(docs).select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(df, "tok").crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    // explicit doc_id exchange at the job's shuffle parallelism: the
    // scored rows are narrow, so AQE's byte-based coalescing otherwise
    // shrinks the window's exchange to a couple of partitions and the
    // per-doc sort+rank runs nearly serial (same fix as
    // DedupOps.boundedBucketPairs)
    val nParts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    scored.repartition(nParts, col("doc_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        round(col("score"), 6).as("score"), col("rk"))
  }

  /** Overlapping token-window chunking (the retrieval/embedding prep
    * step): cut each document into windows of `window` tokens starting
    * every `stride` tokens; the last chunk may be short; a doc shorter
    * than one window yields exactly one chunk. Chunk starts are
    * 1 + stride·i for i in 0..ceil((len−window)/stride) (integer
    * arithmetic). Row-local (sequence + transform + posexplode) — zero
    * shuffle, runs at scan speed on any corpus size. */
  def chunkTokens(docs: DataFrame, window: Int = 64,
      stride: Int = 48): DataFrame = {
    require(stride > 0 && window >= stride,
      "need 0 < stride <= window (otherwise tokens are skipped)")
    val chunks = TextFunctions.bound(TextFunctions.tokens(col("text"))) { tk =>
      // last start = stride·ceil((len−window)/stride) + 1, clamped to 1;
      // the clamp also makes the floor-vs-truncate ambiguity of negative
      // integer division irrelevant (both land at 1 for len < window)
      val lastStart = greatest(
        floor((size(tk) - lit(window) + lit(stride - 1)).cast("double") / stride)
          .cast("int") * stride + 1,
        lit(1))
      transform(sequence(lit(1), lastStart, lit(stride)),
        i => concat_ws(" ", slice(tk, i, lit(window))))
    }
    Spread(docs).select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(split(col("chunk"), " ")).cast("long").as("chunk_tokens"),
        md5(col("chunk")).as("chunk_fp"))
  }

  /** Cross-document duplicated passages (the chunk-granularity exact
    * substring detector — catches boilerplate/copy-paste spans that
    * whole-document dedup misses): chunk every document, then group by
    * chunk fingerprint and keep fingerprints seen in ≥2 distinct docs.
    * One scan + one partial-agg shuffle on the 16-byte fingerprint;
    * count-distinct over doc_id is exact (the per-fp doc list is small by
    * construction — a fp shared by millions of docs is exactly the
    * boilerplate this op exists to surface, and the aggregate is still
    * one row per fp). */
  def dupPassages(docs: DataFrame, window: Int = 16,
      stride: Int = 8): DataFrame =
    chunkTokens(docs, window, stride)
      .groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)

  /** The composed curation decision — every per-document filter signal in
    * ONE scan (token count, quality score, 2-gram repetition, language
    * guess) joined with the broadcast source-level verdict, folded into a
    * first-failing-reason verdict column: short → repetitive → lang →
    * lowq → source → keep. Thresholds compare the 1e-6-ROUNDED signals so
    * the branch taken is engine-exact. This is the q45-style capstone for
    * the filtering family: a user runs this one operator to tag a corpus. */
  def curationVerdict(docs: DataFrame, minTokens: Int = 20,
      maxDup2: Double = 0.09, minScore: Double = 0.3): DataFrame =
    curationVerdictAgainst(curationSignals(docs),
      sourceStats(docs).select(col("source"), col("verdict").as("src_verdict")),
      minTokens, maxDup2, minScore)

  /** The per-document signal projection alone — a pure stateless
    * projection, so it runs unchanged on a STREAMING DataFrame (the
    * ingest-time curation path, gated as q57b). */
  def curationSignals(docs: DataFrame): DataFrame = {
    // ONE tokenization per row for all four signals: the earlier form
    // embedded seven independent `split`s per row (token count, stopword
    // count, 2-gram build, four language filters). Aliases inside a HOF
    // lambda are stripped, so the struct's names are restored by a
    // positional cast (same trap as repetitionStats/q49).
    val sig = TextFunctions.bound(TextFunctions.tokens(col("text"))) { tk =>
      val nTok = size(tk).cast("double")
      val stops = TextFunctions.stopwordCountOf(tk, TextFunctions.EnStops)
        .cast("double")
      struct(
        nTok.cast("long").as("n_tokens"),
        round(least(lit(1.0), nTok / 100.0) * (lit(1.0) - stops / nTok), 6)
          .as("score"),
        TextFunctions.bound(TextFunctions.shinglesOf(tk, 2)) { g =>
          round(lit(1.0) -
            size(array_distinct(g)).cast("double") / size(g).cast("double"), 6)
        }.as("dup_2gram_frac"),
        TextFunctions.langGuessOf(tk).as("lang_guess"))
    }.cast("struct<n_tokens:bigint,score:double,dup_2gram_frac:double,lang_guess:string>")
    Spread(docs).select(col("doc_id"), col("source"), sig.as("m"))
      .select(col("doc_id"), col("source"),
        col("m.n_tokens").as("n_tokens"), col("m.score").as("score"),
        col("m.dup_2gram_frac").as("dup_2gram_frac"),
        col("m.lang_guess").as("lang_guess"))
  }

  /** Fold signals + the (broadcast, batch-computed) source verdicts into
    * the final decision. Stream-static: `signals` may be a streaming
    * DataFrame while `srcVerdicts` is a small batch dimension — the join
    * is a broadcast hash join with ZERO streaming state. */
  def curationVerdictAgainst(signals: DataFrame, srcVerdicts: DataFrame,
      minTokens: Int = 20, maxDup2: Double = 0.09,
      minScore: Double = 0.3): DataFrame =
    signals.join(broadcast(srcVerdicts), "source")
      .withColumn("verdict",
        when(col("n_tokens") < minTokens, "short")
          .when(col("dup_2gram_frac") > maxDup2, "repetitive")
          .when(col("lang_guess") === "und", "lang")
          .when(col("score") < minScore, "lowq")
          .when(col("src_verdict") === "drop", "source")
          .otherwise("keep"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        col("dup_2gram_frac"), col("lang_guess"), col("src_verdict"),
        col("verdict"))
}
