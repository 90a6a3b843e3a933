package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column library for the training-data pipeline operators
  * (dedup, quality, language-ID, fingerprinting). Everything here is pure
  * `org.apache.spark.sql.functions` composition — codegen'd Catalyst
  * expressions, no Scala UDFs — so filters/projections through these stay
  * inside whole-stage codegen and the 100 TB scan stays CPU-bound, not
  * serialization-bound.
  *
  * Every function has an exactly-equivalent ANSI-SQL formulation (used for
  * the DuckDB oracles in SparkEntry.oracleSql); determinism across engines
  * is part of the contract, which is why hashing is md5-based (bit-exact
  * everywhere) rather than engine-native hash functions.
  */
object TextFunctions {

  /** Whitespace tokens (corpus is single-space normalized at ingest). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Evaluate `c` exactly once per row and hand it to `f` as a bound lambda
    * variable. Higher-order functions are interpreted (CodegenFallback) and
    * re-evaluate any subexpression embedded in their lambda PER ELEMENT —
    * e.g. a `split` inside a `transform` lambda turns an O(tokens) shingle
    * build into O(tokens^2) (measured: 91% of the round-1 bench). Routing
    * the value through a 1-element `transform` makes every inner reference a
    * cheap lambda-variable read. Catalyst's CollapseProject/CSE do not
    * guarantee this on their own, so the barrier is explicit. */
  def bound(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Word n-gram shingles from a pre-tokenized array: positions
    * 1..max(len-n+1, 1), each a space-joined slice of up to n tokens
    * (tail shingles shorter when len < n). `toks` must be a cheap
    * reference (attribute or lambda variable). */
  def shinglesOf(toks: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))

  /** Word n-gram shingles of `text` — tokenizes exactly once per row. */
  def shingles(text: Column, n: Int = 3): Column =
    bound(tokens(text))(toks => shinglesOf(toks, n))

  /** All seeded minhashes in ONE pass: the shingle array is built once per
    * row, then each seed takes the lexicographic minimum of its seeded md5
    * over it. P[minhash equal] ~= Jaccard similarity of the shingle sets —
    * the standard LSH estimator. Returns array<string> aligned with
    * `seeds`. */
  def minhashAll(text: Column, seeds: Seq[String], n: Int = 3): Column =
    bound(shingles(text, n))(sh =>
      array(seeds.map(s =>
        array_min(transform(sh, x => md5(concat(lit(s + ":"), x))))): _*))

  /** Single-seed minhash (see minhashAll for the batched form). */
  def minhash(text: Column, seed: String, n: Int = 3): Column =
    bound(shingles(text, n))(sh =>
      array_min(transform(sh, x => md5(concat(lit(seed + ":"), x)))))

  /** Document fingerprint: md5 of the lowercased text (exact-dup key). */
  def fingerprint(text: Column): Column = md5(lower(text))

  /** BPE-ish subword pre-tokenization: letter runs, digit runs, and single
    * non-alphanumeric marks — the regex split GPT-style tokenizers apply
    * BEFORE merges, which is the token-count proxy that matters for
    * length-based corpus filtering. Codegen'd regexp, SQL-replayable. */
  def bpeIshTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))

  def bpeIshCount(text: Column): Column = size(bpeIshTokens(text))

  /** Rolling-hash fingerprint over the token sequence: left fold of
    * h = (h * 131 + tokenHash16) mod 2^31 — order-sensitive (unlike a
    * set/minhash signature, reordered tokens change it), constant memory,
    * and exact in any 64-bit-integer engine because the modulus keeps the
    * accumulator far below overflow. */
  def rollingFingerprint(text: Column): Column =
    bound(tokens(text))(toks =>
      aggregate(toks, lit(0L),
        (acc, t) => (acc * 131L + tokenHash16(t)) % 2147483648L))

  /** 16-bit per-token hash from the first 4 hex chars of md5 — chosen
    * because the identical arithmetic is expressible in ANSI SQL
    * (instr-over-hex-digit), keeping the SimHash oracle engine-independent. */
  def tokenHash16(tok: Column): Column =
    conv(substring(md5(tok), 1, 4), 16, 10).cast("long")

  /** SimHash bit contribution: for bit b, +1 if set in the token hash else
    * -1; the document's simhash sets bit b iff the sum over tokens > 0.
    * `(h >> b) & 1` — identical operator exists in ANSI SQL / DuckDB. */
  def bitOf(h: Column, b: Int): Column = shiftright(h, b).bitwiseAND(lit(1L))

  /** Stopword-count over a pre-tokenized array (`toks` must be a cheap
    * reference — attribute or lambda variable). */
  def stopwordCountOf(toks: Column, stops: Seq[String]): Column =
    size(filter(toks, t => t.isin(stops.map(s => s: Any): _*)))

  val EnStops = Seq("the", "a", "of", "and")
  val DeStops = Seq("der", "die", "das", "und")
  val FrStops = Seq("le", "la", "les", "et")
  val EsStops = Seq("el", "los", "las", "y")

  /** Deterministic marker-word language-ID heuristic (argmax of per-language
    * stopword hits, fixed tie priority en>de>fr>es, 'und' when no marker),
    * over a pre-tokenized array. */
  def langGuessOf(toks: Column): Column = {
    val en = stopwordCountOf(toks, EnStops)
    val de = stopwordCountOf(toks, DeStops)
    val fr = stopwordCountOf(toks, FrStops)
    val es = stopwordCountOf(toks, EsStops)
    when(en >= de && en >= fr && en >= es && en > 0, "en")
      .when(de >= fr && de >= es && de > 0, "de")
      .when(fr >= es && fr > 0, "fr")
      .when(es > 0, "es")
      .otherwise("und")
  }

  /** langGuess over raw text — tokenizes ONCE via `bound` (the four
    * per-language filters previously each embedded their own `split`,
    * i.e. four tokenizations per row for one value). */
  def langGuess(text: Column): Column =
    bound(tokens(text))(langGuessOf)
}
