package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for the training-data pipeline, over a
  * `documents(doc_id, text, ...)` table. Each has a distinct scale
  * profile:
  *
  *  - exact: one hash-shuffle on the fingerprint — embarrassingly scalable.
  *  - minhashLsh: shingle -> k seeded minhashes -> band join. Candidate
  *    generation is a self-equi-join on (seed, minhash) — a hash shuffle
  *    whose fan-in per bucket is the collision group size, NOT an O(n^2)
  *    cross join. This is the 100 TB near-dup path.
  *  - simhash: one 64-ish-bit signature per doc; near-dups collide on
  *    signature (or small Hamming neighborhoods via band rotation).
  *  - ngramJaccard: exact Jaccard verification on LSH candidates only —
  *    never on all pairs.
  *  - embeddingNearDup: see SimilarityOps (cosine-based).
  */
object DedupOps {

  /** Exact dedup: canonical doc per identical (lowercased) text. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("n_dups"))

  val MinhashSeeds: Seq[String] = (1 to 8).map(i => s"s$i")

  /** Per-doc minhash signatures, exploded to (doc_id, seed, minhash) rows.
    * One tokenize + one shingle build + 8 md5-min passes per doc
    * (TextFunctions.minhashAll) — the signature stage is strictly
    * O(tokens * seeds) per document. */
  def minhashSignatures(docs: DataFrame, shingleN: Int = 3): DataFrame =
    Spread(docs).select(col("doc_id"),
      explode(map_from_arrays(
        array(MinhashSeeds.map(lit(_)): _*),
        minhashAll(col("text"), MinhashSeeds, shingleN))).as(Seq("seed", "mh")))

  /** Default in-bucket membership cap for LSH candidate generation.
    * Standard LSH practice: a collision group larger than this is almost
    * always a degenerate corpus artifact (templated / boilerplate
    * near-identical-but-unequal documents that survive exact dedup), and
    * its O(m^2) pair fan-out from a single aggregation row is the classic
    * skewed-key executor OOM. 256 bounds one bucket to at most
    * C(257,2) = 32,896 candidate pairs and its aggregation buffer to 257
    * ids, while sitting ~10x above the largest bucket observed on real
    * (non-pathological) corpora at the test scales (max 25 at sf0.1). */
  val MaxBucket: Int = 256

  /** Bounded in-bucket pair generation — the shared candidate stage of
    * every LSH family member (text minhash and embedding hyperplane
    * buckets). Memory is bounded END TO END, not just post-hoc:
    *
    *  1. a `row_number <= maxBucket+1` filter directly over the window is
    *     rewritten by Catalyst's InferWindowGroupLimit into a
    *     WindowGroupLimit (partial before the shuffle, final after), so no
    *     task ever buffers more than maxBucket+1 rows of one bucket — the
    *     `collect_list` buffer is bounded BY CONSTRUCTION, and a hot
    *     bucket's shuffle volume is clipped map-side too;
    *  2. the +1 overhang exists only to detect truncation: a bucket that
    *     still holds maxBucket+1 ids after the limit was larger and gets
    *     counted in the `truncated_buckets` observed metric (no silent
    *     caps), then sliced back to maxBucket before pair expansion.
    *
    * Truncation keeps the LOWEST ids (row_number ordered ascending), so the
    * output is deterministic under any partitioning. Metrics are emitted
    * through `Dataset.observe`: pass an `Observation` to read them
    * programmatically, otherwise they travel as a named observation in
    * QueryExecution/StreamingQueryProgress. */
  def boundedBucketPairs(tagged: DataFrame, keyCols: Seq[String],
      idCol: String, aName: String, bName: String,
      maxBucket: Int = MaxBucket, metricName: String = "lsh_buckets",
      obs: Option[Observation] = None): DataFrame = {
    // EXPLICIT bucket-key exchange at the job's shuffle parallelism: the
    // implicit ENSURE_REQUIREMENTS exchange here carries few BYTES (ids +
    // bucket keys), so AQE's byte-based coalescing folds it to one
    // post-shuffle partition — and then the window, the collect_list and
    // the quadratic in-bucket pair fan-out (the CPU-heavy part this
    // stage exists to bound) all run on one core. An explicit
    // repartition(shuffle.partitions, keys) is the identical layout the
    // exchange would have without coalescing (scale-neutral: same keys,
    // same partition count), but is not coalescable. The window and the
    // groupBy below both reuse it — still ONE exchange in the plan.
    val nParts = tagged.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    val limited = tagged
      .repartition(nParts, keyCols.map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucket + 1)
      .drop("__rn")
    val buckets = limited
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
    // coalesce: on a corpus with zero colliding buckets sum() is NULL —
    // programmatic consumers of the "no silent caps" metric get a long 0
    val metrics = Seq(
      count(lit(1)).as("colliding_buckets"),
      coalesce(sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L)),
        lit(0L)).as("truncated_buckets"))
    val metered = obs match {
      case Some(o) => buckets.observe(o, metrics.head, metrics.tail: _*)
      case None    => buckets.observe(metricName, metrics.head, metrics.tail: _*)
    }
    metered
      .select(explode(
        sortedIdPairs(slice(col("ids"), 1, maxBucket), aName, bName)).as("p"))
      .select(col(s"p.$aName").as(aName), col(s"p.$bName").as(bName))
      .distinct()
  }

  /** LSH candidate pairs: docs sharing a minhash on ANY seed (banded LSH
    * with band size 1). Distinct (doc_a < doc_b) pairs.
    *
    * Shape: group signatures by (seed, minhash) bucket and emit in-bucket
    * pairs — signatures are computed exactly ONCE (a self-join would run
    * the whole signature stage twice) and the only shuffle is the bucket
    * groupBy. In-bucket membership (and therefore both the aggregation
    * buffer and the quadratic pair fan-out) is bounded by `maxBucket` with
    * an observed truncated-bucket count — see boundedBucketPairs. Run
    * `exact` dedup first so identical documents (the main source of
    * degenerate buckets) collapse to a single representative. */
  def minhashLshPairs(docs: DataFrame, shingleN: Int = 3,
      maxBucket: Int = MaxBucket, obs: Option[Observation] = None): DataFrame =
    boundedBucketPairs(minhashSignatures(docs, shingleN),
      Seq("seed", "mh"), "doc_id", "doc_a", "doc_b",
      maxBucket, "minhash_lsh_buckets", obs)

  /** All (a < b) pairs from an ascending-sorted id array — the in-bucket
    * pair generator shared by every LSH candidate stage (text minhash and
    * embedding hyperplane buckets). */
  def sortedIdPairs(ids: Column, aName: String, bName: String): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        b => struct(a.as(aName), b.as(bName)))))

  /** Exact n-gram Jaccard similarity for a set of candidate pairs
    * (doc_a, doc_b). Intersection over union of shingle SETS; the union
    * size is derived as |A| + |B| - |A∩B| (exact integer identity on sets)
    * so only ONE per-pair set operation runs — array_union materialized a
    * second full hash-set pass per candidate pair. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, shingleN: Int = 3): DataFrame = {
    // Pin the candidate side's layout at the job's shuffle parallelism:
    // the per-pair set intersection below is the CPU-heavy stage, but the
    // candidate set is few BYTES, so AQE's byte-based coalescing folds
    // the distinct()-exchange it arrives through to ONE post-shuffle
    // partition — and when the planner probes the pair side (both
    // shingle tables broadcast), every intersection then runs on a
    // single core (measured: ~60% of this operator's wall). Keyed on
    // doc_a so the layout also satisfies a sort-merge join's
    // distribution if the planner picks one at scale.
    val nParts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val p = pairs.repartition(nParts, col("doc_a"))
    val sh = Spread(docs).select(col("doc_id"),
      array_distinct(shingles(col("text"), shingleN)).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n_sh"))
    // bound: the intersection size feeds the formula twice — an unbound
    // reference would run the whole array_intersect a second time per pair
    val jac = bound(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))(
      i => round(i / (col("na") + col("nb") - i), 6))
    p
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n_sh").as("na")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n_sh").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
  }

  /** End-to-end corpus dedup, the composed user-facing pipeline: EXACT
    * first (identical texts collapse to their min-doc_id canonical — which
    * is also what defuses LSH's degenerate identical-signature buckets),
    * then near-dup among the canonicals with keep-first greedy resolution
    * (the larger id of every verified pair is dropped). Returns kept
    * doc_ids. Every stage is a hash shuffle or a candidates-only verify —
    * nothing here is quadratic in the corpus. */
  def dedupCorpus(docs: DataFrame, threshold: Double = 0.7,
                  shingleN: Int = 3, maxBucket: Int = MaxBucket,
                  obs: Option[Observation] = None): DataFrame = {
    val canonIds = exact(docs).select(col("canonical_doc_id").as("doc_id"))
    // Spread BEFORE the join: the join is broadcast (canonIds is small),
    // so its output inherits the raw scan's partitioning — on a small
    // single-file input that would pin every downstream signature/shingle
    // stage to one core (Spread deliberately refuses to probe non-scan
    // plans, so it must be applied on the scan side here)
    val canonDocs = Spread(docs).join(canonIds, "doc_id")
    // the Jaccard verify's shingle table is built from the RAW docs
    // table, not canonDocs: the verify inner-joins it against candidate
    // pairs whose ids are all canonical, so the extra (non-canonical)
    // rows can never match and the result is identical — while the raw
    // scan keeps its size statistics, letting the planner keep the
    // broadcast verify shape (under the canonDocs join the estimate
    // blows up, the verify degrades to sort-merge joins, and AQE then
    // coalesces the small shuffles to ONE post-shuffle partition,
    // serializing every candidate intersection on a single core —
    // measured ~2x on this operator)
    val dropIds = ngramJaccard(docs, minhashLshPairs(canonDocs, shingleN,
        maxBucket, obs), shingleN)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    // anti-join against the ID set, not canonDocs — the output is ids
    // only, so the exact-dedup+join subtree is not derived a third time
    canonIds.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** 16-bit SimHash signature per doc (see TextFunctions.tokenHash16 for why
    * 16: the identical arithmetic is ANSI-SQL-expressible for the oracle).
    * Bit b of the signature is set iff sum over tokens of (+1 if bit b of
    * the token hash else -1) is positive.
    *
    * Computed ROW-LOCALLY in one scan: per token a 16-element ±1 bit array,
    * folded with a vector add. The explode-then-groupBy alternative shuffles
    * one row PER TOKEN — at corpus scale that is a shuffle the size of the
    * token stream for a per-document value. Bit b of the token hash is
    * extracted with integer shift/mask (`bitOf`, (h >> b) & 1 — identical
    * to the oracle's `(h16 >> b) & 1`): the earlier floor(h/2^b)-mod-2
    * double form computed pow/floor/pmod per token per bit inside the
    * interpreted HOF lambda, ~5x the per-token cost for the same value.
    * The 16 bit terms are a fixed-width array literal rather than a
    * transform over sequence(0,15), saving a per-token array allocation
    * and the per-element lambda dispatch. */
  def simhash(docs: DataFrame): DataFrame = {
    val sig = bound(tokens(col("text")))(toks =>
      bound(transform(toks, t => bound(tokenHash16(t))(h =>
          array((0 until 16).map(b => bitOf(h, b) * 2 - 1): _*))))(bitArrs =>
        bound(aggregate(bitArrs, array_repeat(lit(0L), 16),
            (acc, ba) => zip_with(acc, ba, (x, y) => x + y)))(sums =>
          (0 until 16).map(b =>
            when(element_at(sums, b + 1) > 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _))))
    // NULL text emitted no row under the old explode+groupBy form (and
    // emits none from the oracle's unnest) — keep that contract rather
    // than colliding NULL docs with genuine all-zero signatures
    Spread(docs).filter(col("text").isNotNull)
      .select(col("doc_id"), sig.as("simhash"))
  }
}
