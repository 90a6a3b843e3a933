package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column library (similarity search / near-dup). Pure
  * codegen'd higher-order functions over `array<float>` columns — no UDF,
  * no driver-side math — so a 100 TB cross-bucket similarity scan stays in
  * whole-stage codegen. Float elements are cast to double BEFORE any
  * arithmetic so accumulation order and precision are well-defined and
  * reproducible across engines.
  */
object VectorFunctions {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** 16-bit hash of "bit:dim" from the first 2 bytes of its md5 — the same
    * engine-replayable derivation as TextFunctions.tokenHash16, so a SQL
    * oracle can regenerate the identical hyperplane matrix. */
  def planeH16(bit: Int, d: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$bit:$d".getBytes("UTF-8"))
    ((h(0) & 0xff) << 8) | (h(1) & 0xff)
  }

  /** Hyperplane weight in [-1, 1): exactly h16/32768 - 1 — a dyadic
    * rational, bit-identical in any IEEE-double engine. */
  def planeWeight(bit: Int, d: Int): Double = planeH16(bit, d) / 32768.0 - 1.0

  /** The random-hyperplane projections of `v` onto planes [0, n), as one
    * array — the ONLY place LSH projections are built. The plane matrix
    * is md5-derived plan literals (n x dim doubles — bytes, not a
    * broadcast), so any cluster size computes identical projections AND
    * an ANSI-SQL oracle replays them bit-exactly.
    *
    * Each element is `aggregate(zip_with(v, <array literal>))` — a strict
    * left fold in dimension order (bit-identical to DuckDB's
    * list_dot_product; the leading 0.0 + x is an IEEE identity) — NOT an
    * unrolled element_at sum: unrolling dim x n terms made the generated
    * code so large that janino compilation took ~10s PER STAGE (measured
    * at dim=64, 32 planes), recompiled for every plan that embeds it.
    *
    * Bucket and mask below READ this array: materialize it once per row
    * (its own projection column, or `TextFunctions.bound`) so each plane
    * folds once, however many bands, buckets and masks read it — Catalyst
    * does no common-subexpression elimination across references. */
  def projections(v: Column, dim: Int, n: Int): Column =
    array((0 until n).map { bit =>
      val w = lit((0 until dim).map(d => planeWeight(bit, d)).toArray)
      aggregate(zip_with(v, w, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, t) => acc + t)
    }: _*)

  /** Random-hyperplane LSH bucket: the sign bits of the `nBits`
    * projections `p[from + 1 .. from + nBits]` (`p` from `projections`, a
    * cheap reference). Two vectors share a bucket with probability rising
    * in their cosine — the scale path for ANN: join on bucket, then rank
    * only within buckets (candidate set shrinks ~2^nBits-fold). Banded
    * multi-table LSH reads one disjoint `from` range per band, so band
    * buckets are independent. */
  def lshBucket(p: Column, nBits: Int, from: Int): Column =
    (0 until nBits).map(j =>
      when(element_at(p, from + j + 1) >= 0, 1L << j).otherwise(0L))
      .reduce(_ + _)

  /** Multi-probe helper: the single-bit mask (1L << j) of the bucket's
    * LEAST-CONFIDENT bit — the hyperplane whose projection magnitude is
    * smallest, i.e. the sign most likely to differ on a true near
    * neighbor. Query-time multi-probe ANN probes `bucket` and
    * `bucket ^ mask` per band: ≤2× the candidate volume for most of the
    * recall a full Hamming-1 expansion (nBits+1 probes) would buy.
    * Ties break to the LOWEST bit index via a `<=` chain over the same
    * projections `lshBucket` reads, so an ANSI-SQL oracle replays the
    * argmin decision bit-exactly. */
  def lshWeakBitMask(p: Column, nBits: Int, from: Int): Column = {
    val abses = (0 until nBits).map(j => abs(element_at(p, from + j + 1)))
    (0 until nBits - 1).foldRight(lit(1L << (nBits - 1))) { (j, rest) =>
      when((j + 1 until nBits).map(k => abses(j) <= abses(k)).reduce(_ && _),
        lit(1L << j)).otherwise(rest)
    }
  }
}
