package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** The LSH kernel against a plain-Scala reference: bucket = the sign bits
  * and weak-bit mask = argmin |projection| (ties to the LOWEST bit) of
  * `planeWeight` left folds in dimension order — the same arithmetic the
  * DuckDB oracles replay. Every band of a 4-band projection array is
  * checked, so the `from` offsets are covered too. */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private val bands = 4

  private def proj(v: Seq[Float], bit: Int): Double =
    (0 until dim).foldLeft(0.0)((acc, d) => acc + v(d).toDouble * planeWeight(bit, d))

  private def refBucket(v: Seq[Float], first: Int, bits: Int): Long =
    (0 until bits).map(j => if (proj(v, first + j) >= 0) 1L << j else 0L).sum

  private def refMask(v: Seq[Float], first: Int, bits: Int): Long = {
    val a = (0 until bits).map(j => math.abs(proj(v, first + j)))
    1L << a.indices.minBy(j => (a(j), j))
  }

  private val vecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(20261017L)
    (0L until 200L).map(i => i -> Seq.fill(dim)(rnd.nextGaussian().toFloat)) :+
      (200L -> Seq.fill(dim)(0.0f))
  }

  for (bits <- Seq(4, 8)) test(s"lshBucket and lshWeakBitMask match the left-fold reference ($bits bits)") {
    val p = col("p")
    val got = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), projections(col("embedding"), dim, bands * bits).as("p"))
      .select(col("vec_id") +: (0 until bands).flatMap(b =>
        Seq(lshBucket(p, bits, b * bits), lshWeakBitMask(p, bits, b * bits))): _*)
      .collect().map(r => r.getLong(0) -> (1 to 2 * bands).map(r.getLong)).toMap
    val want = vecs.map { case (id, v) =>
      id -> (0 until bands).flatMap(b =>
        Seq(refBucket(v, b * bits, bits), refMask(v, b * bits, bits)))
    }.toMap
    assert(got == want)
    // the all-zero vector projects to 0.0 on every plane: all signs >= 0,
    // and every |projection| ties, so the mask is the lowest bit
    assert(got(200L) == (0 until bands).flatMap(_ => Seq((1L << bits) - 1, 1L)))
    // the reference is not degenerate: masks and buckets vary across rows
    assert(want.values.map(_.head).toSet.size > bits)
    assert(want.values.map(_(1)).toSet.size == bits)
  }
}
