package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) clustering key, built from pure column
  * arithmetic — the multi-dimensional half of data clustering.
  * Lexicographic `clusterBy` gives the leading column tight per-file
  * ranges and every later column nothing; interleaving the BITS of
  * rank-space buckets gives every dimension ~√-quality locality, so a
  * point/range read on ANY clustered column prunes files (the property
  * `OPTIMIZE … ZORDER BY` exists for).
  *
  * Rank space, not value space: each column is first mapped to a
  * [[Bits]]-bit bucket index by its position among [[Buckets]]−1
  * quantile boundaries (computed once, driver-side, via
  * `approxQuantile` — never a global sort or single-reducer window and
  * robust to skew), then the buckets' bits interleave arithmetically.
  * Everything after the one quantile pass is a map-only expression —
  * codegen-friendly, shuffle-free until the range repartition that
  * consumes the key.
  */
object ZOrder {

  /** Bits per dimension (256 rank buckets). 8 bits × up to 4 columns
    * keeps the interleaved key in a long with room to spare, and 256
    * buckets are far finer than any realistic output-file count. */
  val Bits = 8
  val Buckets: Int = 1 << Bits

  /** Quantile probabilities for the internal boundaries. */
  private[ops] def probs: Array[Double] =
    Array.tabulate(Buckets - 1)(i => (i + 1).toDouble / Buckets)

  /** Rank bucket of `c` among ascending `boundaries`: the count of
    * boundaries ≤ value, a monotone map onto [0, Buckets). Nulls land
    * in bucket 0 (a deterministic corner, clustered together).
    * Duplicate boundaries (heavy skew) merely skip indices — the map
    * stays monotone, which is all clustering needs. */
  def bucketCol(c: Column, boundaries: Seq[Double]): Column = {
    require(boundaries.length == Buckets - 1,
      s"need ${Buckets - 1} boundaries, got ${boundaries.length}")
    size(filter(typedLit(boundaries),
      b => b <= c.cast("double"))).cast("int")
  }

  /** Sort a frame under a declared clustering spec: lexicographic
    * range-sort, or z-order for `zOrder` (2-4 numeric columns; falls
    * back to lexicographic on degenerate quantile stats — empty input,
    * all-null column). The write faces use this so the DECLARING write
    * already has the locality its recorded spec promises; later
    * compactions re-apply the same spec from the manifest
    * ([[Compaction.compactStore]]). */
  def cluster(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      zOrder: Boolean): org.apache.spark.sql.DataFrame = {
    require(cols.nonEmpty, "cluster needs at least one column")
    if (!zOrder)
      df.repartitionByRange(cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
    else {
      require(cols.size >= 2 && cols.size <= 4,
        s"zOrder clustering needs 2-4 columns, got $cols")
      cols.foreach(c => require(
        df.schema.fieldNames.contains(c) && df.schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"zOrder column '$c' must be a numeric column"))
      val bs = df.stat.approxQuantile(cols.toArray, probs, 0.001)
      if (bs.exists(_.length != Buckets - 1))
        df.repartitionByRange(cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*)
      else {
        val z = zCol(cols.zip(bs).map { case (c, b) =>
          bucketCol(col(c), b.toSeq)
        })
        df.withColumn("__z", z)
          .repartitionByRange(col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      }
    }
  }

  /** Morton interleave of the buckets' bits: bit i of bucket j lands
    * at position i·k + j of the key (k = number of columns). Pure
    * shift/mask/add arithmetic — no UDF, fully codegen'd. */
  def zCol(buckets: Seq[Column]): Column = {
    val k = buckets.size
    require(k >= 2 && k <= 4, s"z-order interleave wants 2-4 columns, got $k")
    (0 until Bits).flatMap { i =>
      buckets.zipWithIndex.map { case (b, j) =>
        shiftright(b, i).bitwiseAND(lit(1)).cast("long") *
          lit(1L << (i * k + j))
      }
    }.reduce(_ + _)
  }
}
