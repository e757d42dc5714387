package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout for multi-column locality — the
  * clustering technique behind Doris's/Delta's/Iceberg's multi-dim
  * ordering: rows close in the interleaved key are close in EVERY
  * participating column, so per-file min/max ranges stay tight on all of
  * them and a predicate on ANY clustered column prunes files. A linear
  * sort gives perfect pruning on the leading column and none on the
  * rest; at 100 TB the difference is whether a two-column point query
  * reads one file or every file.
  *
  * The interleave is pure 64-bit Column arithmetic (the classic
  * magic-number bit spread), so it whole-stage-codegens and any engine
  * can recompute it — the io02 oracle restates the identical shifts in
  * DuckDB. Layout cost is ONE range shuffle on the z-value (the same
  * price as a plain global sort) plus an in-partition sort.
  */
object ZOrder {

  /** Spread the low 32 bits of `v` to the even bit positions of a long
    * (0babab…a0b0 with b at bit 0): 5 shift-or-mask steps. */
  def spread(v: Column): Column = {
    val masks = Seq(
      (16, 0x0000FFFF0000FFFFL),
      (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL),
      (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    masks.foldLeft(v.cast("long").bitwiseAND(lit(0xFFFFFFFFL))) {
      case (acc, (s, m)) => (acc.bitwiseOR(shiftleft(acc, s))).bitwiseAND(lit(m))
    }
  }

  /** 64-bit Morton code of two columns, each clamped to its low
    * `bits` ≤ 31 bits (callers normalize first — see [[normalizedAll]]).
    * 31, not 32: at bits=32 column b's top bit lands in z bit 63, the
    * SIGN bit, and a signed range partition would order the whole
    * b-high half of key space before the b-low half — files straddle
    * the sign seam and the min/max pruning boxes silently widen. */
  def zValue2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be 1..31 (bit 63 is the sign)")
    val mask = lit((1L << bits) - 1) // (1L<<32)-1 == 0xFFFFFFFFL, no overflow
    spread(a.cast("long").bitwiseAND(mask))
      .bitwiseOR(shiftleft(spread(b.cast("long").bitwiseAND(mask)), 1))
  }

  /** Rank-free min/max normalization of numeric columns into
    * [0, 2^bits): ONE tiny stats collect for every column at once
    * (2 doubles each — bounded driver metadata, same class as IVF
    * centroids). Uniform enough for layout purposes; heavy skew calls
    * for quantile boundaries, which `Stats.quantiles` can supply. */
  def normalizedAll(df: DataFrame, colNames: Seq[String], bits: Int): Seq[Column] = {
    // cast BEFORE aggregating (same rationale as Stats.histogram): native
    // min of a string column is lexicographic and casts to null
    val r = df.agg(
      min(col(colNames.head).cast("double")),
      max(col(colNames.head).cast("double")) +:
        colNames.tail.flatMap(c =>
          Seq(min(col(c).cast("double")), max(col(c).cast("double")))): _*).head()
    colNames.zipWithIndex.map { case (c, i) =>
      require(!r.isNullAt(2 * i),
        s"z-order: column '$c' has no non-null numeric values " +
          "(empty, all-null, or non-numeric column)")
      val (lo, hi) = (r.getDouble(2 * i), r.getDouble(2 * i + 1))
      require(!lo.isNaN && !hi.isNaN,
        s"z-order: column '$c' contains NaN — filter NaN rows first")
      // 1e-12 floor (not Double.MIN_VALUE) so cross-engine restatements
      // of this formula (io02's oracle) can write the same literal
      val span = math.max(hi - lo, 1e-12)
      // null guard FIRST: a NULL value (or a non-numeric row a string
      // column casts to null) must cluster deliberately in bucket 0.
      // The guard cannot sit after the clamp — least() SKIPS nulls and
      // would return the max-bucket literal, silently scattering null
      // rows into the top strip of z-space among genuine maxima
      when(col(c).cast("double").isNull, lit(0L)).otherwise(
        least(floor((col(c).cast("double") - lit(lo)) / lit(span)
          * lit((1L << bits).toDouble)), lit((1L << bits) - 1.0)).cast("long"))
    }
  }
}
