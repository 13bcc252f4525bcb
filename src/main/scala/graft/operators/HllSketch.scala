package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Mergeable HyperLogLog distinct-count state — the sketch counterpart
  * of IncrementalAgg: per-group register tables that merge by max, so a
  * 100 TB corpus's distinct counts are maintained incrementally (each
  * delta costs one partial-aggregated shuffle of ITS rows, never a
  * rescan) and combined across partitions, days, or clusters with a
  * union + max — the property COUNT(DISTINCT) can never have.
  *
  * Registers are fully deterministic (md5-derived, no RNG), so
  * `merge(registers(A), registers(B)) == registers(A ∪ B)` is an exact
  * DataFrame identity, and a DuckDB oracle can reproduce estimates
  * bit-for-bit — the k10/a22 hash gates prove mergeability and
  * engine-parity, not a tolerance band.
  *
  * Layout: m = 256 registers (b = 8 bucket bits = the first 2 md5 hex
  * chars); rho = 1 + leading zero bits of the next 120 bits, capped at
  * 40 so the register sum stays in exact BIGINT space (sum of
  * 2^(40-rho) terms; the cap costs nothing at any realistic cardinality
  * — P[rho > 40] = 2^-40 per value). Standard error ≈ 1.04/√256 ≈ 6.5%.
  */
object HllSketch {

  /** Hex-char value via instr (≡ DuckDB strpos/instr) — shared dialect. */
  private val hexOf = "instr('0123456789abcdef', %s) - 1"

  /** The estimate numerator alpha_256 * 256^2 * 2^40, folded to ONE
    * double literal embedded verbatim in both dialects (DuckDB evaluates
    * bare decimal literals in DECIMAL arithmetic, which drifts from
    * Spark's double folding in the 9th digit; a string-cast literal plus
    * a single division is bit-identical everywhere). */
  private[graft] val alphaNumValue: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 1099511627776.0
  private[operators] val alphaNum: String =
    s"CAST('${alphaNumValue.toString}' AS DOUBLE)"

  /** Hex-char value of `hx` at 1-based `pos`, by the same instr
    * arithmetic as [[hexOf]]. */
  private def hexAt(hx: Column, pos: Column): Column =
    call_function("instr", lit("0123456789abcdef"), hx.substr(pos, lit(1))) - 1

  /** One value's packed register update, `bkt * 64 + rho` (bkt in
    * 0..255, rho in 1..40; NULL for a NULL value): the md5 arithmetic
    * every register computation shares, so the register table and the
    * stats stores' dense arrays cannot drift apart. */
  private[operators] def slot(value: Column): Column = {
    val hx = md5(value.cast("string"))
    val z = length(regexp_extract(hx.substr(3, 30), "^(0*)", 1))
    val dd = hexAt(hx, z + 3)
    val bkt = hexAt(hx, lit(1)) * 16 + hexAt(hx, lit(2))
    val rho = least(z * 4 + when(dd >= 8, 0).when(dd >= 4, 1).when(dd >= 2, 2).otherwise(3) + 1,
      lit(40))
    bkt * 64 + rho
  }

  /** Per-(group, bucket) max-rho register table for one batch of rows.
    * One partial-aggregated shuffle on (group, bkt); everything before
    * the aggregate is a narrow codegen'd projection. */
  def registers(df: DataFrame, group: Seq[String], value: Column): DataFrame =
    df.select(group.map(col) :+ slot(value).as("s"): _*)
      .withColumn("bkt", shiftright(col("s"), 6))
      .withColumn("rho", col("s").bitwiseAND(63))
      .groupBy((group :+ "bkt").map(col): _*)
      .agg(max(col("rho")).as("mr"))

  /** Merge register tables (associative, commutative, idempotent — max
    * per register). Idempotence is what IncrementalAgg's sums lack:
    * re-merging the same registers is harmless. */
  def merge(a: DataFrame, b: DataFrame, group: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((group :+ "bkt").map(col): _*)
      .agg(max(col("mr")).as("mr"))

  /** Per-group estimate from a register table: nz (occupied registers)
    * and the raw HLL estimate. Absent registers (rho 0) enter the
    * harmonic sum as weight 2^40 each; the sum is exact BIGINT, so the
    * one double division is deterministic on both engines. */
  def estimate(regs: DataFrame, group: Seq[String]): DataFrame =
    regs.groupBy(group.map(col): _*)
      .agg(
        count(lit(1)).as("nz"),
        sum(expr("CAST(pow(2, 40 - mr) AS BIGINT)")).as("isum"))
      .withColumn("est", expr(
        s"$alphaNum / CAST(isum + (256 - nz) * 1099511627776 AS DOUBLE)"))
      .drop("isum")

  /** The same register computation as ANSI SQL (DuckDB oracle side) —
    * identical expression text where the dialects overlap, so estimates
    * hash-match exactly. Emits CTEs `h_$out, r_$out, $out` where `$out`
    * is (g..., bkt, mr). */
  def sqlRegisters(from: String, groupSel: String, valueExpr: String, out: String): String =
    s"""h_$out AS (SELECT $groupSel, md5(CAST($valueExpr AS VARCHAR)) AS hx FROM $from),
       |r_$out AS (SELECT * EXCLUDE (hx),
       |    (${hexOf.format("substr(hx,1,1)")}) * 16 + ${hexOf.format("substr(hx,2,1)")} AS bkt,
       |    least(4*length(regexp_extract(substr(hx,3,30), '^(0*)', 1))
       |      + (CASE WHEN ${hexOf.format("substr(hx, 3 + length(regexp_extract(substr(hx,3,30), '^(0*)', 1)), 1)")} >= 8 THEN 0
       |              WHEN ${hexOf.format("substr(hx, 3 + length(regexp_extract(substr(hx,3,30), '^(0*)', 1)), 1)")} >= 4 THEN 1
       |              WHEN ${hexOf.format("substr(hx, 3 + length(regexp_extract(substr(hx,3,30), '^(0*)', 1)), 1)")} >= 2 THEN 2
       |              ELSE 3 END) + 1, 40) AS rho
       |  FROM h_$out),
       |$out AS (SELECT * EXCLUDE (rho), max(rho) AS mr FROM r_$out GROUP BY ALL)""".stripMargin

  /** Estimate SQL over a register CTE: (g..., nz, est). */
  def sqlEstimate(regsCte: String, groupCols: String): String =
    s"""SELECT $groupCols, count(*) AS nz,
       |  $alphaNum
       |    / CAST(sum(CAST(pow(2, 40 - mr) AS BIGINT)) + (256 - count(*)) * 1099511627776 AS DOUBLE) AS est
       |FROM $regsCte GROUP BY $groupCols""".stripMargin

  /** Maintain a distinct-count register table at `path` from a
    * micro-batched stream through [[ReplayGuard.foldSink]]. The merge is
    * idempotent, but the sink still skips committed replays — a skipped
    * batch is cheaper than a re-merge — and checks ownership, so this
    * fold keeps the same contract as the other streaming state folds. */
  def streamingHllFold(
      stream: DataFrame,
      path: String,
      group: Seq[String],
      value: Column,
      checkpoint: String): StreamingQuery =
    ReplayGuard.foldSink(stream, path, checkpoint) { (state, batch) =>
      val regs = registers(batch, group, value)
      state.fold(regs)(merge(_, regs, group))
    }
}

/** The dense form of one group's registers: a typed max over packed
  * [[HllSketch.slot]]s into a 256-long buffer (slot b holds register
  * b's max rho, absent = 0), updated in place. A NULL slot (a NULL
  * value) is skipped; a group with no non-NULL value finishes as NULL,
  * not as 256 zeros. */
private[operators] final class DenseRegisters
    extends Aggregator[java.lang.Integer, Array[Long], Array[Long]] {
  override def zero: Array[Long] = new Array[Long](256)

  override def reduce(b: Array[Long], s: java.lang.Integer): Array[Long] = {
    if (s != null) {
      val bkt = s >> 6
      val rho = (s & 63).toLong
      if (rho > b(bkt)) b(bkt) = rho
    }
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 256) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(b: Array[Long]): Array[Long] = if (b.exists(_ > 0L)) b else null

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}
