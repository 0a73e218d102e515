package graft.ops

/** Driver-side per-column metric math — exact port of the formulas in
  * reference `core/ColumnStatsCalculator.java:31-213` (EPS = 1e-10 at :29).
  * Operates on per-column bin-count vectors, which are tiny (maxNumBin+1
  * entries), so this is deliberately driver-side: the distributed part ends
  * at "pos/neg counts per (column, bin)", exactly as the reference's reducer
  * hands tiny arrays to this math.
  */
object StatsMath {
  val Eps = 1e-10 // ColumnStatsCalculator.java:29

  /** Spark's `round(x, scale)` on a double, on the driver: HALF_UP on
    * the double's shortest decimal form (`BigDecimal.valueOf`, not the
    * exact binary value); NaN and ±Inf pass through, as BigDecimal
    * cannot hold them. */
  def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  final case class ColumnMetrics(
      ks: Double, iv: Double, woe: Double, binWoe: Vector[Double])

  /** KS/IV/WoE from per-bin neg/pos counts (may be weighted).
    * Convention of the List<T> overload (`ColumnStatsCalculator.java:31-75`):
    * woe_i = ln((p_i+ε)/(n_i+ε)), iv = Σ(p_i−n_i)·woe_i, ks = 100·max|cumP−cumN|.
    * Returns None when either class is absent (reference returns null). */
  def columnMetrics(neg: Seq[Double], pos: Seq[Double]): Option[ColumnMetrics] = {
    require(neg.length == pos.length)
    val sumN = neg.sum
    val sumP = pos.sum
    if (sumN == 0 || sumP == 0) return None
    val woe = math.log((sumP + Eps) / (sumN + Eps))
    var cumP = 0.0; var cumN = 0.0; var iv = 0.0; var ks = 0.0
    val binWoe = Vector.newBuilder[Double]
    var i = 0
    while (i < neg.length) {
      val p = pos(i) / sumP
      val n = neg(i) / sumN
      val w = math.log((p + Eps) / (n + Eps))
      binWoe += w
      iv += (p - n) * w
      cumP += p; cumN += n
      val d = math.abs(cumP - cumN)
      if (d > ks) ks = d
      i += 1
    }
    Some(ColumnMetrics(ks * 100, iv, woe, binWoe.result()))
  }

  /** Skewness from raw moment sums — `ColumnStatsCalculator.computeSkewness`
    * (:211-214, NIST e-handbook formula). */
  def skewness(count: Long, mean: Double, stdDev: Double,
               sum: Double, squaredSum: Double, tripleSum: Double): Double =
    (tripleSum - 3 * squaredSum * mean + 3 * mean * mean * sum -
      count * mean * mean * mean) / (count * stdDev * stdDev * stdDev)

  /** Kurtosis from raw moment sums — `ColumnStatsCalculator.computeKurtosis`
    * (:185-190). */
  def kurtosis(count: Long, mean: Double, stdDev: Double, sum: Double,
               squaredSum: Double, tripleSum: Double, quarticSum: Double): Double =
    (quarticSum - 4 * tripleSum * mean + 6 * squaredSum * mean * mean -
      4 * sum * mean * mean * mean + count * mean * mean * mean * mean) /
      (count * stdDev * stdDev * stdDev * stdDev)

  /** Sample std dev from sums, the reference's streaming formula
    * (`core/StreamStatsCalculator.java`): sqrt((Σx² − (Σx)²/n) / (n−1)). */
  def stdDevFromSums(count: Long, sum: Double, squaredSum: Double): Double =
    if (count < 2) 0.0
    else math.sqrt(math.max(0.0, (squaredSum - sum * sum / count) / (count - 1)))

  /** PSI term: Σ (a_i − e_i) · ln(a_i / e_i) over bin-probability vectors
    * (`udf/PSICalculatorUDF.java:45-105`); zero-guard per the reference. */
  def psi(actual: Seq[Double], expected: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < actual.length) {
      val a = actual(i); val e = expected(i)
      if (a > 0 && e > 0) s += (a - e) * math.log(a / e)
      i += 1
    }
    s
  }
}
