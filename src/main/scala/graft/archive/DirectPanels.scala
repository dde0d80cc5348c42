package graft.archive

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import scala.collection.mutable

/** Driver-side replicas of the single-channel analytic panels — the
  * latency companion to [[DirectServe]]: a dashboard's M4/LTTB
  * downsample, stats, spectrum, CUSUM and derived-channel requests
  * over one channel's window are folds over the rows the manifest
  * prunes to, and replaying them on the driver removes every Spark
  * job from the panel's cold path (measured 0.4–0.7 s → ms).
  *
  * Every function here reproduces its engine twin's arithmetic
  * EXACTLY — same quantization (HALF_UP decimal rounds), same exact
  * integer/decimal accumulation (BigInteger / BigDecimal where the
  * engine routes through DECIMAL), same fixed-order double
  * expressions, same tie rules (Spark's double order: NaN greatest,
  * −0.0 equal to 0.0) — so the HTTP byte-parity specs hold
  * bit-for-bit whichever path answered. DirectPanelsSpec holds each
  * against its engine twin over NaN, null, signed-zero, duplicate-ts
  * and empty-bucket shapes.
  *
  * Every fold reads [[DirectServe.PanelRows]], the cached rows in
  * place; M4 and LTTB return their points as the stored rows they are
  * ([[DirectServe.Hit]]), so the edge serves each point's cached wire
  * element where its file is encoded already, and encodes only the
  * picked points where it is not.
  */
object DirectPanels {

  import DirectServe.{Hit, PanelRows, ScalarRows}

  /** Spark's `round(x)` on a double: BigDecimal HALF_UP at scale 0. */
  private def roundHalfUp(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(0, RoundingMode.HALF_UP).doubleValue

  /** The engine's ANSI double→long cast: non-finite or out-of-range
    * values REFUSE instead of saturating — a fold must refuse exactly
    * where its engine twin does (DirectParityFuzzSpec: a finite
    * 1.5e300 sample made the engine quantization throw CAST_OVERFLOW
    * while `Double.toLong` silently saturated). The 1-ulp fringe at
    * exactly 2^63 is accepted like `toLong` — unreachable from the
    * *1e6 grids these folds quantize on.
    */
  private def ansiToLong(d: Double): Long = {
    if (d.isNaN || d.isInfinite || d < Long.MinValue.toDouble ||
        d > Long.MaxValue.toDouble)
      throw new ArithmeticException(
        s"[CAST_OVERFLOW] $d cannot be cast to BIGINT")
    d.toLong
  }

  /** Spark's scaled 6dp round: round(x*1e6) cast long cast double /1e6.
    * A non-finite product (x infinite, or |x| ≥ ~1.8e302 overflowing
    * the *1e6) bypasses BigDecimal — `BigDecimal.valueOf(Infinity)`
    * would throw NumberFormatException where the engine's ANSI cast
    * refuses with CAST_OVERFLOW; feeding it straight to [[ansiToLong]]
    * keeps the refusal class engine-exact (same guard as the
    * spectrum/rate call sites).
    */
  private def sr6(x: Double): Double = {
    val scaled = x * 1e6
    if (scaled.isInfinite || scaled.isNaN) ansiToLong(scaled).toDouble / 1e6
    else ansiToLong(JBigDecimal.valueOf(scaled)
      .setScale(0, RoundingMode.HALF_UP).doubleValue).toDouble / 1e6
  }

  /** Spark's double order (SQLOrderingUtil.compareDoubles): NaN
    * greatest and equal to itself, and −0.0 EQUAL to 0.0 — min, max
    * and the struct keys of min_by/max_by all compare this way. */
  private def dcmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** [[Analytics.bucketId]] of [lo, hi) in k parts: min(k−1,
    * (ts−lo)·k div (hi−lo)), exact. Long arithmetic unless the product
    * would overflow a long (a day's window at k past ~100k); BigInt
    * only then. */
  private final class Buckets(lo: Long, hi: Long, k: Long) {
    private val width = hi - lo
    // the largest ts − lo whose product with k fits a long
    private val exact = Long.MaxValue / k
    def of(ts: Long): Long = {
      val d = ts - lo
      math.min(k - 1,
        if (d >= 0 && d <= exact) d * k / width
        else (BigInt(d) * k / BigInt(width)).toLong)
    }
  }

  /** A row the bucket folds take: valued, in [lo, hi). */
  private def inWindow(rows: PanelRows, i: Int, lo: Long, hi: Long)
      : Boolean =
    !rows.isNull(i) && rows.ts(i) >= lo && rows.ts(i) < hi

  // ---- M4 ------------------------------------------------------------

  /** [[Analytics.m4]] + [[Analytics.m4Points]]: the distinct,
    * time-ordered corner points of k buckets over [lo, hi), as the
    * stored rows they are. One pass: rows arrive in (ts, sample_id)
    * order, so a bucket is a contiguous run, closed when the next one
    * starts; only its four corner positions are kept. The engine's
    * picks: first = min (ts, sample_id); last = max ts, then min
    * sample_id; min/max = least/greatest value in Spark's order,
    * earliest on ties. Corners sharing a ts collapse to the first of
    * first, min, max, last — the engine's `dropDuplicates("ts")` over
    * its corner array.
    */
  def m4Points(rows: PanelRows, lo: Long, hi: Long, k: Int)
      : collection.IndexedSeq[Hit[ScalarRows]] = {
    require(k >= 1, "m4 needs at least 1 bucket")
    val buckets = new Buckets(lo, hi, k.toLong)
    val out = mutable.ArrayBuffer.empty[Hit[ScalarRows]]
    val corners = new Array[Int](4)
    var b = -1L
    var first, low, high, last = -1
    var i = 0
    while (i < rows.length) {
      if (inWindow(rows, i, lo, hi)) {
        val ts = rows.ts(i)
        val bi = buckets.of(ts)
        if (bi != b) {
          if (first >= 0)
            emitCorners(rows, first, low, high, last, corners, out)
          b = bi; first = i; low = i; high = i; last = i
        } else {
          val v = rows.value(i)
          if (ts > rows.ts(last)) last = i
          if (dcmp(v, rows.value(low)) < 0) low = i
          if (dcmp(v, rows.value(high)) > 0) high = i
        }
      }
      i += 1
    }
    if (first >= 0) emitCorners(rows, first, low, high, last, corners, out)
    out
  }

  /** One bucket's corners, distinct by ts (the earlier corner of
    * first, min, max, last wins), appended in ts order. */
  private def emitCorners(rows: PanelRows, first: Int, low: Int, high: Int,
                          last: Int, corners: Array[Int],
                          out: mutable.ArrayBuffer[Hit[ScalarRows]]): Unit = {
    var n = 0
    for (c <- Array(first, low, high, last)) {
      var j = 0
      while (j < n && rows.ts(corners(j)) != rows.ts(c)) j += 1
      if (j == n) { corners(n) = c; n += 1 }
    }
    // at most four: insertion sort by ts
    var j = 1
    while (j < n) {
      val c = corners(j)
      var m = j - 1
      while (m >= 0 && rows.ts(corners(m)) > rows.ts(c)) {
        corners(m + 1) = corners(m); m -= 1
      }
      corners(m + 1) = c
      j += 1
    }
    j = 0
    while (j < n) { out += rows.hit(corners(j)); j += 1 }
  }

  // ---- LTTB ----------------------------------------------------------

  /** [[Analytics.lttb]]: the k visually dominant points over [lo, hi),
    * time-ordered, as the stored rows they are. Two passes over the
    * ts-ordered rows, whose buckets are contiguous runs: the first
    * finds each non-empty bucket's span and anchor, the second picks
    * per bucket. Anchor averages ride the engine's DECIMAL routes (ts
    * sums exact; values decimal(38,12) HALF_UP), the triangle area is
    * the identical fixed-order double expression, and the pick
    * minimizes the same (o1, o2, sample_id) key. Per-bucket arrays
    * hold the non-empty buckets only, at most one per row.
    */
  def lttb(rows: PanelRows, lo: Long, hi: Long, k: Int)
      : collection.IndexedSeq[Hit[ScalarRows]] = {
    require(k >= 3, "lttb needs at least 3 buckets")
    val kL = k.toLong
    val buckets = new Buckets(lo, hi, kL)
    val cap = math.min(kL, rows.length.toLong).toInt
    val ids = new Array[Long](cap)
    val from = new Array[Int](cap)
    val until = new Array[Int](cap)
    val avgTs = new Array[Double](cap)
    // the anchor value where hasV; SQL NULL elsewhere
    val avgV = new Array[Double](cap)
    val hasV = new Array[Boolean](cap)
    var nb = 0
    // the open bucket's count and exact sums. Spark's double→decimal
    // cast maps non-finite to NULL (even in ANSI) and sum skips nulls
    // while count(1) still counts the row — so a partially-NaN
    // bucket's anchor biases the same way, and an ALL-non-finite
    // bucket's anchor value is SQL NULL, not zero.
    var n = 0L
    var tsSum = BigInt(0)
    var vSum = JBigDecimal.ZERO
    var vAny = false
    def close(): Unit = if (n > 0) {
      avgTs(nb) = tsSum.doubleValue / n.toDouble
      hasV(nb) = vAny
      if (vAny) avgV(nb) = vSum.doubleValue / n.toDouble
      nb += 1
    }
    var i = 0
    while (i < rows.length) {
      if (inWindow(rows, i, lo, hi)) {
        val b = buckets.of(rows.ts(i))
        if (n == 0 || b != ids(nb)) {
          close()
          ids(nb) = b; from(nb) = i
          n = 0L; tsSum = BigInt(0); vSum = JBigDecimal.ZERO; vAny = false
        }
        until(nb) = i + 1
        n += 1
        tsSum += rows.ts(i)
        val v = rows.value(i)
        if (!v.isNaN && !v.isInfinite) {
          // the engine's per-row value cast to DECIMAL(38,12) refuses
          // finite magnitudes past its 26 integral digits (ANSI
          // NUMERIC_VALUE_OUT_OF_RANGE) — refuse identically instead of
          // accumulating in unbounded BigDecimal (DirectParityFuzzSpec)
          if (math.abs(v) >= 1e26)
            throw new ArithmeticException(
              s"[NUMERIC_VALUE_OUT_OF_RANGE] $v cannot be represented " +
                "as Decimal(38,12)")
          vSum = vSum.add(JBigDecimal.valueOf(v).setScale(12,
            RoundingMode.HALF_UP))
          vAny = true
        }
      }
      i += 1
    }
    close()
    // per-bucket pick: min (o1, o2, sample_id); o1 = mid ? -area : 0.0,
    // o2 = last-bucket ? -ts : ts. A NULL anchor value makes the
    // engine's area NULL for the whole bucket, and SQL nulls sort
    // FIRST ascending — every o1 then ties and o2 decides. Rows come
    // in (ts, sample_id) order, so keeping the first on a tie is the
    // sample_id tiebreak.
    val out = new mutable.ArrayBuffer[Hit[ScalarRows]](nb)
    var j = 0
    while (j < nb) {
      val mid = ids(j) > 0 && ids(j) < kL - 1 && j > 0 && j < nb - 1
      val nullArea = mid && (!hasV(j - 1) || !hasV(j + 1))
      val lastBucket = ids(j) == kL - 1
      // the neighbors' anchors (read only when mid)
      val (pTs, pV) = if (j > 0) (avgTs(j - 1), avgV(j - 1)) else (0.0, 0.0)
      val (nTs, nV) =
        if (j < nb - 1) (avgTs(j + 1), avgV(j + 1)) else (0.0, 0.0)
      var pick = -1
      var p1 = 0.0
      var p2 = 0L
      i = from(j)
      while (i < until(j)) {
        if (inWindow(rows, i, lo, hi)) {
          val ts = rows.ts(i)
          val o1 =
            if (!mid || nullArea) 0.0
            else -math.abs((pTs - nTs) * (rows.value(i) - pV) -
              (pTs - ts.toDouble) * (nV - pV))
          val o2 = if (lastBucket) -ts else ts
          val c = dcmp(o1, p1)
          if (pick < 0 || c < 0 || (c == 0 && o2 < p2)) {
            pick = i; p1 = o1; p2 = o2
          }
        }
        i += 1
      }
      out += rows.hit(pick)
      j += 1
    }
    out
  }

  // ---- stats ---------------------------------------------------------

  /** [[Analytics.valuePercentiles]] for one channel: (n, min, p50,
    * p90, p99, max) over the non-null, non-NaN values; exact linear
    * interpolation with Spark's own index formula; 6dp scaled round
    * at the edge. None when no qualifying sample.
    */
  def stats(rows: PanelRows)
      : Option[(Long, Double, Double, Double, Double, Double)] = {
    val b = new mutable.ArrayBuilder.ofDouble
    var i = 0
    while (i < rows.length) {
      if (!rows.isNull(i) && !rows.value(i).isNaN) b += rows.value(i)
      i += 1
    }
    val vs = b.result()
    if (vs.isEmpty) return None
    java.util.Arrays.sort(vs)
    def pct(p: Double): Double = {
      // Spark Percentile.getPercentile: position = p * (n-1);
      // lower*(higher-pos) + higher*(pos-lower)
      val pos = p * (vs.length - 1)
      val lower = math.floor(pos).toInt
      val higher = math.ceil(pos).toInt
      if (lower == higher) vs(lower)
      else vs(lower) * (higher - pos) + vs(higher) * (pos - lower)
    }
    Some((vs.length.toLong, vs.head, sr6(pct(0.5)), sr6(pct(0.9)),
      sr6(pct(0.99)), vs.last))
  }

  // ---- spectrum ------------------------------------------------------

  /** The (ts, round(v·1e6)) pairs of the non-null, non-NaN rows in
    * [lo, hi), in row order — the integer grid spectrum and CUSUM
    * fold. Refuses where the engine's round(v*1e6) long cast refuses
    * (non-finite / out-of-range, [[ansiToLong]]). */
  private def quantized(rows: PanelRows, lo: Long, hi: Long)
      : (Array[Long], Array[Long]) = {
    val tss = new mutable.ArrayBuilder.ofLong
    val qs = new mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < rows.length) {
      val ts = rows.ts(i)
      if (!rows.isNull(i) && !rows.value(i).isNaN && ts >= lo && ts < hi) {
        val v = rows.value(i)
        tss += ts
        qs += ansiToLong(
          if (v.isInfinite) v
          else JBigDecimal.valueOf(v * 1e6)
            .setScale(0, RoundingMode.HALF_UP).doubleValue)
      }
      i += 1
    }
    (tss.result(), qs.result())
  }

  /** The rounded mean of the quantized values, as the engine takes it
    * (exact sum, double division, HALF_UP). */
  private def meanQ(qs: Array[Long]): Long = {
    var sum = BigInt(0)
    qs.foreach(sum += _)
    roundHalfUp(sum.doubleValue / qs.length.toDouble).toLong
  }

  /** [[Analytics.spectrum]] for one channel over [lo, hi): per
    * candidate period (period_s, n, power) in ascending period order.
    * Same 6dp integer quantization, exact integer projection sums,
    * identical fixed-order power expression. Empty input → Nil.
    */
  def spectrum(rows: PanelRows, lo: Long, hi: Long,
               periods: Seq[Long]): Seq[(Long, Long, Double)] = {
    require(periods.nonEmpty && periods.forall(_ > 0),
      "periods must be positive")
    require(periods.map(_ / 1000000000L).distinct.size == periods.size,
      "periods must remain distinct after truncation to whole seconds " +
        "(period_s keys the spectrum output)")
    val (tss, qs) = quantized(rows, lo, hi)
    if (tss.isEmpty) return Nil
    val n = tss.length.toLong
    val mq = meanQ(qs)
    val cos = Analytics.spectrumCosQ
    val sin = Analytics.spectrumSinQ
    val tbl = Analytics.SpectrumTableSize.toLong
    periods.map { period =>
      var sc = BigInt(0)
      var ss = BigInt(0)
      var i = 0
      while (i < tss.length) {
        val qd = qs(i) - mq
        if (math.abs(qd) > Analytics.MaxSpectrumQd)
          throw new IllegalArgumentException(
            "spectrum: |value - mean| exceeds the Long-safe bound of 9.2e6")
        val idx = (((tss(i) - lo) % period) * tbl / period).toInt
        sc += qd * cos(idx)
        ss += qd * sin(idx)
        i += 1
      }
      val scD = sc.doubleValue
      val ssD = ss.doubleValue
      val nD = n.toDouble
      (period / 1000000000L, n, (scD * scD + ssD * ssD) / (nD * nD) / 1e24)
    }.sortBy(_._1)
  }

  // ---- CUSUM ---------------------------------------------------------

  /** [[Analytics.cusumShifts]] for one channel over [lo, hi): (n,
    * n_hi, n_lo, t_first_hi, t_first_lo, peak_hi, peak_lo); None when
    * no qualifying sample. Exact integer fold — the engine's DECIMAL
    * prefix sums are BigInt here.
    */
  def cusum(rows: PanelRows, lo: Long, hi: Long,
            slack: Double, threshold: Double)
      : Option[(Long, Long, Long, Option[Long], Option[Long],
        Double, Double)] = {
    val slackQ = math.round(slack * 1e6)
    val hQ = math.round(threshold * 1e6)
    val (tss, qs) = quantized(rows, lo, hi)
    if (tss.isEmpty) return None
    val n = tss.length.toLong
    val mq = meanQ(qs)
    var pHi = BigInt(0); var pLo = BigInt(0)
    var first = true
    var runMinPHi: BigInt = null; var runMaxPLo: BigInt = null
    var nHi = 0L; var nLo = 0L
    var tHi: Option[Long] = None; var tLo: Option[Long] = None
    var peakHi = BigInt(Long.MinValue); var peakLo = BigInt(Long.MinValue)
    var i = 0
    while (i < tss.length) {
      val ts = tss(i)
      val q = qs(i)
      i += 1
      pHi += q - mq - slackQ
      pLo += q - mq + slackQ
      if (first) { runMinPHi = pHi; runMaxPLo = pLo; first = false }
      else {
        if (pHi < runMinPHi) runMinPHi = pHi
        if (pLo > runMaxPLo) runMaxPLo = pLo
      }
      val cusumHi = pHi - (if (runMinPHi < 0) runMinPHi else BigInt(0))
      val cusumLo = (if (runMaxPLo > 0) runMaxPLo else BigInt(0)) - pLo
      if (cusumHi > hQ) { nHi += 1; if (tHi.isEmpty) tHi = Some(ts) }
      if (cusumLo > hQ) { nLo += 1; if (tLo.isEmpty) tLo = Some(ts) }
      if (cusumHi > peakHi) peakHi = cusumHi
      if (cusumLo > peakLo) peakLo = cusumLo
    }
    Some((n, nHi, nLo, tHi, tLo,
      peakHi.doubleValue / 1e6, peakLo.doubleValue / 1e6))
  }

  // ---- derived channel -----------------------------------------------

  /** [[Analytics.derivedChannel]] for the HTTP edge: both channels'
    * rows (ts ≤ end, ts-ascending, nulls kept — a held marker must
    * mask, not leak the stale pre-marker value) sampled-and-held onto
    * the [start, end] grid every `step`, combined pointwise; grid
    * points where either hold is missing or null are dropped.
    */
  def derived(rowsA: PanelRows, rowsB: PanelRows,
              op: (Double, Double) => Double,
              start: Long, end: Long, step: Long): Vector[(Long, Double)] = {
    require(step > 0, "step must be positive")
    val out = Vector.newBuilder[(Long, Double)]
    // the held row of each side: the last with ts <= t, -1 before any
    var ia = 0; var ib = 0
    var heldA = -1; var heldB = -1
    var t = start
    while (t <= end) {
      while (ia < rowsA.length && rowsA.ts(ia) <= t) { heldA = ia; ia += 1 }
      while (ib < rowsB.length && rowsB.ts(ib) <= t) { heldB = ib; ib += 1 }
      if (heldA >= 0 && heldB >= 0 && !rowsA.isNull(heldA) &&
          !rowsB.isNull(heldB))
        out += ((t, op(rowsA.value(heldA), rowsB.value(heldB))))
      t += step
    }
    out.result()
  }
}
