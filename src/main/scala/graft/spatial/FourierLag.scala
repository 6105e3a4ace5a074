package graft.spatial

import graft.{OpCache, Panel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fourier (Poisson-equation) spatial lag — reference get_fourier_lag,
  * 2-D path (fourier_lag.py:78-155): per (month, feature) slice on the
  * centred 2^p × 2^p grid, solve ∇²φ = −ρ spectrally — FFT the slice,
  * divide by (j² + k²) with zero frequencies clamped to SMALL = 1e-3,
  * inverse-FFT, subtract the slice minimum, rescale so the maximum
  * equals the original slice maximum (max clamped below by 1.0). The
  * resulting weighting is ~−ln(d). Output columns are prefixed `flag_`
  * (fourier_lag.py:303).
  *
  * Spark-first: months are independent, so this is a dense-grid
  * [[graft.Panel.kernel]] keyed on month_id — embarrassingly parallel
  * over months, one input-sized shuffle on month_id. Each month's rows
  * cross that exchange whole and come back with the lag appended
  * ([[withFourierLag]]): no join on the panel key. The FFT is an
  * in-house iterative radix-2 (the grid side is a power of two by
  * construction); per-month cost O(G² log G) matches the reference.
  */
object FourierLag {
  val Small = 1e-3

  /** In-place iterative radix-2 FFT. Forward: no scaling; inverse:
    * scaled by 1/n — so ifft(fft(x)) = x, matching numpy's default
    * convention (the reference's 'ortho' norms cancel in the
    * fft→divide→ifft composition).
    */
  def fft(re: Array[Double], im: Array[Double], invert: Boolean): Unit = {
    val n = re.length
    require((n & (n - 1)) == 0, s"FFT size must be a power of 2, got $n")
    // bit-reversal permutation
    var i = 1
    var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = (if (invert) 2.0 else -2.0) * math.Pi / len
      val wr = math.cos(ang)
      val wi = math.sin(ang)
      var is = 0
      while (is < n) {
        var cr = 1.0
        var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(is + k); val ui = im(is + k)
          val vr = re(is + k + len / 2) * cr - im(is + k + len / 2) * ci
          val vi = re(is + k + len / 2) * ci + im(is + k + len / 2) * cr
          re(is + k) = ur + vr; im(is + k) = ui + vi
          re(is + k + len / 2) = ur - vr; im(is + k + len / 2) = ui - vi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        is += len
      }
      len <<= 1
    }
    if (invert) {
      var x = 0
      while (x < n) { re(x) /= n; im(x) /= n; x += 1 }
    }
  }

  /** 2-D FFT over an n×n row-major grid. */
  def fft2(re: Array[Double], im: Array[Double], n: Int, invert: Boolean): Unit = {
    val tr = new Array[Double](n)
    val ti = new Array[Double](n)
    // rows
    var r = 0
    while (r < n) {
      var c = 0
      while (c < n) { tr(c) = re(r * n + c); ti(c) = im(r * n + c); c += 1 }
      fft(tr, ti, invert)
      c = 0
      while (c < n) { re(r * n + c) = tr(c); im(r * n + c) = ti(c); c += 1 }
      r += 1
    }
    // columns
    var c = 0
    while (c < n) {
      var rr = 0
      while (rr < n) { tr(rr) = re(rr * n + c); ti(rr) = im(rr * n + c); rr += 1 }
      fft(tr, ti, invert)
      rr = 0
      while (rr < n) { re(rr * n + c) = tr(rr); im(rr * n + c) = ti(rr); rr += 1 }
      c += 1
    }
  }

  /** 2π·fftfreq(n) with |f| < SMALL clamped to SMALL (fourier_lag.py:117-121). */
  def clampedFreqs(n: Int): Array[Double] = {
    val f = new Array[Double](n)
    var i = 0
    while (i < n) {
      val raw = if (i <= (n - 1) / 2) i.toDouble / n else (i - n).toDouble / n
      val v = 2.0 * math.Pi * raw
      f(i) = if (math.abs(v) < Small) Small else v
      i += 1
    }
    f
  }

  /** The spectral divisor 1/(j²+k²) as a dense n×n row-major array.
    *
    * The (0,0) entry is set to 0 instead of the reference's clamped
    * 1/(2·SMALL²) ≈ 5e5: the DC term contributes only a constant offset
    * to the solution, which the subsequent min-subtraction removes
    * exactly — so the final output is identical in exact arithmetic,
    * while intermediate magnitudes (and hence float error) drop by ~4
    * orders of magnitude.
    */
  def divisor(n: Int): Array[Double] = {
    val fr = clampedFreqs(n)
    val d = new Array[Double](n * n)
    var j = 0
    while (j < n) {
      var k = 0
      while (k < n) {
        d(j * n + k) = 1.0 / (fr(j) * fr(j) + fr(k) * fr(k))
        k += 1
      }
      j += 1
    }
    d(0) = 0.0
    d
  }

  /** Green's function G = Re(ifft2(divisor)) — the equivalent circular
    * convolution kernel, used by the DuckDB oracle (which convolves
    * directly instead of transforming).
    */
  def greens(n: Int): Array[Double] = {
    val re = divisor(n)
    val im = new Array[Double](n * n)
    fft2(re, im, n, invert = true)
    re
  }

  /** Solve one slice in place: x (row-major n×n, lon-major like the
    * reference's [lon, lat] tensor) → rescaled Poisson solution.
    */
  def solveSlice(x: Array[Double], n: Int): Array[Double] = {
    val rhomax = x.max
    val re = x.clone()
    val im = new Array[Double](n * n)
    fft2(re, im, n, invert = false)
    val div = divisor(n)
    var i = 0
    while (i < n * n) { re(i) *= div(i); im(i) *= div(i); i += 1 }
    fft2(re, im, n, invert = true)
    var mn = Double.MaxValue
    i = 0
    while (i < n * n) { if (re(i) < mn) mn = re(i); i += 1 }
    var mx = Double.MinValue
    i = 0
    while (i < n * n) { re(i) -= mn; if (re(i) > mx) mx = re(i); i += 1 }
    val phimax = math.max(mx, 1.0)
    i = 0
    while (i < n * n) { re(i) = re(i) * rhomax / phimax; i += 1 }
    re
  }

  val LDivisor = 4

  /** 3-D FFT over an n×n×l row-major grid (index = (i*n + j)*l + k).
    * One exact-size scratch pair per axis, reused across lines — no
    * per-line allocation in the per-month kernel.
    */
  def fft3(re: Array[Double], im: Array[Double], n: Int, l: Int, invert: Boolean): Unit = {
    val srN = new Array[Double](n)
    val siN = new Array[Double](n)
    // axis 0 (i)
    var j = 0
    while (j < n) {
      var k = 0
      while (k < l) {
        var i = 0
        while (i < n) { srN(i) = re((i * n + j) * l + k); siN(i) = im((i * n + j) * l + k); i += 1 }
        fft(srN, siN, invert)
        i = 0
        while (i < n) { re((i * n + j) * l + k) = srN(i); im((i * n + j) * l + k) = siN(i); i += 1 }
        k += 1
      }
      j += 1
    }
    // axis 1 (j)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < l) {
        var jj = 0
        while (jj < n) { srN(jj) = re((i * n + jj) * l + k); siN(jj) = im((i * n + jj) * l + k); jj += 1 }
        fft(srN, siN, invert)
        jj = 0
        while (jj < n) { re((i * n + jj) * l + k) = srN(jj); im((i * n + jj) * l + k) = siN(jj); jj += 1 }
        k += 1
      }
      i += 1
    }
    // axis 2 (k)
    val srL = new Array[Double](l)
    val siL = new Array[Double](l)
    i = 0
    while (i < n) {
      var jj = 0
      while (jj < n) {
        var k = 0
        while (k < l) { srL(k) = re((i * n + jj) * l + k); siL(k) = im((i * n + jj) * l + k); k += 1 }
        fft(srL, siL, invert)
        k = 0
        while (k < l) { re((i * n + jj) * l + k) = srL(k); im((i * n + jj) * l + k) = siL(k); k += 1 }
        jj += 1
      }
      i += 1
    }
  }

  /** 3-D divisor 1/(j²+k²+l²) with the DC term zeroed (same
    * output-equivalence argument as the 2-D case).
    */
  def divisor3(n: Int, l: Int): Array[Double] = {
    val fj = clampedFreqs(n)
    val fl = clampedFreqs(l)
    val d = new Array[Double](n * n * l)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        var k = 0
        while (k < l) {
          d((i * n + j) * l + k) = 1.0 / (fj(i) * fj(i) + fj(j) * fj(j) + fl(k) * fl(k))
          k += 1
        }
        j += 1
      }
      i += 1
    }
    d(0) = 0.0
    d
  }

  /** 3-D Green's function G3 = Re(ifft3(divisor3)) — the equivalent
    * circular convolution kernel on the n×n×l cube, used by the DuckDB
    * oracle (which convolves directly instead of transforming).
    */
  def greens3(n: Int, l: Int): Array[Double] = {
    val re = divisor3(n, l)
    val im = new Array[Double](n * n * l)
    fft3(re, im, n, l, invert = true)
    re
  }

  /** 3-D variant (fourier_lag.py:158-262): the slice is embedded as the
    * midplane of an n × n × n/LDIVISOR cube (~1/d weighting instead of
    * −ln d); min-subtraction and rescale run over the FULL cube; the
    * midplane is returned.
    */
  def solveSlice3d(x: Array[Double], n: Int): Array[Double] = {
    val l = math.max(n / LDivisor, 2)
    val mid = l / 2
    val rhomax = x.max
    val re = new Array[Double](n * n * l)
    val im = new Array[Double](n * n * l)
    var i = 0
    while (i < n * n) { re(i * l + mid) = x(i); i += 1 }
    fft3(re, im, n, l, invert = false)
    val div = divisor3(n, l)
    i = 0
    while (i < n * n * l) { re(i) *= div(i); im(i) *= div(i); i += 1 }
    fft3(re, im, n, l, invert = true)
    var mn = Double.MaxValue
    i = 0
    while (i < n * n * l) { if (re(i) < mn) mn = re(i); i += 1 }
    var mx = Double.MinValue
    i = 0
    while (i < n * n * l) { val v = re(i) - mn; if (v > mx) mx = v; i += 1 }
    val phimax = math.max(mx, 1.0)
    Array.tabulate(n * n)(c => (re(c * l + mid) - mn) * rhomax / phimax)
  }

  /** Multi-feature form — the reference transforms every feature column
    * of the frame per slice and prefixes outputs `flag_<feature>`
    * (fourier_lag.py:303); each feature's slice is solved and rescaled
    * independently within the same per-month group.
    *
    * @param panel dense panel with `lon`/`lat` cell-coordinate columns
    * @return (month_id, unit_id, `flag_<c>`…)
    */
  def fourierLagMulti(panel: DataFrame, valueCols: Seq[String],
                      lonCol: String = "lon", latCol: String = "lat",
                      dimensionality: Int = 2,
                      embOpt: Option[TreeLag.Embedding] = None): DataFrame = {
    val T = Panel.TimeCol
    val U = Panel.UnitCol
    val outs = valueCols.map(c => s"flag_$c")
    val emb = embOpt.getOrElse(TreeLag.embedOf(panel, lonCol, latCol))
    // only the columns the kernel reads cross the month exchange
    val cells = panel.select(col(T) +: col(U) +: valueCols.map(col): _*)
    withFourierLag(cells, valueCols, outs, dimensionality, emb)
      .select(col(T) +: col(U) +: outs.map(col): _*)
  }

  /** The kernel itself: every input row comes back with one non-null
    * double column `outs(i)` appended per `valueCols(i)` — its cell of
    * the month's solved slice (a unit's cell is its place in `emb`). A
    * null value is an empty cell; a row without a month gets 0.0.
    */
  def withFourierLag(panel: DataFrame, valueCols: Seq[String], outs: Seq[String],
                     dimensionality: Int, emb: TreeLag.Embedding): DataFrame = {
    require(dimensionality == 2 || dimensionality == 3,
      s"dimensionality must be 2 or 3, got $dimensionality")
    require(valueCols.size == outs.size, "one output column per value column")
    val spark = panel.sparkSession
    val bc = OpCache.memo(spark, ("fourier.cells", emb))(
      spark.sparkContext.broadcast((emb.cells, emb.ncells)))
    val solver: (Array[Double], Int) => Array[Double] =
      if (dimensionality == 3) solveSlice3d else solveSlice

    Panel.kernel(panel, Panel.TimeCol, None, Seq(Panel.TimeCol, Panel.UnitCol) ++ valueCols,
        Panel.doubles(outs: _*)) { g =>
      val (cells, nc) = bc.value
      require(!g.nulls(1).contains(true), "the Fourier lag needs a unit on every row")
      val at = g.longs(1).map(u => cells(u) match { case (ex, ey) => ex * nc + ey })
      val solved =
        if (g.nulls(0)(0)) Array.fill(valueCols.size)(new Array[Double](nc * nc))
        else Array.tabulate(valueCols.size) { f =>
          val grid = new Array[Double](nc * nc)
          val (x, xNul) = (g.doubles(2 + f), g.nulls(2 + f))
          var i = 0
          while (i < g.n) { if (!xNul(i)) grid(at(i)) = x(i); i += 1 }
          solver(grid, nc)
        }
      Panel.Emit(solved.map(s => at.map(s(_))): _*)
    }
  }

  /** Single-feature convenience wrapper. */
  def fourierLag(panel: DataFrame, valueCol: String,
                 lonCol: String = "lon", latCol: String = "lat",
                 out: String = "flag_value", dimensionality: Int = 2,
                 embOpt: Option[TreeLag.Embedding] = None): DataFrame =
    fourierLagMulti(panel, Seq(valueCol), lonCol, latCol, dimensionality, embOpt)
      .withColumnRenamed(s"flag_$valueCol", out)
}
