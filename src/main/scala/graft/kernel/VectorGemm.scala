package graft.kernel

import jdk.incubator.vector.{FloatVector, VectorOperators, VectorSpecies}

/** SIMD twins of the scalar dense kernels (Kernels.gemmDenseScalar and
  * Kernels.convRowsScalar), built on the JDK Vector API (AVX-512: 16 f32
  * lanes).
  *
  * BIT-EXACT CONTRACT: per-output-element arithmetic — operation order and
  * per-op rounding — is IDENTICAL to the scalar path. Lanes are independent
  * output columns; every element accumulates its k terms in ascending-k
  * order as FUSED multiply-adds (one rounding per term):
  *   acc_p = fma(a[i,p], b[p,j], acc_{p-1}),  acc_{-1} = 0.
  * The scalar twin uses java.lang.Math.fma, which C2 intrinsifies to the
  * same vfmadd instruction, so the two paths agree bit-for-bit (KernelSpec
  * asserts it on all tail shapes). The dense path serves only dense
  * trained/production weights, where the reference's own numpy matmul
  * delegates to BLAS with an implementation-defined accumulation order —
  * FMA is as faithful as any; the rigged sparse packs (the oracle-checked
  * toy path) keep Kernels.gemm's sequential mul-then-add kernel.
  *
  * Layout matches exec/model.py:97-108's im2col GEMM: a[m,k] row-major
  * (im2col columns), b[k,n] row-major (pre-transposed weight), out[m,n].
  *
  * Register blocking: 4 output rows x 4 vectors (4x64 floats at AVX-512)
  * held in registers across the whole k loop — out is written once per
  * tile, each loaded b vector feeds four rows, and the 16 independent
  * accumulator chains cover the FMA latency-bandwidth product.
  */
private[graft] object VectorGemm {
  private val SP: VectorSpecies[java.lang.Float] = FloatVector.SPECIES_PREFERRED
  private val L = SP.length()

  /** Used by Kernels to decide dispatch once at class-load. */
  def lanes: Int = L

  def gemmDense(a: Array[Float], m: Int, k: Int, b: Array[Float], n: Int,
                out: Array[Float]): Unit = {
    val n4v = n - n % (4 * L) // columns covered by 4-vector tiles
    val n1v = n - n % L       // columns covered by single-vector tiles
    var i = 0
    // --- 4 rows x 4 vectors register tile
    while (i + 4 <= m) {
      val aA = i * k; val aB = aA + k; val aC = aB + k; val aD = aC + k
      val oA = i * n; val oB = oA + n; val oC = oB + n; val oD = oC + n
      var j = 0
      while (j < n4v) {
        var acc00 = FloatVector.zero(SP); var acc01 = FloatVector.zero(SP)
        var acc02 = FloatVector.zero(SP); var acc03 = FloatVector.zero(SP)
        var acc10 = FloatVector.zero(SP); var acc11 = FloatVector.zero(SP)
        var acc12 = FloatVector.zero(SP); var acc13 = FloatVector.zero(SP)
        var acc20 = FloatVector.zero(SP); var acc21 = FloatVector.zero(SP)
        var acc22 = FloatVector.zero(SP); var acc23 = FloatVector.zero(SP)
        var acc30 = FloatVector.zero(SP); var acc31 = FloatVector.zero(SP)
        var acc32 = FloatVector.zero(SP); var acc33 = FloatVector.zero(SP)
        var p = 0
        while (p < k) {
          val vA = FloatVector.broadcast(SP, a(aA + p))
          val vB = FloatVector.broadcast(SP, a(aB + p))
          val vC = FloatVector.broadcast(SP, a(aC + p))
          val vD = FloatVector.broadcast(SP, a(aD + p))
          val b0 = p * n + j
          val t0 = FloatVector.fromArray(SP, b, b0)
          val t1 = FloatVector.fromArray(SP, b, b0 + L)
          val t2 = FloatVector.fromArray(SP, b, b0 + 2 * L)
          val t3 = FloatVector.fromArray(SP, b, b0 + 3 * L)
          acc00 = t0.fma(vA, acc00); acc01 = t1.fma(vA, acc01)
          acc02 = t2.fma(vA, acc02); acc03 = t3.fma(vA, acc03)
          acc10 = t0.fma(vB, acc10); acc11 = t1.fma(vB, acc11)
          acc12 = t2.fma(vB, acc12); acc13 = t3.fma(vB, acc13)
          acc20 = t0.fma(vC, acc20); acc21 = t1.fma(vC, acc21)
          acc22 = t2.fma(vC, acc22); acc23 = t3.fma(vC, acc23)
          acc30 = t0.fma(vD, acc30); acc31 = t1.fma(vD, acc31)
          acc32 = t2.fma(vD, acc32); acc33 = t3.fma(vD, acc33)
          p += 1
        }
        acc00.intoArray(out, oA + j); acc01.intoArray(out, oA + j + L)
        acc02.intoArray(out, oA + j + 2 * L); acc03.intoArray(out, oA + j + 3 * L)
        acc10.intoArray(out, oB + j); acc11.intoArray(out, oB + j + L)
        acc12.intoArray(out, oB + j + 2 * L); acc13.intoArray(out, oB + j + 3 * L)
        acc20.intoArray(out, oC + j); acc21.intoArray(out, oC + j + L)
        acc22.intoArray(out, oC + j + 2 * L); acc23.intoArray(out, oC + j + 3 * L)
        acc30.intoArray(out, oD + j); acc31.intoArray(out, oD + j + L)
        acc32.intoArray(out, oD + j + 2 * L); acc33.intoArray(out, oD + j + 3 * L)
        j += 4 * L
      }
      while (j < n1v) {
        var accA = FloatVector.zero(SP); var accB = FloatVector.zero(SP)
        var accC = FloatVector.zero(SP); var accD = FloatVector.zero(SP)
        var p = 0
        while (p < k) {
          val t = FloatVector.fromArray(SP, b, p * n + j)
          accA = t.fma(FloatVector.broadcast(SP, a(aA + p)), accA)
          accB = t.fma(FloatVector.broadcast(SP, a(aB + p)), accB)
          accC = t.fma(FloatVector.broadcast(SP, a(aC + p)), accC)
          accD = t.fma(FloatVector.broadcast(SP, a(aD + p)), accD)
          p += 1
        }
        accA.intoArray(out, oA + j); accB.intoArray(out, oB + j)
        accC.intoArray(out, oC + j); accD.intoArray(out, oD + j)
        j += L
      }
      while (j < n) {
        var sA = 0f; var sB = 0f; var sC = 0f; var sD = 0f
        var p = 0
        while (p < k) {
          val t = b(p * n + j)
          sA = Math.fma(a(aA + p), t, sA); sB = Math.fma(a(aB + p), t, sB)
          sC = Math.fma(a(aC + p), t, sC); sD = Math.fma(a(aD + p), t, sD)
          p += 1
        }
        out(oA + j) = sA; out(oB + j) = sB
        out(oC + j) = sC; out(oD + j) = sD
        j += 1
      }
      i += 4
    }
    // --- remainder rows, one at a time (same per-element order)
    while (i < m) {
      val aOff = i * k
      val oOff = i * n
      var j = 0
      while (j < n4v) {
        var acc0 = FloatVector.zero(SP); var acc1 = FloatVector.zero(SP)
        var acc2 = FloatVector.zero(SP); var acc3 = FloatVector.zero(SP)
        var p = 0
        while (p < k) {
          val v = FloatVector.broadcast(SP, a(aOff + p))
          val b0 = p * n + j
          acc0 = FloatVector.fromArray(SP, b, b0).fma(v, acc0)
          acc1 = FloatVector.fromArray(SP, b, b0 + L).fma(v, acc1)
          acc2 = FloatVector.fromArray(SP, b, b0 + 2 * L).fma(v, acc2)
          acc3 = FloatVector.fromArray(SP, b, b0 + 3 * L).fma(v, acc3)
          p += 1
        }
        acc0.intoArray(out, oOff + j); acc1.intoArray(out, oOff + j + L)
        acc2.intoArray(out, oOff + j + 2 * L); acc3.intoArray(out, oOff + j + 3 * L)
        j += 4 * L
      }
      while (j < n1v) {
        var acc = FloatVector.zero(SP)
        var p = 0
        while (p < k) {
          acc = FloatVector.fromArray(SP, b, p * n + j)
            .fma(FloatVector.broadcast(SP, a(aOff + p)), acc)
          p += 1
        }
        acc.intoArray(out, oOff + j)
        j += L
      }
      while (j < n) {
        var s = 0f
        var p = 0
        while (p < k) { s = Math.fma(a(aOff + p), b(p * n + j), s); p += 1 }
        out(oOff + j) = s
        j += 1
      }
      i += 1
    }
  }

  /** Implicit-im2col convolution with a fused bias + relu + norm epilogue,
    * the SIMD twin of [[Kernels.convRowsScalar]] (see [[Kernels.convRows]]
    * for the operands and the bit-exact contract). Same 4-row x 4-vector
    * register tile as [[gemmDense]]; the a-operand is read straight from
    * the activation rows, a(i, p) = x((rows(i)-padding)*C + taps(p)), and
    * the b-operand is the conv's [C*K, F] weightT. One flat loop over p
    * (not a channel x tap nest): C2 keeps loop-carried vectors in
    * registers only across a single loop; across a nest it re-boxes them
    * every outer iteration (~35x slower on an AVX-512 Xeon, JDK 17). Each
    * finished row gets its epilogue ([[finishRow]]) while still in L1.
    */
  def convRows(layer: CNNEncoderLayer, x: Array[Float], rows: Array[Int], nRows: Int,
               out: Array[Float], oRows: Array[Int]): Unit = {
    val conv = layer.conv
    val c = conv.inDim
    val shift = -conv.padding
    val n = conv.filters
    val taps = conv.tapOffsets
    val w = conv.weightT
    val ck = taps.length
    val n4v = n - n % (4 * L)
    val n1v = n - n % L
    val last = nRows - 1
    var i = 0
    while (i < nRows) {
      // 4 rows per tile; a ragged last tile repeats its last row, whose
      // copies compute and store the same raw sums (finished once, below)
      val iB = math.min(i + 1, last); val iC = math.min(i + 2, last)
      val iD = math.min(i + 3, last)
      val xA = (rows(i) + shift) * c; val xB = (rows(iB) + shift) * c
      val xC = (rows(iC) + shift) * c; val xD = (rows(iD) + shift) * c
      val oA = oRows(i) * n; val oB = oRows(iB) * n
      val oC = oRows(iC) * n; val oD = oRows(iD) * n
      var j = 0
      while (j < n4v) {
        convTile4x4(x, taps, xA, xB, xC, xD, w, n, j, out, oA, oB, oC, oD)
        j += 4 * L
      }
      while (j < n1v) {
        var accA = FloatVector.zero(SP); var accB = FloatVector.zero(SP)
        var accC = FloatVector.zero(SP); var accD = FloatVector.zero(SP)
        var b0 = j
        var p = 0
        while (p < ck) {
          val xo = taps(p)
          val tv = FloatVector.fromArray(SP, w, b0)
          accA = tv.fma(FloatVector.broadcast(SP, x(xA + xo)), accA)
          accB = tv.fma(FloatVector.broadcast(SP, x(xB + xo)), accB)
          accC = tv.fma(FloatVector.broadcast(SP, x(xC + xo)), accC)
          accD = tv.fma(FloatVector.broadcast(SP, x(xD + xo)), accD)
          b0 += n; p += 1
        }
        accA.intoArray(out, oA + j); accB.intoArray(out, oB + j)
        accC.intoArray(out, oC + j); accD.intoArray(out, oD + j)
        j += L
      }
      if (j < n) {
        Kernels.convRowSums(x, taps, xA, w, n, j, out, oA)
        Kernels.convRowSums(x, taps, xB, w, n, j, out, oB)
        Kernels.convRowSums(x, taps, xC, w, n, j, out, oC)
        Kernels.convRowSums(x, taps, xD, w, n, j, out, oD)
      }
      finishRow(layer, out, oA)
      if (iB > i) finishRow(layer, out, oB)
      if (iC > iB) finishRow(layer, out, oC)
      if (iD > iC) finishRow(layer, out, oD)
      i += 4
    }
  }

  /** Raw sums of a 4-row x 4-vector tile at columns j until j+4L. */
  private def convTile4x4(x: Array[Float], taps: Array[Int], xA: Int, xB: Int, xC: Int,
                          xD: Int, w: Array[Float], n: Int, j: Int, out: Array[Float],
                          oA: Int, oB: Int, oC: Int, oD: Int): Unit = {
    val ck = taps.length
    var acc00 = FloatVector.zero(SP); var acc01 = FloatVector.zero(SP)
    var acc02 = FloatVector.zero(SP); var acc03 = FloatVector.zero(SP)
    var acc10 = FloatVector.zero(SP); var acc11 = FloatVector.zero(SP)
    var acc12 = FloatVector.zero(SP); var acc13 = FloatVector.zero(SP)
    var acc20 = FloatVector.zero(SP); var acc21 = FloatVector.zero(SP)
    var acc22 = FloatVector.zero(SP); var acc23 = FloatVector.zero(SP)
    var acc30 = FloatVector.zero(SP); var acc31 = FloatVector.zero(SP)
    var acc32 = FloatVector.zero(SP); var acc33 = FloatVector.zero(SP)
    var b0 = j
    var p = 0
    while (p < ck) {
      val xo = taps(p)
      val vA = FloatVector.broadcast(SP, x(xA + xo))
      val vB = FloatVector.broadcast(SP, x(xB + xo))
      val vC = FloatVector.broadcast(SP, x(xC + xo))
      val vD = FloatVector.broadcast(SP, x(xD + xo))
      val t0 = FloatVector.fromArray(SP, w, b0)
      val t1 = FloatVector.fromArray(SP, w, b0 + L)
      val t2 = FloatVector.fromArray(SP, w, b0 + 2 * L)
      val t3 = FloatVector.fromArray(SP, w, b0 + 3 * L)
      acc00 = t0.fma(vA, acc00); acc01 = t1.fma(vA, acc01)
      acc02 = t2.fma(vA, acc02); acc03 = t3.fma(vA, acc03)
      acc10 = t0.fma(vB, acc10); acc11 = t1.fma(vB, acc11)
      acc12 = t2.fma(vB, acc12); acc13 = t3.fma(vB, acc13)
      acc20 = t0.fma(vC, acc20); acc21 = t1.fma(vC, acc21)
      acc22 = t2.fma(vC, acc22); acc23 = t3.fma(vC, acc23)
      acc30 = t0.fma(vD, acc30); acc31 = t1.fma(vD, acc31)
      acc32 = t2.fma(vD, acc32); acc33 = t3.fma(vD, acc33)
      b0 += n; p += 1
    }
    acc00.intoArray(out, oA + j); acc01.intoArray(out, oA + j + L)
    acc02.intoArray(out, oA + j + 2 * L); acc03.intoArray(out, oA + j + 3 * L)
    acc10.intoArray(out, oB + j); acc11.intoArray(out, oB + j + L)
    acc12.intoArray(out, oB + j + 2 * L); acc13.intoArray(out, oB + j + 3 * L)
    acc20.intoArray(out, oC + j); acc21.intoArray(out, oC + j + L)
    acc22.intoArray(out, oC + j + 2 * L); acc23.intoArray(out, oC + j + 3 * L)
    acc30.intoArray(out, oD + j); acc31.intoArray(out, oD + j + L)
    acc32.intoArray(out, oD + j + 2 * L); acc33.intoArray(out, oD + j + 3 * L)
  }

  /** Lane-wise twin of [[Kernels.finishRowScalar]] over one row of raw
    * sums: y = acc + bias, relu as a blend (so -0 and NaN map to +0 exactly
    * like the scalar `y > 0 ? y : +0`), then (r - mean) * scale + shift as
    * a separate multiply and add (no fused rounding).
    */
  private def finishRow(layer: CNNEncoderLayer, out: Array[Float], off: Int): Unit = {
    val n = layer.conv.filters
    val bias = layer.conv.bias
    val norm = layer.norm
    val (mean, scale, shiftN) = (norm.mean, norm.scale, norm.bias)
    val zero = FloatVector.zero(SP)
    val n1v = n - n % L
    var j = 0
    while (j < n1v) {
      val y = FloatVector.fromArray(SP, out, off + j).add(FloatVector.fromArray(SP, bias, j))
      zero.blend(y, y.compare(VectorOperators.GT, 0f))
        .sub(FloatVector.fromArray(SP, mean, j))
        .mul(FloatVector.fromArray(SP, scale, j))
        .add(FloatVector.fromArray(SP, shiftN, j))
        .intoArray(out, off + j)
      j += L
    }
    Kernels.finishRowScalar(layer, out, off, j)
  }
}
