package graft.kernel

/** f32 tensor kernels — the physical operators of the inference engine.
  *
  * Re-creates the semantics of the reference's NumPy exec engine
  * (reference: slovnet/exec/model.py). Layout: flat row-major
  * `Array[Float]`; a [B,S,D] tensor indexes as (b*S+s)*D+d. All kernels are
  * allocation-light and run inside `mapPartitions` on executors; model
  * weights arrive via one broadcast per job.
  *
  * Tie-breaking: every argmax returns the FIRST maximal index, matching
  * `numpy.argmax` (parity-critical for CRF/biaffine decode).
  */
object Kernels {

  /** out[m,n] = a[m,k] x b[k,n], sequential mul-then-add order — the
    * bit-exact kernel of the rigged sparse packs' Linear and biaffine
    * weights, and of the biaffine h x kernel product at every density.
    *
    * NOTE: an explicit Vector-API twin of this sequential gemm was measured
    * SLOWER than this loop at the pipeline's shapes (biaffine n=32, rel
    * n=H*R; syntax stage 3.5s scalar vs 5.4s SIMD best-of-3) — C2 already
    * auto-vectorizes the inner j-loop and accumulates in place. SIMD
    * dispatch is therefore only on dense weights: [[gemmDense]] for the
    * dense Linear and biaffine-rel kernels, [[convRows]] for dense CNN
    * trunks.
    */
  def gemm(a: Array[Float], m: Int, k: Int, b: Array[Float], n: Int,
           out: Array[Float]): Unit = {
    java.util.Arrays.fill(out, 0, m * n, 0f)
    var i = 0
    while (i < m) {
      var p = 0
      while (p < k) {
        val av = a(i * k + p)
        if (av != 0f) {
          val bOff = p * n
          val oOff = i * n
          var j = 0
          while (j < n) { out(oOff + j) += av * b(bOff + j); j += 1 }
        }
        p += 1
      }
      i += 1
    }
  }

  /** Density/size gate shared by the non-conv weight matrices (Linear,
    * biaffine kernels): the SIMD dense GEMM pays off only for big, mostly
    * nonzero operands; rigged synthetic packs stay below BOTH bars (tiny
    * tensors, ~99% zeros), so the oracle-checked toy path keeps the
    * sequential bit-exact kernel structurally.
    */
  def denseWorthy(w: Array[Float]): Boolean = {
    if (w.length < 2048) return false
    var nz = 0
    var i = 0
    while (i < w.length) { if (w(i) != 0f) nz += 1; i += 1 }
    nz * 4 > w.length
  }

  /** True when the JDK Vector API (jdk.incubator.vector) loaded — then
    * gemmDense runs the SIMD kernel. Probed once; any linkage error means
    * the JVM was started without --add-modules=jdk.incubator.vector and we
    * keep the scalar loop. Both paths are bit-identical (see VectorGemm).
    */
  val simdAvailable: Boolean =
    try VectorGemm.lanes >= 4
    catch { case _: LinkageError => false }

  /** Dense GEMM: out[m,n] = a[m,k] x b[k,n]. Each output element
    * accumulates its k terms in ascending order as FUSED multiply-adds
    * (one rounding per term) — a fixed, deterministic order (bit-identical
    * across runs, batch sizes and parallelism levels) but not the
    * mul-then-add sequential order of [[gemm]]. Used only on dense trained
    * weights, where the reference's own numpy matmul delegates to BLAS
    * with an implementation-defined accumulation order anyway —
    * sequential-order parity is not a meaningful target there; the rigged
    * sparse packs keep the bit-exact sequential path. Dispatches to the
    * SIMD twin when available; the two paths produce identical bits
    * (KernelSpec asserts it on all tail shapes).
    */
  def gemmDense(a: Array[Float], m: Int, k: Int, b: Array[Float], n: Int,
                out: Array[Float]): Unit = {
    if (simdAvailable) { VectorGemm.gemmDense(a, m, k, b, n, out); return }
    gemmDenseScalar(a, m, k, b, n, out)
  }

  def gemmDenseScalar(a: Array[Float], m: Int, k: Int, b: Array[Float], n: Int,
                      out: Array[Float]): Unit = {
    // FMA contract (see VectorGemm): every output element accumulates its
    // k terms in ascending order as fused multiply-adds — Math.fma is
    // C2-intrinsified to the same vfmadd the SIMD twin uses, so the two
    // paths are bit-identical. The row-major accumulate-in-out form walks
    // b exactly once per row in long unit-stride runs.
    var i = 0
    while (i < m) {
      val oOff = i * n
      java.util.Arrays.fill(out, oOff, oOff + n, 0f)
      val aOff = i * k
      var p = 0
      while (p < k) {
        val av = a(aOff + p)
        val bOff = p * n
        var j = 0
        while (j < n) {
          out(oOff + j) = Math.fma(av, b(bOff + j), out(oOff + j))
          j += 1
        }
        p += 1
      }
      i += 1
    }
  }

  /** Implicit-im2col convolution with a fused bias + relu + norm epilogue:
    * one dense CNN trunk layer (see [[CNNEncoder]]).
    *
    * x holds token-major activation rows of C = conv.inDim channels with
    * same-padding rows around every sentence. Output row i is centred on x
    * row rows(i), so the im2col a-operand is read in place:
    * a(i, p) = x((rows(i)-padding)*C + taps(p)), where taps(ch*K+t) =
    * t*C + ch ([[Conv1d.tapOffsets]]); the b-operand is the conv's [C*K, F]
    * weightT. Each element of out row oRows(i) (F wide) is
    *   y = ascending-p fma chain of a*w from +0, then y + conv bias,
    *   r = y > 0 ? y : +0,  (r - mean) * scale + norm bias
    * — the arithmetic of an explicit im2col + [[gemmDense]], + bias, then
    * [[BatchNorm1d.reluNormInPlace]], so the result is bit-identical to
    * that chain. Only rows(0 until nRows) are computed; every other row of
    * out is left as it is. Dispatches to the SIMD twin when available; the
    * two paths produce identical bits (KernelSpec asserts it).
    */
  def convRows(layer: CNNEncoderLayer, x: Array[Float], rows: Array[Int], nRows: Int,
               out: Array[Float], oRows: Array[Int]): Unit =
    if (simdAvailable) VectorGemm.convRows(layer, x, rows, nRows, out, oRows)
    else convRowsScalar(layer, x, rows, nRows, out, oRows)

  def convRowsScalar(layer: CNNEncoderLayer, x: Array[Float], rows: Array[Int], nRows: Int,
                     out: Array[Float], oRows: Array[Int]): Unit = {
    val conv = layer.conv
    val n = conv.filters
    var i = 0
    while (i < nRows) {
      val oOff = oRows(i) * n
      convRowSums(x, conv.tapOffsets, (rows(i) - conv.padding) * conv.inDim,
        conv.weightT, n, 0, out, oOff)
      finishRowScalar(layer, out, oOff, 0)
      i += 1
    }
  }

  /** Raw sums, columns j0 until n, of one [[convRows]] output row: the
    * scalar twin, and the SIMD kernel's column tail. Accumulates in out
    * row-major (as [[gemmDenseScalar]] does), so w is walked once in
    * unit-stride runs; Math.fma is C2-intrinsified to the vfmadd the SIMD
    * twin uses.
    */
  private[kernel] def convRowSums(x: Array[Float], taps: Array[Int], xOff: Int,
                                  w: Array[Float], n: Int, j0: Int,
                                  out: Array[Float], oOff: Int): Unit = {
    java.util.Arrays.fill(out, oOff + j0, oOff + n, 0f)
    var bOff = 0
    var p = 0
    while (p < taps.length) {
      val av = x(xOff + taps(p))
      var j = j0
      while (j < n) { out(oOff + j) = Math.fma(av, w(bOff + j), out(oOff + j)); j += 1 }
      bOff += n; p += 1
    }
  }

  /** [[convRows]] epilogue over columns j0 until F of one row of raw sums. */
  private[kernel] def finishRowScalar(layer: CNNEncoderLayer, out: Array[Float], off: Int,
                                      j0: Int): Unit = {
    val n = layer.conv.filters
    val bias = layer.conv.bias
    val norm = layer.norm
    val (mean, scale, shiftN) = (norm.mean, norm.scale, norm.bias)
    var j = j0
    while (j < n) {
      val y = out(off + j) + bias(j)
      out(off + j) = ((if (y > 0f) y else 0f) - mean(j)) * scale(j) + shiftN(j)
      j += 1
    }
  }

  def argmaxFirst(a: Array[Float], off: Int, len: Int): Int = {
    var best = 0
    var bv = a(off)
    var i = 1
    while (i < len) {
      val v = a(off + i)
      if (v > bv) { bv = v; best = i }
      i += 1
    }
    best
  }

  def relu(a: Array[Float]): Unit = relu(a, a.length)

  /** workspace buffers may be longer than the logical size */
  def relu(a: Array[Float], n: Int): Unit = {
    var i = 0
    while (i < n) { if (a(i) < 0f) a(i) = 0f; i += 1 }
  }
}

/** x·W + b over leading dims (exec/model.py:50-68). weight is [in,out]
  * (already transposed at export, model/exec.py:20-26).
  */
final case class Linear(weight: Array[Float], inDim: Int, outDim: Int,
                        bias: Array[Float]) extends Serializable {
  // same density dispatch as Conv1d (see its isDense rationale): trained/
  // production packs are fully dense and big — the SIMD 4-way-group GEMM
  // is the right physical form there, exactly as the reference's own
  // numpy matmul delegates to BLAS with implementation-defined
  // accumulation order. Rigged synthetic packs (the oracle-checked path)
  // are small AND sparse, so the size floor + density test keep them on
  // the bit-exact sequential kernel by construction.
  @transient private lazy val dense: Boolean = Kernels.denseWorthy(weight)

  def apply(input: Array[Float], rows: Int): Array[Float] = {
    val out = new Array[Float](rows * outDim)
    into(input, rows, out)
    out
  }

  /** write x·W + b into a caller-provided buffer (≥ rows*outDim). */
  def into(input: Array[Float], rows: Int, out: Array[Float]): Unit = {
    if (dense) Kernels.gemmDense(input, rows, inDim, weight, outDim, out)
    else Kernels.gemm(input, rows, inDim, weight, outDim, out)
    var r = 0
    while (r < rows) {
      val off = r * outDim
      var j = 0
      while (j < outDim) { out(off + j) += bias(j); j += 1 }
      r += 1
    }
  }
}

/** 1-D same-padding convolution (exec/model.py:71-112).
  * weight [filters, in, kernel] flattened as filters x (in*kernel);
  * input [B, in, seq] -> output [B, filters, seq].
  *
  * Two physical forms, chosen per encoder by weight density ([[isDense]]):
  *  - [[into]], direct tap accumulation — each nonzero (filter, channel,
  *    tap) is a unit-stride saxpy over the sequence, zero taps skipped
  *    entirely; per output element the products add in the reference's
  *    im2col (channel-major, tap-minor) order, mul-then-add, bias last.
  *    The form of the sparse rigged packs (~99% zeros); correct, if slow,
  *    for any weights;
  *  - dense trained/production weights have no per-layer form: a
  *    [[CNNEncoder]] whose layers are all dense runs them through
  *    [[Kernels.convRows]], an implicit-im2col GEMM against [[weightT]]
  *    with the relu + norm + mask fused in.
  */
final case class Conv1d(weight: Array[Float], filters: Int, inDim: Int,
                        kernel: Int, bias: Array[Float], padding: Int)
    extends Serializable {
  // nonzero taps in (filter, channel, tap) ascending order — iterating only
  // these preserves the per-output-element accumulation order while
  // skipping the (dominant, for sparse weights) zero-weight scan
  @transient private lazy val nzTaps: (Array[Int], Array[Int], Array[Float]) = {
    // the 4-bit tap packing below holds only for small kernels/padding
    // (all shipped packs are kernel=3/padding=1); fail loudly otherwise
    require(padding <= 8 && kernel - padding <= 8,
      s"tap packing supports kernel-padding<=8, padding<=8 (kernel=$kernel padding=$padding)")
    val fs = Array.newBuilder[Int]   // filter
    val cd = Array.newBuilder[Int]   // channel * 16 + (tap - padding + 8)
    val vs = Array.newBuilder[Float]
    var f = 0
    while (f < filters) {
      var c = 0
      while (c < inDim) {
        var t = 0
        while (t < kernel) {
          val v = weight((f * inDim + c) * kernel + t)
          if (v != 0f) { fs += f; cd += c * 16 + (t - padding + 8); vs += v }
          t += 1
        }
        c += 1
      }
      f += 1
    }
    (fs.result(), cd.result(), vs.result())
  }

  // fraction of nonzero weights decides the physical algorithm: rigged
  // synthetic packs are ~99% zeros (tap skipping wins); trained/production
  // packs are fully dense (implicit-im2col GEMM wins — the tap path's
  // inner loops are seqLen-short and overhead-bound at 250k taps)
  @transient private[kernel] lazy val isDense: Boolean = {
    var nz = 0
    var i = 0
    while (i < weight.length) { if (weight(i) != 0f) nz += 1; i += 1 }
    nz * 4 > weight.length
  }

  def apply(input: Array[Float], batch: Int, seqLen: Int): Array[Float] = {
    val windows = seqLen + 2 * padding - kernel + 1
    val out = new Array[Float](batch * filters * windows)
    into(input, batch, seqLen, out)
    out
  }

  /** Direct tap accumulation into out ≥ batch*filters*seqLen (requires the
    * reference's same-pad config: windows == seqLen).
    */
  def into(input: Array[Float], batch: Int, seqLen: Int, out: Array[Float]): Unit = {
    // the direct form assumes same-padding output (windows == seqLen)
    require(seqLen + 2 * padding - kernel + 1 == seqLen,
      s"Conv1d.into requires same padding (kernel=$kernel padding=$padding)")
    val (nzF, nzCD, nzV) = nzTaps
    val n = nzF.length
    var b = 0
    while (b < batch) {
      val oBase = b * filters * seqLen
      val iBase = b * inDim * seqLen
      java.util.Arrays.fill(out, oBase, oBase + filters * seqLen, 0f)
      var i = 0
      while (i < n) {
        val oOff = oBase + nzF(i) * seqLen
        val cd = nzCD(i)
        val d = (cd & 15) - 8 // out[s] += v * in[s + d]
        val io = iBase + (cd >>> 4) * seqLen + d
        val v = nzV(i)
        var s = if (d < 0) -d else 0
        val e = if (d > 0) seqLen - d else seqLen
        while (s < e) { out(oOff + s) += v * input(io + s); s += 1 }
        i += 1
      }
      var f = 0
      while (f < filters) {
        val bv = bias(f)
        if (bv != 0f) {
          val oOff = oBase + f * seqLen
          var s = 0
          while (s < seqLen) { out(oOff + s) += bv; s += 1 }
        }
        f += 1
      }
      b += 1
    }
  }

  /** taps(ch*K+t) = t*C + ch: where im2col column ch*K+t of a window sits
    * in token-major rows of C channels (the a-operand of Kernels.convRows) */
  @transient private[kernel] lazy val tapOffsets: Array[Int] =
    Array.tabulate(inDim * kernel)(p => (p % kernel) * inDim + p / kernel)

  // weight [F, C*K] transposed to [C*K, F] once — the b-operand of
  // Kernels.convRows (L2-resident at production dims: 990x256 floats = 1 MB)
  @transient private[kernel] lazy val weightT: Array[Float] = {
    val ck = inDim * kernel
    val wt = new Array[Float](ck * filters)
    var f = 0
    while (f < filters) {
      var p = 0
      while (p < ck) { wt(p * filters + f) = weight(f * ck + p); p += 1 }
      f += 1
    }
    wt
  }
}

/** (x-mean)/std*w+b per channel on [B,C,L] (exec/model.py:120-138;
  * std = sqrt(var+eps) folded at export, model/exec.py:39-46).
  */
final case class BatchNorm1d(weight: Array[Float], bias: Array[Float],
                             mean: Array[Float], std: Array[Float])
    extends Serializable {
  // per-channel scale hoisted out of the element loop: the old form did a
  // FLOAT DIVISION per element ((x-m)/s*w) — ~11-14 cycles unpipelined vs
  // one FMA — and JFR attributed 6.9% of 32-core pipeline samples here.
  // (x-m)*(w/s) differs from ((x-m)/s)*w by <=1 ulp; every golden is
  // pinned at the DECODED (argmax) level, same tolerance the round-1
  // im2col->sparse-tap conv rewrite already relied on.
  @transient private[kernel] lazy val scale: Array[Float] = {
    val a = new Array[Float](weight.length)
    var c = 0
    while (c < weight.length) { a(c) = weight(c) / std(c); c += 1 }
    a
  }
  def applyInPlace(x: Array[Float], batch: Int, channels: Int, len: Int): Unit = {
    val sc = scale
    var b = 0
    while (b < batch) {
      var c = 0
      while (c < channels) {
        val off = (b * channels + c) * len
        val m = mean(c); val a = sc(c); val bi = bias(c)
        var l = 0
        while (l < len) { x(off + l) = (x(off + l) - m) * a + bi; l += 1 }
        c += 1
      }
      b += 1
    }
  }

  /** Fused relu + batchnorm: the encoder layer (conv -> relu -> norm,
    * exec/model.py:257-268) ran TWO full streaming passes over [B,C,S];
    * per-element max(0,x) then the same affine as [[applyInPlace]] in one
    * pass halves the tensor traffic of the activation/norm stage.
    */
  def reluNormInPlace(x: Array[Float], batch: Int, channels: Int, len: Int): Unit = {
    val sc = scale
    var b = 0
    while (b < batch) {
      var c = 0
      while (c < channels) {
        val off = (b * channels + c) * len
        val m = mean(c); val a = sc(c); val bi = bias(c)
        var l = 0
        while (l < len) {
          val v = x(off + l)
          x(off + l) = ((if (v > 0f) v else 0f) - m) * a + bi
          l += 1
        }
        c += 1
      }
      b += 1
    }
  }
}

/** Plain embedding gather (exec/model.py:196-210). weight [vocab, dim]. */
final case class Embedding(weight: Array[Float], dim: Int) extends Serializable {
  def lookup(id: Int, out: Array[Float], off: Int): Unit =
    System.arraycopy(weight, id * dim, out, off, dim)
}

/** Product-quantized Navec embedding (exec/model.py:213-234).
  * indexes [vocab, qdim] centroid ids — u8 when centroids <= 256 (the navec
  * PQ format's own dtype rule; keeps the production broadcast at 25 MB for
  * 250K x 100q), u16 via `indexes16` when centroids > 256.
  * codes [qdim, centroids, chunk]; a word vector is the concat of its
  * per-subquantizer centroid chunks: dim = qdim*chunk.
  */
final case class NavecEmbedding(indexes: Array[Byte], qdim: Int,
                                codes: Array[Float], centroids: Int, chunk: Int,
                                indexes16: Array[Short] = null)
    extends Serializable {
  require(centroids <= 256 || indexes16 != null,
    s"centroids=$centroids > 256 requires u16 indexes (indexes16)")
  val dim: Int = qdim * chunk
  /** vocabulary rows covered by the index table */
  def vocabN: Int =
    (if (indexes16 != null) indexes16.length else indexes.length) / qdim
  /** Fail-fast id scan for LOADERS (not run on broadcast deserialization):
    * an out-of-range centroid id would otherwise read another
    * subquantizer's codes silently or crash mid-inference on an executor.
    */
  def validateIds(): this.type = {
    if (indexes16 != null) {
      var i = 0
      while (i < indexes16.length) {
        val v = indexes16(i) & 0xffff
        require(v < centroids, s"centroid id $v >= centroids=$centroids at $i")
        i += 1
      }
    } else {
      var i = 0
      while (i < indexes.length) {
        val v = indexes(i) & 0xff
        require(v < centroids, s"centroid id $v >= centroids=$centroids at $i")
        i += 1
      }
    }
    this
  }
  def lookup(id: Int, out: Array[Float], off: Int): Unit = {
    var q = 0
    if (indexes16 != null) {
      while (q < qdim) {
        val cIdx = indexes16(id * qdim + q) & 0xffff
        System.arraycopy(codes, (q * centroids + cIdx) * chunk, out, off + q * chunk, chunk)
        q += 1
      }
    } else {
      while (q < qdim) {
        val cIdx = indexes(id * qdim + q) & 0xff
        System.arraycopy(codes, (q * centroids + cIdx) * chunk, out, off + q * chunk, chunk)
        q += 1
      }
    }
  }
}

/** concat(navec word emb, shape emb) (exec/model.py:237-247). */
final case class WordShapeEmbedding(word: NavecEmbedding, shape: Embedding)
    extends Serializable {
  val dim: Int = word.dim + shape.dim
  /** wordIds/shapeIds [B*S] -> [B*S, dim] */
  def apply(wordIds: Array[Int], shapeIds: Array[Int]): Array[Float] = {
    val out = new Array[Float](wordIds.length * dim)
    into(wordIds, shapeIds, wordIds.length, out)
    out
  }

  def into(wordIds: Array[Int], shapeIds: Array[Int], n: Int,
           out: Array[Float]): Unit = {
    var i = 0
    while (i < n) {
      word.lookup(wordIds(i), out, i * dim)
      shape.lookup(shapeIds(i), out, i * dim + word.dim)
      i += 1
    }
  }
}

/** conv -> relu -> batchnorm (exec/model.py:257-268). */
final case class CNNEncoderLayer(conv: Conv1d, norm: BatchNorm1d) extends Serializable

/** Masked CNN encoder (exec/model.py:271-286): conv -> relu -> norm per
  * layer, zeroing PAD positions after EVERY layer (parity-critical near
  * boundaries since conv kernels straddle the pad).
  *
  * Two physical forms with the same contract (see [[Conv1d]]): if every
  * layer is dense, [[forwardDense]]; otherwise every layer takes the tap
  * path ([[forwardTaps]]).
  */
final case class CNNEncoder(layers: Seq[CNNEncoderLayer]) extends Serializable {
  val outDim: Int = layers.last.conv.filters
  @transient private lazy val layerArr: Array[CNNEncoderLayer] = layers.toArray
  @transient private lazy val dense: Boolean = layerArr.forall(_.conv.isDense)
  // zero rows on each side of a sentence in the dense trunk's layout
  @transient private lazy val halo: Int = layerArr.map { l =>
    require(l.conv.kernel == 2 * l.conv.padding + 1,
      s"dense CNN trunk requires same padding (kernel=${l.conv.kernel} padding=${l.conv.padding})")
    l.conv.padding
  }.max

  /** input [B,S,E] row-major, padMask [B,S] (true = PAD) -> [B,S,outDim].
    * Allocating path (tests/oracle); the pipeline uses [[forwardT]] with a
    * per-partition workspace.
    */
  def apply(input: Array[Float], batch: Int, seqLen: Int, embDim: Int,
            padMask: Array[Boolean]): Array[Float] = {
    val ws = new Workspace
    val xT = new Array[Float](batch * embDim * seqLen)
    CNNEncoder.transposeInto(input, batch, seqLen, embDim, xT)
    val enc = forwardT(xT, batch, seqLen, embDim, padMask, ws)
    java.util.Arrays.copyOf(enc, batch * seqLen * outDim)
  }

  /** xT [B,E,S] (left untouched, reusable across the three trunks) ->
    * [B,S,outDim] written into ws(WS.ENC_OUT); valid until the next
    * forwardT call on the same workspace.
    */
  def forwardT(xT: Array[Float], batch: Int, seqLen: Int, embDim: Int,
               padMask: Array[Boolean], ws: Workspace): Array[Float] =
    if (dense) forwardDense(xT, batch, seqLen, embDim, padMask, ws)
    else forwardTaps(xT, batch, seqLen, embDim, padMask, ws)

  /** Dense trunk: activations live token-major as [B, S+2H, C] with H zero
    * halo rows on each side of every sentence (H = the widest layer
    * padding); the halo rows are the convolution's same-padding. Each
    * layer is one [[Kernels.convRows]] call over the real-token rows only
    * (padMask false), which writes conv + bias + relu + norm straight into
    * the next layer's rows; PAD and halo rows stay +0. The last layer
    * writes [B,S,outDim] directly. Per element this is the arithmetic of
    * im2col + gemmDense + reluNorm + mask, bit for bit; the first layer
    * reads PAD tokens' embedding rows as window neighbours exactly as that
    * chain does.
    */
  private def forwardDense(xT: Array[Float], batch: Int, seqLen: Int, embDim: Int,
                           padMask: Array[Boolean], ws: Workspace): Array[Float] = {
    val ls = layerArr
    val h = halo
    val sp = seqLen + 2 * h
    // real-token rows: their centre row in the padded layout, and in [B,S]
    val rows = ws.i(WS.CONV_ROWS, batch * seqLen)
    val oRows = ws.i(WS.CONV_OUT_ROWS, batch * seqLen)
    var nRows = 0
    var b = 0
    while (b < batch) {
      var s = 0
      while (s < seqLen) {
        if (!padMask(b * seqLen + s)) {
          rows(nRows) = b * sp + h + s
          oRows(nRows) = b * seqLen + s
          nRows += 1
        }
        s += 1
      }
      b += 1
    }
    // layer-0 input: every [B,E,S] column (PAD tokens included) as a row
    var x = ws.f(WS.ENC_A, batch * sp * embDim)
    b = 0
    while (b < batch) {
      zeroHalo(x, b, sp, seqLen, h, embDim)
      var s = 0
      while (s < seqLen) {
        val o = (b * sp + h + s) * embDim
        val iOff = b * embDim * seqLen + s
        var c = 0
        while (c < embDim) { x(o + c) = xT(iOff + c * seqLen); c += 1 }
        s += 1
      }
      b += 1
    }
    var li = 0
    while (li < ls.length) {
      val f = ls(li).conv.filters
      val last = li == ls.length - 1
      val y =
        if (last) ws.f(WS.ENC_OUT, batch * seqLen * f)
        else ws.f(if (li % 2 == 0) WS.ENC_B else WS.ENC_A, batch * sp * f)
      // rows the kernel does not write must read +0
      b = 0
      while (b < batch) {
        if (!last) zeroHalo(y, b, sp, seqLen, h, f)
        var s = 0
        while (s < seqLen) {
          if (padMask(b * seqLen + s)) {
            val r = if (last) b * seqLen + s else b * sp + h + s
            java.util.Arrays.fill(y, r * f, (r + 1) * f, 0f)
          }
          s += 1
        }
        b += 1
      }
      Kernels.convRows(ls(li), x, rows, nRows, y, if (last) oRows else rows)
      x = y
      li += 1
    }
    x
  }

  /** zero the halo rows of sentence b in a [B, sp, width] padded buffer */
  private def zeroHalo(x: Array[Float], b: Int, sp: Int, seqLen: Int, halo: Int,
                       width: Int): Unit = {
    val r0 = b * sp
    java.util.Arrays.fill(x, r0 * width, (r0 + halo) * width, 0f)
    java.util.Arrays.fill(x, (r0 + halo + seqLen) * width, (r0 + sp) * width, 0f)
  }

  /** Tap path on [B,C,S]: conv, then relu + norm, then the mask, per layer;
    * one transpose back to [B,S,C] at the end.
    */
  private def forwardTaps(xT: Array[Float], batch: Int, seqLen: Int, embDim: Int,
                          padMask: Array[Boolean], ws: Workspace): Array[Float] = {
    val ls = layerArr
    var x = xT
    var channels = embDim
    var li = 0
    while (li < ls.length) {
      val layer = ls(li)
      val f = layer.conv.filters
      val y = ws.f(if (li % 2 == 0) WS.ENC_A else WS.ENC_B, batch * f * seqLen)
      layer.conv.into(x, batch, seqLen, y)
      layer.norm.reluNormInPlace(y, batch, f, seqLen)
      // zero masked positions after EVERY layer (exec/model.py:277-286)
      var bb = 0
      while (bb < batch) {
        var s = 0
        while (s < seqLen) {
          if (padMask(bb * seqLen + s)) {
            var c = 0
            while (c < f) { y((bb * f + c) * seqLen + s) = 0f; c += 1 }
          }
          s += 1
        }
        bb += 1
      }
      x = y
      channels = f
      li += 1
    }
    // swap back to [B,S,C]
    val out = ws.f(WS.ENC_OUT, batch * seqLen * channels)
    var b = 0
    while (b < batch) {
      var s = 0
      while (s < seqLen) {
        var c = 0
        while (c < channels) {
          out((b * seqLen + s) * channels + c) = x((b * channels + c) * seqLen + s)
          c += 1
        }
        s += 1
      }
      b += 1
    }
    out
  }
}

object CNNEncoder {
  /** [B,S,E] -> [B,E,S] */
  def transposeInto(input: Array[Float], batch: Int, seqLen: Int, embDim: Int,
                    out: Array[Float]): Unit = {
    var b = 0
    while (b < batch) {
      var s = 0
      while (s < seqLen) {
        var c = 0
        while (c < embDim) {
          out((b * embDim + c) * seqLen + s) = input((b * seqLen + s) * embDim + c)
          c += 1
        }
        s += 1
      }
      b += 1
    }
  }
}

/** Viterbi decode over transitions[T,T] (exec/model.py:148-186).
  * emissions [B,S,T]; mask [B,S] true = valid token. Ties: first argmax.
  */
final case class CRF(transitions: Array[Float], tags: Int) extends Serializable {
  // with all-zero transitions, cand(tp) = score(tp) + 0f for every target
  // tag, so the inner T×T loop collapses to one argmax over score — same
  // arithmetic (x + 0f), same first-index tie-breaks, T ops instead of T²
  @transient private lazy val zeroTransitions: Boolean = {
    var i = 0
    var z = true
    while (z && i < transitions.length) { z = transitions(i) == 0f; i += 1 }
    z
  }

  def decode(emissions: Array[Float], batch: Int, seqLen: Int,
             mask: Array[Boolean]): Array[Array[Int]] =
    decode(emissions, batch, seqLen, mask, new Workspace)

  def decode(emissions: Array[Float], batch: Int, seqLen: Int,
             mask: Array[Boolean], ws: Workspace): Array[Array[Int]] = {
    val T = tags
    val score = ws.f(WS.CRF_SCORE, batch * T)
    var b = 0
    while (b < batch) {
      System.arraycopy(emissions, (b * seqLen) * T, score, b * T, T)
      b += 1
    }
    // history[(step-1)*batch*T + b*T + tCur] = best previous tag
    val bt = batch * T
    val history = ws.i(WS.CRF_HIST, math.max(0, seqLen - 1) * bt)
    val cand = ws.f(WS.CRF_CAND, T)
    val newScore = ws.f(WS.CRF_NS, T)
    var index = 1
    while (index < seqLen) {
      val hOff = (index - 1) * bt
      b = 0
      while (b < batch) {
        val eOff = (b * seqLen + index) * T
        val sOff = b * T
        if (zeroTransitions) {
          // collapsed inner loop; arithmetic identical to the general path
          val bestPrev = Kernels.argmaxFirst(score, sOff, T)
          java.util.Arrays.fill(history, hOff + sOff, hOff + sOff + T, bestPrev)
          if (mask(b * seqLen + index)) {
            val base = score(sOff + bestPrev) + 0f
            var tc = 0
            while (tc < T) { score(sOff + tc) = base + emissions(eOff + tc); tc += 1 }
          }
        } else if (mask(b * seqLen + index)) {
          var tc = 0
          while (tc < T) {
            var tp = 0
            while (tp < T) { cand(tp) = score(sOff + tp) + transitions(tp * T + tc); tp += 1 }
            val bestPrev = Kernels.argmaxFirst(cand, 0, T)
            history(hOff + sOff + tc) = bestPrev
            newScore(tc) = cand(bestPrev) + emissions(eOff + tc)
            tc += 1
          }
          System.arraycopy(newScore, 0, score, sOff, T)
        } else {
          // history still records indexes (reference appends pre-where
          // indexes), but score keeps its value for masked steps
          var tc = 0
          while (tc < T) {
            var tp = 0
            while (tp < T) { cand(tp) = score(sOff + tp) + transitions(tp * T + tc); tp += 1 }
            history(hOff + sOff + tc) = Kernels.argmaxFirst(cand, 0, T)
            tc += 1
          }
        }
        b += 1
      }
      index += 1
    }
    val out = new Array[Array[Int]](batch)
    b = 0
    while (b < batch) {
      var size = 0
      var s = 0
      while (s < seqLen) { if (mask(b * seqLen + s)) size += 1; s += 1 }
      val n = math.max(size, 1)
      var best = Kernels.argmaxFirst(score, b * T, T)
      val tags0 = new Array[Int](n)
      tags0(n - 1) = best
      var h = size - 2
      while (h >= 0) {
        best = history(h * bt + b * T + best)
        tags0(h) = best
        h -= 1
      }
      out(b) = if (size == 0) Array.empty[Int] else tags0
      b += 1
    }
    out
  }
}

/** linear + relu (exec/model.py:352-361). */
final case class FF(proj: Linear) extends Serializable {
  def apply(input: Array[Float], rows: Int): Array[Float] = {
    val out = proj(input, rows)
    Kernels.relu(out)
    out
  }
  def into(input: Array[Float], rows: Int, out: Array[Float]): Unit = {
    proj.into(input, rows, out)
    Kernels.relu(out, rows * proj.outDim)
  }
}

/** Biaffine arc scorer (exec/model.py:388-412): scores[b,s,h] over
  * S+1 candidate heads (0 = root); decode = masked argmax with global-min
  * fill.
  */
final case class SyntaxHead(head: FF, tail: FF, root: Array[Float],
                            kernel: Array[Float], hidden: Int)
    extends Serializable {
  /** input [B,S,D] -> scores [B,S,S+1] */
  def apply(input: Array[Float], batch: Int, seqLen: Int, dim: Int): Array[Float] = {
    val out = new Array[Float](batch * seqLen * (seqLen + 1))
    into(input, batch, seqLen, dim, new Workspace, out)
    out
  }

  def into(input: Array[Float], batch: Int, seqLen: Int, dim: Int,
           ws: Workspace, out: Array[Float]): Unit = {
    val s1 = seqLen + 1
    val withRoot = ws.f(WS.SH_ROOT, batch * s1 * dim)
    SyntaxOps.appendRootInto(input, batch, seqLen, dim, root, withRoot)
    val h = ws.f(WS.SH_H, batch * s1 * hidden)
    head.into(withRoot, batch * s1, h) // [B,S+1,H]
    val t = ws.f(WS.SH_T, batch * s1 * hidden)
    tail.into(withRoot, batch * s1, t)
    // x = (h x kernel) x t^T -> [B,S+1,S+1], strip root row.
    // ONE whole-batch gemm instead of a copy + small gemm per item:
    // every output row's accumulation is independent and ordered
    // identically, so the batched call is bit-identical while paying the
    // gemm's fill/dispatch overhead once per batch, not per sentence.
    val hk = ws.f(WS.SH_HK, batch * s1 * hidden)
    Kernels.gemm(h, batch * s1, hidden, kernel, hidden, hk)
    var b = 0
    while (b < batch) {
      // scores[i,j] = hk[b,i,:] . t[b,j,:]
      var i = 1 // strip root row (output rows = tokens only)
      while (i < s1) {
        val oOff = (b * seqLen + (i - 1)) * s1
        val hkOff = (b * s1 + i) * hidden
        var j = 0
        while (j < s1) {
          val tOff = (b * s1 + j) * hidden
          var d = 0
          var acc = 0f
          while (d < hidden) { acc += hk(hkOff + d) * t(tOff + d); d += 1 }
          out(oOff + j) = acc
          j += 1
        }
        i += 1
      }
      b += 1
    }
  }

  /** Masked argmax decode (exec/model.py:397-403): valid (token i, head j)
    * pairs are the outer product of the root-augmented valid mask,
    * root-row-stripped; invalid filled with the global min.
    */
  def decode(pred: Array[Float], batch: Int, seqLen: Int,
             valid: Array[Boolean]): Array[Int] =
    decodeInto(pred, batch, seqLen, valid, new Array[Int](batch * seqLen))

  def decodeInto(pred: Array[Float], batch: Int, seqLen: Int,
                 valid: Array[Boolean], out: Array[Int]): Array[Int] = {
    val s1 = seqLen + 1
    val n = batch * seqLen * s1
    var mn = Float.MaxValue
    var i = 0
    while (i < n) { if (pred(i) < mn) mn = pred(i); i += 1 }
    var b = 0
    while (b < batch) {
      var s = 0
      while (s < seqLen) {
        val off = (b * seqLen + s) * s1
        val rowValid = valid(b * seqLen + s)
        var best = 0
        var bv = Float.NegativeInfinity
        var j = 0
        while (j < s1) {
          val colValid = j == 0 || valid(b * seqLen + (j - 1))
          val v = if (rowValid && colValid) pred(off + j) else mn
          if (v > bv) { bv = v; best = j }
          j += 1
        }
        out(b * seqLen + s) = best
        s += 1
      }
      b += 1
    }
    out
  }
}

/** Biaffine relation scorer conditioned on decoded heads
  * (exec/model.py:430-458). kernel [H, H*R].
  */
final case class SyntaxRel(head: FF, tail: FF, root: Array[Float],
                           kernel: Array[Float], hidden: Int, rels: Int)
    extends Serializable {
  @transient private lazy val kernelDense: Boolean = Kernels.denseWorthy(kernel)
  /** input [B,S,D], headIds [B,S] (0=root) -> scores [B,S,R] */
  def apply(input: Array[Float], batch: Int, seqLen: Int, dim: Int,
            headIds: Array[Int]): Array[Float] = {
    val out = new Array[Float](batch * seqLen * rels)
    into(input, batch, seqLen, dim, headIds, new Workspace, out)
    out
  }

  def into(input: Array[Float], batch: Int, seqLen: Int, dim: Int,
           headIds: Array[Int], ws: Workspace, out: Array[Float]): Unit = {
    val gathered = ws.f(WS.GATH, batch * seqLen * dim)
    SyntaxOps.gatherHeadInto(input, batch, seqLen, dim, root, headIds, gathered)
    val h = ws.f(WS.SH_H, batch * seqLen * hidden)
    head.into(gathered, batch * seqLen, h) // [B,S,H]
    val t = ws.f(WS.SH_T, batch * seqLen * hidden)
    tail.into(input, batch * seqLen, t)    // [B,S,H]
    // The h x kernel product is the biaffine-rel FLOPs king (H*H*R MACs
    // per token). Dense trained kernels take ONE whole-batch SIMD GEMM
    // (per-output-row independence makes batching exact; BLAS-order like
    // the reference's einsum); rigged sparse packs keep the old per-item
    // sequential gemm — there the hk tile is a few KB and stays L1-hot,
    // which measured faster than one batch-wide buffer.
    if (kernelDense) {
      val hk = ws.f(WS.SH_HK, batch * seqLen * hidden * rels)
      Kernels.gemmDense(h, batch * seqLen, hidden, kernel, hidden * rels, hk)
      var b = 0
      while (b < batch) {
        // out[s,r] = hk[b,s, r*hidden:(r+1)*hidden] . t[b,s,:]
        // NOTE kernel layout is [H, H*R]; numpy reshape of the product row
        // (len H*R) to [R,H] means rel r occupies columns [r*H, (r+1)*H)
        var s = 0
        while (s < seqLen) {
          val tOff = (b * seqLen + s) * hidden
          var r = 0
          while (r < rels) {
            var d = 0
            var acc = 0f
            val hkOff = (b * seqLen + s) * hidden * rels + r * hidden
            while (d < hidden) { acc += hk(hkOff + d) * t(tOff + d); d += 1 }
            out((b * seqLen + s) * rels + r) = acc
            r += 1
          }
          s += 1
        }
        b += 1
      }
    } else {
      val hk = ws.f(WS.SH_HK, seqLen * hidden * rels)
      val hBlock = ws.f(WS.SH_HB, seqLen * hidden)
      var b = 0
      while (b < batch) {
        System.arraycopy(h, b * seqLen * hidden, hBlock, 0, seqLen * hidden)
        Kernels.gemm(hBlock, seqLen, hidden, kernel, hidden * rels, hk)
        var s = 0
        while (s < seqLen) {
          val tOff = (b * seqLen + s) * hidden
          var r = 0
          while (r < rels) {
            var d = 0
            var acc = 0f
            val hkOff = s * hidden * rels + r * hidden
            while (d < hidden) { acc += hk(hkOff + d) * t(tOff + d); d += 1 }
            out((b * seqLen + s) * rels + r) = acc
            r += 1
          }
          s += 1
        }
        b += 1
      }
    }
  }

  /** Masked argmax over rels with global-min fill (exec/model.py:439-445). */
  def decode(pred: Array[Float], batch: Int, seqLen: Int,
             valid: Array[Boolean]): Array[Int] =
    decodeInto(pred, batch, seqLen, valid, new Array[Int](batch * seqLen))

  def decodeInto(pred: Array[Float], batch: Int, seqLen: Int,
                 valid: Array[Boolean], out: Array[Int]): Array[Int] = {
    val n = batch * seqLen * rels
    var mn = Float.MaxValue
    var i = 0
    while (i < n) { if (pred(i) < mn) mn = pred(i); i += 1 }
    var p = 0
    while (p < batch * seqLen) {
      if (valid(p)) out(p) = Kernels.argmaxFirst(pred, p * rels, rels)
      else {
        // whole row filled with mn -> argmax = 0
        out(p) = 0
      }
      p += 1
    }
    out
  }
}

object SyntaxOps {
  /** Prepend learned ROOT vector (exec/model.py:364-371): [B,S,D] -> [B,S+1,D]. */
  def appendRoot(input: Array[Float], batch: Int, seqLen: Int, dim: Int,
                 root: Array[Float]): Array[Float] = {
    val out = new Array[Float](batch * (seqLen + 1) * dim)
    appendRootInto(input, batch, seqLen, dim, root, out)
    out
  }

  def appendRootInto(input: Array[Float], batch: Int, seqLen: Int, dim: Int,
                     root: Array[Float], out: Array[Float]): Unit = {
    val s1 = seqLen + 1
    var b = 0
    while (b < batch) {
      System.arraycopy(root, 0, out, b * s1 * dim, dim)
      System.arraycopy(input, b * seqLen * dim, out, (b * s1 + 1) * dim, seqLen * dim)
      b += 1
    }
  }

  /** Select per-token predicted-head vectors (exec/model.py:415-427). */
  def gatherHead(input: Array[Float], batch: Int, seqLen: Int, dim: Int,
                 root: Array[Float], headIds: Array[Int]): Array[Float] = {
    val out = new Array[Float](batch * seqLen * dim)
    gatherHeadInto(input, batch, seqLen, dim, root, headIds, out)
    out
  }

  def gatherHeadInto(input: Array[Float], batch: Int, seqLen: Int, dim: Int,
                     root: Array[Float], headIds: Array[Int],
                     out: Array[Float]): Unit = {
    var b = 0
    while (b < batch) {
      var s = 0
      while (s < seqLen) {
        val hid = headIds(b * seqLen + s) // 0 = root, 1..S = token index+1
        if (hid == 0)
          System.arraycopy(root, 0, out, (b * seqLen + s) * dim, dim)
        else
          System.arraycopy(input, (b * seqLen + (hid - 1)) * dim, out,
            (b * seqLen + s) * dim, dim)
        s += 1
      }
      b += 1
    }
  }
}
