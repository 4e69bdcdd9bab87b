package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel._

/** Kernel parity: closed-form checks + brute-force references
  * (semantics per slovnet/exec/model.py).
  */
class KernelSpec extends AnyFunSuite {

  test("Linear: x·W + b") {
    // 2x3 input, W 3x2, b 2
    val lin = Linear(Array(1f, 0f, 0f, 1f, 1f, 1f), 3, 2, Array(10f, 20f))
    val out = lin(Array(1f, 2f, 3f, 4f, 5f, 6f), 2)
    // row0: [1+3, 2+3]+b ; row1: [4+6, 5+6]+b
    assert(out.toSeq == Seq(14f, 25f, 20f, 31f))
  }

  test("Conv1d: kernel-3 same-pad conv vs hand computation") {
    // 1 batch, 1 in-channel, seq 4, 1 filter, weight [1,1,1] bias 0
    val conv = Conv1d(Array(1f, 1f, 1f), 1, 1, 3, Array(0f), 1)
    val out = conv(Array(1f, 2f, 3f, 4f), 1, 4)
    assert(out.toSeq == Seq(3f, 6f, 9f, 7f)) // [0+1+2, 1+2+3, 2+3+4, 3+4+0]
  }

  test("Conv1d multi-channel center tap = identity passthrough") {
    // 2 in, 2 filters: f0 <- in1 center, f1 <- in0 center
    val w = new Array[Float](2 * 2 * 3)
    w((0 * 2 + 1) * 3 + 1) = 1f
    w((1 * 2 + 0) * 3 + 1) = 1f
    val conv = Conv1d(w, 2, 2, 3, Array(0f, 0f), 1)
    val in = Array(1f, 2f, 3f, /*ch1*/ 4f, 5f, 6f) // [B=1,C=2,S=3]
    assert(conv(in, 1, 3).toSeq == Seq(4f, 5f, 6f, 1f, 2f, 3f))
  }

  test("BatchNorm1d per-channel affine") {
    val bn = BatchNorm1d(Array(2f), Array(1f), Array(3f), Array(2f))
    val x = Array(5f, 7f) // (x-3)/2*2+1 = x-2
    bn.applyInPlace(x, 1, 1, 2)
    assert(x.toSeq == Seq(3f, 5f))
  }

  test("CRF Viterbi equals brute-force best path (with transitions)") {
    val rnd = new scala.util.Random(7)
    val T = 4
    for (trial <- 0 until 30) {
      val seqLen = 1 + rnd.nextInt(5)
      val trans = Array.fill(T * T)(rnd.nextFloat() * 2 - 1)
      val emis = Array.fill(seqLen * T)(rnd.nextFloat() * 2 - 1)
      val mask = Array.fill(seqLen)(true)
      val crf = CRF(trans, T)
      val got = crf.decode(emis, 1, seqLen, mask)(0).toSeq
      // brute force over all T^seqLen paths
      def score(path: Seq[Int]): Float = {
        var s = emis(path.head)
        for (i <- 1 until path.length)
          s += trans(path(i - 1) * T + path(i)) + emis(i * T + path(i))
        s
      }
      val all = Seq.fill(seqLen)(0 until T).foldLeft(Seq(Seq.empty[Int])) {
        (acc, r) => acc.flatMap(p => r.map(p :+ _))
      }
      val best = all.maxBy(score)
      assert(math.abs(score(got) - score(best)) < 1e-4, s"trial=$trial")
    }
  }

  test("CRF respects mask: tags only for valid prefix") {
    val T = 3
    val crf = CRF(new Array[Float](T * T), T)
    val emis = Array(
      0f, 1f, 0f, // -> 1
      2f, 0f, 0f, // -> 0
      0f, 0f, 9f) // masked
    val mask = Array(true, true, false)
    val got = crf.decode(emis, 1, 3, mask)(0).toSeq
    assert(got == Seq(1, 0))
  }

  test("NavecEmbedding: PQ gather reconstructs planted codes") {
    val indexes = Array[Byte](3, 0, 1, 7) // one word, qdim 4
    val codes = new Array[Float](4 * 8 * 3)
    for (q <- 0 until 4; c <- 0 until 8; k <- 0 until 3)
      codes((q * 8 + c) * 3 + k) = ((c >> k) & 1).toFloat
    val nav = NavecEmbedding(indexes, 4, codes, 8, 3)
    val out = new Array[Float](12)
    nav.lookup(0, out, 0)
    assert(out.toSeq == Seq(1f, 1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f, 1f, 1f, 1f))
  }

  test("Conv1d tap path equals naive conv bit for bit (dense and sparse weights)") {
    val rnd = new java.util.Random(3)
    val (bN, fN, cN, kN, sN) = (2, 5, 7, 3, 9)
    def naive(w: Array[Float], bias: Array[Float], in: Array[Float]): Array[Float] = {
      val out = new Array[Float](bN * fN * sN)
      for (b <- 0 until bN; f <- 0 until fN; s <- 0 until sN) {
        var acc = 0f // channel-major, tap-minor accumulation (im2col order)
        for (c <- 0 until cN; t <- 0 until kN) {
          val si = s + t - 1
          if (si >= 0 && si < sN) acc += w((f * cN + c) * kN + t) * in((b * cN + c) * sN + si)
        }
        out((b * fN + f) * sN + s) = acc + bias(f)
      }
      out
    }
    val in = Array.fill(bN * cN * sN)(rnd.nextFloat() * 2 - 1)
    val bias = Array.fill(fN)(rnd.nextFloat())
    // Conv1d.into is the tap path at every density (dense trunks run
    // through Kernels.convRows inside CNNEncoder instead): sequential
    // mul-then-add, so it equals the naive sum exactly on dense weights too
    val wDense = Array.fill(fN * cN * kN)(rnd.nextFloat() * 2 - 1)
    assert(Conv1d(wDense, fN, cN, kN, bias, 1)(in, bN, sN).toSeq == naive(wDense, bias, in).toSeq)
    // sparse: ~85% zeros, zero taps skipped
    val wSparse = wDense.map(v => if (rnd.nextFloat() < 0.85f) 0f else v)
    assert(Conv1d(wSparse, fN, cN, kN, bias, 1)(in, bN, sN).toSeq ==
      naive(wSparse, bias, in).toSeq)
  }

  /** Dense random trunk: every weight nonzero, so CNNEncoder takes the
    * implicit-im2col path; norm with non-trivial mean/scale/shift. */
  private def denseTrunk(rnd: java.util.Random, embDim: Int, dims: Seq[Int]): CNNEncoder = {
    def arr(n: Int, lo: Float, hi: Float) = Array.fill(n)(lo + rnd.nextFloat() * (hi - lo))
    var in = embDim
    CNNEncoder(dims.map { f =>
      val conv = Conv1d(arr(f * in * 3, -0.5f, 0.5f).map(v => if (v == 0f) 0.25f else v),
        f, in, 3, arr(f, -0.3f, 0.3f), 1)
      val norm = BatchNorm1d(arr(f, 0.5f, 1.5f), arr(f, -0.2f, 0.2f), arr(f, -0.3f, 0.3f),
        arr(f, 0.5f, 2f))
      in = f
      CNNEncoderLayer(conv, norm)
    })
  }

  /** The explicit chain the dense trunk replaces: per layer an im2col
    * [B*S, C*K] copy (zeros past the sentence edges), Kernels.gemmDense
    * against the transposed weight, + bias, reluNormInPlace on [B,F,S],
    * then PAD rows zeroed. x [B,S,E] -> [B,S,outDim]. */
  private def refDenseTrunk(enc: CNNEncoder, x: Array[Float], bN: Int, sN: Int,
                            eN: Int, mask: Array[Boolean]): Array[Float] = {
    var cur = x
    var c = eN
    for (layer <- enc.layers) {
      val conv = layer.conv
      val (f, k, pad) = (conv.filters, conv.kernel, conv.padding)
      val ck = c * k
      val col = new Array[Float](bN * sN * ck)
      for (b <- 0 until bN; s <- 0 until sN; ch <- 0 until c; t <- 0 until k) {
        val si = s + t - pad
        col((b * sN + s) * ck + ch * k + t) =
          if (si >= 0 && si < sN) cur((b * sN + si) * c + ch) else 0f
      }
      val wT = new Array[Float](ck * f)
      for (j <- 0 until f; p <- 0 until ck) wT(p * f + j) = conv.weight(j * ck + p)
      val prod = new Array[Float](bN * sN * f)
      Kernels.gemmDense(col, bN * sN, ck, wT, f, prod)
      val y = new Array[Float](bN * f * sN)
      for (b <- 0 until bN; s <- 0 until sN; j <- 0 until f)
        y((b * f + j) * sN + s) = prod((b * sN + s) * f + j) + conv.bias(j)
      layer.norm.reluNormInPlace(y, bN, f, sN)
      val next = new Array[Float](bN * sN * f)
      for (b <- 0 until bN; s <- 0 until sN; j <- 0 until f)
        next((b * sN + s) * f + j) = if (mask(b * sN + s)) 0f else y((b * f + j) * sN + s)
      cur = next
      c = f
    }
    cur
  }

  test("dense CNN trunk (implicit im2col) is bitwise equal to im2col + gemmDense + reluNorm + mask") {
    val rnd = new java.util.Random(21)
    // F covers a lone vector (16), one 4-vector tile (64), a scalar column
    // tail (65), four tiles (256) and tile + vector + scalar tails (83)
    val trunks = Seq((37, Seq(65, 16)), (24, Seq(256, 64)), (19, Seq(83, 16, 65)))
    // (B, S, sentence lengths; -1 marks a masked middle position)
    val batches = Seq(
      (1, 1, Seq(Seq(1))),                       // S=1, B=1
      (1, 2, Seq(Seq(1, 1))),                    // S=2, B=1
      (3, 2, Seq(Seq(1, 0), Seq(0, 0), Seq(1, 1))), // fully padded sentence
      (2, 7, Seq(Seq(1, 1, 1, 0, 1, 1, 0), Seq(1, 1, 1, 1, 1, 0, 0))), // 9 rows, masked middle
      (5, 9, Seq.fill(5)(Seq.empty[Int])))       // random lengths
    for ((eN, dims) <- trunks) {
      val enc = denseTrunk(rnd, eN, dims)
      val ws = new Workspace // reused: stale rows from a bigger batch must not leak
      for ((bN, sN, spec) <- batches.reverse ++ batches) {
        val mask = new Array[Boolean](bN * sN)
        for (b <- 0 until bN) {
          val len = 1 + rnd.nextInt(sN)
          for (s <- 0 until sN)
            mask(b * sN + s) = if (spec(b).nonEmpty) spec(b)(s) == 0 else s >= len
        }
        // PAD tokens carry nonzero embeddings: layer 1 reads them as window
        // neighbours before any masking, exactly as the im2col chain does
        val x = Array.fill(bN * sN * eN)(rnd.nextFloat() * 2 - 1)
        val want = refDenseTrunk(enc, x, bN, sN, eN, mask)
        val xT = new Array[Float](bN * eN * sN)
        CNNEncoder.transposeInto(x, bN, sN, eN, xT)
        val got = java.util.Arrays.copyOf(
          enc.forwardT(xT, bN, sN, eN, mask, ws), bN * sN * enc.outDim)
        assert(java.util.Arrays.equals(got, want), s"E=$eN F=$dims B=$bN S=$sN")
        assert(java.util.Arrays.equals(enc(x, bN, sN, eN, mask), want))
      }
    }
  }

  test("SIMD implicit-im2col conv is bit-identical to its scalar twin") {
    assert(Kernels.simdAvailable, "vector module missing in test JVM")
    val rnd = new java.util.Random(13)
    def arr(n: Int) = Array.fill(n)(rnd.nextFloat() * 2 - 1)
    for (c <- Seq(5, 33, 330); n <- Seq(3, 16, 64, 65, 83, 256); nRows <- Seq(1, 2, 3, 4, 7, 13)) {
      val layer = CNNEncoderLayer(Conv1d(arr(n * c * 3), n, c, 3, arr(n), 1),
        BatchNorm1d(arr(n), arr(n), arr(n), arr(n).map(v => 1.5f + v)))
      val xRows = nRows + 6
      val x = arr(xRows * c)
      // arbitrary (non-contiguous) centre rows, written in reverse order
      val rows = Array.tabulate(nRows)(i => 1 + (i * 5) % (xRows - 2))
      val oRows = Array.tabulate(nRows)(i => nRows - 1 - i)
      val o1 = Array.fill((nRows + 1) * n)(Float.NaN)
      val o2 = Array.fill((nRows + 1) * n)(Float.NaN)
      VectorGemm.convRows(layer, x, rows, nRows, o1, oRows)
      Kernels.convRowsScalar(layer, x, rows, nRows, o2, oRows)
      assert(java.util.Arrays.equals(o1, o2), s"mismatch at c=$c n=$n rows=$nRows")
      assert(o2.take(nRows * n).forall(v => !v.isNaN)) // every real row written
    }
  }

  test("SIMD gemmDense is bit-identical to the scalar kernel (all tail shapes)") {
    assert(Kernels.simdAvailable, "vector module missing in test JVM")
    val rnd = new java.util.Random(11)
    // shapes hit: 4-vector tiles, 1-vector tiles, scalar column tails,
    // odd final row, k%4 remainders, tiny-n
    for ((m, k, n) <- Seq((5, 7, 3), (2, 990, 256), (3, 768, 128), (7, 33, 65),
                          (1, 5, 17), (4, 384, 64), (9, 13, 100), (2, 4, 130),
                          (6, 50, 96), (8, 990, 256), (5, 7, 40))) {
      val a = Array.fill(m * k)(rnd.nextFloat() * 2 - 1)
      val b = Array.fill(k * n)(rnd.nextFloat() * 2 - 1)
      val o1 = new Array[Float](m * n)
      val o2 = Array.fill(m * n)(Float.NaN) // scalar path must overwrite all
      VectorGemm.gemmDense(a, m, k, b, n, o1)
      Kernels.gemmDenseScalar(a, m, k, b, n, o2)
      assert(java.util.Arrays.equals(o1, o2), s"mismatch at m=$m k=$k n=$n")
    }
  }

  test("reference-dims pack: golden checksum + batch invariance") {
    // production dims (250K x 100q navec, [256,128,64] CNN) shrunk only in
    // vocab (2k) to keep the test fast — all tensor shapes that matter for
    // kernel correctness (qdim, centroids, conv dims, hidden) are real
    val dims = graft.pack.SynthPack.Dims(vocab = 2000)
    val pack = graft.pack.SynthPack.buildRandom(dims)
    assert(pack.ner.emb.dim == 330 && pack.ner.encoder.outDim == 64)
    import graft.nlp.{Pipeline, SentRow}
    val texts = Seq(
      "w000017 w000420 w001999 w000001.",
      "Иван Петров купил завод в Москве.", // all-UNK words
      "w000100 w000200 w000300 w000400 w000500 w000600 w000700.")
    val rows = texts.zipWithIndex.map { case (t, i) => SentRow(s"d$i", 0, 0, 0, t.length, t) }
    val batched = Pipeline.inferBatch(rows, pack)
    val singles = rows.flatMap(r => Pipeline.inferBatch(Seq(r), pack))
    def sig(ps: Seq[graft.nlp.ParsedSent]) =
      ps.map(p => (p.nerSpans.toSeq, p.morph.map(m => (m.text, m.pos)).toSeq,
        p.syn.map(t => (t.id, t.headId, t.rel)).toSeq))
    assert(sig(batched) == sig(singles)) // padding/batch invariance at prod dims
    // pinned golden: decoded outputs are a pure function of the seed
    val golden = batched.map(p =>
      (p.syn.map(t => t.headId).sum, p.syn.map(_.rel).mkString(","),
        p.morph.map(_.pos).mkString(","))).toList
    assert(golden == List(
      (58, "rel6,rel19,rel19,rel19,rel19,rel19,rel19,rel19,rel19",
        "P0,P0,P55,P39,P55,P0,P0,P50,P6"),
      (37, "rel6,rel19,rel19,rel19,rel19,rel19,rel19", "P0,P0,P18,P16,P0,P0,P6"),
      (184, "rel6,rel19,rel19,rel19,rel19,rel19,rel19,rel19,rel19,rel19," +
        "rel19,rel19,rel19,rel19,rel19",
        "P0,P0,P55,P39,P55,P39,P55,P39,P55,P39,P55,P0,P0,P50,P6")),
      s"got $golden")
  }

  test("SyntaxHead/SyntaxRel rigged pack semantics on one sentence") {
    val pack = graft.pack.SynthPack.build()
    val sent = "Иван Петров купил завод в Москве."
    val toks = graft.text.Tokenizer.tokenize(sent)
    val wv = pack.wordVocab; val sv = pack.shapeVocab
    val n = toks.length
    val wids = toks.map(t => wv.encode(t.text.toLowerCase(java.util.Locale.ROOT)))
    val sids = toks.map(t => sv.encode(graft.text.Shape.wordShape(t.text)))
    val padMask = Array.fill(n)(false)
    val (heads, rels) = pack.syntax.forward(wids, sids, 1, n, padMask)
    // words: Иван Петров купил завод в Москве .  (verb at index 2 -> id 3)
    // TREE attachments (round 2): flat:name Петров -> Иван (1), case в ->
    // its obl head Москве (6); everything else -> the verb
    assert(heads.toSeq == Seq(3, 1, 0, 3, 6, 3, 3))
    assert(rels.map(pack.rels.decode).toSeq ==
      Seq("nsubj", "flat:name", "root", "obj", "case", "obl", "punct"))
  }

  test("NER + morph rigged decode on one sentence") {
    val pack = graft.pack.SynthPack.build()
    val sent = "« Газпром » купил завод ."
    val words = sent.split(" ")
    val wids = words.map(w => pack.wordVocab.encode(w.toLowerCase))
    val sids = words.map(w => pack.shapeVocab.encode(graft.text.Shape.wordShape(w)))
    val n = words.length
    val padMask = Array.fill(n)(false)
    val em = pack.ner.forward(wids, sids, 1, n, padMask)
    val tags = pack.ner.crf.decode(em, 1, n, padMask.map(!_))(0).map(pack.nerTags.decode)
    assert(tags.toSeq == Seq("O", "B-ORG", "O", "O", "O", "O"))
    val ml = pack.morph.forward(wids, sids, 1, n, padMask)
    val morphs = (0 until n).map(i =>
      pack.morphTags.decode(Kernels.argmaxFirst(ml, i * pack.morphTags.size, pack.morphTags.size)))
    assert(morphs == Seq("PUNCT", "PROPN|Case=Nom", "PUNCT",
      "VERB|Gender=Masc|Number=Sing|Tense=Past",
      "NOUN|Case=Acc|Gender=Masc|Number=Sing", "PUNCT"))
  }

  test("batch composition does not change per-sentence results (padding invariance)") {
    val pack = graft.pack.SynthPack.build()
    import graft.nlp.{Pipeline, SentRow}
    val sents = Seq(
      "Иван Петров купил завод.",
      "«Газпром» открыл филиал.",
      "Мария Смирнов посетил музей в Казани.")
      .zipWithIndex.map { case (t, i) => SentRow(s"d$i", 0, 0, 0, t.length, t) }
    val together = Pipeline.inferBatch(sents, pack)
    val separate = sents.flatMap(s => Pipeline.inferBatch(Seq(s), pack))
    assert(together.map(p => (p.docId, p.nerSpans.toSeq, p.morph.toSeq, p.syn.toSeq)) ==
      separate.map(p => (p.docId, p.nerSpans.toSeq, p.morph.toSeq, p.syn.toSeq)))
  }
}
