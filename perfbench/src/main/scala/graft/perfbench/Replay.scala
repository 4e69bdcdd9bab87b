package graft.perfbench

import graft.kernel.{CNNEncoder, Kernels, WS, Workspace}
import graft.nlp.{ParsedSent, Pipeline, SentRow}
import graft.pack.ModelPack
import graft.sources.InterleavedDoc
import graft.text._
import scala.collection.mutable.ArrayBuffer

/** Single-threaded, instrumented replay of the fused NLP stage on a
  * sample: the exact call sequence of `Pipeline.parse` (length-sorted
  * window, 64-row batches) and of `Pipeline.inferBatch` /
  * `inferTokenized` / the oversize chunk path inside it, with a clock
  * around each layer call. `Workloads.replayLayers` checks the replay's
  * output against `Pipeline.inferBatch` itself, so the layer numbers
  * describe the production program.
  *
  * The tokenize, encode, markup and oversize re-join code below is a
  * verbatim copy of `Pipeline.inferBatch`, `inferOversize` and
  * `inferTokenized` (graft/nlp/Pipeline.scala), while loops included, so
  * `text.tokenize_s`, `nlp.encode_s` and `nlp.markup_s` time the program's
  * own loop code. Keep it in step with Pipeline.scala: a change to those
  * loops there must be copied here, or the layer figures go stale (the
  * parity check catches changed output, not changed loop code).
  */
final class Replay(pack: ModelPack) {
  // nanos per layer
  var sentenizeNs, tokenizeNs, encodeNs, embedNs, nerNs, crfNs, morphNs, syntaxNs,
      markupNs, extractNs = 0L
  // counters
  var sentences, tokens, cells, padCells, oovTokens, oversizeRows = 0L
  var flop = 0.0
  private val ws = new Workspace

  private def clock[A](add: Long => Unit)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f; add(System.nanoTime() - t0); r
  }

  /** `Docs.sentences` for a doc list. */
  def sentenize(docs: Seq[InterleavedDoc]): Seq[SentRow] = clock(sentenizeNs += _) {
    val out = new ArrayBuffer[SentRow]()
    for (d <- docs; (s, order) <- d.spans.zipWithIndex if s.kind == "text" && s.text != null) {
      Tokenizer.sentenize(s.text).zipWithIndex.foreach { case (sent, i) =>
        out += SentRow(d.doc_id, order, i, sent.start, sent.stop, sent.text)
      }
    }
    sentences += out.length
    out.toSeq
  }

  /** `Pipeline.parse`'s batching: stable sort of each 4096-row window by
    * text length, then 64-row batches.
    */
  def batchesOf(rows: Seq[SentRow], batchSize: Int = 64, window: Int = 4096): Seq[Seq[SentRow]] =
    rows.grouped(window).toSeq.flatMap(w => w.sortBy(_.text.length).grouped(batchSize).toSeq)

  /** Instrumented `Pipeline.inferBatch`. */
  def inferBatch(batch: Seq[SentRow], maxSeqLen: Int = Pipeline.DefaultMaxSeqLen): Seq[ParsedSent] = {
    val toks: Array[Array[Token]] =
      clock(tokenizeNs += _)(batch.iterator.map(r => Tokenizer.tokenize(r.text)).toArray)
    toks.foreach(t => tokens += t.length)
    var oversize = false
    var i = 0
    while (i < toks.length && !oversize) { oversize = toks(i).length > maxSeqLen; i += 1 }
    if (!oversize) return inferTokenized(batch, toks)
    val out = new Array[ParsedSent](batch.length)
    val normIdx = toks.indices.filter(j => toks(j).length <= maxSeqLen)
    if (normIdx.nonEmpty) {
      val sub = inferTokenized(normIdx.map(batch), normIdx.map(toks).toArray)
      var k = 0
      while (k < normIdx.length) { out(normIdx(k)) = sub(k); k += 1 }
    }
    for (j <- toks.indices if toks(j).length > maxSeqLen) {
      oversizeRows += 1
      out(j) = inferOversize(batch(j), toks(j), maxSeqLen)
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  private def inferOversize(row: SentRow, ts: Array[Token], maxSeqLen: Int): ParsedSent = {
    val chunks = ts.grouped(maxSeqLen).toArray
    val chunkBatch = math.max(1, 8192 / maxSeqLen)
    val parts = chunks.grouped(chunkBatch).flatMap { grp =>
      inferTokenized(grp.toSeq.map(_ => row), grp)
    }.toArray
    clock(markupNs += _) {
      val spans = new ArrayBuffer[Span]()
      val morph = new Array[MorphTok](ts.length)
      val syn = new Array[SynTok](ts.length)
      var off = 0
      for (p <- parts) {
        spans ++= p.nerSpans
        val m = p.syn.length
        var i = 0
        while (i < m) {
          morph(off + i) = p.morph(i)
          val s = p.syn(i)
          syn(off + i) = SynTok(off + i + 1, s.text,
            if (s.headId == 0) 0 else off + s.headId, s.rel)
          i += 1
        }
        off += m
      }
      ParsedSent(row.docId, row.spanOrder, row.sentIdx, row.text,
        ts, spans.toArray, morph, syn)
    }
  }

  private def inferTokenized(batch: Seq[SentRow], toks: Array[Array[Token]]): Seq[ParsedSent] = {
    val n = batch.length
    val seqLen = math.max(1, toks.iterator.map(_.length).max)
    val ns = n * seqLen
    val wordIds = ws.i(WS.WORD_IDS, ns)
    val shapeIds = ws.i(WS.SHAPE_IDS, ns)
    val padMask = ws.b(WS.PAD_MASK, ns)
    val valid = ws.b(WS.VALID, ns)
    val wv = pack.wordVocab
    clock(encodeNs += _) {
      val shapeByOrd = pack.shapeIdByOrdinal
      java.util.Arrays.fill(wordIds, 0, ns, wv.padId)
      java.util.Arrays.fill(shapeIds, 0, ns, pack.shapeVocab.padId)
      var b = 0
      while (b < n) {
        val ts = toks(b)
        var s = 0
        while (s < seqLen) {
          val p = b * seqLen + s
          if (s < ts.length) {
            val w = ts(s).text
            wordIds(p) = wv.encodeLower(w)
            shapeIds(p) = shapeByOrd(Shape.shapeOrdinal(w))
            padMask(p) = false; valid(p) = true
          } else { padMask(p) = true; valid(p) = false }
          s += 1
        }
        b += 1
      }
    }
    var b0 = 0
    while (b0 < n) {
      var s = 0
      while (s < toks(b0).length) { if (wordIds(b0 * seqLen + s) == wv.unkId) oovTokens += 1; s += 1 }
      b0 += 1
    }
    cells += ns
    padCells += ns - toks.iterator.map(_.length.toLong).sum
    flop += Replay.flopPerCell(pack, seqLen) * ns

    def embT(emb: graft.kernel.WordShapeEmbedding): Array[Float] = clock(embedNs += _) {
      val embOut = ws.f(WS.EMB, ns * emb.dim)
      emb.into(wordIds, shapeIds, ns, embOut)
      val xT = ws.f(WS.XT, ns * emb.dim)
      CNNEncoder.transposeInto(embOut, n, seqLen, emb.dim, xT)
      xT
    }
    val sharedXT = if (pack.sharedEmb) embT(pack.ner.emb) else null
    val nerXT = if (sharedXT != null) sharedXT else embT(pack.ner.emb)
    val emissions = clock(nerNs += _)(pack.ner.forwardT(nerXT, n, seqLen, padMask, ws))
    val nerPaths = clock(crfNs += _)(pack.ner.crf.decode(emissions, n, seqLen, valid, ws))
    val morphXT = if (sharedXT != null) sharedXT else embT(pack.morph.emb)
    val morphLogits = clock(morphNs += _)(pack.morph.forwardT(morphXT, n, seqLen, padMask, ws))
    val synXT = if (sharedXT != null) sharedXT else embT(pack.syntax.emb)
    val (headIds, relIds) = clock(syntaxNs += _)(
      pack.syntax.forwardT(synXT, n, seqLen, padMask, valid, ws))

    clock(markupNs += _) {
      val out = new ArrayBuffer[ParsedSent](n)
      var b = 0
      while (b < n) {
        val row = batch(b)
        val ts = toks(b)
        val m = ts.length
        val spans = Bio.bioSpansIds(ts, nerPaths(b), m, pack.nerParts, pack.nerTypes)
        val morph = new Array[MorphTok](m)
        var i = 0
        while (i < m) {
          val tagId = Kernels.argmaxFirst(
            morphLogits, (b * seqLen + i) * pack.morphTags.size, pack.morphTags.size)
          val (pos, feats) = pack.morphParsed(tagId)
          morph(i) = MorphTok(ts(i).text, pos, feats)
          i += 1
        }
        val syn = new Array[SynTok](m)
        i = 0
        while (i < m) {
          syn(i) = SynTok(i + 1, ts(i).text, headIds(b * seqLen + i),
            pack.rels.decode(relIds(b * seqLen + i)))
          i += 1
        }
        out += ParsedSent(row.docId, row.spanOrder, row.sentIdx, row.text,
          ts, spans, morph, syn)
        b += 1
      }
      out.toSeq
    }
  }

  def extract(ps: Seq[ParsedSent]): Seq[graft.kg.Triple] =
    clock(extractNs += _)(ps.flatMap(graft.kg.Kg.extract))

  def layerMetrics: Map[String, Double] = {
    val trunkS = (embedNs + nerNs + morphNs + syntaxNs + crfNs) / 1e9
    Map(
      "text.sentenize_s" -> sentenizeNs / 1e9, "text.tokenize_s" -> tokenizeNs / 1e9,
      "nlp.encode_s" -> encodeNs / 1e9, "nlp.markup_s" -> markupNs / 1e9,
      "kernel.embed_s" -> embedNs / 1e9, "kernel.ner_trunk_s" -> nerNs / 1e9,
      "kernel.morph_trunk_s" -> morphNs / 1e9, "kernel.syntax_trunk_s" -> syntaxNs / 1e9,
      "kernel.crf_s" -> crfNs / 1e9, "kg.extract_s" -> extractNs / 1e9,
      "text.sentences" -> sentences.toDouble, "text.tokens" -> tokens.toDouble,
      "nlp.pad_frac" -> (if (cells == 0) 0.0 else padCells.toDouble / cells),
      "nlp.oov_frac" -> (if (tokens == 0) 0.0 else oovTokens.toDouble / tokens),
      "nlp.oversize_rows" -> oversizeRows.toDouble,
      "kernel.gflop" -> flop / 1e9,
      "kernel.gflops_per_s" -> (if (trunkS > 0) flop / 1e9 / trunkS else 0.0))
  }
}

object Replay {

  /** Canonical text of one parsed sentence: every output field, so two
    * renderings are equal iff the annotations are identical.
    */
  def render(p: ParsedSent): String = {
    val sb = new StringBuilder
    sb ++= s"${p.docId}|${p.spanOrder}|${p.sentIdx}|${p.text}"
    p.tokens.foreach(t => sb ++= s"|t${t.start},${t.stop},${t.text}")
    p.nerSpans.foreach(s => sb ++= s"|n${s.start},${s.stop},${s.tpe}")
    p.morph.foreach(m => sb ++= s"|m${m.text},${m.pos},${m.feats.toSeq.sorted.mkString(";")}")
    p.syn.foreach(s => sb ++= s"|s${s.id},${s.text},${s.headId},${s.rel}")
    sb.toString
  }

  /** Analytic multiply-add count of the three dense trunks per padded
    * cell (batch x seqLen position), x2 for FLOPs: conv layers (in x k x
    * out each), the NER/morph projections, the syntax FF heads and the
    * biaffine arc (hidden^2 + hidden x (S+1)) and relation
    * (R x (hidden^2 + hidden)) scores. Toy packs run the sparse-tap path,
    * so this is the dense-equivalent work.
    */
  def flopPerCell(pack: ModelPack, seqLen: Int): Double = {
    def conv(e: CNNEncoder): Double =
      e.layers.map(l => l.conv.inDim.toDouble * l.conv.kernel * l.conv.filters).sum
    val enc = pack.syntax.encoder.outDim.toDouble
    val hidden = pack.syntax.head.hidden.toDouble
    val rels = pack.syntax.rel.rels.toDouble
    val macs = conv(pack.ner.encoder) + conv(pack.morph.encoder) + conv(pack.syntax.encoder) +
      enc * pack.nerTags.size + enc * pack.morphTags.size +
      4 * enc * hidden +
      hidden * hidden + hidden * (seqLen + 1) +
      rels * (hidden * hidden + hidden)
    2 * macs
  }
}
