package graft.perfbench

import graft.corpus.RuCorpus
import graft.kg.Triple
import graft.pack.{ModelPack, SynthPack, Vocab}
import graft.sources.{InterleavedDoc, SpanT}

/** Seeded benchmark inputs. Every function is pure in its arguments, so
  * the same seed always yields the same documents, packs and expected
  * outputs.
  */
object Inputs {

  /** First doc id of a seed's planted-corpus range: disjoint 2^24-id
    * windows, so different seeds read different documents.
    */
  def toyBase(seed: Long): Long = (RuCorpus.mix(seed) >>> 40) << 24

  def toyDoc(id: Long): InterleavedDoc = {
    val sp = RuCorpus.docSpans(id)
    InterleavedDoc(s"d$id", sp.map(s => SpanT(s.kind, s.text, s.media_ref, s.offset)).toArray)
  }

  /** Planted triples of one doc, keyed the way `Kg.triples` emits them:
    * each text span of the planted corpus is exactly one sentence.
    */
  def goldenTriples(id: Long): Seq[Triple] = {
    val spans = RuCorpus.docSpans(id)
    var textIdx = 0
    spans.zipWithIndex.flatMap { case (s, order) =>
      if (s.kind != "text") Nil
      else {
        val g = RuCorpus.goldenTriples(id, textIdx)
        textIdx += 1
        g.map(t => Triple(s"d$id", order, 0, t.subj, t.subjType, t.pred, t.obj, t.objType))
      }
    }
  }

  // ---- production-dims text -------------------------------------------

  private val Cons = "бвгджзклмнпрстфхцчшщ"
  private val Vows = "аеиоуыэюя"
  private val Syll = for (c <- Cons; v <- Vows) yield s"$c$v" // 180 syllables

  /** Cyrillic pseudo-word for a vocabulary rank: two syllables for the
    * 32,400 most frequent ranks, three beyond (injective: the lengths
    * differ). The tokenizer keeps each as one token, unlike the `w%06d`
    * words of `SynthPack.buildRandom`, which split into `w` + digits and
    * all encode to `<unk>`.
    */
  def pseudoWord(rank: Int): String = {
    val n = Syll.length
    if (rank < n * n) Syll(rank / n) + Syll(rank % n)
    else {
      val r = rank - n * n
      Syll((r / (n * n)) % n) + Syll((r / n) % n) + Syll(r % n)
    }
  }

  /** Leading vocabulary items after `<unk>`/`<pad>`: punctuation, which
    * real navec vocabularies carry too.
    */
  private val Punct = Array(".", ",")

  /** `SynthPack.buildRandom()` (navec 250K x 300d x 100q, CNN
    * [256,128,64]) with its word vocabulary replaced by pseudo-words of
    * the same size; `<unk>`/`<pad>` keep their ids, so the pad row stays
    * the zero vector.
    */
  def refPack(): ModelPack = {
    val base = SynthPack.buildRandom()
    val n = base.wordVocab.size
    val items = new Array[String](n)
    items(base.wordVocab.unkId) = Vocab.UNK
    items(base.wordVocab.padId) = Vocab.PAD
    var next = 0
    var rank = 0
    var i = 0
    while (i < n) {
      if (items(i) == null) {
        items(i) = if (next < Punct.length) Punct(next) else { rank += 1; pseudoWord(rank - 1) }
        next += 1
      }
      i += 1
    }
    base.copy(wordVocab = Vocab(items))
  }
  val RefVocabWords: Int = 250000 - 2 - Punct.length

  // kg_ref's text model. These figures are ASSUMPTIONS with no cited
  // source (see README, "kg_ref's text model"); nlp.pad_frac, the oversize
  // path and tokens/s all follow from them. Set them from published
  // statistics of the news text SlovNet/Navec were trained on when those
  // are at hand; a change re-records refs/kg_ref_sample_md5.tsv.
  /** Sentences per doc: 1 to this, uniform. */
  val RefMaxSentences = 6
  /** Sentence length in words: exp(mu + sigma * N(0,1)), clamped. */
  val RefLenMu = 2.9
  val RefLenSigma = 0.5
  val RefLenMin = 3
  val RefLenMax = 80
  /** One sentence in this many is a run-on line of RefLongMin + [0, RefLongSpan) words. */
  val RefLongEvery = 300
  val RefLongMin = 260
  val RefLongSpan = 141
  /** One word in this many is an out-of-vocabulary numeral (a year). */
  val RefNumeralEvery = 50
  /** A comma follows one non-final word in this many. */
  val RefCommaEvery = 12

  /** One production-like document of a seed: 1-RefMaxSentences sentences
    * of log-normal length (median exp(RefLenMu) ~18 words), words drawn
    * Zipf-like (log-uniform rank) from the pseudo-word vocabulary, a share
    * of out-of-vocabulary numerals, commas, and now and then a run-on line
    * over 256 tokens that takes the oversize chunk path.
    */
  def refDoc(seed: Long, i: Long): InterleavedDoc = {
    var h = RuCorpus.mix(seed * 0x5851f42d4c957f2dL + i)
    def next(): Long = { h = RuCorpus.mix(h); h }
    def unit(): Double = (next() >>> 11) / 9007199254740992.0
    val nSent = 1 + (next() >>> 1) % RefMaxSentences
    val sb = new StringBuilder
    var k = 0
    while (k < nSent) {
      val len =
        if ((next() >>> 1) % RefLongEvery == 0) RefLongMin + ((next() >>> 1) % RefLongSpan).toInt
        else {
          // Box-Muller normal -> log-normal length
          val g = math.sqrt(-2 * math.log(1 - unit())) * math.cos(2 * math.Pi * unit())
          math.max(RefLenMin, math.min(RefLenMax, math.round(math.exp(RefLenMu + RefLenSigma * g)).toInt))
        }
      var w = 0
      while (w < len) {
        val word =
          if ((next() >>> 1) % RefNumeralEvery == 0) (1900 + (next() >>> 1) % 130).toString
          else pseudoWord(math.min(RefVocabWords - 1,
            math.floor(math.pow(RefVocabWords.toDouble, unit())).toInt - 1).max(0))
        if (w == 0) { if (sb.nonEmpty) sb += ' '; sb ++= word.capitalize }
        else { sb += ' '; sb ++= word }
        if (w < len - 1 && (next() >>> 1) % RefCommaEvery == 0) sb += ','
        w += 1
      }
      sb += '.'
      k += 1
    }
    InterleavedDoc(s"r${seed}_$i", Array(SpanT("text", sb.toString, null, 0)))
  }

  /** Token count of a doc's longest sentence. */
  def longestSentence(d: InterleavedDoc): Int =
    d.spans.iterator.filter(_.text != null).flatMap(sp => graft.text.Tokenizer.sentenize(sp.text))
      .map(x => graft.text.Tokenizer.tokenize(x.text).length).maxOption.getOrElse(0)

  /** kg_ref's parity sample of a seed: its first 40 docs plus the first
    * doc among its first 400 with an oversize (>256-token) line.
    */
  def refSample(seed: Long): Seq[InterleavedDoc] = {
    val docs = (0 until 400).map(refDoc(seed, _))
    docs.take(40) ++ docs.drop(40).find(longestSentence(_) > graft.nlp.Pipeline.DefaultMaxSeqLen)
  }
}
