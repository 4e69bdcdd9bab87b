package graft

import graft.corpus.RuCorpus
import graft.nlp.{Pipeline, SentRow}
import graft.pack.SynthPack
import graft.text.{Shape, Tokenizer}

/** Single-threaded phase attribution for the fused inference hot path.
  * No Spark — isolates pure-compute cost per stage so optimization targets
  * the real bottleneck, not a guess.
  *
  * Usage: `MicroBench [nDocs [batchSize]] [ref]`. The numeric arguments are
  * read by position among the numeric arguments only: the first is the
  * doc count (default 100000), the second the batch size (default 64).
  * `ref` may stand anywhere and selects the production-dims dense pack
  * (the honest FLOPs workload) instead of the rigged toy pack. So
  * `MicroBench 20000 ref` and `MicroBench 20000 64 ref` are the same run.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val (flags, nums) = args.partition(a => a.isEmpty || !a.forall(_.isDigit))
    if (nums.length > 2 || flags.exists(_ != "ref")) {
      System.err.println("usage: MicroBench [nDocs [batchSize]] [ref]")
      sys.exit(2)
    }
    val nDocs = nums.headOption.map(_.toLong).getOrElse(100000L)
    val batchSize = if (nums.length > 1) nums(1).toInt else 64
    val pack = if (flags.contains("ref")) SynthPack.buildRandom() else SynthPack.build()

    // materialize sentences once (generation cost measured separately)
    var t0 = System.nanoTime()
    val sents = (0L until nDocs).iterator.flatMap { id =>
      RuCorpus.docSpans(id).iterator.zipWithIndex.collect {
        case (s, order) if s.kind == "text" && s.text != null =>
          Tokenizer.sentenize(s.text).iterator.zipWithIndex.map { case (sn, i) =>
            SentRow(s"d$id", order, i, sn.start, sn.stop, sn.text)
          }
      }.flatten
    }.toArray
    val genSec = (System.nanoTime() - t0) / 1e9
    println(f"gen+sentenize: $genSec%.2f s  (${sents.length} sentences)")

    def time(name: String, reps: Int)(f: => Long): Unit = {
      f // warmup
      var best = Double.MaxValue
      var acc = 0L
      for (_ <- 1 to reps) {
        val t = System.nanoTime()
        acc = f
        best = math.min(best, (System.nanoTime() - t) / 1e9)
      }
      println(f"$name%-22s $best%6.2f s   (acc=$acc)")
    }

    time("tokenize", 3) {
      var acc = 0L
      var i = 0
      while (i < sents.length) { acc += Tokenizer.tokenize(sents(i).text).length; i += 1 }
      acc
    }

    val toks = sents.map(s => Tokenizer.tokenize(s.text))

    time("shape+vocab encode", 3) {
      var acc = 0L
      var i = 0
      while (i < toks.length) {
        val ts = toks(i)
        var j = 0
        while (j < ts.length) {
          acc += pack.wordVocab.encode(Shape.lowerFast(ts(j).text))
          acc += pack.shapeVocab.encode(Shape.wordShape(ts(j).text))
          j += 1
        }
        i += 1
      }
      acc
    }

    // batched forwards on pre-tokenized input
    val batches = sents.grouped(batchSize).toArray
    def encodeBatch(batch: Array[SentRow]) = {
      val n = batch.length
      val ts = batch.map(r => Tokenizer.tokenize(r.text))
      val seqLen = math.max(1, ts.iterator.map(_.length).max)
      val wordIds = new Array[Int](n * seqLen)
      val shapeIds = new Array[Int](n * seqLen)
      val padMask = new Array[Boolean](n * seqLen)
      java.util.Arrays.fill(wordIds, pack.wordVocab.padId)
      java.util.Arrays.fill(shapeIds, pack.shapeVocab.padId)
      var b = 0
      while (b < n) {
        var s = 0
        while (s < seqLen) {
          if (s < ts(b).length) {
            wordIds(b * seqLen + s) = pack.wordVocab.encode(Shape.lowerFast(ts(b)(s).text))
            shapeIds(b * seqLen + s) = pack.shapeVocab.encode(Shape.wordShape(ts(b)(s).text))
          } else padMask(b * seqLen + s) = true
          s += 1
        }
        b += 1
      }
      (n, seqLen, wordIds, shapeIds, padMask)
    }
    val encoded = batches.map(encodeBatch)

    time("ner.forward", 2) {
      var acc = 0L
      for ((n, sl, w, sh, pm) <- encoded) acc += pack.ner.forward(w, sh, n, sl, pm).length
      acc
    }
    val emissionsAll = encoded.map { case (n, sl, w, sh, pm) =>
      (n, sl, pm, pack.ner.forward(w, sh, n, sl, pm))
    }
    time("crf.decode", 2) {
      var acc = 0L
      for ((n, sl, pm, em) <- emissionsAll) {
        val valid = pm.map(!_)
        acc += pack.ner.crf.decode(em, n, sl, valid).length
      }
      acc
    }
    time("morph.forward", 2) {
      var acc = 0L
      for ((n, sl, w, sh, pm) <- encoded) acc += pack.morph.forward(w, sh, n, sl, pm).length
      acc
    }
    time("syntax.forward", 2) {
      var acc = 0L
      for ((n, sl, w, sh, pm) <- encoded) acc += pack.syntax.forward(w, sh, n, sl, pm)._1.length
      acc
    }
    val ws = new graft.kernel.Workspace
    time("inferBatch FULL(ws)", 2) {
      var acc = 0L
      for (b <- batches) acc += Pipeline.inferBatch(b.toSeq, pack, ws).length
      acc
    }
    val parsed = batches.flatMap(b => Pipeline.inferBatch(b.toSeq, pack))
    time("kg.extract", 3) {
      var acc = 0L
      var i = 0
      while (i < parsed.length) { acc += graft.kg.Kg.extract(parsed(i)).length; i += 1 }
      acc
    }
  }
}
