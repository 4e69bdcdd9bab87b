package graft.perfbench

import graft.SparkEntry
import graft.kg.{Kg, Triple}
import graft.nlp.Pipeline
import graft.pack.ModelPack
import graft.runtime.KgJob
import graft.sources.{Docs, InterleavedDoc}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, pmod, sum, when, xxhash64}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import Harness._

/** What one run knows about its box and its inputs. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     cores: Int, work: java.io.File, benchDir: java.io.File) {
  def dataDir: String = new java.io.File(benchDir, "data/sf0.001").getPath
}

/** Outcome of one run: output checks, end-to-end metrics and (traced)
  * per-layer metrics, plus the human-readable report.
  */
final class Out {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val report = mutable.LinkedHashMap[String, Double]()
  val problems = ArrayBuffer[String]()

  /** One output check: counts toward `attempted`, and toward `failed`
    * when the program's output is wrong.
    */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; problems += s"$what: $detail" }
    ok
  }
}

/** The workloads. Each one sets up (several times, reporting the
  * median), measures repeated passes for the requested seconds, checks
  * every pass's output, and in a traced run adds one decomposed pass with
  * spans, listener attribution and the single-threaded layer replay.
  */
object Workloads {

  val SetupRepeats = 3

  /** Input files per task thread for the chain workloads. With one file
    * per thread, a pass waits for whichever thread's file is slowest (a
    * file holding run-on lines, or a thread that a neighbour on the host
    * slows); with several, Spark hands the next file to whichever thread
    * is free, and pass times spread less.
    */
  val InputSplitsPerCore = 4

  /** Untraced runs of the decomposed chain that the traced one is compared with. */
  val BaselinePasses = 4


  /** Engine counters and job call sites of the measured session. */
  val listener = new EngineListener(layerOf)

  /** Layer label of a Spark job from its creation call site (Spark's long
    * call site, innermost frame first): the innermost KgJob step wins.
    */
  def layerOf(site: String): String =
    if (!site.contains("graft.runtime.KgJob$")) "other"
    else if (site.contains("KgJob$.nextSeq")) "runtime.commit_seq"
    else if (site.contains("KgJob$.appendCommit")) "runtime.commit_write"
    else if (site.contains("KgJob$.committedBuckets")) "runtime.resume_scan"
    else if (site.contains("KgJob$.run") || site.contains("KgJob$.$anonfun$run")) "runtime.write"
    else "runtime.snapshot_read"

  /** Times the program's set-up `SetupRepeats` times in fresh sessions —
    * session start, pack build and broadcast, first document read — and
    * reports the median; keeps the last session. The run's inputs are
    * written once, in the first session, off the clock (`prepare`:
    * benchmark input generation, not program work).
    */
  private def setupMedian[S](ctx: Ctx, out: Out)(prepare: SparkSession => Unit)
                            (build: SparkSession => S): (SparkSession, S) = {
    phase("set-up")
    var last: (SparkSession, S) = null
    val times = (1 to SetupRepeats).map { i =>
      if (last != null) last._1.stop()
      val t0 = now()
      val s = session(ctx.cores, ctx.work, s"perfbench-${ctx.workload}")
      val offClock = if (i == 1 && prepare != null) timed(prepare(s))._2 else 0.0
      val st = build(s)
      last = (s, st)
      secs(t0) - offClock
    }
    out.e2e("setup_s") = median(times)
    last._1.sparkContext.addSparkListener(listener)
    phase("measuring")
    last
  }

  /** Runs `pass` until `seconds` of measured time have passed (at least
    * `minPasses` times), after untimed warm-up passes: at least `warmup`
    * of them, and more until `warmupSeconds` have passed.
    */
  private def passes[A](ctx: Ctx, heap: LiveHeap, minPasses: Int = 2, warmup: Int = 0,
                        warmupSeconds: Double = 0.0)(pass: Int => A): Seq[(A, Double)] = {
    // untimed warm-up passes: JIT and first-touch costs stay out of the figures
    val w0 = now()
    var w = 0
    while (w < warmup || secs(w0) < warmupSeconds) { w += 1; pass(-w) }
    phase("timed passes")
    val res = ArrayBuffer[(A, Double)]()
    val t0 = now()
    var i = 0
    while (i < minPasses || secs(t0) < ctx.seconds) {
      res += timed(pass(i)); i += 1
      heap.probe()
    }
    phase(s"checks after ${res.length} passes: " + res.map(r => f"${r._2}%.2f").mkString(" "))
    res.toSeq
  }

  private def firstDoc(s: SparkSession, dir: String): Unit =
    s.read.parquet(dir).limit(1).collect()

  private def docsAt(s: SparkSession, dir: String): Dataset[InterleavedDoc] = {
    import s.implicits._
    s.read.parquet(dir).as[InterleavedDoc]
  }

  /** Replay of the fused stage on a doc sample, checked bit for bit
    * against `reference` (the program's `Pipeline.inferBatch`) batch by
    * batch.
    */
  def replayLayers(out: Out, trace: Trace, pack: ModelPack, sample: Seq[InterleavedDoc],
                   reference: Seq[graft.nlp.SentRow] => Seq[graft.nlp.ParsedSent] = null): Unit = {
    val ref = if (reference != null) reference else (b: Seq[graft.nlp.SentRow]) => Pipeline.inferBatch(b, pack)
    val r = new Replay(pack)
    val rows = trace.span("replay.sentenize")(r.sentenize(sample))
    val got = ArrayBuffer[String]()
    val want = ArrayBuffer[String]()
    for ((batch, bi) <- r.batchesOf(rows).zipWithIndex) {
      val ps = trace.span("replay.infer", s"batch$bi")(r.inferBatch(batch))
      trace.span("replay.extract", s"batch$bi")(r.extract(ps))
      got ++= ps.map(Replay.render)
      want ++= ref(batch).map(Replay.render)
    }
    Checks.parity(out, "replay == Pipeline.inferBatch", got.toSeq, want.toSeq)
    r.layerMetrics.foreach { case (k, v) => out.layers(k) = v }
  }

  private def packTimings(out: Out, s: SparkSession, build: => ModelPack): Unit = {
    val (p, b) = timed(build)
    val (bc, t) = timed {
      val bc = s.sparkContext.broadcast(p)
      // one task per core reads the value, as the pipeline's tasks do
      s.sparkContext.parallelize(1 to s.sparkContext.defaultParallelism,
        s.sparkContext.defaultParallelism).foreach(_ => bc.value.id.length)
      bc
    }
    bc.destroy()
    out.layers("pack.build_s") = b
    out.layers("pack.broadcast_s") = t
  }

  private def engineLayers(out: Out, s: SparkSession, l: EngineListener,
                           a: Snap, storageBytes: Long): Unit = {
    drain(s)
    val b = l.snap()
    out.layers("spark.jobs") = (b.jobs - a.jobs).toDouble
    out.layers("spark.tasks") = (b.tasks - a.tasks).toDouble
    out.layers("spark.task_run_s") = (b.runMs - a.runMs) / 1e3
    out.layers("spark.task_cpu_s") = (b.cpuNs - a.cpuNs) / 1e9
    out.layers("spark.gc_s") = (b.gcMs - a.gcMs) / 1e3
    out.layers("spark.scheduler_delay_s") = (b.schedMs - a.schedMs) / 1e3
    out.layers("spark.shuffle_write_bytes") = (b.shuffle - a.shuffle).toDouble
    out.layers("spark.spill_bytes") = (b.spill - a.spill).toDouble
    out.layers("spark.storage_mem_bytes") = storageBytes.toDouble
  }

  private def storageBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** (docId, spanOrder, sentIdx, subj, pred, obj) of the `Kg.triples`
    * rows the program extracts from a doc sample.
    */
  def extractedSample(s: SparkSession, bc: Broadcast[ModelPack],
                      ids: Seq[Long]): Set[(String, Int, Int, String, String, String)] = {
    import s.implicits._
    Kg.triples(Pipeline.parse(Docs.sentences(s.createDataset(ids.map(Inputs.toyDoc))), bc)).collect()
      .map(t => (t.docId, t.spanOrder, t.sentIdx, t.subj, t.pred, t.obj)).toSet
  }
  def plantedSample(ids: Seq[Long]): Set[(String, Int, Int, String, String, String)] =
    ids.flatMap(Inputs.goldenTriples).map(t => (t.docId, t.spanOrder, t.sentIdx, t.subj, t.pred, t.obj)).toSet

  /** Fraction of canonical triple endpoints resolved to an entity id
    * (unlinked mentions keep the `M:` prefix).
    */
  private def linkHitFrac(canon: DataFrame): Double = {
    val r = canon.agg(
      sum(when(col("subj_id").startsWith("M:"), 0L).otherwise(1L)),
      sum(when(col("obj_id").startsWith("M:"), 0L).otherwise(1L)),
      count(lit(1))).first()
    if (r.isNullAt(0) || r.getLong(2) == 0) 0.0
    else (r.getLong(0) + r.getLong(1)).toDouble / (2 * r.getLong(2))
  }

  // ---- kg_toy / kg_ref: the flagship chain ---------------------------

  private def chain(s: SparkSession, docs: Dataset[InterleavedDoc],
                    bc: Broadcast[ModelPack]): DataFrame =
    Kg.linkCanonicalize(s, Kg.triples(Pipeline.parse(Docs.sentences(docs), bc)))

  /** Traced pass of the chain, split where a layer boundary can be timed
    * from outside: parse+extract materialized, then link+canonicalize.
    */
  private def tracedChain(trace: Trace, s: SparkSession,
                          docs: Dataset[InterleavedDoc], bc: Broadcast[ModelPack]): (Long, Long) = {
    trace.span("pass", "pass_traced") {
      val triples = Kg.triples(Pipeline.parse(Docs.sentences(docs), bc))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = trace.span("pipeline.parse_extract")(triples.count())
      val canon = Kg.linkCanonicalize(s, triples)
      trace.span("kg.link_canon")(fingerprint(canon))
      val stored = storageBytes(s)
      triples.unpersist()
      (n, stored)
    }
  }

  /** Traced chain layers. The decomposed pass runs untraced once as a
    * warm-up, so the traced one is not billed for compiling its extra code
    * paths. The baseline the tracing overhead is taken against (same
    * decomposition, spans off) is the median of `BaselinePasses` untraced
    * runs, half before the traced one and half after, so JIT drift does
    * not bias it.
    */
  private def chainLayers(ctx: Ctx, out: Out, trace: Trace, s: SparkSession,
                          docs: Dataset[InterleavedDoc], bc: Broadcast[ModelPack]): Unit = {
    def untracedRuns(k: Int): Seq[Double] = (1 to k).map(_ => timed(tracedChain(new Trace(false), s, docs, bc))._2)
    tracedChain(new Trace(false), s, docs, bc)
    val before = untracedRuns(BaselinePasses / 2)
    var (n, stored) = (0L, 0L)
    tracedLayers(ctx, out, trace, s, median(before ++ untracedRuns(BaselinePasses - BaselinePasses / 2))) { val r = tracedChain(trace, s, docs, bc); n = r._1; stored = r._2 }
    out.layers("kg.triples") = n.toDouble
    out.layers("spark.storage_mem_bytes") = stored.toDouble
    out.layers("kg.link_canon_s") = trace.selfSeconds.getOrElse("kg.link_canon", 0.0)
    out.layers("kg.link_hit_frac") =
      linkHitFrac(Kg.linkCanonicalize(s, Kg.triples(Pipeline.parse(Docs.sentences(docs), bc))))
  }

  def kgToy(ctx: Ctx, out: Out, trace: Trace): Unit = {
    val nDocs = 30000L
    val base = Inputs.toyBase(ctx.seed)
    val dir = new java.io.File(ctx.work, "toy_docs").getPath
    val (s, bc) = setupMedian(ctx, out) { g =>
      import g.implicits._
      g.range(base, base + nDocs, 1, InputSplitsPerCore * ctx.cores).as[Long].map(Inputs.toyDoc)
        .write.mode("overwrite").parquet(dir)
    } { s =>
      val bc = SparkEntry.packBc(s)
      firstDoc(s, dir)
      bc
    }
    val docs = docsAt(s, dir)
    val golden = (base until base + nDocs).iterator.map(Inputs.goldenTriples(_).length.toLong).sum
    val heap = new LiveHeap
    // the exact sample check runs first and doubles as JIT warm-up
    val sampleIds = (0 until 1000).map(k => base + k * 97L)
    Checks.sameRows(out, "golden triples on a 1000-doc sample", extractedSample(s, bc, sampleIds),
      plantedSample(sampleIds))
    // warm-up of at least 6 s: pass times keep falling for ~6 s of passes
    // while the JIT compiles the chain, and that tail otherwise lands in
    // the timed passes and makes every figure depend on how far it got
    val runs = passes(ctx, heap, warmup = 2, warmupSeconds = 6)(_ => fingerprint(chain(s, docs, bc)))
    val fp0 = runs.head._1
    runs.zipWithIndex.foreach { case ((fp, _), i) => Checks.chainPass(out, i, fp, Some(golden), fp0) }
    val thr = runs.map { case (fp, t) => fp.rows / t }
    out.e2e("work_per_s") = median(thr)
    out.e2e("op_p50_s") = median(runs.map(_._2))
    out.e2e("op_p90_s") = quantile(runs.map(_._2), 0.9)
    out.e2e("live_heap_mb") = heap.mb
    out.report("triples_per_s") = out.e2e("work_per_s")
    out.report("docs") = nDocs.toDouble
    out.report("passes") = runs.length.toDouble
    if (ctx.trace) {
      chainLayers(ctx, out, trace, s, docs, bc)
      trace.span("replay") {
        replayLayers(out, trace, bc.value, (0 until 2000).map(k => Inputs.toyDoc(base + k * 7L)))
      }
      packTimings(out, s, graft.pack.SynthPack.build())
      jobLayers(ctx, out, trace, s, base + nDocs)
    }
  }

  def kgRef(ctx: Ctx, out: Out, trace: Trace): Unit = {
    val nDocs = 400
    val dir = new java.io.File(ctx.work, "ref_docs").getPath
    val seed = ctx.seed
    val (s, (pack, bc)) = setupMedian(ctx, out) { g =>
      import g.implicits._
      g.range(0, nDocs, 1, InputSplitsPerCore * ctx.cores).as[Long].map(i => Inputs.refDoc(seed, i))
        .write.mode("overwrite").parquet(dir)
    } { s =>
      val pack = Inputs.refPack()
      val bc = s.sparkContext.broadcast(pack)
      firstDoc(s, dir)
      (pack, bc)
    }
    val docs = docsAt(s, dir)
    val local = (0 until nDocs).map(i => Inputs.refDoc(ctx.seed, i))
    val tokens = local.iterator.flatMap(_.spans).map(sp =>
      graft.text.Tokenizer.sentenize(sp.text).iterator
        .map(x => graft.text.Tokenizer.tokenize(x.text).length.toLong).sum).sum
    // distributed parse == batch-size-1 inferBatch on a sample that
    // includes an oversize (>256-token) line; runs first and doubles as
    // JIT warm-up
    val sample = Inputs.refSample(seed)
    val (dist, solo) = refParity(s, bc, pack, sample)
    Checks.parity(out, "distributed parse == inferBatch(batch=1) on sample", dist, solo)
    val fpSample = md5(dist.sorted.mkString("\n"))
    out.report("sample_oversize_docs") = sample.count(Inputs.longestSentence(_) > Pipeline.DefaultMaxSeqLen).toDouble
    RefFingerprints.lookup(ctx.benchDir, ctx.seed) match {
      case Some(want) => Checks.recorded(out, "sample fingerprint", fpSample, want)
      case None => System.err.println(s"perfbench: no recorded kg_ref fingerprint for seed ${ctx.seed}; got $fpSample")
    }
    val heap = new LiveHeap
    // warm-up of at least 5 s: the first three or four passes still run
    // 10-30% slower while the JIT compiles the trunks
    val runs = passes(ctx, heap, warmup = 1, warmupSeconds = 5)(_ => fingerprint(chain(s, docs, bc)))
    val fp0 = runs.head._1
    runs.zipWithIndex.foreach { case ((fp, _), i) => Checks.chainPass(out, i, fp, None, fp0) }
    val thr = runs.map { case (_, t) => tokens / t }
    out.e2e("work_per_s") = median(thr)
    out.e2e("op_p50_s") = median(runs.map(_._2))
    out.e2e("op_p90_s") = quantile(runs.map(_._2), 0.9)
    out.e2e("live_heap_mb") = heap.mb
    out.report("tokens_per_s") = out.e2e("work_per_s")
    out.report("tokens") = tokens.toDouble
    out.report("passes") = runs.length.toDouble
    if (ctx.trace) {
      chainLayers(ctx, out, trace, s, docs, bc)
      trace.span("replay")(replayLayers(out, trace, pack, local.take(200)))
      packTimings(out, s, Inputs.refPack())
    }
  }

  /** Rendered output of the distributed parse of `sample`, and of
    * `Pipeline.inferBatch` at batch size 1 for the same sentences.
    */
  def refParity(s: SparkSession, bc: Broadcast[ModelPack], pack: ModelPack,
                sample: Seq[InterleavedDoc]): (Seq[String], Seq[String]) = {
    import s.implicits._
    val dist = Pipeline.parse(Docs.sentences(s.createDataset(sample)), bc).collect().toSeq
    (dist.map(Replay.render), dist.map(p => Replay.render(Pipeline.inferBatch(Seq(graft.nlp.SentRow(
      p.docId, p.spanOrder, p.sentIdx, 0, 0, p.text)), pack).head)))
  }

  /** Records kg_ref sample fingerprints for `seeds` (refs/kg_ref_sample_md5.tsv). */
  def recordRefFingerprints(ctx: Ctx, seeds: Seq[Long]): Unit = {
    val s = session(ctx.cores, ctx.work, "perfbench-record")
    val pack = Inputs.refPack()
    val bc = s.sparkContext.broadcast(pack)
    val rows = seeds.map { sd =>
      val (dist, solo) = refParity(s, bc, pack, Inputs.refSample(sd))
      require(dist == solo, s"seed $sd: distributed parse differs from inferBatch")
      sd.toString -> md5(dist.sorted.mkString("\n"))
    }
    RefFingerprints.save(ctx.benchDir, "seed\tmd5 of the sorted rendered parse of Inputs.refSample(seed)", rows)
  }

  def md5(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** Runs one traced pass with engine counters, and reports its wall
    * against `untraced`, the wall of the same pass run with spans off
    * (evaluated after the traced pass).
    */
  private def tracedLayers(ctx: Ctx, out: Out, trace: Trace, s: SparkSession,
                           untraced: => Double)(pass: => Unit): Unit = {
    val l = listener
    val a = l.snap()
    val (_, t) = timed(pass)
    engineLayers(out, s, l, a, storageBytes(s))
    out.layers("trace.pass_s") = t
    out.layers("trace.overhead_frac") = t / untraced - 1.0
  }

  // ---- catalog --------------------------------------------------------

  val Leads = Seq("q_curate", "q_curate_dsir", "q_kg_stories", "q_kg_adjacency", "q_bm25",
    "q_bloom_decontaminate", "q_bpe_encode", "q_video_frames")

  /** The measured catalog: five of the ROADMAP's eight lead queries plus
    * the cheapest query of the nlp, dedup and sql families — 8 of the 108
    * queries in eight of the nine families, sized so one cold pass fits a
    * run. Left out for time and timed in the traced run instead:
    * q_curate_dsir (repeats q_curate's memo fills), q_kg_stories, and the
    * tokenizer family (each query pays the driver-side BPE trainer); the
    * traced run also times all 14 memo fills.
    */
  val CatalogQueries: Seq[String] = Seq("q_bloom_decontaminate", "q_bm25",
    "q_curate", "q_dedup_exact", "q_join_agg", "q_kg_adjacency", "q_tok_count",
    "q_video_frames")

  /** Queries timed only in the traced run (after the traced pass). */
  val TracedExtra: Seq[String] = Seq("q_bpe_encode", "q_bpe_merges", "q_curate_dsir", "q_kg_stories")

  val Families = Seq("kg", "nlp", "dedup", "decontam", "tokenizer", "search", "curation", "sql", "media")

  def familyOf(q: String): String = q match {
    case n if n.startsWith("q_kg_") || n.startsWith("q_triples") || n == "q_entities" => "kg"
    case n if n.contains("decontaminate") => "decontam"
    case n if n.startsWith("q_curate") || Set("q_dsir", "q_nb_quality", "q_domain_kl",
      "q_domain_mix", "q_stratified_sample", "q_pack_sequences")(n) => "curation"
    case n if n.startsWith("q_bpe") || n.startsWith("q_unigram") || Set("q_pack_bpe",
      "q_tok_compare", "q_vocab_encode")(n) => "tokenizer"
    case n if n.startsWith("q_ann_") || Set("q_bm25", "q_knn_graph", "q_kmeans")(n) => "search"
    case n if n.contains("dedup") || n.contains("dup") || n.startsWith("q_fp_") ||
      Set("q_jaccard_pairs", "q_simhash", "q_semdedup")(n) => "dedup"
    case n if Set("q_media_features", "q_audio_features", "q_video_frames")(n) => "media"
    case n if Set("q_rollup", "q_running_total", "q_agg_acc", "q_topk_orders", "q_join_agg",
      "q_distinct_sort", "q_acc_agg", "q_ingest_cusum", "q_events_window", "q_asof_join",
      "q_sessionize", "q_funnel", "q_retention", "q_bucketed_join", "q_salted_wordcount",
      "q_json_roundtrip")(n) => "sql"
    case _ => "nlp"
  }

  /** Session memos in dependency order, each with a full consumption. */
  def memoFills(s: SparkSession, d: String): Seq[(String, () => Unit)] = Seq(
    "parsed" -> (() => consume(SparkEntry.parsed(s, d).toDF())),
    "canonicalTriples" -> (() => consume(SparkEntry.canonicalTriples(s, d))),
    "shingleHashes3" -> (() => consume(SparkEntry.shingleHashes3(s, d))),
    "minhashPairs" -> (() => consume(SparkEntry.minhashPairs(s, d))),
    "benchBloom97" -> (() => consume(SparkEntry.benchBloom97(s, d)._1)),
    "kmeansAssign8" -> (() => consume(SparkEntry.kmeansAssign8(s, d))),
    "bpeMerges6" -> (() => consume(SparkEntry.bpeMerges6(s, d))),
    "lmScore" -> (() => consume(SparkEntry.lmScore(s, d))),
    "bpeVocab6" -> (() => consume(SparkEntry.bpeVocab6(s, d))),
    "uniScores6" -> (() => consume(SparkEntry.uniScores6(s, d))),
    "uniVocab6" -> (() => consume(SparkEntry.uniVocab6(s, d))),
    "annTopk5" -> (() => consume(SparkEntry.annTopk5(s, d))),
    "annLsh5" -> (() => consume(SparkEntry.annLsh5(s, d))),
    "annIvf5" -> (() => consume(SparkEntry.annIvf5(s, d))))

  /** One catalog pass in a fresh session (fresh memos, no cached data). */
  private def catalogPass(base: SparkSession, d: String, qs: Seq[String], trace: Trace,
                          memosFirst: Boolean): (SparkSession, Seq[(String, Harness.Fp, Double)]) = {
    base.catalog.clearCache()
    val s = base.newSession()
    if (memosFirst) memoFills(s, d).foreach { case (n, f) => trace.span(s"memo.$n", n)(f()) }
    val res = qs.map { q =>
      val (fp, t) = timed(trace.span(s"catalog.$q", q)(fingerprint(SparkEntry.queries(q)(s, d))))
      System.err.println(f"perfbench: catalog $q $t%.3f s")
      (q, fp, t)
    }
    (s, res)
  }

  def catalog(ctx: Ctx, out: Out, trace: Trace, record: Boolean = false): Unit = {
    val d = ctx.dataDir
    val (s, _) = setupMedian(ctx, out)(null) { s =>
      SparkEntry.packBc(s)
      firstDoc(s, s"$d/documents.parquet")
    }
    if (record) {
      // reference fingerprints from a fresh session; run.py reaches this
      // only after the same queries pass the DuckDB oracle compare
      val (_, res) = catalogPass(s, d, (CatalogQueries ++ TracedExtra).sorted, new Trace(false),
        memosFirst = false)
      CatalogRef.save(ctx.benchDir, res.map { case (q, fp, _) => q -> fp.toString })
    }
    val refs = CatalogRef.load(ctx.benchDir)
    val heap = new LiveHeap
    val runs = passes(ctx, heap, minPasses = 1)(_ =>
      catalogPass(s, d, CatalogQueries, new Trace(false), memosFirst = false)._2)
    for ((run, i) <- runs.map(_._1).zipWithIndex; (q, fp, _) <- run) {
      Checks.catalogQuery(out, s"pass $i $q", fp, refs.get(q))
    }
    val qt = runs.flatMap(_._1.map(_._3))
    out.e2e("work_per_s") = median(runs.map { case (r, t) => r.length / t })
    out.e2e("op_p50_s") = median(qt)
    out.e2e("op_p90_s") = quantile(qt, 0.9)
    out.e2e("live_heap_mb") = heap.mb
    out.report("catalog_wall_s") = median(runs.map(_._2))
    out.report("query_p50_s") = out.e2e("op_p50_s")
    out.report("query_p90_s") = out.e2e("op_p90_s")
    out.report("queries") = CatalogQueries.length.toDouble
    out.report("passes") = runs.length.toDouble
    if (ctx.trace) {
      var traced: Seq[(String, Harness.Fp, Double)] = Nil
      var tracedSession: SparkSession = null
      // baseline for the tracing overhead: the same memos-first pass, spans off
      val (_, untraced) = timed(catalogPass(s, d, CatalogQueries, new Trace(false), memosFirst = true))
      tracedLayers(ctx, out, trace, s, untraced) {
        val (ts, res) = trace.span("pass", "catalog_traced")(
          catalogPass(s, d, CatalogQueries, trace, memosFirst = true))
        tracedSession = ts
        traced = res
      }
      // the leads left out of the timed pass, and the tokenizer family
      val extra = trace.span("extra", "catalog_extra")(TracedExtra.map { q =>
        val (fp, t) = timed(trace.span(s"catalog.$q", q)(fingerprint(SparkEntry.queries(q)(tracedSession, d))))
        (q, fp, t)
      })
      (traced ++ extra).foreach { case (q, fp, _) =>
        Checks.catalogQuery(out, s"traced $q", fp, refs.get(q))
      }
      traced = traced ++ extra
      val self = trace.selfSeconds
      for ((n, _) <- memoFills(s, d)) out.layers(s"memo.${n}_fill_s") = self.getOrElse(s"memo.$n", 0.0)
      val byFam = traced.groupBy { case (q, _, _) => familyOf(q) }
      for (f <- Families)
        out.layers(s"catalog.${f}_s") = byFam.getOrElse(f, Nil).map(x => self(s"catalog.${x._1}")).sum
      for (q <- Leads) out.layers(s"catalog.${q}_s") = self.getOrElse(s"catalog.$q", 0.0)
      val ct = SparkEntry.canonicalTriples(s, d)
      out.layers("kg.triples") = ct.count().toDouble
      out.layers("kg.link_hit_frac") = linkHitFrac(ct)
      out.layers("kg.link_canon_s") = self.getOrElse("memo.canonicalTriples", 0.0)
      trace.span("replay") {
        replayLayers(out, trace, SparkEntry.packBc(s).value,
          (0L until 1000L).map(Inputs.toyDoc))
      }
      packTimings(out, s, graft.pack.SynthPack.build())
    }
  }

  // ---- the resumable job runner (graft.runtime) -------------------------

  /** `KgJob.run` over `nBuckets` hash buckets of toy docs in the
    * `bucket=<k>/` input layout: a run that dies after half the buckets
    * (`failAfterBuckets`), its resume, and a `KgJob.triples` snapshot read,
    * twice (the first job warms the JVM). Checks exactly-once output and
    * reports the runner's layers; part of kg_toy's traced run, since a
    * workload of its own does not fit the benchmark's time budget.
    */
  private def jobLayers(ctx: Ctx, out: Out, trace: Trace, s: SparkSession, base: Long): Unit = {
    import s.implicits._
    val nDocs = 6000L
    val nBuckets = 6
    val in = new java.io.File(ctx.work, "job_in").getPath
    s.range(base, base + nDocs, 1, ctx.cores).as[Long].map(Inputs.toyDoc)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(nBuckets)).cast("int"))
      .write.partitionBy("bucket").mode("overwrite").parquet(in)
    val golden = (base until base + nDocs).iterator.map(Inputs.goldenTriples(_).length.toLong).sum
    val l = listener
    val commitLat = ArrayBuffer[Double]()
    val layerMs = mutable.Map[String, Long]().withDefaultValue(0L)
    var gapMs = 0L
    var snapS = 0.0

    /** One job; returns its wall seconds. Output checks run after the clock stops. */
    def job(i: Int): Double = trace.span("runtime.job", s"job$i") {
      val outDir = new java.io.File(ctx.work, s"job_out_$i").getPath
      val jobs0 = l.snap().jobs
      val t0 = System.currentTimeMillis()
      val failed = try {
        trace.span("runtime.run_failing")(
          KgJob.run(s, "sf0.001", outDir, s"fail$i", nBuckets, failAfterBuckets = nBuckets / 2,
            bucketedInputDir = Some(in)))
        false
      } catch { case e: RuntimeException if e.getMessage.startsWith("injected failure") => true }
      val t1 = System.currentTimeMillis()
      val resumed = trace.span("runtime.run_resume")(
        KgJob.run(s, "sf0.001", outDir, s"resume$i", nBuckets, bucketedInputDir = Some(in)))
      val t2 = System.currentTimeMillis()
      val (fp, ts) = timed(trace.span("runtime.snapshot_read")(fingerprint(KgJob.triples(s, outDir))))
      val t3 = System.currentTimeMillis()
      drain(s)
      val js = l.jobsSince(jobs0)
      if (i > 0) {
        // bucket start to durable commit: the loop is sequential, so each
        // bucket runs from the previous commit (or the run's start) to the
        // end of its own commit-row write
        for ((a, b) <- Seq((t0, t1), (t1, t2))) {
          var prev = a
          js.filter(j => j.layer == "runtime.commit_write" && j.end >= a && j.end <= b)
            .map(_.end).sorted.foreach { e => commitLat += (e - prev) / 1e3; prev = e }
        }
        for (j <- js) layerMs(j.layer) += busyMs(Seq(j), t0, t3)
        gapMs += (t3 - t0) - busyMs(js, t0, t3)
        snapS += ts
      }
      // exactly-once after the injected failure and the resume
      Checks.job(out, i, failed, resumed, jobLog(s, outDir), fp.rows, nBuckets, nBuckets / 2, nDocs, golden)
      if (i == 0) {
        val ids = (0L until nDocs by 61L).map(base + _)
        Checks.sameRows(out, s"committed triples == Kg.link(golden) on ${ids.length} docs",
          committedSample(s, outDir, ids), linkedPlanted(s, ids))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
      (t3 - t0) / 1e3
    }

    job(0)
    val wall = job(1)
    out.report("job_docs_per_s") = nDocs / wall
    out.report("commit_p50_s") = median(commitLat.toSeq)
    out.report("commit_p90_s") = quantile(commitLat.toSeq, 0.9)
    out.layers("runtime.write_s") = layerMs("runtime.write") / 1e3
    out.layers("runtime.commit_s") = (layerMs("runtime.commit_seq") + layerMs("runtime.commit_write")) / 1e3
    out.layers("runtime.resume_scan_s") = layerMs("runtime.resume_scan") / 1e3
    out.layers("runtime.driver_gap_s") = gapMs / 1e3
    out.layers("runtime.snapshot_read_s") = snapS
  }

  def jobLog(s: SparkSession, outDir: String): Checks.JobLog = {
    val r = KgJob.commitLog(s, outDir).agg(count(lit(1)), countDistinct(col("bucket")),
      sum(col("docs")), sum(col("triples"))).first()
    Checks.JobLog(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private val LinkedCols = Seq("docId", "spanOrder", "sentIdx", "subjId", "subjType", "pred", "objId", "objType")

  /** Committed linked triples of a doc sample, one string per row. */
  def committedSample(s: SparkSession, outDir: String, ids: Seq[Long]): Set[String] =
    KgJob.triples(s, outDir).where(col("docId").isin(ids.map(id => s"d$id"): _*))
      .select(LinkedCols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSet

  /** `Kg.link` of the planted triples of a doc sample, one string per row. */
  def linkedPlanted(s: SparkSession, ids: Seq[Long]): Set[String] = {
    import s.implicits._
    Kg.link(s, s.createDataset(ids.flatMap(Inputs.goldenTriples))).toDF()
      .select(LinkedCols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSet
  }
}
