package graft.perfbench

import graft.SparkEntry
import graft.nlp.{ParsedSent, Pipeline, SentRow}
import graft.runtime.KgJob
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import Harness._

/** The harness's own tests (`python3 perfbench/run.py --selftest`): every
  * output check passes on the program's real output and fails on a wrong
  * expected value; the traced replay is bit-identical to
  * `Pipeline.inferBatch`; the inputs and helpers behave as documented.
  * Prints PASS/FAIL lines; exits non-zero on any failure.
  *
  * args: cores workDir benchDir
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println((if (ok) "PASS " else "FAIL ") + name)
    if (!ok) failures += 1
  }

  /** `check` must pass with the right expectation and fail with a wrong one. */
  private def rightAndWrong(name: String)(check: (Out, Boolean) => Unit): Unit = {
    val right = new Out; check(right, false)
    val wrong = new Out; check(wrong, true)
    expect(s"$name: passes on the real output", right.attempted > 0 && right.failed == 0)
    expect(s"$name: fails on a wrong expected value", wrong.attempted > 0 && wrong.failed > 0)
  }

  def main(args: Array[String]): Unit = {
    val Array(cores, work, benchDir) = args.take(3)
    val bench = new java.io.File(benchDir)
    benchDirOf = bench
    val s = session(cores.toInt, new java.io.File(work), "perfbench-selftest")
    import s.implicits._
    try {
      helpers()
      inputs()

      // fingerprint: order-independent, value-sensitive, hashes maps
      val df = Seq((1, "a", Map("k" -> "v")), (2, "b", Map("k" -> "w"))).toDF("i", "s", "m")
      expect("fingerprint ignores row order",
        fingerprint(df) == fingerprint(df.orderBy(col("i").desc).repartition(3)))
      expect("fingerprint sees every column",
        fingerprint(df) != fingerprint(df.withColumn("s", lit("a"))) &&
          fingerprint(df) != fingerprint(df.withColumn("m", org.apache.spark.sql.functions.map(lit("k"), lit("v")))))

      // flagship chain checks on the toy pack
      val bc = SparkEntry.packBc(s)
      val base = Inputs.toyBase(1)
      val ids = (0L until 300L).map(base + _)
      val docs = s.createDataset(ids.map(Inputs.toyDoc))
      val golden = ids.iterator.map(Inputs.goldenTriples(_).length.toLong).sum
      val chain = graft.kg.Kg.linkCanonicalize(s, graft.kg.Kg.triples(
        Pipeline.parse(graft.sources.Docs.sentences(docs), bc)))
      val fp = fingerprint(chain)
      rightAndWrong("chain pass triple count") { (o, wrong) =>
        Checks.chainPass(o, 0, fp, Some(if (wrong) golden + 1 else golden), fp)
      }
      rightAndWrong("chain pass determinism") { (o, wrong) =>
        Checks.chainPass(o, 1, fp, None, if (wrong) fp.copy(xor = fp.xor ^ 1L) else fp)
      }
      val sample = ids.take(100)
      val got = Workloads.extractedSample(s, bc, sample)
      val planted = Workloads.plantedSample(sample)
      rightAndWrong("golden triples on a sample") { (o, wrong) =>
        Checks.sameRows(o, "golden sample", got, if (wrong) planted.drop(1) else planted)
      }

      // replay parity, toy and production dims (with an oversize line)
      val toyPack = bc.value
      rightAndWrong("replay parity, toy pack") { (o, wrong) =>
        Workloads.replayLayers(o, new Trace(false), toyPack, ids.take(200).map(Inputs.toyDoc),
          if (wrong) tampered(Pipeline.inferBatch(_, toyPack)) else null)
      }
      val refPack = Inputs.refPack()
      val refSample = Inputs.refSample(1).take(12) ++ Inputs.refSample(1).drop(40)
      expect("ref text has an oversize line in 400 docs",
        refSample.exists(Inputs.longestSentence(_) > Pipeline.DefaultMaxSeqLen))
      val refOut = new Out
      Workloads.replayLayers(refOut, new Trace(false), refPack, refSample)
      expect("replay parity, production dims", refOut.attempted == 1 && refOut.failed == 0)
      expect("replay sees the oversize row", refOut.layers("nlp.oversize_rows") >= 1)
      expect("replay oov share is small but present",
        refOut.layers("nlp.oov_frac") > 0 && refOut.layers("nlp.oov_frac") < 0.05)
      val (dist, solo) = Workloads.refParity(s, s.sparkContext.broadcast(refPack), refPack, refSample)
      rightAndWrong("distributed parse == inferBatch(batch=1)") { (o, wrong) =>
        Checks.parity(o, "parity", dist, if (wrong) solo.updated(0, solo.head + "x") else solo)
      }
      rightAndWrong("recorded fingerprint") { (o, wrong) =>
        Checks.recorded(o, "fp", "abc", if (wrong) "abd" else "abc")
      }
      expect("kg_ref fingerprints recorded for seeds 0-99",
        (0 until 100).forall(i => RefFingerprints.lookup(bench, i).nonEmpty))

      // catalog reference of the cheapest measured query
      val refs = CatalogRef.load(bench)
      val q = "q_tok_count"
      val qfp = fingerprint(SparkEntry.queries(q)(s, new java.io.File(bench, "data/sf0.001").getPath))
      rightAndWrong(s"catalog reference ($q)") { (o, wrong) =>
        Checks.catalogQuery(o, q, qfp, if (wrong) Some("0:0:0") else refs.get(q))
      }
      expect("catalog references cover every measured and traced query",
        (Workloads.CatalogQueries ++ Workloads.TracedExtra).forall(refs.contains))

      // resumable job: exactly-once after an injected failure
      val in = new java.io.File(work, "job_in").getPath
      val outDir = new java.io.File(work, "job_out").getPath
      val nBuckets = 4
      docs.toDF().withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(nBuckets)).cast("int"))
        .write.partitionBy("bucket").mode("overwrite").parquet(in)
      val failed = try {
        KgJob.run(s, "sf0.001", outDir, "fail", nBuckets, failAfterBuckets = 2, bucketedInputDir = Some(in))
        false
      } catch { case e: RuntimeException if e.getMessage.startsWith("injected failure") => true }
      val resumed = KgJob.run(s, "sf0.001", outDir, "resume", nBuckets, bucketedInputDir = Some(in))
      val log = Workloads.jobLog(s, outDir)
      val snap = KgJob.triples(s, outDir).count()
      for ((field, bad) <- Seq[(String, Checks.JobLog => Checks.JobLog)](
        "commits" -> (l => l.copy(commits = l.commits + 1)), "docs" -> (l => l.copy(docs = l.docs - 1)),
        "triples" -> (l => l.copy(triples = l.triples + 1))))
        rightAndWrong(s"job exactly-once ($field)") { (o, wrong) =>
          Checks.job(o, 0, failed, resumed, if (wrong) bad(log) else log, snap, nBuckets, 2, ids.length, golden)
        }
      rightAndWrong("job resume count") { (o, wrong) =>
        Checks.job(o, 0, failed, if (wrong) resumed + 1 else resumed, log, snap, nBuckets, 2, ids.length, golden)
      }
      val jobSample = ids.take(60)
      val committed = Workloads.committedSample(s, outDir, jobSample)
      val linked = Workloads.linkedPlanted(s, jobSample)
      rightAndWrong("committed triples == Kg.link(golden)") { (o, wrong) =>
        Checks.sameRows(o, "job sample", committed, if (wrong) linked + "x" else linked)
      }
    } finally s.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** A reference that differs from `f` in one annotation. */
  private def tampered(f: Seq[SentRow] => Seq[ParsedSent]): Seq[SentRow] => Seq[ParsedSent] = b => {
    val r = f(b)
    if (r.isEmpty) r else r.updated(0, r.head.copy(docId = r.head.docId + "x"))
  }

  private var benchDirOf: java.io.File = null

  private def helpers(): Unit = {
    expect("quantile interpolates", quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5 &&
      math.abs(quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.9) - 3.7) < 1e-9 && median(Seq(5.0)) == 5.0)
    val j = Seq(JobRec(0, 0, 10, "a"), JobRec(1, 5, 15, "b"), JobRec(2, 20, 25, "c"))
    expect("busyMs merges overlapping jobs", busyMs(j, 0, 30) == 20 && busyMs(j, 12, 22) == 5)
    val at = "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)\n"
    expect("call sites map to runtime layers",
      Workloads.layerOf(at + "graft.runtime.KgJob$.appendCommit(KgJob.scala:106)\n" +
        "graft.runtime.KgJob$.$anonfun$run$2(KgJob.scala:242)") == "runtime.commit_write" &&
        Workloads.layerOf(at + "graft.runtime.KgJob$.commitLog(KgJob.scala:61)\n" +
          "graft.runtime.KgJob$.nextSeq(KgJob.scala:84)\ngraft.runtime.KgJob$.appendCommit(KgJob.scala:104)") ==
          "runtime.commit_seq" &&
        Workloads.layerOf(at + "graft.runtime.KgJob$.$anonfun$run$2(KgJob.scala:237)") == "runtime.write" &&
        Workloads.layerOf(at + "graft.runtime.KgJob$.committedBuckets(KgJob.scala:92)\n" +
          "graft.runtime.KgJob$.run(KgJob.scala:199)") == "runtime.resume_scan" &&
        Workloads.layerOf(at + "graft.runtime.KgJob$.triples(KgJob.scala:260)") == "runtime.snapshot_read" &&
        Workloads.layerOf(at + "graft.perfbench.Workloads$.chain(Workloads.scala:1)") == "other")
    expect("every per-layer metric name is unique", Main.PerLayer.distinct.length == Main.PerLayer.length)
    val spec = new java.io.File(benchDirOf, "../BENCHMARK.json")
    if (spec.exists) {
      val json = java.nio.file.Files.readString(spec.toPath)
      def names(section: String): Seq[String] = {
        val from = json.indexOf("\"" + section + "\"")
        val body = json.substring(from, json.indexOf("]", from))
        "\"name\": \"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
      }
      expect("BENCHMARK.json end_to_end == the metrics a run prints", names("end_to_end") == Main.EndToEnd.map(_._1))
      expect("BENCHMARK.json per_layer == the metrics a traced run prints", names("per_layer") == Main.PerLayer)
    }
  }

  private def inputs(): Unit = {
    val words = (0 until 60000).map(Inputs.pseudoWord)
    expect("pseudo-words are distinct", words.distinct.length == words.length)
    expect("each pseudo-word is one token",
      words.iterator.take(2000).forall(w => graft.text.Tokenizer.tokenize(w).length == 1))
    expect("ref docs are a pure function of (seed, index)",
      Inputs.refDoc(7, 3).spans.head.text == Inputs.refDoc(7, 3).spans.head.text &&
        Inputs.refDoc(7, 3).spans.head.text != Inputs.refDoc(8, 3).spans.head.text)
    expect("toy id ranges differ by seed", Inputs.toyBase(1) != Inputs.toyBase(2))
  }
}
