package graft.perfbench

import scala.collection.mutable

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  * args: workload seed seconds trace(0|1) cores workDir benchDir [record]
  *
  * Prints a `REPORT {...}` line (box stamp, the workload's own metric
  * names, failed checks) and, last, the result object
  * `{"correct", "attempted", "failed", "metrics"}`.
  */
object Main {

  /** Ends a recording mode, which prints no result. */
  final class Done extends Exception

  /** End-to-end metrics: the same five names on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_per_s" -> "1/s", "op_p50_s" -> "s", "op_p90_s" -> "s",
    "live_heap_mb" -> "MB")

  val Memos = Seq("parsed", "canonicalTriples", "shingleHashes3", "minhashPairs",
    "benchBloom97", "kmeansAssign8", "bpeMerges6", "lmScore", "bpeVocab6", "uniScores6",
    "uniVocab6", "annTopk5", "annLsh5", "annIvf5")

  /** Per-layer metrics, in layer order. */
  val PerLayer: Seq[String] =
    Seq("text.sentenize_s", "text.tokenize_s", "text.sentences", "text.tokens",
      "nlp.encode_s", "nlp.markup_s", "nlp.pad_frac", "nlp.oov_frac", "nlp.oversize_rows",
      "kernel.embed_s", "kernel.ner_trunk_s", "kernel.morph_trunk_s", "kernel.syntax_trunk_s",
      "kernel.crf_s", "kernel.gflop", "kernel.gflops_per_s",
      "pack.build_s", "pack.broadcast_s",
      "kg.extract_s", "kg.link_canon_s", "kg.triples", "kg.link_hit_frac") ++
      Memos.map(m => s"memo.${m}_fill_s") ++
      Workloads.Families.map(f => s"catalog.${f}_s") ++
      Workloads.Leads.map(q => s"catalog.${q}_s") ++
      Seq("runtime.write_s", "runtime.commit_s", "runtime.driver_gap_s",
        "runtime.resume_scan_s", "runtime.snapshot_read_s",
        "spark.jobs", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
        "spark.scheduler_delay_s", "spark.shuffle_write_bytes", "spark.spill_bytes",
        "spark.storage_mem_bytes", "trace.pass_s", "trace.overhead_frac")

  def unitOf(m: String): String =
    if (m.endsWith("gflops_per_s")) "GFLOP/s"
    else if (m.endsWith("_s")) "s"
    else if (m.endsWith("_bytes")) "bytes"
    else if (m.endsWith("_frac")) "fraction"
    else if (m.endsWith("gflop")) "GFLOP"
    else "count"

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def run(ctx: Ctx, record: Boolean): Out = {
    val out = new Out
    val trace = new Trace(ctx.trace)
    ctx.workload match {
      case "kg_toy" => Workloads.kgToy(ctx, out, trace)
      case "kg_ref" => Workloads.kgRef(ctx, out, trace)
      case "catalog" => Workloads.catalog(ctx, out, trace, record)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    trace.write(new java.io.File(ctx.benchDir, s"out/trace_${ctx.workload}_${ctx.seed}.json"))
    out
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, tr, cores, work, benchDir) = args.take(7)
    val ctx = Ctx(workload, seed.toLong, seconds.toDouble, tr == "1", cores.toInt,
      new java.io.File(work), new java.io.File(benchDir))
    val code = try {
      if (workload == "record_kg_ref") {
        Workloads.recordRefFingerprints(ctx, 0L until 100L)
        throw new Main.Done
      }
      if (workload == "catalog_queries") {
        println((Workloads.CatalogQueries ++ Workloads.TracedExtra).sorted.mkString(" "))
        throw new Main.Done
      }
      val out = run(ctx, args.length > 7 && args(7) == "record")
      val rt = Runtime.getRuntime
      val report = mutable.LinkedHashMap[String, String](
        "workload" -> s""""$workload"""", "seed" -> seed,
        "cores" -> cores, "heap_max_mb" -> (rt.maxMemory() / 1048576).toString,
        "jdk" -> s""""${System.getProperty("java.version")}"""",
        "failed_frac" -> num(out.failed.toDouble / math.max(1L, out.attempted)))
      out.report.foreach { case (k, v) => report(k) = num(v) }
      out.e2e.foreach { case (k, v) => report(k) = num(v) }
      report("problems") = out.problems.take(20).map(graft.text.Json.quote).mkString("[", ", ", "]")
      println("REPORT " + report.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
      val ms =
        if (ctx.trace) PerLayer.map(m => (m, out.layers.getOrElse(m, 0.0), unitOf(m)))
        else EndToEnd.map { case (m, u) => (m, out.e2e(m), u) }
      println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
        s""""failed": ${out.failed}, "metrics": ${metricsJson(ms)}}""")
      0
    } catch {
      case _: Main.Done => 0
      case e: Throwable =>
        System.err.println(s"perfbench: $workload failed: $e")
        e.printStackTrace()
        1
    }
    Harness.phase("done")
    System.out.flush()
    // stop Spark and any non-daemon threads it left behind
    try org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop()) catch { case _: Throwable => }
    sys.exit(code)
  }
}
