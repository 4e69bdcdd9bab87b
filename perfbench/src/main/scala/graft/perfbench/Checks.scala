package graft.perfbench

import Harness.Fp

/** The output checks, each comparing what the program produced with what
  * the caller expects. Every check counts toward `attempted`, and toward
  * `failed` when the output is wrong; SelfTest feeds each one a wrong
  * expectation to show that it fails.
  */
object Checks {

  /** One pass of the flagship chain: row count equals the planted total
    * (when one is known) and the output equals the first pass's.
    */
  def chainPass(out: Out, i: Int, fp: Fp, goldenRows: Option[Long], first: Fp): Unit = {
    goldenRows.foreach(g => out.check(s"pass $i triple count", fp.rows == g, s"${fp.rows} != golden $g"))
    out.check(s"pass $i fingerprint", fp == first, s"$fp != $first")
  }

  def sameRows[T](out: Out, what: String, got: Set[T], want: Set[T]): Unit =
    out.check(what, got == want, s"${(got -- want).size} unexpected, ${(want -- got).size} missing")

  /** Element-wise equality of rendered outputs (bit-identical parity). */
  def parity(out: Out, what: String, got: Seq[String], want: Seq[String]): Unit = {
    val differing = got.zip(want).count { case (a, b) => a != b } + math.abs(got.length - want.length)
    out.check(what, differing == 0, s"$differing of ${want.length} rows differ")
  }

  def recorded(out: Out, what: String, got: String, want: String): Unit =
    out.check(what, got == want, s"$got != recorded $want")

  /** A catalog query's fingerprint against its recorded reference. */
  def catalogQuery(out: Out, what: String, fp: Fp, ref: Option[String]): Unit = ref match {
    case Some(want) => out.check(what, fp.toString == want, s"$fp != reference $want")
    case None => out.check(what, ok = false, "no reference recorded")
  }

  /** Aggregates of a job's commit log. */
  final case class JobLog(commits: Long, buckets: Long, docs: Long, triples: Long)

  /** Exactly-once after an injected failure and the resume: the failure
    * happened, the resume did the rest, one commit per bucket, docs and
    * triples over the commits equal the input's, and the snapshot holds
    * every planted triple.
    */
  def job(out: Out, i: Int, failed: Boolean, resumed: Int, log: JobLog, snapshotRows: Long,
          nBuckets: Int, failAfter: Int, nDocs: Long, golden: Long): Unit = {
    out.check(s"job $i failed as injected and resumed the rest",
      failed && resumed == nBuckets - failAfter, s"failed=$failed resumed=$resumed")
    out.check(s"job $i one commit per bucket", log.commits == nBuckets && log.buckets == nBuckets,
      s"${log.commits} commits over ${log.buckets} buckets")
    out.check(s"job $i docs over commits", log.docs == nDocs, s"${log.docs} != $nDocs")
    out.check(s"job $i triples over commits", log.triples == golden, s"${log.triples} != golden $golden")
    out.check(s"job $i snapshot rows", snapshotRows == golden, s"$snapshotRows != golden $golden")
  }
}
