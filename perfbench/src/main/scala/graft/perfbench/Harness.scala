package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructType}
import scala.collection.mutable.ArrayBuffer

/** Session, clock, fingerprint and statistics helpers shared by the
  * workloads. Nothing here touches program internals: the harness times
  * public calls from outside and listens to Spark's own events.
  */
object Harness {

  /** Local session on `cores` task threads; every scratch directory Spark
    * would otherwise put under /tmp lives in the run's work dir.
    */
  def session(cores: Int, work: java.io.File, app: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // cap the status store's history so retained job/query records do
      // not grow the live heap with the number of passes
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def now(): Long = System.nanoTime()

  private val start = System.nanoTime()
  /** Progress line on stderr with seconds since JVM start of the harness. */
  def phase(what: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - start) / 1e9}%6.1f s] $what")
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = now(); val r = f; (r, secs(t0))
  }

  /** Linear-interpolated quantile (same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Order-independent fingerprint of a whole frame: (rows, xor of row
    * hashes, sum of the hashes' high halves). Every column feeds the
    * hash, so evaluating it consumes every column (a bare count() lets
    * Catalyst prune the columns users pay for). Maps are hashed via
    * their JSON form (Spark refuses to hash map values).
    */
  final case class Fp(rows: Long, xor: Long, hiSum: Long) {
    override def toString: String = f"$rows:$xor%016x:$hiSum%x"
  }
  def fingerprint(df: DataFrame): Fp = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case st: StructType if containsMap(st) => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .first()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }
  private def containsMap(st: StructType): Boolean =
    st.fields.exists(f => f.dataType match {
      case _: MapType => true
      case s: StructType => containsMap(s)
      case _ => false
    })

  /** Full consumption without a result: Spark's `noop` sink evaluates
    * every column of every row.
    */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def drain(s: SparkSession): Unit =
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(s.sparkContext)

  /** Live heap: old-generation occupancy right after a full GC, sampled
    * at quiet points between passes (outside every timed window) and
    * reported as the median sample, so garbage a stopped set-up session
    * leaves for Spark's asynchronous cleaner does not count. Each sample
    * collects twice: the cleaner releases shuffle and broadcast state only
    * after the first collection has enqueued the dead references.
    */
  final class LiveHeap {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    private val samples = ArrayBuffer[Double]()
    def probe(): Unit = {
      System.gc()
      Thread.sleep(100)
      System.gc()
      samples += oldPools.iterator.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
    }
    def mb: Double = median(samples.toSeq)
  }

  /** One Spark job as seen by the listener: wall interval and the layer
    * its call site belongs to.
    */
  final case class JobRec(id: Int, start: Long, var end: Long, layer: String)

  /** Cumulative engine counters at one instant. */
  final case class Snap(jobs: Int, tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        schedMs: Long, shuffle: Long, spill: Long)

  /** Engine counters for a window of the run, plus per-job records that
    * carry a call-site-derived layer label (`classify` maps the job's
    * creation-site stack, Spark's long call site, to a layer name).
    */
  final class EngineListener(classify: String => String) extends SparkListener {
    private val lock = new Object
    val jobs = new ArrayBuffer[JobRec]()
    var tasks = 0L
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L

    // SQL execution id -> call site of the thread that started it; a job
    // run on an async thread (broadcast, subquery, AQE stage) is billed to
    // the site of its root execution
    private val execSites = new java.util.HashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        lock.synchronized(execSites.put(x.executionId, x.details))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(p.getProperty("spark.sql.execution.id"))))
      val site = exec.flatMap(id => Option(execSites.get(id.toLong)))
        .getOrElse(e.stageInfos.map(_.details).mkString("\n"))
      jobs += JobRec(e.jobId, e.time, -1L, classify(site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (info != null) {
          // Spark UI's definition: wall minus everything the task did
          val d = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          schedDelayMs += math.max(0L, d)
        }
      }
    }

    def snap(): Snap = lock.synchronized {
      Snap(jobs.length, tasks, taskRunMs, taskCpuNs, gcMs, schedDelayMs,
        shuffleWriteBytes, spillBytes)
    }
    def jobsSince(n: Int): Seq[JobRec] = lock.synchronized(jobs.drop(n).toList)
  }

  /** Seconds of [t0, t1] (epoch ms) covered by at least one job. */
  def busyMs(js: Seq[JobRec], t0: Long, t1: Long): Long = {
    val iv = js.filter(_.end >= 0).map(j => (math.max(j.start, t0), math.min(j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curS = -1L; var curE = -1L
    for ((a, b) <- iv) {
      if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}
