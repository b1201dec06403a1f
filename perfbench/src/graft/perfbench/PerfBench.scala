package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import graft.{Memos, Q, Registry, Tables, ViewStore}
import graft.operators.{Advanced, Dedup, Similarity, TextAnalysis}

/** One benchmark workload: a pool of registry rows chosen by a property of
  * the row name, the serving views those rows read (built cold in every
  * set-up, so no view is ever built inside a timed query), and how many
  * set-ups `setup_s` is the median of. */
final case class Workload(
    name: String,
    pool: Seq[Q],
    views: Seq[(SparkSession, String) => Any],
    setups: Int)

object Workloads {
  private val analystPrefixes = Set("src", "proj", "filt", "join", "agg", "win", "set", "sort",
    "topk", "fn", "gen", "ts", "events", "sql", "udf", "udaf", "udtf", "typed", "dq", "profile",
    "funnel", "report")
  private val writeNames = Set("merge_upsert", "sql_ddl_ctas", "src_csv_badrecords", "src_schema_evolution")

  def prefix(name: String): String = name.takeWhile(_ != '_')

  def writesOrStreams(name: String): Boolean =
    Seq("snk_", "maint_", "stream_").exists(name.startsWith) || writeNames(name)

  /** maint_forget_report reads these eight id-keyed views. */
  private val forgetReportViews: Seq[(SparkSession, String) => Any] = Seq(
    Dedup.sigTablePath _, Dedup.minhashSigTablePath _, Dedup.simhashSigTablePath _,
    Similarity.lshSigTablePath _, Advanced.ivfIndexPath _,
    (s, d) => Advanced.pqIndexPath(s, d), (s, d) => Advanced.ivfPqIndexPath(s, d),
    (s, d) => TextAnalysis.bm25IndexPath(s, d))

  /** write_stream sets up once: a second cold view build would add ~20 s
    * to every run, which the run budget does not allow. */
  def byName(name: String): Workload = name match {
    case "analyst" =>
      Workload(name, Registry.all.filter(q =>
        analystPrefixes(prefix(q.name)) && !writesOrStreams(q.name)), Nil, setups = 3)
    case "write_stream" =>
      Workload(name, Registry.all.filter(q => writesOrStreams(q.name)), forgetReportViews, setups = 1)
    case other =>
      throw new IllegalArgumentException(s"unknown workload '$other' (analyst | write_stream)")
  }

  /** The rows one run issues: the last-declared row of each name prefix in
    * the pool (one row per operator family), in an order drawn from the
    * seed. The subset is the same for every seed, so runs with different
    * seeds time the same work. */
  def sequence(w: Workload, seed: Long): Seq[Q] = {
    val last = w.pool.groupBy(q => prefix(q.name)).values.map(_.last.name).toSet
    new scala.util.Random(seed).shuffle(w.pool.filter(q => last(q.name)))
  }
}

/** Full-output benchmark over the operator registry: one workload, one
  * JVM, one closed-loop client issuing registry rows one after another.
  *
  * Each query is timed from `q.run` to the last row of its output (see
  * [[Digest]]); the digest is compared with a reference outside the timed
  * region. Set-up (session, table sweep, cold serving views) is timed
  * separately and repeated `Workload.setups` times. Pass 0 warms the JIT
  * and codegen caches; passes 1.. are measured until `--seconds` have
  * elapsed since pass 0 began (at least one is). `--trace 1` additionally
  * registers a [[Tracer]] and reports per-layer metrics instead of
  * end-to-end ones.
  *
  * Usage (from the repository root, after compiling with perfbench/build.sh):
  * {{{
  * PerfBench --workload analyst --seed 1 --seconds 20 --trace 0 \
  *   --data perfbench/data/sf0.01 --refs perfbench/refs/sf0.01.tsv --run-dir <scratch dir>
  * PerfBench --refs-from <graft.Verify output dir> --refs <out.tsv> --run-dir <dir>
  * }}}
  * The last stdout line is `PERFBENCH_RESULT <json>`.
  */
object PerfBench extends AdaptiveSparkPlanHelper {
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val MaxMeasureNanos = 150L * 1000000000L

  final case class Setup(spark: SparkSession, sessionS: Double, sweepS: Double, viewsS: Double,
      built: Int) {
    def totalS: Double = sessionS + sweepS + viewsS
  }

  /** Timestamps are `System.nanoTime`; phases are construct `[t0,t1)`,
    * plan `[t1,t2)`, execute `[t2,t3)`. */
  final case class QueryRec(pass: Int, idx: Int, name: String, t0: Long, t1: Long, t2: Long,
      t3: Long, ok: Boolean, error: Option[String], analysisMs: Long, optimizationMs: Long,
      planningMs: Long, broadcastB: Long) {
    def latencyS: Double = (t3 - t0) / 1e9
  }

  final case class PassRec(pass: Int, startNs: Long, endNs: Long, cpuNs: Long, gcMs: Long,
      heapPeakB: Long, memoComputes: Long) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    try {
      if (a.contains("refs-from")) writeRefs(arg("refs-from"), arg("refs"), arg("run-dir"))
      else {
        val json = run(Workloads.byName(arg("workload")), arg("seed").toLong, arg("seconds").toInt,
          arg("trace") == "1", arg("data"), arg("refs"), arg("run-dir"), a.get("trace-out"))
        println("PERFBENCH_RESULT " + json)
      }
    } catch {
      // exit now: a live SparkContext's non-daemon threads would keep the JVM up
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }
  }

  // ---------------------------------------------------------------- set-up

  private def buildSession(runDir: String, tag: String): SparkSession = {
    val d = Paths.get(runDir, tag)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", d.resolve("local").toString)
      .config("spark.sql.warehouse.dir", d.resolve("warehouse").toString)
      .config("spark.graft.viewstore.dir", d.resolve("views").toString)
      .getOrCreate()
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def tableNames(data: String): Seq[String] =
    Option(new java.io.File(data).list()).getOrElse(Array.empty[String]).toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  /** Full decode of every input table through the `Tables` loaders: the
    * hash reads every column, and `head()` demands its value, so nothing
    * is pruned to a footer scan. */
  private def sweep(spark: SparkSession, data: String): Unit = {
    val names = tableNames(data)
    require(names.nonEmpty, s"no input tables under $data")
    names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, data) else Tables.t(spark, data, n)
      df.select(shiftrightunsigned(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)), 40).as("h"))
        .agg(sum(col("h"))).head()
    }
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def setup(w: Workload, data: String, runDir: String, i: Int): Setup = {
    val t0 = System.nanoTime()
    val spark = buildSession(runDir, s"setup-$i")
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)
    val t1 = System.nanoTime()
    sweep(spark, data)
    val sweepS = secs(t1)
    val t2 = System.nanoTime()
    w.views.foreach(build => build(spark, data))
    val viewsS = secs(t2)
    val built = ViewStore.resolutionLog.count(_._2 == "built")
    System.err.println(f"[perfbench] setup $i: session=$sessionS%.3f s sweep=$sweepS%.3f s " +
      f"views=$viewsS%.3f s (${ViewStore.resolutionLog.map(r => s"${r._1}=${r._2}").mkString(" ")})")
    Setup(spark, sessionS, sweepS, viewsS, built)
  }

  // ------------------------------------------------------------- the runs

  private def classic(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  private[perfbench] def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between the closest ranks (numpy's default). */
  private def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted; val h = (s.size - 1) * p; val lo = h.toInt
    if (lo + 1 >= s.size) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }

  def run(w: Workload, seed: Long, seconds: Int, trace: Boolean, data: String, refsPath: String,
      runDir: String, traceOut: Option[String]): String = {
    val seq  = Workloads.sequence(w, seed)
    val refs = Digest.readRefs(refsPath)
    val noRef = seq.map(_.name).filterNot(refs.contains)
    require(noRef.isEmpty, s"no reference digest for: ${noRef.mkString(", ")}")
    System.err.println(s"[perfbench] ${w.name}: ${seq.size} of ${w.pool.size} rows, seed $seed: " +
      seq.map(_.name).mkString(" "))

    val setups = (1 to w.setups).map { i =>
      val s = setup(w, data, runDir, i)
      if (i < w.setups) stopSession(s.spark)
      s
    }
    val spark = setups.last.spark
    val sc = spark.sparkContext
    val setupViews = ViewStore.resolutionLog.toMap

    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(sc.addSparkListener)
    val resolveMs: Seq[Double] = if (!trace) Nil else for {
      n <- tableNames(data); _ <- 1 to 5
    } yield { val t0 = System.nanoTime(); Tables.t(spark, data, n); (System.nanoTime() - t0) / 1e6 }

    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    // The old generation: what survives young collections. Eden's peak only
    // says how far allocation got before the next collection.
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq.filter(p =>
      p.getType == MemoryType.HEAP && !p.getName.contains("Eden") && !p.getName.contains("Survivor"))
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

    val queries = mutable.ArrayBuffer.empty[QueryRec]
    val passes  = mutable.ArrayBuffer.empty[PassRec]

    def runQuery(q: Q, pass: Int, idx: Int): QueryRec = {
      if (q.memoizes) Registry.clearMemos()
      sc.setJobGroup(s"pb/$pass/$idx", q.name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      var t1, t2, t3 = t0
      try {
        val df = q.run(spark, data)
        t1 = System.nanoTime()
        val qe = classic(df)
        qe.executedPlan
        t2 = System.nanoTime()
        val got = Digest.of(qe)
        t3 = System.nanoTime()
        val ref = refs(q.name)
        val phases = qe.tracker.phases
        def phaseMs(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
        val bcast = if (!trace) 0L else collectWithSubqueries(qe.executedPlan) {
          case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
        }.sum
        val err = if (got == ref) None
          else Some(s"DigestMismatch(rows ${got.rows} vs ${ref.rows}, ${got.hex} vs ${ref.hex})")
        QueryRec(pass, idx, q.name, t0, t1, t2, t3, err.isEmpty, err,
          phaseMs("analysis"), phaseMs("optimization"), phaseMs("planning"), bcast)
      } catch {
        case e: Exception =>
          QueryRec(pass, idx, q.name, t0, t1, t2, System.nanoTime(), ok = false,
            Some(e.getClass.getName), 0L, 0L, 0L, 0L)
      } finally sc.clearJobGroup()
    }

    val windowStart = System.nanoTime()
    var pass = 0
    while (pass <= 1 || (System.nanoTime() - windowStart < seconds * 1000000000L &&
        System.nanoTime() - windowStart + passes.last.endNs - passes.last.startNs < MaxMeasureNanos)) {
      oldGen.foreach(_.resetPeakUsage())
      val cpu0 = os.getProcessCpuTime; val gc0 = gcMs; val memo0 = Memos.totalComputes()
      val p0 = System.nanoTime()
      seq.zipWithIndex.foreach { case (q, i) =>
        val r = runQuery(q, pass, i)
        r.error.foreach(e => System.err.println(s"[perfbench] FAILED pass $pass ${q.name}: $e"))
        queries += r
      }
      passes += PassRec(pass, p0, System.nanoTime(), os.getProcessCpuTime - cpu0, gcMs - gc0,
        oldGen.map(_.getPeakUsage.getUsed).sum, Memos.totalComputes() - memo0)
      System.err.println(f"[perfbench] pass $pass: ${passes.last.wallS}%.3f s")
      pass += 1
    }

    val builtDuringPasses = ViewStore.resolutionLog.collect {
      case (fam, "built") if !setupViews.contains(fam) => fam
    }
    require(builtDuringPasses.isEmpty,
      s"views built inside timed queries (add them to the workload's set-up): ${builtDuringPasses.mkString(", ")}")
    val viewHits = ViewStore.resolutionLog.count(_._2 == "hit")

    val measured = passes.filter(_.pass >= 1).toSeq
    val okLat = queries.filter(r => r.pass >= 1 && r.ok).map(_.latencyS).toSeq
    val failed = queries.count(!_.ok)
    queries.filter(_.pass >= 1).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      val ok = rs.filter(_.ok).map(_.latencyS)
      System.err.println(f"[perfbench]   $n%-32s ${if (ok.isEmpty) Double.NaN else median(ok.toSeq)}%8.3f s x${ok.size}")
    }

    val metrics: Seq[(String, Double, String)] = if (!trace) {
      // The ContextCleaner frees shuffle/broadcast state only after a GC
      // has surfaced their dead references, so collect, let it run, repeat.
      for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
      Seq(
        ("setup_s", median(setups.map(_.totalS)), "s"),
        ("pass_s", median(measured.map(_.wallS)), "s"),
        ("query_p50_s", percentile(okLat, 0.5), "s"),
        ("query_p90_s", percentile(okLat, 0.9), "s"),
        ("cpu_s", median(measured.map(_.cpuNs / 1e9)), "s"),
        ("heap_live_mb", ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, "MB"))
    } else {
      val t = tracer.get
      t.drain(sc)
      Layers.metrics(t, queries.toSeq, measured, setups, resolveMs, viewHits, okLat.size, cpus,
        traceOut, w.name, seed)
    }
    metrics.foreach { case (n, v, u) => System.err.println(f"[perfbench] $n%-24s $v%.6f $u") }
    stopSession(spark)
    val body = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a number")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": ${queries.size}, "failed": $failed, "metrics": $body}"""
  }

  // ----------------------------------------------------------- references

  /** Digests every query output in a `graft.Verify` dump directory (one
    * single-file parquet dir per registry row, in output order) and writes
    * them as the reference file. */
  def writeRefs(dump: String, out: String, runDir: String): Unit = {
    val spark = buildSession(runDir, "refs")
    spark.sparkContext.setLogLevel("WARN")
    val names = Registry.all.map(_.name).sorted
    val missing = names.filterNot(n => Files.isDirectory(Paths.get(dump, n)))
    require(missing.isEmpty, s"dump lacks outputs for: ${missing.mkString(", ")}")
    val lines = names.map { n =>
      val d = Digest.of(classic(spark.read.parquet(Paths.get(dump, n).toString)))
      s"$n\t${d.rows}\t${d.hex}"
    }
    Files.write(Paths.get(out), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    System.err.println(s"[perfbench] wrote ${lines.size} reference digests to $out")
    stopSession(spark)
  }
}
