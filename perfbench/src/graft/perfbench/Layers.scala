package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.perfbench.PerfBench.{PassRec, QueryRec, Setup, median}

/** Turns one traced run into per-layer metrics (medians over the measured
  * passes) and writes its spans, self-time table and tracing cost.
  *
  * Span tree per query: `query` -> `construct` | `plan` | `execute` -> `job`.
  * A layer's self time is its span's duration minus the part its children
  * cover, so per pass
  * `between + construct.driver + construct.jobs + plan + execute.driver + execute.jobs`
  * equals the pass's wall time: `between` is the benchmark's own work
  * between queries (memo clears, digest compares), `*.jobs` is time with
  * at least one Spark job running, `*.driver` the rest of the phase.
  */
object Layers {
  private val MB = 1048576.0

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def metrics(t: Tracer, queries: Seq[QueryRec], measured: Seq[PassRec], setups: Seq[Setup],
      resolveMs: Seq[Double], viewHits: Int, samples: Int, cpus: Int, traceOut: Option[String],
      workload: String, seed: Long): Seq[(String, Double, String)] = {
    // nanoTime -> epoch ms, the clock listener events carry
    val offNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def ms(ns: Long): Long = (ns - offNs) / 1000000L

    val byGroup = queries.map(q => s"pb/${q.pass}/${q.idx}" -> q).toMap
    val jobQuery: Seq[(Tracer.Job, QueryRec)] = t.jobs.values.toSeq.filter(_.endMs >= 0).flatMap { j =>
      j.group.flatMap(byGroup.get)
        .orElse(queries.find(q => j.startMs >= ms(q.t0) && j.startMs <= ms(q.t3)))
        .map(j -> _)
    }
    def inConstruct(j: Tracer.Job, q: QueryRec): Boolean = j.startMs < ms(q.t1)

    val perPass = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def put(k: String, v: Double): Unit = perPass.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val selfTables = mutable.ArrayBuffer.empty[(Int, Double, Seq[(String, Double)])]

    measured.foreach { p =>
      val qs = queries.filter(_.pass == p.pass)
      val js = jobQuery.filter(_._2.pass == p.pass)
      val jobs = js.map(_._1)
      val (lo, hi) = (ms(p.startNs), ms(p.endNs))
      val execS = Tracer.covered(jobs.map(j => (j.startMs, j.endMs)), lo, hi) / 1000.0
      val runS = jobs.map(_.runMs).sum / 1000.0
      val tasks = jobs.map(_.tasks).sum
      put("registry.construct_s", qs.map(q => (q.t1 - q.t0) / 1e9).sum)
      put("registry.construct_jobs", js.count { case (j, q) => inConstruct(j, q) }.toDouble)
      put("catalyst.analysis_s", qs.map(_.analysisMs).sum / 1000.0)
      put("catalyst.optimization_s", qs.map(_.optimizationMs).sum / 1000.0)
      put("catalyst.planning_s", qs.map(_.planningMs).sum / 1000.0)
      put("exec.s", execS)
      put("exec.jobs", jobs.size.toDouble)
      put("exec.stages", jobs.map(_.stages).sum.toDouble)
      put("exec.tasks", tasks.toDouble)
      put("exec.task_run_s", runS)
      put("exec.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9)
      put("exec.slot_util", if (execS > 0) runS / (cpus * execS) else 0.0)
      put("exec.sched_delay_s", jobs.map(_.schedDelayMs).sum / 1000.0)
      put("exec.task_gc_s", jobs.map(_.gcMs).sum / 1000.0)
      put("exec.shuffle_read_mb", jobs.map(_.shuffleReadB).sum / MB)
      put("exec.shuffle_write_mb", jobs.map(_.shuffleWriteB).sum / MB)
      put("exec.spill_mb", jobs.map(_.spillB).sum / MB)
      put("exec.input_mb", jobs.map(_.inputB).sum / MB)
      put("exec.output_mb", jobs.map(_.outputB).sum / MB)
      put("exec.task_failures", if (tasks > 0) jobs.map(_.taskFailures).sum.toDouble / tasks else 0.0)
      put("exec.broadcast_mb", qs.map(_.broadcastB).sum / MB)
      put("memos.recomputes", p.memoComputes.toDouble)
      val bs = t.batches.values.filter(b => b.startMs >= lo && b.startMs < hi).toSeq
      put("stream.queries", t.streams.count(s => s >= lo && s < hi).toDouble)
      put("stream.batches", bs.size.toDouble)
      put("stream.batch_s", bs.map(_.durationMs).sum / 1000.0)
      put("stream.state_rows", bs.map(_.stateRows).sum.toDouble)
      put("driver.gc_s", p.gcMs / 1000.0)
      put("driver.heap_peak_mb", p.heapPeakB / MB)

      def jobCover(q: QueryRec, a: Long, b: Long): Double =
        Tracer.covered(js.filter(_._2 eq q).map { case (j, _) => (j.startMs, j.endMs) }, ms(a), ms(b)) / 1000.0
      val cJobs = qs.map(q => jobCover(q, q.t0, q.t1)).sum
      val eJobs = qs.map(q => jobCover(q, q.t2, q.t3)).sum
      val construct = qs.map(q => (q.t1 - q.t0) / 1e9).sum
      val execute = qs.map(q => (q.t3 - q.t2) / 1e9).sum
      val self = Seq(
        "between" -> (p.wallS - qs.map(_.latencyS).sum),
        "construct.driver" -> (construct - cJobs),
        "construct.jobs" -> cJobs,
        "plan" -> qs.map(q => (q.t2 - q.t1) / 1e9).sum,
        "execute.driver" -> (execute - eJobs),
        "execute.jobs" -> eJobs)
      selfTables += ((p.pass, p.wallS, self))
    }

    val listenerS = t.busNanos / 1e9 / (measured.size + 1)
    val passS = median(measured.map(_.wallS))
    System.err.println(f"[perfbench] self time per pass (s), traced pass_s=$passS%.3f, listener=$listenerS%.4f s/pass")
    selfTables.foreach { case (p, wall, rows) =>
      System.err.println(f"[perfbench]   pass $p wall=$wall%.3f accounted=${rows.map(_._2).sum}%.3f " +
        rows.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    }

    val out = Seq(
      ("session.build_s", median(setups.map(_.sessionS)), "s"),
      ("tables.sweep_s", median(setups.map(_.sweepS)), "s"),
      ("tables.resolve_ms", median(resolveMs), "ms"),
      ("viewstore.build_s", median(setups.map(_.viewsS)), "s"),
      ("viewstore.built", setups.last.built.toDouble, "count"),
      ("viewstore.hit", viewHits.toDouble, "count")) ++
      perPass.toSeq.map { case (k, vs) =>
        val unit =
          if (k.endsWith("_mb")) "MB"
          else if (k.endsWith("_s") || k == "exec.s") "s"
          else if (k == "exec.slot_util" || k == "exec.task_failures") "ratio"
          else "count"
        (k, median(vs.toSeq), unit)
      } ++ Seq(
      ("query.samples", samples.toDouble, "count"),
      ("warmup.pass_s", queries.filter(_.pass == 0).map(_.latencyS).sum, "s"),
      ("trace.pass_s", passS, "s"),
      ("trace.listener_s", listenerS, "s"))

    traceOut.foreach { path =>
      val t00 = queries.map(_.t0).min
      val spans = mutable.ArrayBuffer.empty[String]
      var nextId = 0
      def span(parent: Int, name: String, s: Long, e: Long, attrs: (String, String)*): Int = {
        nextId += 1
        val at = attrs.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString(",")
        spans += f"""{"id":$nextId,"parent":$parent,"name":${jsonStr(name)},"start_ms":${(s - t00) / 1e6}%.3f,"dur_ms":${(e - s) / 1e6}%.3f,"attrs":{$at}}"""
        nextId
      }
      queries.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (pass, qs) =>
        val ps = span(0, "pass", qs.map(_.t0).min, qs.map(_.t3).max, "workload" -> workload, "pass" -> pass.toString)
        qs.foreach { q =>
          val qid = span(ps, "query", q.t0, q.t3, "query" -> q.name, "ok" -> q.ok.toString,
            "error" -> q.error.getOrElse(""))
          val c = span(qid, "construct", q.t0, q.t1)
          span(qid, "plan", q.t1, q.t2)
          val e = span(qid, "execute", q.t2, q.t3)
          jobQuery.filter(_._2 eq q).foreach { case (j, _) =>
            val s = j.startMs * 1000000L + offNs
            span(if (inConstruct(j, q)) c else e, "job", s, j.endMs * 1000000L + offNs,
              "job_id" -> j.id.toString, "group" -> j.group.getOrElse(""), "tasks" -> j.tasks.toString)
          }
        }
      }
      val selfJson = selfTables.map { case (p, wall, rows) =>
        f"""{"pass":$p,"wall_s":$wall%.6f,"accounted_s":${rows.map(_._2).sum}%.6f,""" +
          rows.map { case (k, v) => f"${jsonStr(k)}:$v%.6f" }.mkString(",") + "}"
      }.mkString("[", ",\n", "]")
      val metricsJson = out.map { case (k, v, u) => s"${jsonStr(k)}:{\"value\":$v,\"unit\":${jsonStr(u)}}" }
        .mkString("{", ",", "}")
      val doc = s"""{"workload":${jsonStr(workload)},"seed":$seed,"pass_s":$passS,""" +
        s""""listener_s_per_pass":$listenerS,"self_time_s":$selfJson,"metrics":$metricsJson,""" +
        s""""spans":[\n${spans.mkString(",\n")}\n]}\n"""
      val p = Paths.get(path)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.write(p, doc.getBytes("UTF-8"))
      System.err.println(s"[perfbench] trace written to $path (${spans.size} spans)")
    }
    out
  }
}
