package graft

/** The bench's stdout-artifact formatting, factored out of [[Bench]] so
  * BenchFmtSpec can compose the SAME emitter functions at maximal
  * realistic field widths and pin the 2000-byte tail budget
  * (VERDICT r18 #4: the tail was measured 1871/2000 full in r18 — one
  * added field silently clips the next stanza, and nothing failed).
  *
  * BYTE BUDGET of the harness's 2 KB stdout tail (cuts from the HEAD;
  * triage order least-important-first on stdout, see Bench's emitter):
  *
  *   stanza                      r18 measured   max-widths modeled
  *   families (clips by design)     130 (clipped)   n/a (sidecar whole)
  *   state_parity stanza            296            ~340
  *   compact line                  1499            ~1565
  *   sbt "[success] ..." line        72             ~80
  *   newlines                         3               3
  *   TOTAL (parity..success)       1871           ~1988 of 2000
  *
  * BenchFmtSpec composes these functions at maximal realistic widths
  * and FAILS when the must-survive suffix exceeds 2000 — if a field
  * addition breaks it, shrink here, never by letting the parity stanza
  * silently clip. The r19 addition (mc_retry + 2 aenv keys, ~135 B
  * modeled) was paid for by moving min2_detail (~530 B modeled — names
  * that duplicate min2's keys) and the slowest stanza (~95 B — fully
  * derivable from the sidecar's complete queries + gc_ms maps) wholly
  * to BENCH_DETAIL.json, the committed sidecar that has been the
  * designated overflow artifact since r18. Both remain committed there
  * and visible on stderr.
  */
object BenchFmt {

  /** {"k":1.23,...} sorted by descending seconds, 2 dp. */
  def secMapJson(m: Map[String, Double]): String = m.toSeq.sortBy(-_._2)
    .map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")

  /** The per-family equivalence-audit stanza (may clip — complete copy
    * in BENCH_DETAIL.json). */
  def famsStanza(first: Map[String, Double], mc: Map[String, Double]): String = {
    val mcJson = if (mc != first) s""","memo_cleared":${secMapJson(mc)}""" else ""
    s"""{"metric":"stream_eq_families","unit":"sec","concurrent":true,"seconds":${secMapJson(first)}$mcJson}"""
  }

  /** The per-machine parity stanza — must survive the tail WHOLE
    * (VERDICT r17 #5). */
  def parityStanza(first: Map[String, Double], mc: Map[String, Double]): String = {
    val mcJson = if (mc != first) s""","memo_cleared":${secMapJson(mc)}""" else ""
    s"""{"metric":"state_parity_machines","unit":"sec","concurrent":true,"seconds":${secMapJson(first)}$mcJson}"""
  }

  /** Compact per-view serving disclosure for the tail line: plain hits
    * are COUNTED (`"hit":N`), non-hit views (built/rebuilt — the audit
    * signal) are named — but at most [[MaxNamedViews]] of them, the
    * remainder collapsing to `"more":K`. Without the cap a cold-cache
    * run (every view built) would emit all ~22 names and blow the
    * 2000-byte tail budget while BenchFmtSpec's few-rebuilt model
    * stayed green (ADVICE r19 #1); with it the worst case is bounded
    * and the spec models exactly this function at that bound (3 named:
    * the spec measured 6 named at full width overflowing to 2083/2000
    * on the all-built case). The FULL map always lands in
    * BENCH_DETAIL.json and on stderr. */
  val MaxNamedViews = 3
  def viewsCompactJson(log: Seq[(String, String)]): String = {
    val (hits, rest) = log.partition(_._2 == "hit")
    val named = rest.take(MaxNamedViews)
      .map { case (fam, how) => s""""${fam.stripPrefix("graft_")}":"$how"""" }
    val more = if (rest.size > MaxNamedViews) Seq(s""""more":${rest.size - MaxNamedViews}""") else Nil
    ((s""""hit":${hits.size}""" +: named) ++ more).mkString("{", ",", "}")
  }

  /** aenv = [calib_sec, io_probe_sec] per probe tag (eq/par/eq_mc/
    * par_mc, plus eq_mc2/par_mc2 when a contention retry fired). */
  def aenvJson(probes: Seq[(String, (Double, Double))]): String = probes
    .map { case (k, (c, i)) => f""""$k":[$c%.3f,$i%.3f]""" }
    .mkString("{", ",", "}")

  /** The contention-retry TRIGGER (VERDICT r18 #5 io arm; r19 #3 CPU
    * arm): rerun a memo-cleared audit once when its pre-rerun window's
    * 32 MB O_DIRECT probe exceeds 0.1 s (quiet windows measure
    * 0.017-0.034) OR its calib probe exceeds 1.1× the run-start
    * calib_sec. The 1.1 factor is set BY the motivating regression:
    * r19's CPU-noisy parity window read calib 0.341 vs the run's 0.296
    * — ratio 1.15 — with quiet io, and the noisy 9.99 s stood; quiet
    * windows measure ratios 0.73-1.08 across r19/r20 artifacts (the
    * 50M-row window probe runs relatively faster than the 200M run
    * probe), so 1.1 sits above observed quiet noise and below the
    * observed contention. io = -1 (O_DIRECT unsupported) never
    * triggers the io arm. Factored here so BenchFmtSpec can pin both
    * arms against the observed regression values. */
  def retryTriggered(calibMc: Double, ioMc: Double, runCalib: Double): Boolean =
    ioMc > 0.1 || calibMc > 1.1 * runCalib

  /** Contention-retry readings: audit tag -> [first_mc, retry_mc]
    * seconds. Empty map -> empty string (the common quiet-window case
    * costs zero bytes). */
  def mcRetryJson(m: Seq[(String, (Double, Double))]): String =
    if (m.isEmpty) ""
    else m.map { case (k, (a, b)) => f""""$k":[$a%.3f,$b%.3f]""" }
      .mkString(""","mc_retry":{""", ",", "}")

  /** The sidecar's failure record: `"failed"` maps each registry row
    * that threw to its exception class, `"warm_failed"` lists the
    * warm-up leg tags that threw. Both are always present, so an empty
    * map/list is a positive statement that nothing failed. Sidecar-only:
    * the stdout tail budget is untouched. */
  def failuresJson(failed: Seq[(String, String)], warmFailed: Seq[String]): String = {
    def str(x: String): String = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val rows = failed.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    s""""failed":$rows,"warm_failed":${warmFailed.map(str).mkString("[", ",", "]")}"""
  }

  /** The final compact line — the one the driver parses; must print
    * LAST and fit the tail whole alongside the parity stanza. */
  def compactLine(
      total: Double,
      gcSec: Double,
      calibSec: Double,
      ioProbeSec: Double,
      warmViewsSec: Double,
      viewsJson: String,
      aenv: String,
      queriesJson: String,
      min2Json: String,
      min2McJson: String,
      mcRetry: String,
      sfDir: String): String =
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","gc_sec":$gcSec%.1f,"calib_sec":$calibSec%.3f,"io_probe_sec":$ioProbeSec%.3f,"total_per_calib":${total / calibSec}%.1f,"warm_views_sec":$warmViewsSec%.3f,"views":$viewsJson,"aenv":$aenv,"queries":$queriesJson,"min2":$min2Json,"min2_memo_cleared":$min2McJson$mcRetry,"sf":"$sfDir"}"""
}
