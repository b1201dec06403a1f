package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's 2000-byte stdout-tail budget (VERDICT r18 #4).
  *
  * The harness keeps only the LAST 2000 stdout bytes as the committed
  * artifact's tail; r18 measured the real tail at 1871/2000 with the
  * families stanza already clipping. Today an added artifact field
  * silently costs the next stanza up the triage order — nothing fails.
  * This spec composes the SAME emitter functions Bench calls
  * (BenchFmt), at maximal realistic field widths, and asserts the
  * must-survive suffix — parity stanza + compact line + sbt success
  * line — fits the tail whole. A field addition that breaks the budget
  * fails HERE, by name, before it ships a clipped artifact.
  *
  * "Maximal realistic" is calibrated, not absolute-worst: per-query
  * seconds < 100 (the slowest row ever measured was 43 s; the gate
  * fails long before 100), per-query gc < 10 s, run-level values at
  * their observed ceilings ×2. Name widths are NOT modeled — the spec
  * takes the LONGEST names from the actual registry, so a long-named
  * future row automatically tightens the budget it must fit.
  */
class BenchFmtSpec extends AnyFunSuite {

  private val longestNames =
    Registry.all.map(_.name).sortBy(-_.length)
  private val longestMemoizing =
    Registry.all.filter(_.memoizes).map(_.name).sortBy(-_.length)

  // the structural maxima of each artifact map
  private val headline = Seq("agg_group_pricing", "join_broadcast_dims",
    "win_top3_per_group", "ts_tumbling_1h", "sim_cosine_topk", "dedup_near_jaccard")
  private val slowest10  = longestNames.take(10)
  // the compact line lists only the 8 slowest (r20 cap — the full
  // ranked map is in BENCH_DETAIL.json); min2 keeps its 10
  private val queriesMax = (headline ++ longestNames.take(8)).distinct
  private val sec        = 99.999 // > any single-query reading ever measured

  private def compactAtMaxWidths: String = {
    val queriesJson = queriesMax.map(n => f""""$n":$sec%.3f""").mkString("{", ",", "}")
    val min2Json = slowest10.map(n => f""""$n":$sec%.3f""").mkString("{", ",", "}")
    // memo-cleared pass: structurally ≤ 10 rows, all memoizing
    val min2McJson = longestMemoizing.take(10)
      .map(n => f""""$n":$sec%.3f""").mkString("{", ",", "}")
    // aenv: structural max 6 keys (eq/par × first, mc, mc2-retry)
    val aenv = BenchFmt.aenvJson(
      Seq("eq", "par", "eq_mc", "par_mc", "eq_mc2", "par_mc2").map(_ -> (9.999, 9.999)))
    // mc_retry: structural max 2 entries (the two audit tags)
    val mcRetry = BenchFmt.mcRetryJson(Seq("eq" -> (sec, sec), "par" -> (sec, sec)))
    // views: the true worst case is a COLD cache — every view built,
    // none a hit (ADVICE r19 #1). Compose the real capped emitter with
    // 30 built views at a width past the longest real family name
    // ("ingest_screen_minhash", 21 chars): the cap bounds the output no
    // matter how many views a future round registers.
    val viewsJson = BenchFmt.viewsCompactJson(
      (1 to 30).map(i => f"graft_longest_view_family_$i%02d" -> "built"))
    BenchFmt.compactLine(
      total = 999.999, gcSec = 99.9, calibSec = 0.999, ioProbeSec = 9.999,
      warmViewsSec = 99.999, viewsJson = viewsJson, aenv = aenv,
      queriesJson = queriesJson, min2Json = min2Json, min2McJson = min2McJson,
      mcRetry = mcRetry, sfDir = "/root/testdata/sf0.1")
  }

  private def parityAtMaxWidths: String = {
    // the six state machines, first + distinct memo-cleared maps
    val machines = Seq("user_totals", "sessionizer", "dedup_screen",
      "purchase_funnel", "scd2_mirror", "ewma_fold")
    BenchFmt.parityStanza(
      machines.map(_ -> 99.99).toMap,
      machines.map(_ -> 88.88).toMap)
  }

  test("must-survive tail suffix (parity + compact + success) fits 2000 bytes at max widths") {
    val success = "[success] Total time: 9999 s (999:99), completed Aug 88, 2026, 88:88:88 PM"
    val compact = compactAtMaxWidths
    val parity  = parityAtMaxWidths
    val tail    = parity + "\n" + compact + "\n" + success + "\n"
    info(s"parity=${parity.length} compact=${compact.length} success=${success.length} total=${tail.length}")
    assert(tail.length <= 2000,
      s"tail suffix ${tail.length} > 2000: the parity stanza would clip — " +
        "shrink a compact-line field (budget table in BenchFmt's scaladoc)")
  }

  test("the compact line prints last and is itself far inside the tail") {
    // even alone, the driver-parsed line must never be the one clipped
    val compact = compactAtMaxWidths
    assert(compact.length <= 1800, s"compact line ${compact.length} > 1800")
    assert(compact.startsWith("""{"metric":"total""""))
    assert(compact.endsWith("""}"""))
  }

  test("mc_retry is zero bytes in the quiet-window common case") {
    assert(BenchFmt.mcRetryJson(Nil) === "")
  }

  test("retry trigger: r19's CPU-noisy parity window now fires; quiet windows don't") {
    // the exact observed regression (VERDICT r19 #3): calib 0.341 in
    // the audit window vs run calib 0.296, io quiet at 0.020 — the
    // io-only r19 trigger let the noisy 9.99 s reading stand
    assert(BenchFmt.retryTriggered(calibMc = 0.341, ioMc = 0.020, runCalib = 0.296))
    // the io arm (VERDICT r18 #5) is unchanged
    assert(BenchFmt.retryTriggered(calibMc = 0.250, ioMc = 0.109, runCalib = 0.296))
    // quiet window: neither arm
    assert(!BenchFmt.retryTriggered(calibMc = 0.300, ioMc = 0.034, runCalib = 0.296))
    // O_DIRECT unsupported (-1) never fires the io arm, but a noisy
    // calib still can
    assert(!BenchFmt.retryTriggered(calibMc = 0.300, ioMc = -1.0, runCalib = 0.296))
    assert(BenchFmt.retryTriggered(calibMc = 0.400, ioMc = -1.0, runCalib = 0.296))
  }

  test("sidecar failure record names failed rows and warm-up legs, and is explicit when empty") {
    assert(BenchFmt.failuresJson(Nil, Nil) === "\"failed\":{},\"warm_failed\":[]")
    assert(BenchFmt.failuresJson(
        Seq("sql_pricing" -> "org.apache.spark.SparkException"),
        Seq("stream:tws", "sweep:events.parquet")) ===
      "\"failed\":{\"sql_pricing\":\"org.apache.spark.SparkException\"}," +
        "\"warm_failed\":[\"stream:tws\",\"sweep:events.parquet\"]")
    // a tag carrying a quote stays valid JSON
    assert(BenchFmt.failuresJson(Nil, Seq("view:a\"b")) === "\"failed\":{},\"warm_failed\":[\"view:a\\\"b\"]")
  }
}
