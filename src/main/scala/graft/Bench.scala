package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Timing includes plan + execution per query (a `count()` action drives the
  * full pipeline). A warm-up pass primes the JVM/JIT and the parquet footer
  * cache so the measured numbers reflect steady-state throughput rather than
  * first-query JVM startup.
  *
  * Each query is run SPARK_GRAFT_BENCH_REPS times (default 3) and the
  * MEDIAN is reported: single runs of sub-second shapes swing 2–3× between
  * identical-code rounds (GC, page cache, micro-batch timers), which reads
  * as a regression when nothing changed — the median is the number a
  * round-over-round comparison can actually trust.
  */
object Bench {

  /** Queries whose per-run cost is a fixed micro-batch / commit / staging
    * floor rather than compute: every Structured Streaming query (each
    * trigger pays a scheduler+commit latch regardless of rows) and every
    * query that writes a table/index/scratch staging per run (the file
    * create + manifest fsync IS the cost). Repeating these multiplies the
    * floor without reducing variance — the floor does not vary with GC or
    * page-cache state the way compute does — so they run ONE rep while
    * compute-shaped queries keep the median-of-3. This cut the projected
    * full-suite wall from ~1090 s to ~744 s on the r14 clean numbers,
    * keeping the driver budget safe even under a 2× ambient wave (the
    * round-15 driver bench died rc=124 under a 19× wave).
    *
    * Membership criterion (regenerate when adding queries): the entry's
    * body in SparkEntry.queries mentions any of readStream / writeStream /
    * EventStream. / .write. / scratchDir / ManifestTable. A new floor
    * query left out of this set is merely slower (3 reps), never wrong.
    */
  val FloorDominated: Set[String] = Set(
    "q101_stream_stream_join", "q170_watermark_closure",
    "q172_stream_outer_join", "q187_stream_checkpoint_resume",
    "q211_multi_source_watermark", "q215_range_partitioned_write",
    "q217_zone_pruned_scan", "q224_json_ingest_quarantine",
    "q225_schema_evolution", "q231_exactly_once_sink",
    "q234_session_window_stream", "q235_persisted_ivf",
    "q237_bloom_index_lookup", "q239_inverted_index",
    "q240_incremental_inverted", "q241_atomic_publish",
    "q242_stream_cdc_upsert", "q243_incremental_ivf",
    "q244_time_travel_vacuum", "q245_incremental_bloom",
    "q247_pq_index", "q248_concurrent_commits", "q249_change_feed",
    "q253_partition_evolution", "q254_merge_on_read",
    "q255_rollup_pushdown", "q256_incremental_rollup",
    "q257_incremental_components", "q259_cuboid_routing",
    "q263_forget_user", "q264_multi_table_commit", "q266_mor_update",
    "q268_incremental_zonemap", "q278_phrase_search",
    "q279_dpp_star_join", "q280_leased_vacuum",
    "q281_stream_index_maintenance", "q282_hll_rollup",
    "q283_result_cache", "q284_index_intersection",
    "q287_compact_vs_append", "q289_stream_manifest_tail",
    "q290_branch_tags", "q295_string_zone_skip",
    "q297_inc_string_zones", "q298_orphan_gc", "q302_safe_orphan_gc",
    "q304_manifest_checkpoint", "q306_partition_overwrite",
    "q308_write_audit_publish", "q309_compact_partitioned",
    "q312_snapshot_rollback", "q315_inc_eval_report",
    "q316_stream_eval_report", "q318_persisted_ground_truth",
    "q319_compaction_change_feed", "q320_multi_probe_eval",
    "q321_incremental_ground_truth", "q324_stream_partitioned_ingest",
    "q326_stream_mor_ingest", "q327_concurrent_partition_commits",
    "q329_mor_upsert_read", "q330_stream_compact_race",
    "q331_position_delete_mor", "q332_field_id_evolution",
    "q333_colocated_partition_join", "q334_backfill_stream_handoff",
    "q335_metadata_count", "q336_metadata_stats_deletes",
    "q36_warehouse_roundtrip", "q64_stream_tumbling",
    "q67_stream_static_join", "q68_stream_sessionize", "q72_range_join",
    "q82_stream_sliding", "q84_stream_dedup", "q88_compaction",
    "q98_orc_roundtrip")

  /** Committed reference for [[calibrationProbeSec]] on an IDLE instance of
    * the build/judge box (32 cores; repeated idle runs sat at 0.33–0.46 s,
    * re-measurable any time with `SPARK_GRAFT_PROBE_ONLY=1`). The probe is
    * pure JVM work — no Spark, no disk — so on the same hardware it moves
    * only with external CPU contention; the 2× flag threshold sits well
    * above the observed idle spread.
    */
  val ProbeRefSec = 0.40

  /** Contention tiers against [[ProbeRefSec]]. Round 8 showed the single 2×
    * `contended` flag misses mid-grade load: a box floored at 1.5–1.6× the
    * idle probe still distorted per-query tails (q139 0.68 → 3.36 s) while
    * staying under the flag. `degraded` (> 1.25×) marks that band: the
    * artifact is recorded but must not be compared raw round-over-round —
    * use `probe_normalized_total_sec` or re-record idle.
    */
  val DegradedFactor = 1.25
  val ContendedFactor = 2.0

  /** Pure tier classification so specs can exercise the thresholds with
    * synthetic probe values (idle / half-load / saturated) without actually
    * loading the box: "clean" | "degraded" | "contended".
    */
  def contentionTier(probeSec: Double, refSec: Double = ProbeRefSec): String =
    if (probeSec > ContendedFactor * refSec) "contended"
    else if (probeSec > DegradedFactor * refSec) "degraded"
    else "clean"

  /** Fixed-cost calibration probe: every core sorts a deterministic
    * LCG-filled 4M-long array, wall time of the slowest; min of 3 reps.
    * Saturating ALL cores is deliberate — an external multi-threaded load
    * shows up here at roughly its fair-share factor, exactly like it does
    * in the local[32] query times, whereas a single-thread probe could be
    * scheduled around. If the probe runs >2× its committed idle reference
    * the artifact flags itself `"contended": true` — the round-6 driver
    * bench was uniformly ~1.65× (tail 8–30×) an identical-code clean run,
    * and nothing in the artifact let a reader tell contention from
    * regression.
    */
  def calibrationProbeSec(): Double = {
    val threads = Runtime.getRuntime.availableProcessors
    val n = 4 << 20
    def one(seed: Long): Unit = {
      val a = new Array[Long](n)
      var x = seed * 0x9E3779B97F4A7C15L + 1L
      var i = 0
      while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; a(i) = x; i += 1 }
      java.util.Arrays.sort(a)
    }
    (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val ts = (0 until threads).map(i => new Thread(() => one(i.toLong + 1)))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** (1m, 5m, 15m) system load averages from /proc/loadavg. */
  private def loadAvg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).map(_.toDouble).toSeq
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Seq(-1.0, -1.0, -1.0) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    if (sys.env.contains("SPARK_GRAFT_PROBE_ONLY")) {
      // calibration mode: print the probe and exit (no Spark session) —
      // used to (re)establish ProbeRefSec on new hardware
      println(f"""{"probe_sec":${calibrationProbeSec()}%.4f,"load_avg":[${loadAvg().mkString(",")}]}""")
      return
    }
    val loadBefore = loadAvg()
    val probeBefore = calibrationProbeSec()
    val spark = GraftSession.local("graft-bench")

    // Warm-up: JIT + codegen cache on the smallest SF.
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").count()
      catch { case scala.util.control.NonFatal(_) => () }
    }

    // Warm the SHARED warehouse caches at the target SF and report the fill
    // as its own number: without this, whichever dashboard query runs first
    // (alphabetically q25/q27) silently pays the star-schema build for the
    // whole block, and its per-query trend reads as a regression when only
    // run ordering changed. Query times below measure query work on a warm
    // warehouse; `warehouse_fill_sec` is the one-time build.
    val tFill = System.nanoTime()
    val fillSec =
      try {
        val w = graft.operators.BankEtl.buildCached(spark, sfDir)
        Seq(w.dimDate, w.dimCustomer, w.dimAccount, w.dimMerchant,
          w.dimLocation, w.fact).foreach(_.count())
        (System.nanoTime() - tFill) / 1e9
      } catch { case scala.util.control.NonFatal(_) => -1.0 }

    // A failed query must NOT masquerade as a (tiny, plausible) timing —
    // record failures in their own field so a regression that makes a
    // query throw fast can't read as a speedup.
    // optional comma-separated subset for targeted iteration; a filtered
    // run writes BENCH_SELF_PARTIAL.json so it can never impersonate the
    // full-suite artifact
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    val floorReps =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOOR_REPS", "1").toInt)
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qReps = if (FloorDominated(name)) floorReps else reps
      val runs = Seq.fill(qReps) {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case scala.util.control.NonFatal(_) => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      (name, runs.map(_._1).sorted.apply(qReps / 2), runs.forall(_._2)) // median
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // failed queries' (fast-throw) medians are excluded from the headline,
    // so the total itself can't improve when a query breaks
    val total = results.collect { case (_, v, true) => v }.sum
    // floor-vs-compute split: floor-shaped queries run floorReps (default
    // 1), compute-shaped run `reps`; the split makes the artifact's wall
    // clock projectable (wall ≈ floor_sec·floorReps + compute_sec·reps)
    val floorSec = results.collect {
      case (n, v, true) if FloorDominated(n) => v }.sum
    val computeSec = total - floorSec
    val floorCount = results.count { case (n, _, _) => FloorDominated(n) }

    // routine convergence evidence: the component-loop round count at this
    // SF (the O(log diameter) claim), emitted with every bench instead of
    // bespoke per-round runs
    val (ccVertices, ccRounds) =
      try {
        val (labels, rounds) = graft.operators.Dedup.dedupClustersWithRounds(
          graft.sources.TestData.documents(spark, sfDir))
        (labels.count(), rounds)
      } catch { case scala.util.control.NonFatal(_) => (-1L, -1) }

    // load sentinel: probe + load-avg AFTER the suite too (contention that
    // arrives mid-run must also flag), compared against the committed idle
    // reference — a dirty run marks its own artifact
    val probeAfter = calibrationProbeSec()
    val loadAfter = loadAvg()
    val worstProbe = math.max(probeBefore, probeAfter)
    val tier = contentionTier(worstProbe)
    val contended = tier == "contended"
    val degraded = tier != "clean"
    // raw total scaled by the box's measured slowdown (mean probe / idle
    // reference) — the number a round-over-round comparison should use
    // when the tier is not "clean"; on a clean box it ≈ the raw total
    val meanProbe = (probeBefore + probeAfter) / 2
    val normalizedTotal = total * (ProbeRefSec / math.max(meanProbe, ProbeRefSec))
    val json = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      f""""floor_reps":$floorReps,"floor_rep_queries":$floorCount,""" +
      f""""floor_sec":$floorSec%.3f,"compute_sec":$computeSec%.3f,""" +
      s""""warehouse_fill_sec":$fillSec,"failed":$failed,""" +
      f""""probe_ref_sec":$ProbeRefSec,"probe_sec_before":$probeBefore%.4f,""" +
      f""""probe_sec_after":$probeAfter%.4f,"contended":$contended,""" +
      f""""degraded":$degraded,"contention_tier":"$tier",""" +
      f""""probe_normalized_total_sec":$normalizedTotal%.3f,""" +
      s""""load_avg_before":[${loadBefore.mkString(",")}],""" +
      s""""load_avg_after":[${loadAfter.mkString(",")}],""" +
      s""""component_rounds":$ccRounds,"component_vertices":$ccVertices,""" +
      s""""queries":$qs,"sf":"$sfDir"}"""
    // Belt and braces: the line on stdout (bare — build.sbt sets
    // StdoutOutput for forked runs) AND a file copy, in case the caller's
    // stdout is decorated by a build tool.
    val outName = if (only.isEmpty) "BENCH_SELF.json" else "BENCH_SELF_PARTIAL.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(outName),
      (json + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
    println(json)
  }
}
