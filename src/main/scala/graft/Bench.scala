package graft

import org.apache.spark.sql.SparkSession

import graft.warehouse.Warehouse

/** Benchmark harness (driver-run per round → BENCH_r{N}.json).
  *
  * Protocol per BASELINE.md: warm JVM + warm session, 3 timed runs per query,
  * MINIMUM reported (the shared host shows multi-second contention spikes —
  * min measures the engine, median measures the neighbor's workload).
  * Execution is a noop-format write — unlike `count()` it
  * cannot let Catalyst eliminate the final ORDER BY (EliminateSorts under an
  * aggregate) and it materializes every output row without driver collection.
  * Warehouse setup (the one-time star load) is timed separately and included
  * in the reported total; failures are recorded per query, never swallowed
  * into a fast timing (VERDICT r1 "What's wrong" #1/#4).
  */
object Bench {

  /** One cold pass over every registered index build on the given
    * session; -1.0 marks a failed build (never swallowed into a fast
    * timing). */
  private def timeBuilds(s: SparkSession, sfDir: String): Seq[(String, Double)] =
    graft.llm.Builds.all.map { case (name, f) =>
      val t0 = System.nanoTime()
      try { f(s, sfDir); name -> (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          name -> -1.0
      }
    }

  /** The benchmark session at `cpus` local threads; [[Prof]] measures on
    * the same one. */
  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // star-schema tuning: dims always broadcast; local fact sizes keep the
      // one big-big join (fact build) broadcastable too at bench scale
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // single-node: every task is process-local; never wait for locality
      .config("spark.locality.wait", "0")
      // AQE off: every A/B from r3 to r8 at sf0.1 lost with it on, its
      // per-stage re-plan barriers costing the iterative entries most.
      .config("spark.sql.adaptive.enabled", "false")
      // Static conf: the generated-class cache must hold the WHOLE suite.
      // At the default 100 entries the 77-entry suite compiles ~1400
      // codegen units, so by the time a pass returns to a query its
      // classes are evicted and every timed run re-janinos ~20 units
      // (~0.2-0.5s/query) — the r7 "in-suite inflation" (shared entries
      // +35%, q17_rollup 2× with an unchanged plan). Measured r8: after a
      // full suite pass, per-run compile delta goes +22→0 and q17 returns to its isolated 0.9s the moment the cache
      // holds all units. 2048 covers the suite with headroom; the cost is
      // ~50 MB of metaspace/code-heap (measured: both far from their
      // limits, storage 27 MB, GC unchanged).
      // r11: suite grew 85 → 98 entries (+ the 64-sum label-centroids
      // aggregate) and stable cross-pass inflation returned — the r7
      // signature — so doubled again; same headroom argument at ~100 MB.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    // AMBIENT host load at launch (r20): the existing host_load samples
    // bracket the retry stage, where the bench's OWN 32 threads dominate
    // the 1-min average — so "was the host quiet" was unanswerable from
    // the artifact. This sample predates any Spark work: it IS the
    // ambient number a quiet-window claim rests on.
    val ambientLoad =
      try scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // Build sample 1 runs on a THROWAWAY session that is stopped before
    // the real one starts: the builders memoize per (session, dir), so a
    // fresh session is the only honest cache-miss replay (r11 VERDICT #5:
    // single-sample cold builds drifted 15.5 → 20.3 s within one round
    // with no code change — min-of-2 across two fresh sessions bounds
    // that noise; the min also sheds the first sample's JVM/codegen
    // warm-up, which the old single sample charged to whichever build
    // ran first).
    // r14: the index builds are cross-session artifacts now
    // (graft.IndexStore) — a plain sample would time a store READ, not
    // the build. Both graded samples force the build path (bypassRead:
    // build + commit, never read), keeping "builds" the honest cold
    // metric; a third fresh session then times the DEPLOYMENT path — a
    // store hit — reported separately as builds_store_read (the r13
    // "What's missing" #3 second-session number).
    graft.IndexStore.bypassRead = true
    val buildsRun1: Seq[(String, Double)] = {
      val s0 = session(cpus)
      val t = timeBuilds(s0, sfDir)
      s0.stop()
      t
    }

    val spark = session(cpus)

    def runOnce(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    val names = SparkEntry.queries.keys.toSeq.sorted // stable order
    val failed = scala.collection.mutable.ListBuffer[String]()

    // COLD index-build timings, taken FIRST (r10 VERDICT #6): the memoized
    // index builds (IVF assignment, k-means fixpoint, BPE tables, BM25
    // doc stats, tf index) otherwise hide inside the untimed bring-up
    // and their queries' bench mins time a cache read — build cost is an
    // explicit metric (BENCH_DETAIL "builds") so the artifact can't
    // overstate the engine. Sample 2 on this session; MIN of the two
    // fresh-session samples is reported (r11 VERDICT #5).
    val buildsRun2 = timeBuilds(spark, sfDir)
    graft.IndexStore.bypassRead = false
    val buildTimings: Seq[(String, Double)] =
      buildsRun1.zip(buildsRun2).map { case ((name, a), (_, b)) =>
        name -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
      }

    // Cold bring-up, untimed: first warehouse build + one pass of every
    // query, so JVM/codegen/classloading warmup isn't charged to whichever
    // work happens to run first (BASELINE.md: warm JVM + warm session).
    Warehouse.tables(spark, sfDir)
    names.foreach { n => try runOnce(n) catch { case _: Throwable => () } }

    // r11→r12 drift note (r11 VERDICT #4 — the star cluster q11/q13/q14/
    // q17 drifted +22% r10→r11 with the rest of the commons): measured
    // r12 attribution, not a plan regression. (1) the cluster's source is
    // byte-identical r10→r11 (`git diff 341f538 f5f5999` is empty for
    // RefQueries/star/warehouse; only SqlQueries' view registration
    // changed). (2) r12 in-suite pass spread is tight (q11 0.368/0.385/
    // 0.506s) — no intra-run contamination. (3) ISOLATED fresh-session
    // runs (warehouse + one query) measure 0.56–0.8s
    // for the same four queries — ABOVE the in-suite mins, so the suite
    // itself is not slowing them; r10's 0.23s for q11 is reproducible
    // under NO session shape today. Attribution: suite growth (86→98→100
    // entries per interleaved pass, more persisted index/storage and
    // codegen pressure) plus the documented ±30% host-noise band.
    //
    // Three timed passes, INTERLEAVED round-robin over the whole suite
    // (pass p = warehouse rebuild + q1…qN), per-query min across passes.
    // Same total work as 3-consecutive-runs-per-query, but a sustained
    // host-contention burst now hits each query in at most one pass instead
    // of all three of its runs — BENCH_r04.json read 2.7× the oracle for
    // code that measured 1.29× under a quiet host an hour later (VERDICT r4
    // "What's wrong" #1). All samples are emitted so a contaminated run is
    // diagnosable from the artifact itself.
    def runPass(): (Double, Seq[(String, Double)]) = {
      val s0 = System.nanoTime()
      Warehouse.rebuild(spark, sfDir)
      val setup = (System.nanoTime() - s0) / 1e9
      val qs = names.map { name =>
        val t0 = System.nanoTime()
        try { runOnce(name); name -> (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            name -> -1.0
        }
      }
      (setup, qs)
    }
    val passes = scala.collection.mutable.ListBuffer[(Double, Seq[(String, Double)])]()
    (1 to 3).foreach(_ => passes += runPass())

    // Contamination auto-retry (VERDICT r9 #1: r9's pass 1 was hit by a
    // host burst — contention_spread_max 53.9, q18 46.5s vs an 0.86s min —
    // so every graded min was effectively min-of-2). When the max/min
    // spread over non-trivial (min ≥ 0.2s) queries exceeds SpreadBound,
    // some pass measured the neighbor's workload: run a replacement pass
    // (at most MaxExtraPasses) and grade the 3 cheapest passes by suite
    // cost — mins stay min-of-3-quiet-passes and the reported spread
    // reflects the graded passes, not the discarded burst. All passes'
    // samples still go to BENCH_DETAIL.json for diagnosis.
    // r13 (r12 VERDICT #4: graded spread 4.4 exhausted the old 2-retry
    // budget): retry until the graded passes are quiet, hard-capped at 6
    // extra passes (~2 min each at sf0.1 — bounded wall clock); if the
    // host never quiets, BENCH_DETAIL carries an explicit "contaminated"
    // flag instead of silently reporting a hot spread.
    val SpreadBound = 3.0
    val MaxExtraPasses = 6
    def samplesOf(idx: Seq[Int]): Seq[(String, Seq[Double])] =
      (names.zipWithIndex.map { case (name, i) =>
        name -> idx.map(p => passes(p)._2(i)._2)
      } :+ ("warehouse_setup" -> idx.map(p => passes(p)._1)))
    def spreadOf(idx: Seq[Int]): Double = samplesOf(idx).collect {
      case (_, ss) if ss.forall(_ >= 0) && ss.min >= 0.2 => ss.max / ss.min
    }.foldLeft(1.0)(math.max)
    // a failed sample must not make a pass look cheap — price it at 1e6s
    def passCost(p: (Double, Seq[(String, Double)])): Double =
      p._1 + p._2.map { case (_, t) => if (t < 0) 1e6 else t }.sum
    var gradedIdx: Seq[Int] = passes.indices.toSeq
    while (spreadOf(gradedIdx) > SpreadBound &&
        passes.size - 3 < MaxExtraPasses) {
      System.err.println(f"[bench] contention spread ${spreadOf(gradedIdx)}%.1f " +
        s"> $SpreadBound after ${passes.size} passes; running a replacement pass")
      passes += runPass()
      gradedIdx = passes.indices.sortBy(i => passCost(passes(i))).take(3).sorted
    }

    // PER-ENTRY contention retries (r19, VERDICT #6): the pass-level
    // replacement above clears a single BURST pass, but a host that
    // stays moderately loaded through the whole window (r17 AND r18
    // both flagged, bidirectionally judge-corroborated) inflates every
    // pass about equally — the whole-suite spread stays hot while most
    // entries' own samples agree fine. So grade each ENTRY on its BEST
    // 3 samples: an entry whose best-3 max/min exceeds the bound gets
    // up to [[PerEntryRetries]] extra warm runs (a retry only ever ADDS
    // a sample — the graded min never worsens) until its best three
    // agree or the budget exhausts; /proc/loadavg is sampled around the
    // stage and recorded so a still-hot artifact carries its own
    // explanation. The reported contention indicator becomes the worst
    // per-entry best-3 spread — the quantity that actually bounds how
    // much the graded min could still be inflated.
    val PerEntryRetries = 3
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def best3SpreadOf(ss: Seq[Double]): Double = {
      val ok = ss.filter(_ >= 0).sorted.take(3)
      if (ok.size < 2 || ok.head < 0.2) 1.0 else ok.last / ok.head
    }
    def timeEntry(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        if (name == "warehouse_setup") Warehouse.rebuild(spark, sfDir)
        else runOnce(name)
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] retry of $name failed: ${e.getMessage}")
          -1.0
      }
    }
    val loadBefore = loadAvg()
    val extraSamples =
      scala.collection.mutable.Map[String, Vector[Double]]()
        .withDefaultValue(Vector.empty)
    samplesOf(gradedIdx).foreach { case (name, graded) =>
      var ss: Seq[Double] = graded
      var tries = 0
      while (best3SpreadOf(ss) > SpreadBound && tries < PerEntryRetries) {
        val t = timeEntry(name)
        extraSamples(name) = extraSamples(name) :+ t
        ss = ss :+ t
        tries += 1
      }
      if (best3SpreadOf(ss) > SpreadBound)
        System.err.println(f"[bench] $name best-3 spread still " +
          f"${best3SpreadOf(ss)}%.1f after $tries retries")
    }
    val loadAfter = loadAvg()

    // Second ingest sample at a quiet point (after the timed passes); the
    // reported load metric is the min of the two runs — same rationale as
    // the per-query min. The rerun only ever improves an already-measured
    // metric, so a failure here must not take the round's results with it
    // (rerunLoad itself restores the first-run values when the rerun is
    // slower; on a throw they were never overwritten).
    try graft.etl.EtlQueries.rerunLoad(spark, sfDir)
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] load rerun failed (keeping first-run " +
          s"load metrics): ${e.getMessage}")
    }

    // Grade over the selected passes PLUS the per-entry retries; detail
    // carries every sample.
    val samples: Seq[(String, Seq[Double])] = samplesOf(gradedIdx)
      .map { case (name, ss) => name -> (ss ++ extraSamples(name)) }
    val allSamples: Seq[(String, Seq[Double])] =
      samplesOf(passes.indices.toSeq)
        .map { case (name, ss) => name -> (ss ++ extraSamples(name)) }
    // Min of the warm samples, not median: min measures the engine, median
    // measures the neighbor's workload (protocol in BASELINE.md).
    val timings: Seq[(String, Double)] = samples.map { case (name, ss) =>
      val ok = ss.filter(_ >= 0)
      if (ok.isEmpty) { failed += name; name -> -1.0 } else name -> ok.min
    }
    // Contention indicator (r19 semantics): the worst PER-ENTRY best-3
    // spread among non-trivial entries — the quantity bounding how much
    // any graded min could still be inflated. ~1 on a quiet host;
    // `contaminated` marks a spread that persisted past BOTH the
    // replacement-pass and the per-entry retry budgets (the per-query
    // min is then still the best available, the mean is not).
    val spreadMax = samples.map(s => best3SpreadOf(s._2)).foldLeft(1.0)(math.max)
    val contaminated = spreadMax > SpreadBound

    val total = timings.filter(_._2 >= 0).map(_._2).sum
    // The driver captures only the last ~2000 chars of stdout and parses the
    // JSON line out of that window (BENCH_r03..r05 all read "parsed": null
    // because the line, with per-sample arrays inlined, overflowed it and
    // lost its opening brace; r06 fit the window but arrived wrapped as
    // "[info] {...}" with a trailing "[success]" line — fixed in build.sbt
    // via StdoutOutput + showSuccess:=false so this is the last RAW line).
    // So: stdout gets ONE compact line — 0.01s-resolution timings, no
    // samples — sized to fit the window; the full per-pass samples (1ms
    // resolution), setup times and contention indicator go to
    // BENCH_DETAIL.json in the repo root.
    def f3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    def f2(v: Double): String = if (v < 0) "-1" else f"$v%.2f"
    val qs = timings
      .map { case (k, v) => "\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    val samplesJson = allSamples
      .map { case (k, ss) => "\"" + k + "\":" + ss.map(f3).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The streaming-ETL ingest (min of two runs: bring-up + post-pass rerun)
    // is a LOAD-phase metric, reported as throughput separately from query
    // latency — see BASELINE.md. etl_* query timings above measure
    // warehouse reads.
    val loadSec = graft.etl.EtlQueries.lastLoadSeconds
    val loadRows = graft.etl.EtlQueries.lastLoadRows
    val loadRate = if (loadSec > 0) loadRows / loadSec else -1.0
    val gradedJson = gradedIdx.mkString("[", ",", "]")
    val buildsJson = buildTimings
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // both fresh-session samples, for drift diagnosis (mirrors "samples")
    val buildSamplesJson = buildsRun1.zip(buildsRun2)
      .map { case ((k, a), (_, b)) => "\"" + k + "\":[" + f3(a) + "," + f3(b) + "]" }
      .mkString("{", ",", "}")
    // Second-session DEPLOYMENT path (r14, r13 "What's missing" #3): the
    // main session must be fully stopped first — getOrCreate would hand
    // back the live session (warm memo caches), and even a newSession
    // shares the CacheManager, which substitutes the in-memory artifact
    // into a plan-identical parquet read. A genuinely fresh session's
    // builders hit the store the cold samples committed: the measured
    // cost is the artifact READ a deployment pays instead of the build.
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] stop: $e") }
    val buildsStoreRead: Seq[(String, Double)] = {
      val s2 = session(cpus)
      val t = timeBuilds(s2, sfDir)
      s2.stop()
      t
    }
    val buildsStoreJson = buildsStoreRead
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val detail =
      s"""{"total":${f3(total)},"cpus":$cpus,"builds":$buildsJson,""" +
        s""""build_samples":$buildSamplesJson,""" +
        s""""builds_store_read":$buildsStoreJson,""" +
        s""""mins":$qs,"samples":$samplesJson,""" +
        s""""contention_spread_max":${f3(spreadMax)},""" +
        s""""contaminated":$contaminated,""" +
        s""""retry_samples":${
          extraSamples.toSeq.sortBy(_._1).map { case (k, ss) =>
            "\"" + k + "\":" + ss.map(f3).mkString("[", ",", "]")
          }.mkString("{", ",", "}")},""" +
        s""""host_load":[${f2(loadBefore)},${f2(loadAfter)}],""" +
        s""""host_load_ambient":${f2(ambientLoad)},""" +
        s""""n_passes":${passes.size},"graded_passes":$gradedJson,""" +
        s""""etl_load_sec":${f3(loadSec)},"etl_load_rows":$loadRows,""" +
        s""""sf":"$sfDir"}"""
    // Anchored to an explicit dir (env) or the JVM's cwd made absolute —
    // never a bare relative path that lands wherever the launcher happened
    // to chdir; the absolute path written is logged either way.
    // r21 (r20 VERDICT "What's wrong" #1): BENCH_DETAIL.json was
    // overwritten by every run, so the driver's 8-core scaling run
    // clobbered the graded 32-core detail and the 32c contamination
    // evidence was unrecoverable. Write BOTH the legacy path (whatever
    // consumer greps for it keeps working, and the JSON now carries
    // "cpus") and a per-config BENCH_DETAIL_c${cpus}.json that a
    // different-core-count run never touches.
    val detailDir =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", sys.props("user.dir"))
    // The detail files are auxiliary: a missing/unwritable dir must never
    // suppress the headline JSON line below (it is the graded artifact).
    Seq("BENCH_DETAIL.json", s"BENCH_DETAIL_c$cpus.json").foreach { fn =>
      val detailPath =
        java.nio.file.Paths.get(detailDir, fn).toAbsolutePath
      try {
        Option(detailPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(
          detailPath, detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] detail written to $detailPath")
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] detail write failed ($detailPath): $e")
      }
    }
    val sfName = new java.io.File(sfDir).getName
    val full =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,""" +
        s""""failed":$failedJson,"etl_rows_per_sec":${loadRate.round},""" +
        s""""sf":"$sfName"}"""
    // The full line grows ~25 chars per registered query and the driver's
    // tail window is ~2000 chars: past a safety margin the opening brace
    // would scroll out and the round reads "parsed": null again. When it
    // fits, it stays the single last raw line; when it doesn't, it still
    // prints (human-readable record) but the LAST line becomes a compact
    // summary that always fits — per-query mins then live in
    // BENCH_DETAIL.json's "mins" map.
    // r21 (r20 VERDICT "What's wrong" #2): an empty compact "queries" map
    // left the driver per-query-blind (PERF per_query {}, geomean null,
    // empty scaling map). The ~30 slowest entries carry all the signal
    // and DO fit the tail window, so the compact line now carries the
    // top-N SLOWEST entries by graded min (stable rule: sort by -min,
    // then name; add while the line stays within budget). Every entry
    // still lives in BENCH_DETAIL*.json's "mins".
    val compactBudget = 1800
    def compactWith(qsJson: String): String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
        s""""queries":$qsJson,"queries_detail":"BENCH_DETAIL.json","failed":$failedJson,""" +
        s""""etl_rows_per_sec":${loadRate.round},"sf":"$sfName"}"""
    val rankedSlowest = timings.filter(_._2 >= 0)
      .sortBy { case (name, t) => (-t, name) }
      .map { case (k, v) => "\"" + k + "\":" + f2(v) }
    // largest prefix of the slowest-first ranking that fits the budget
    val fittingPrefix = rankedSlowest.inits
      .map(p => p.mkString("{", ",", "}"))
      .find(j => compactWith(j).length <= compactBudget)
      .getOrElse("{}")
    val compact = compactWith(fittingPrefix)
    // (the main session was already stopped before the store-read
    // sample; nothing prints after the graded JSON line)
    val lastLine = if (full.length <= 1800) full else compact
    if (lastLine ne full) println(full)
    println(lastLine)
  }
}
