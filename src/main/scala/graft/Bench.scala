package graft
import org.apache.spark.sql.SparkSession
import graft.io.Stage
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    // ERROR, not WARN: stray WARN lines (task retries, shutdown races) land
    // after the JSON line when stdout/stderr are merged by the caller.
    spark.sparkContext.setLogLevel("ERROR")
    // Codegen-fallback sideline (round-12): BENCH_r11's log tail carried an
    // unattributed janino stack trace — a whole-stage-codegen compile
    // failure that fell back to interpreted execution somewhere in the run.
    // The monitor tags every codegen WARN/ERROR with the query that was
    // executing so a fallback is a named number, not a mystery trace.
    graft.tools.CodegenMonitor.install()
    // JIT/codegen warmup. Spark's whole-stage-codegen cache is keyed by
    // generated source, which depends on the plan shape but not the data
    // scale — so one pass of every query at the smallest SF compiles and
    // JITs exactly the classes the measured runs execute (observed: the
    // first execution of a window+md5 plan costs ~9s of janino+C2 churn,
    // the second 0.5s). The measured loop then times data-proportional
    // work, not JVM compilation.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Dev loop: SPARK_GRAFT_ONLY=q1_pricing,j6_knn benches a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // File-cache pre-touch (round-16, VERDICT item 1): the r15 driver
    // headline read +12% on code the controlled sweeps measured FASTER
    // — near-uniform per-line inflation from a cold OS page cache in
    // the driver's shared run. One sequential read of every input file
    // brings them into the page cache so the first measured pass times
    // query work, not disk. Cheap (the sf0.1 inputs are tens of MB)
    // and a no-op when already cached.
    def touchDir(dir: String): Long = {
      val buf = new Array[Byte](1 << 20)
      // symlinks are skipped and recursion is depth-bounded: a cyclic
      // symlink in a data dir would otherwise recurse to stack overflow
      // — and a blanket Throwable catch would then report it as a
      // silent "0 MiB pre-touched" (round-16 ADVICE). Only IO errors
      // are survivable here; fatal errors propagate.
      def walk(f: java.io.File, depth: Int): Long =
        if (depth > 16 || java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
        else if (f.isDirectory)
          Option(f.listFiles()).map(_.map(walk(_, depth + 1)).sum).getOrElse(0L)
        else {
          val in = new java.io.FileInputStream(f)
          try { var n = 0L; var r = in.read(buf)
                while (r > 0) { n += r; r = in.read(buf) }; n }
          finally in.close()
        }
      try walk(new java.io.File(dir), 0)
      catch { case _: java.io.IOException => 0L }
    }
    val touchT0 = System.nanoTime()
    val touched = touchDir(sfDir) + (if (warmDir != sfDir) touchDir(warmDir) else 0L)
    System.err.println(s"[bench] pre-touched ${touched / (1 << 20)} MiB in " +
      f"${(System.nanoTime() - touchT0) / 1e9}%.1fs")
    // Shuffle-partition cap (round-17, VERDICT item 1): the builder's
    // controlled sweeps run local[8] while the driver gates at
    // local[32], and shuffle.partitions = cpus made those DIFFERENT
    // plans — measured back-to-back on one commit at sf0.1:
    // 232.3/221.0 (value/value_lo) at 8 cpus vs 290.6/275.6 at 32.
    // The ~60s was never host noise: at ~600k rows, 32-way shuffles
    // cost ~0.2s extra scheduling per query across ~240 queries and
    // 1-4s on the iterative graph/stream lines (many rounds × many
    // tiny stages). Cap the fan-out by DATA, not CPUs: one partition
    // per ~64k rows, never above the CPU count. On a real cluster the
    // cap never binds (rows/64k >> cores); on gate-sized data it
    // stops paying task overhead for parallelism the rows can't use.
    // Timing-only: the oracle gate (Verify) keeps its own config, and
    // hash checks are order-insensitive anyway.
    // Sized by the LARGEST fact table (lineitem at TPC-H shapes), not
    // events — parquet count(*) is a footer read, three of them cost
    // milliseconds.
    val benchRows = Seq("lineitem", "orders", "events").map { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case scala.util.control.NonFatal(_) => 0L }
    }.max
    if (benchRows > 0) {
      val shufP = math.max(1,
        math.min(cpus.toInt, math.ceil(benchRows / 64000.0).toInt))
      spark.conf.set("spark.sql.shuffle.partitions", shufP)
      System.err.println(
        s"[bench] shuffle partitions: $shufP ($benchRows rows, $cpus cpus)")
    }
    // Shared memoized stages (SparkEntry.stages) are built and timed as
    // their OWN setup lines so each query's number measures the query,
    // not whichever reader of the stage happened to run first and pay
    // its build (a round-5 attribution artifact, first seen on d6).
    // Which queries read which stage is not kept by hand — hand-kept
    // member lists rotted (round 20: a retime of d21 ran against a cold
    // cache the first pass never saw). The store counts each stage's
    // reads, and a query reads a stage iff its count rose across the
    // query's run.
    def stagesRead[T](run: => T): (T, Seq[Stage]) = {
      val before = SparkEntry.stages.map(_.reads(spark))
      val out = run
      (out, SparkEntry.stages.zip(before).collect {
        case (st, n) if st.reads(spark) > n => st })
    }
    // Warm-pass times double as per-query stall expectations below: a
    // measured run >3× its (overhead-dominated) sf0.001 time is far more
    // likely a one-off GC/host stall than real data-proportional work.
    // The stages the warm pass reads are the ones the measured pass
    // needs built; with no warm pass, every stage is built.
    val warmTimes = scala.collection.mutable.Map[String, Double]()
    val warmed = new java.io.File(warmDir).isDirectory && warmDir != sfDir
    val warmRead = scala.collection.mutable.Set[Stage]()
    if (warmed) {
      SparkEntry.queries.foreach { case (name, fn) =>
        if (only.forall(_.contains(name))) {
          graft.tools.CodegenMonitor.setCurrent(s"warm:$name")
          val t0 = System.nanoTime()
          warmRead ++= stagesRead {
            try {
              fn(spark, warmDir).write.format("noop").mode("overwrite").save()
              warmTimes(name) = (System.nanoTime() - t0) / 1e9
            } catch { case _: Throwable => () }
          }._2
        }
      }
    }
    // Block-manager occupancy probe (round-15, VERDICT items 1-2): the
    // r14 rep pass ran 2.5-8× slower than first-pass on checkpoint-heavy
    // lines because hundreds of localCheckpoint blocks accumulated over
    // the 263-query suite. These two helpers make occupancy measurable
    // and resettable. getRDDStorageInfo reads the async status store, so
    // a snapshot can lag the last job by a beat — fine for a probe.
    def storageSnap(): (Int, Long) = {
      val inf = spark.sparkContext.getRDDStorageInfo
      (inf.length, inf.map(i => i.memSize + i.diskSize).sum)
    }
    // Unpersisting is safe ONLY for reference-free blocks: a memo still
    // holding a localCheckpointed frame would crash on next read
    // (lineage is truncated — blocks are the only copy). Callers must
    // clear the store (SparkEntry.clearPackCaches) FIRST.
    def unpersistAll(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    val storageMarks = scala.collection.mutable.LinkedHashMap[String, (Int, Long)]()
    def markStorage(label: String): Unit = {
      val s = storageSnap()
      storageMarks(label) = s
      System.err.println(
        s"[bench] storage $label: ${s._1} rdds, ${s._2 / (1 << 20)} MiB")
    }
    // Drop warm-scale cached frames (pack memo caches + internally
    // persisted frames) before measuring: they only cost memory. Then
    // unpersist the now reference-free warm-pass checkpoint blocks so
    // the measured pass starts on an EMPTY block manager (round-15:
    // previously they lingered until GC).
    SparkEntry.clearPackCaches(spark)
    unpersistAll()
    markStorage("after_warm_reset")
    // Deterministic name order: Map hash order reshuffles whenever the
    // query set changes, which silently re-attributes shared one-time
    // costs (feature caches, fitted models) to a different "first" query
    // between rounds. Sorted order keeps per-query timings comparable
    // across BENCH_r{N} files.
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      graft.tools.CodegenMonitor.setCurrent(name)
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets Catalyst prune every
      // computed column that no filter touches, under-measuring the
      // window/feature pipelines. The noop write materializes all rows.
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // in SparkEntry.stages order: a stage may read an earlier one
    val built = SparkEntry.stages.filter(st => !warmed || warmRead(st))
    val setup = scala.collection.mutable.LinkedHashMap[String, Double]()
    def buildShared(st: Stage): Unit = {
      graft.tools.CodegenMonitor.setCurrent(st.name)
      try st.build(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${st.name} FAILED: ${e.getMessage}")
      }
    }
    built.foreach { st =>
      val t0 = System.nanoTime()
      buildShared(st)
      setup(st.name) = (System.nanoTime() - t0) / 1e9
    }
    // Per-query occupancy samples (round-15): storage bytes AFTER each
    // query, so the end-of-suite growth the r14 reps paid for is a
    // measured curve, not a hypothesis. Driver-side map read — free.
    val storageByQuery = scala.collection.mutable.LinkedHashMap[String, Long]()
    val firstRead = scala.collection.mutable.Map[String, Seq[Stage]]()
    val firstPass = selected.map { case (name, fn) =>
      val ((t, ok), read) = stagesRead(timeOne(name, fn))
      firstRead(name) = read
      storageByQuery(name) = storageSnap()._2
      (name, t, ok)
    }
    markStorage("after_first_pass")
    // Warm-reference audit (round-16, VERDICT item 6): the stall
    // detector compares first-pass times against the warm-pass map, so
    // a ≥2s line whose warm run FAILED (the warm loop swallows errors
    // to keep warming) is invisible to it — exactly how d15's 41.9s
    // stall would have entered the record unretimed. Surface the blind
    // spots by name; goal state is an empty list.
    val warmMissing =
      if (warmTimes.isEmpty) Seq.empty[String]
      else firstPass.collect {
        case (n, t, ok) if ok && t >= 2.0 && !warmTimes.contains(n) => n
      }
    warmMissing.foreach(n => System.err.println(
      s"[bench] WARM MISSING $n: >=2s line has no warm-pass reference — " +
        "stall detection is blind for it"))
    // Stall defense (proven necessary in round 3: one GC/host pause
    // inflated g1 14.17s / g15 8.15s on unchanged code and poisoned the
    // headline). Any query measuring >2s AND >3× its warm-pass time is
    // re-timed once — but the re-time is ACCEPTED only when the first
    // measurement is >2× the second (genuine stalls measure 3–7× the
    // re-run; legitimate run-to-run variance stays under ~1.5×, so a
    // blanket min-of-two would systematically bias routine heavy
    // queries low). When a stall IS accepted the original measurement
    // lands in "retimed", so both numbers are reported.
    val suspects = firstPass.filter { case (n, t, ok) =>
      ok && t > 2.0 && warmTimes.get(n).exists(w => t > 3.0 * math.max(w, 0.3))
    }.sortBy(-_._2).take(5).map(_._1).toSet
    val retimed = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = firstPass.map { case (name, t, ok) =>
      if (suspects.contains(name)) {
        // drop session-scoped memoized frames first: a re-run riding a
        // shared cache (d2's verified-pairs frame, m9's feature frame)
        // would under-measure...
        SparkEntry.clearPackCaches(spark)
        // ...except shared stages billed to their own setup lines:
        // rebuild the ones the query read in the first pass, so its
        // re-time measures the query under the same cache state.
        firstRead(name).filter(built.contains).foreach(buildShared)
        val (t2, ok2) = timeOne(name, SparkEntry.queries(name))
        if (ok2 && t > 2.0 * t2) { retimed(name) = t; (name, t2, ok) }
        else (name, t, ok)
      } else (name, t, ok)
    }
    // Rep-2 pass (round-12, VERDICT item 7; widened round-14; HYGIENE
    // RESET round-15, VERDICT item 1): lines swing run to run from cold
    // file-cache/JIT effects, so round-over-round comparisons chase
    // scheduling noise. Each line gets ONE additional WARM rep;
    // BENCH_FULL carries the rep, the per-line median (midpoint of two
    // samples) and `lo` = min(first, rep) so comparisons can use a
    // low-variance number. The driver-visible line and the headline
    // total are UNCHANGED (first-pass numbers).
    //
    // The r14 reps ran AFTER the whole 263-query suite with hundreds of
    // accumulated localCheckpoint blocks in the block manager, and the
    // checkpoint-heavy lines paid eviction/GC the first pass never saw
    // (s7 15.9s rep vs 2.0s first). So the rep pass now starts from the
    // SAME state the measured pass did: pack memos + tracked persists
    // cleared, every reference-free block dropped, shared stages
    // rebuilt (their members' first-pass numbers were measured against
    // freshly-built stages — symmetric). A rep that used to ride its
    // own first pass's memo (m6b read ~0.1s in r13) now rebuilds it and
    // reads ≈ first-pass — that is the point: `med` should track the
    // first-pass number, not an incomparable cache state in either
    // direction. Coverage order matters: the ≥2s lines are EXACTLY
    // where drift keeps appearing, so they rep FIRST — most expensive
    // first, on the freshest block manager, under their own budget —
    // then the sub-2s lines under the original budget.
    SparkEntry.clearPackCaches(spark)
    unpersistAll()
    // Setup-stage stall defense (round-19, VERDICT item 2): BENCH_r18's
    // headline was poisoned by ONE unprotected sample — setup_dedup_shared
    // measured 60.0s (2.5s in r17, code unchanged) under host load, and
    // setup lines fed both `value` and `value_lo` with no second sample.
    // The rep-pass hygiene reset already rebuilds every selected shared
    // stage from cleared caches, so TIME those rebuilds: they are a free,
    // state-symmetric second measurement (first build also ran against a
    // freshly-reset block manager). A setup line >2s and >2× its rebuild
    // accepts the rebuild as the headline number (original preserved in
    // `retimed`, same rule as query lines); `value_lo` takes
    // min(first, rebuild) unconditionally.
    val setupRep = scala.collection.mutable.LinkedHashMap[String, Double]()
    built.foreach { st =>
      val t0 = System.nanoTime()
      buildShared(st)
      setupRep(st.name) = (System.nanoTime() - t0) / 1e9
    }
    // Disk-layout stages persist ACROSS the cache reset — their
    // "rebuild" is an existence check, not a state-symmetric second
    // measurement (observed in the r19 close run: setup_zorder's 2.5s
    // build "retimed" against a 0.0s no-op). Only the memo/block-
    // manager-backed stages, which the reset genuinely clears, join
    // the retime/lo mechanism; the disk stages' single sample stands.
    // Each stage declares the flag at its definition site (round-19
    // ADVICE), so a new disk stage cannot be forgotten here.
    val diskBackedSetups = built.filter(_.diskBacked).map(_.name).toSet
    val setupLo: Map[String, Double] = setup.toMap.map { case (n, t) =>
      n -> (if (diskBackedSetups(n)) t
            else setupRep.get(n).map(math.min(t, _)).getOrElse(t)) }
    setup.keys.toSeq.foreach { n =>
      val t = setup(n)
      if (!diskBackedSetups(n)) setupRep.get(n).foreach { t2 =>
        if (t > 2.0 && t > 2.0 * t2) { retimed(n) = t; setup(n) = t2 }
      }
    }
    markStorage("after_rep_reset")
    val rep2 = scala.collection.mutable.LinkedHashMap[String, Double]()
    var repBigBudget = 300.0
    results.filter { case (_, t, ok) => ok && t >= 2.0 }
      .sortBy(-_._2).foreach { case (name, _, _) =>
        if (repBigBudget > 0) {
          val (t2, ok2) = timeOne(name, SparkEntry.queries(name))
          if (ok2) { rep2(name) = t2; repBigBudget -= t2 }
        }
      }
    var rep2Budget = 150.0
    results.foreach { case (name, t, ok) =>
      if (ok && t < 2.0 && rep2Budget > 0) {
        val (t2, ok2) = timeOne(name, SparkEntry.queries(name))
        if (ok2) { rep2(name) = t2; rep2Budget -= t2 }
      }
    }
    markStorage("after_reps")
    val med: Map[String, Double] = results.map { case (name, t, _) =>
      name -> rep2.get(name).map(t2 => (t + t2) / 2.0).getOrElse(t)
    }.toMap
    // min(first, rep): the drift-comparison FLOOR (round-15, VERDICT
    // item 1) — robust to a one-off stall in either sample, so a
    // round-over-round regression in `lo` is a real plan/data change.
    val lo: Map[String, Double] = results.map { case (name, t, _) =>
      name -> rep2.get(name).map(t2 => math.min(t, t2)).getOrElse(t)
    }.toMap
    // 2-decimal formatting is load-bearing: the harness that captures this
    // output keeps only the final ~2000 characters, and at full double
    // precision the 84-entry queries map pushes the line past that window,
    // truncating its head and making it unparseable (rounds 1-2 both lost
    // their per-query numbers this way). 84 × ~22 chars ≈ 1870 fits.
    // trailing zeros stripped (0.30 → 0.3): ~50 chars back across ~90
    // queries, still valid JSON numbers at the same 2-decimal precision
    def f2(v: Double): String = {
      val s = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    }
    // State-size ALARM (round-11): each stream query's measured peak
    // state-store rows against its declared ceiling (StateMetrics.
    // ceilings, abs + perInput×events). A violation fails the bench
    // line — super-linear state growth (dropped watermark, state leak)
    // is a correctness-of-design regression, not a sideline footnote.
    // The alarm must not fail OPEN (round-11 advice): if events.parquet
    // can't be counted the ceiling checks would be silently disabled and
    // the guard could rot with no signal. A missing input is itself a
    // bench failure — record it in `failed` so the driver record shows it.
    val (nEvents, spanDays, eventsCountErr) =
      try {
        // one scan: row count + calendar span (st11's windowed-agg state
        // is bounded by the span, not the row count — its ceiling is
        // derived from the measured days so a longer-calendar SF can't
        // false-trip; round-13 ADVICE fix)
        // schema-less read: ts arrives as TIMESTAMP_NTZ (the parquet is
        // TIMESTAMP(MICROS) without tz) — date arithmetic is the
        // type-agnostic span: calendar days touched, exactly the
        // day-window count st11's state is bounded by
        val r = spark.read.parquet(s"$sfDir/events.parquet")
          .selectExpr("count(*)",
            "CAST(datediff(CAST(max(ts) AS DATE), CAST(min(ts) AS DATE))" +
              " + 1 AS BIGINT)")
          .head()
        (r.getLong(0), r.getLong(1), None)
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[bench] STATE ALARM DISABLED: cannot count $sfDir/events.parquet" +
            s" (${e.getMessage}) — stream state ceilings NOT checked this run")
        (0L, 0L, Some("state_alarm_disabled"))
      }
    val stateViolations =
      if (nEvents > 0)
        graft.streaming.StateMetrics.violations(nEvents, spanDays)
      else Seq.empty
    stateViolations.foreach { case (n, rows, cap) =>
      System.err.println(
        s"[bench] STATE ALARM $n: $rows state rows > ceiling $cap" +
          s" at $nEvents input rows")
    }
    // State SHAPE alarm (round-16, VERDICT item 5): a ceilinged
    // stateful line that recorded ZERO state rows/bytes is a state-loss
    // regression (or a dead listener), not a pass — only st22/st24 are
    // declared stateless (StateMetrics.statelessByDesign) and allowed
    // at zero. Checked only over lines that actually ran this session.
    val shapeViol = graft.streaming.StateMetrics.shapeViolations
    shapeViol.foreach(v => System.err.println(s"[bench] STATE SHAPE $v"))
    val failed = (results.collect { case (k, _, false) => "\"" + k + "\"" } ++
        stateViolations.map { case (n, _, _) => "\"state:" + n + "\"" } ++
        shapeViol.map(v => "\"stateshape:" + v.takeWhile(_ != ':') + "\"") ++
        eventsCountErr.map("\"" + _ + "\""))
      .mkString("[", ",", "]")
    // Codegen-fallback sideline: queries whose execution logged a codegen
    // compile failure (janino) this run. Goal state is {} — a non-empty map
    // names exactly which query fell back to interpreted execution.
    graft.tools.CodegenMonitor.messages.foreach { case (q, m) =>
      System.err.println(s"[bench] CODEGEN FALLBACK $q: $m")
    }
    val cgFallbacks = graft.tools.CodegenMonitor.snapshot
      .map { case (q, n) => s"\"" + q + "\":" + n }
      .mkString("{", ",", "}")
    val totalFirst = results.map(_._2).sum + setup.values.sum
    // The LO total (round-16, VERDICT item 1): Σ min(first, rep) + setup
    // — the noise-robust total. r15's first-pass total read +12% on code
    // whose controlled sweeps measured 7s faster (cold-run host noise
    // inflates EVERY line a little); min-of-two is immune to a one-off
    // stall in either sample.
    val totalLo = results.map { case (n, t, _) => lo.getOrElse(n, t) }.sum +
      setupLo.values.sum
    // HEADLINE = per-line min-of-two (round-20, VERDICT item 3): the 2×
    // retime trigger let a contiguous load burst ride the r19 official
    // record — s7 2.0→4.4, s13 2.2→7.7 with no plan change, each just
    // under 2× — inflating `value` ~33% over the same-tree quiet run.
    // Every line ≥2s already gets a state-symmetric second sample (the
    // rep pass, hygiene-reset to first-pass cache state), so taking
    // min(first, rep) per line into `value` removes one-off bursts from
    // the headline without any trigger threshold to ride under; lines
    // the rep budget skips keep their single sample. `value_first`
    // preserves the raw first-pass total for continuity with r19-era
    // records; `value_lo` stays (now equal to value) for the driver's
    // established field.
    val total = totalLo
    // "sf0.1", not the full path: the path prefix is constant and the
    // capture window is tight at 90+ queries
    val sfShort = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    // "retimed" (original stalled measurements) appears only when a
    // stall was caught, capped at the 3 largest — the common case pays
    // zero of the ~2000-char stdout capture budget for it.
    def line(fq: Double => String, retimedCap: Int,
             smallCutoff: Double): String = {
      // per-line numbers follow the headline semantics (min-of-two
      // where a rep exists) so Σ queries ≈ value; BENCH_FULL carries
      // the raw first-pass map separately as "first"
      val entries =
        setup.toSeq.map { case (k, v) => (k, setupLo.getOrElse(k, v)) } ++
          results.map { case (k, v, _) => (k, lo.getOrElse(k, v)) }
      // below the cutoff individual timings are scheduling noise — fold
      // them into one "rest" entry (count in "rest_n") so the line fits
      // the capture window; BENCH_FULL.json always carries every entry
      val (kept, folded) = entries.partition { case (k, v) =>
        smallCutoff <= 0.0 || v >= smallCutoff || setup.contains(k)
      }
      val shown =
        if (folded.isEmpty) kept
        else kept :+ ("rest" -> folded.map(_._2).sum)
      val restN = if (folded.isEmpty) "" else s""","rest_n":${folded.size}"""
      val qs = shown.map { case (k, v) => s"\"" + k + "\":" + fq(v) }
        .mkString("{", ",", "}")
      val rt =
        if (retimed.isEmpty) ""
        else retimed.toSeq.sortBy(-_._2).take(retimedCap)
          .map { case (k, v) => s"\"" + k + "\":" + fq(v) }
          .mkString(",\"retimed\":{", ",", "}")
      s"""{"metric":"total","value":${f2(total)},"value_lo":${f2(totalLo)},"value_first":${f2(totalFirst)},"unit":"sec","queries":$qs$restN,"failed":$failed$rt,"sf":"$sfShort"}"""
    }
    // Adaptive precision: the 94-entry map at 2 decimals no longer fits
    // the ~2000-char capture window the driver parses (rounds 1-2 lost
    // their numbers to head-truncation) — degrade the per-query map to
    // 1 decimal when the line runs long; the headline total keeps 2.
    def f1(v: Double): String = {
      val s = "%.1f".formatLocal(java.util.Locale.ROOT, v)
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
    // degrade in steps until the line fits: full 2-decimal map → 1
    // decimal → fold entries under a rising cutoff into "rest". The
    // ladder ends at cutoff ∞ (everything folded, a ~200-char line),
    // so a fitting line is guaranteed, not just likely.
    // codegen_fallbacks rides the driver-visible line only when non-empty:
    // the clean run pays zero capture-window budget for it, a dirty run
    // names its culprits in the round record. Appended BEFORE the
    // length-adaptive selection (round-13 ADVICE fix): the ladder and the
    // overflow warning must judge the line actually printed, or a
    // fallback-heavy run could push the parsed line past the capture
    // window with no warning — losing the record exactly when something
    // went wrong.
    def withCg(s: String): String =
      if (cgFallbacks == "{}") s
      else s.dropRight(1) + s""","codegen_fallbacks":$cgFallbacks}"""
    val outCg = (Seq(() => line(f2, 3, 0.0), () => line(f1, 3, 0.0)) ++
        Seq(0.25, 0.5, 1.0, 2.0, Double.MaxValue).map(c =>
          () => line(f1, 3, c)))
      .view.map(b => withCg(b.apply())).find(_.length <= 1900)
      .getOrElse(withCg(line(f1, 3, Double.MaxValue)))
    if (outCg.length > 1950)
      System.err.println(s"[bench] WARNING: JSON line ${outCg.length} chars exceeds the ~2000-char capture window")
    // genuinely-full copy for local history: 4-decimal values, every
    // entry, every retimed measurement, no length cap. Carries the
    // stream_state_rows sideline — peak state-store rows per stream
    // query from the MEASURED runs (StateMetrics), so the
    // watermark-bounded-state claims are numbers, not assertions.
    def f4(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    val stateSnap = graft.streaming.StateMetrics.snapshot.toSeq.sorted
    val stateRows = stateSnap.filterNot(_._1.endsWith(":bytes"))
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // byte-size sideline (round-13): peak state-store memory per stream
    // query — a wide-payload state leak grows bytes at constant rows,
    // which the rows sideline can't see; ceilinged in violations().
    val stateBytes = stateSnap.filter(_._1.endsWith(":bytes"))
      .map { case (k, v) => s"\"" + k.dropRight(6) + "\":" + v }
      .mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      line(f4, Int.MaxValue, 0.0).dropRight(1) +
        // Stall-attribution record (round-18, VERDICT item 6): every
        // accepted retime carries its warm sf0.001 reference IN the
        // record, so "host load, not plan change" is provable from
        // BENCH_FULL alone — a stalled line whose warm time is tiny
        // (overhead-dominated) cannot be a plan regression; a retime
        // with a GROWN warm time would be one, and now shows itself.
        // -1 marks a retime whose warm pass failed (warm_missing
        // already names those).
        s""","retimed_warm":${retimed.keys.map(k =>
          "\"" + k + "\":" + f4(warmTimes.getOrElse(k, -1.0)))
          .mkString("{", ",", "}")}""" +
        s""","stream_state_rows":$stateRows""" +
        s""","stream_state_bytes":$stateBytes""" +
        s""","codegen_fallbacks":$cgFallbacks""" +
        s""","warm_missing":${warmMissing.map("\"" + _ + "\"")
          .mkString("[", ",", "]")}""" +
        s""","rep2":${rep2.toSeq.map { case (k, v) =>
          "\"" + k + "\":" + f4(v) }.mkString("{", ",", "}")}""" +
        // raw first-pass (post-retime) per-line numbers — the map the
        // headline "queries" carried before value became min-of-two
        s""","first":${(setup.toSeq ++ results.map { case (k, v, _) =>
          (k, v) }).map { case (k, v) =>
          "\"" + k + "\":" + f4(v) }.mkString("{", ",", "}")}""" +
        // second sample for every setup line (the rep-reset rebuild) —
        // the retime/warm evidence VERDICT r18 item 2 asked for
        s""","setup_rep":${setupRep.toSeq.map { case (k, v) =>
          "\"" + k + "\":" + f4(v) }.mkString("{", ",", "}")}""" +
        s""","med":${med.toSeq.sortBy(_._1).map { case (k, v) =>
          "\"" + k + "\":" + f4(v) }.mkString("{", ",", "}")}""" +
        s""","lo":${lo.toSeq.sortBy(_._1).map { case (k, v) =>
          "\"" + k + "\":" + f4(v) }.mkString("{", ",", "}")}""" +
        // storage sidelines (round-15): block-manager occupancy at the
        // four lifecycle marks + the growth curve over the measured
        // pass (bytes after every 25th query, plus the peak) — the
        // numbers behind the rep-pass contamination root-cause.
        s""","storage_marks":${storageMarks.toSeq.map { case (k, (n, b)) =>
          "\"" + k + "\":[" + n + "," + b + "]" }.mkString("{", ",", "}")}""" +
        s""","storage_curve":${
          val peak = if (storageByQuery.isEmpty) 0L
                     else storageByQuery.values.max
          storageByQuery.toSeq.zipWithIndex
            .filter { case ((_, b), i) => i % 25 == 0 || b == peak }
            .map { case ((k, b), _) => "\"" + k + "\":" + b }
            .mkString("{", ",", "}")}}""" + "\n")
    catch { case _: Throwable => () }
    // Print AFTER spark.stop(): late task-kill WARNs from Spark's logger
    // thread can otherwise interleave mid-line and corrupt the one JSON
    // line the driver parses (observed in round 1: parsed=null).
    spark.stop()
    println(outCg)
    Console.out.flush()
  }
}
