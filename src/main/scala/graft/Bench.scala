package graft

/** Benchmark main: runs every registered query
  * ([[graft.queries.QueryRegistry]], after its untimed setup) against
  * SPARK_GRAFT_SF_DIR and prints ONE compact JSON line with per-query
  * seconds as the LAST stdout line.
  *
  * Queries are forced through the `noop` sink so the full plan executes
  * (a bare count() lets Spark skip compute on projection-only plans).
  * One cheap warmup query absorbs first-use JVM/codegen costs, and each
  * query runs SPARK_GRAFT_BENCH_ITERS times (default 3) reporting the
  * minimum — steady-state plan cost, not JIT/GC noise.
  *
  * Output-size contract: the driver keeps only the last 2000 chars of
  * stdout, so the final JSON line must fit entirely inside that tail
  * (r2's 2.9 KB line lost its head, nulling the round's bench signal).
  * The line is emitted at the largest precision/coverage tier that
  * fits the `budget` defined below; the full-precision per-sample
  * detail goes to stderr for humans. At the current surface the
  * steady state keeps EVERY distinct query timing in the line —
  * since r6 via the [[shortKeys]] name-compression tier (stable
  * ~5-char keys, legend committed as BENCH_KEYS.md), with both
  * dashboard families present every round: the inline build path
  * under its compressed real names, the materialized-mart read path
  * verbatim as q1m..q5m. If the surface ever outgrows that, the
  * fallback tiers stand BOTH families in under 3-char keys
  * (q1i..q5i / q1m..q5m) before any timing is shed, and the two
  * redundant constant fields ("sf" is already in the driver
  * artifact's outer JSON; the unit is contractually seconds) shed
  * first.
  *
  * Noise-rejection contract: iterations are round-robin (all queries
  * once, then all again) so a minute-scale host-noise burst cannot
  * cover both samples of one query, AND each round times a cheap
  * sentinel query — a round whose sentinel runs >3x the sentinel median
  * is discarded wholesale (the burst corrupted that round's
  * neighborhood). A query that throws contributes NO sample; queries
  * failing every round are reported in a "failed" list, never as a
  * misleading fast-fail time.
  */
object Bench {

  /** Stable short keys — the name-compression tier that keeps FULL
    * per-query coverage inside the ~2000-char tail budget as the
    * surface grows past what verbatim names can fit.
    *
    * key(name) = first letters of the name's words (≤3) + 2 base-36
    * chars of a murmur hash of the full name: a pure function of the
    * name alone, so a query keeps its key across rounds no matter what
    * other queries are added or removed — artifact history stays
    * joinable. Set-dependent disambiguation (an appended 'a','b',…)
    * only kicks in when a candidate key is already claimed or would
    * shadow a dashboard stand-in (~1/1300 odds per name; none in the
    * current surface). The short→full
    * legend always goes to stderr when a compressed line is emitted —
    * and, because the driver persists only the stdout tail, the same
    * mapping is committed as BENCH_KEYS.md (generated by
    * [[graft.tools.GenBenchKeys]], kept in sync by BenchLineSpec), so
    * a compressed artifact stays decodable from the repo alone.
    * A name no longer than its would-be key (q1m, q3i, …) passes
    * through verbatim.
    */
  /** The dashboard stand-in names (q1i..q5i, q1m..q5m) pass through
    * compression verbatim and OUTSIDE the shortKeys map, so no derived
    * key may collide with them — a q-initial one-word name hashing to
    * e.g. "q3i" would emit duplicate JSON keys in the tier-2 line.
    */
  private[graft] val ReservedKeys: Set[String] =
    (1 to 5).flatMap(i => Seq(s"q${i}i", s"q${i}m")).toSet

  private[graft] def shortKeys(names: Seq[String]): Map[String, String] = {
    def baseKey(n: String) = {
      val ini = n.split("[^A-Za-z0-9]+").filter(_.nonEmpty)
        .map(_.head).mkString.take(3)
      val b36 = Integer.toString(
        math.floorMod(scala.util.hashing.MurmurHash3.stringHash(n), 1296), 36)
      val k0 = ini + ("0" * (2 - b36.length)) + b36
      if (k0.length >= n.length) n else k0
    }
    // Assignment is GLOBALLY collision-free: keys are claimed in sorted
    // name order, and a candidate that is taken — or that a different
    // name would shadow a stand-in with — extends with a deterministic
    // suffix until free. (A grouped scheme disambiguated only WITHIN a
    // hash group, so a suffixed key could still equal another group's
    // natural key — e.g. the "qfq" group's second member vs
    // quality_filter's own "qfqb".)
    val used = scala.collection.mutable.HashSet[String]()
    names.distinct.sorted.map { n =>
      val k0 = baseKey(n)
      val k = (Iterator(k0) ++ Iterator.from(0).map(i => k0 + suffix(i)))
        .find(c => !used(c) && !(c != n && ReservedKeys(c))).get
      used += k
      n -> k
    }.toMap
  }

  private def suffix(i: Int): String = {
    val sb = new StringBuilder
    var v = i
    while ({ sb.insert(0, ('a' + v % 26).toChar); v = v / 26 - 1; v >= 0 }) ()
    sb.toString
  }

  /** The committed form of the short-key legend (BENCH_KEYS.md). */
  private[graft] def legendMarkdown(names: Seq[String]): String = {
    val keys = shortKeys(names)
    ("# Bench short-key legend\n\n" +
      "Stable short keys used by the bench JSON line's name-compression\n" +
      "tier (see Bench.shortKeys: initials + 2 base-36 murmur chars of\n" +
      "the full name — a pure function of the name, so keys never shift\n" +
      "as the surface grows). Generated by `graft.tools.GenBenchKeys`;\n" +
      "BenchLineSpec fails if this file is out of sync with the query\n" +
      "surface.\n\n| key | query |\n|---|---|\n") +
      names.distinct.sorted.map(n => s"| ${keys(n)} | $n |").mkString("\n") + "\n"
  }

  /** Every name that can appear in the bench line: every registered
    * query, the materialized-mart dashboard twins included.
    */
  private[graft] def legendNames: Seq[String] =
    graft.queries.QueryRegistry.all.map(_.name)

  /** The coverage tier ladder for the JSON line (see the comment at
    * the call site). Tiers 3-4 stand BOTH dashboard families in under
    * their 3-char keys (q1i..q5i inline, q1m..q5m mart) — no
    * per-round family alternation, so neither family can lose
    * artifact history to a re-run edge. Extracted for BenchLineSpec.
    */
  private[graft] def tiers(timed: Seq[(String, Double)],
                           shortKey: Map[String, String])
      : Seq[(Seq[(String, Double)], Boolean)] = {
    def compress(es: Seq[(String, Double)]) =
      es.map { case (n, t) => shortKey.getOrElse(n, n) -> t }.sortBy(_._1)
    val isMart = (n: String) => "^q[1-5]m$".r.findFirstIn(n).isDefined
    val isDash = (n: String) =>
      "^q[1-5]_".r.findFirstIn(n).isDefined && !isMart(n)
    val base = timed.filterNot(e => isMart(e._1) || isDash(e._1))
    val martFam = timed.filter(e => isMart(e._1))
    val inlineFam = timed.filter(e => isDash(e._1))
      .map { case (n, t) => (s"q${n.charAt(1)}i", t) }
    val withDash = (base ++ martFam ++ inlineFam).sortBy(_._1)
    Seq((timed, false), (compress(timed), true),
      (withDash, false), (compress(withDash), true),
      (base, false), (compress(base), true))
  }

  /** Relative disagreement between two quiet-run totals; a
    * re-baseline commits only when this is ≤ 0.10 (BENCH_PROTOCOL.md —
    * round 9's two certified-quiet runs differed 14%, so a single
    * run's band is real and must not become every query's bar).
    */
  private[graft] def quietSpread(a: Double, b: Double): Double =
    math.abs(a - b) / math.min(a, b)

  /** Band-normalized budget breaches: each query's raw ratio vs its
    * committed budget is divided by the MEDIAN ratio across every
    * budgeted query — the "uniform environmental band" two verdict
    * rounds had to reconstruct from artifact history by hand. A
    * uniformly 1.7×-slower host moves every ratio to ~1.7, the median
    * normalizes them all back to ~1, and only an IDIOSYNCRATIC
    * regression (one query slowing relative to its peers) exceeds the
    * 2× flag. (The committed sentinel median rides along in the file
    * for human cross-checks, but a ~30 ms sentinel query swings ±40%
    * round-to-round — the 100-query median is the stable normalizer.)
    * Known limit, documented: a regression hitting MOST queries at
    * once shifts the band itself and reads as environment — the
    * total-seconds line still exposes it. Queries absent from the
    * budget (new this round) and degenerate entries (≤0) are skipped;
    * the format is the flat two-level JSON this object's writer
    * emits, parsed with a regex rather than a JSON library so the
    * check cannot drift from the writer. The band is the LOWER median
    * so that on a small budget-overlap set (most queries renamed or
    * failed) a regressed query cannot claim the band seat and mask
    * itself — [1.0, 4.0] must read band 1.0, breach 4×, not band 4.0,
    * breach none; a run whose overlap is a single query has nothing
    * to compare against and stays silent by construction. A breach
    * additionally requires the RAW ratio > 2: a query within 2× of
    * its own committed budget cannot be a real regression no matter
    * what the band says, which stops the symmetric small-overlap
    * false alarm — in [0.4, 1.0] (one query genuinely optimized) the
    * on-budget query normalizes to 2.5× but its raw 1.0 exempts it.
    */
  /** Parse BASELINE_QUERIES.json into its (budgets, shuffle) sections.
    * Both sections key by query name, so a whole-file regex would let
    * one section's numbers shadow the other's — the file is split at
    * the `"shuffle"` marker first, then each half parsed with the
    * same writer-matched regex (no JSON library, so the check cannot
    * drift from the writer).
    */
  private[graft] def budgetSections(budgetJson: String)
      : (Map[String, Double], Map[String, Double]) = {
    val pair = "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.eE+-]+)".r
    def parse(s: String): Map[String, Double] = pair.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter(_._1 != "sentinel").toMap
    budgetJson.indexOf("\"shuffle\"") match {
      case -1 => (parse(budgetJson), Map.empty)
      case i  => (parse(budgetJson.substring(0, i)),
        parse(budgetJson.substring(i)))
    }
  }

  /** Shuffle-byte tripwire: wall-time budgets cancel host noise but
    * cannot see a plan change that doubles shuffle VOLUME inside the
    * noise band — bytes are plan-determined and (unlike seconds)
    * essentially deterministic, so the check is a plain raw ratio: a
    * query shuffling >2× its committed bytes AND at least 1 MiB more
    * (the absolute floor keeps small-query jitter — an AQE partition
    * estimate, an empty-relation fast path — from false-alarming) is
    * flagged. Queries absent from the committed shuffle section (new
    * this round) are skipped.
    */
  private[graft] def overShuffleFrom(budgetJson: String,
                                     bytes: Seq[(String, Long)]): Seq[(String, Double)] = {
    val committed = budgetSections(budgetJson)._2
    (for {
      (n, cur) <- bytes
      b <- committed.get(n)
      if b > 0 && cur > 2.0 * b && cur - b > (1L << 20)
    } yield n -> cur / b).sortBy(-_._2)
  }

  /** The budget file's stamped certified-quiet sentinel median. */
  private[graft] def budgetSentinel(budgetJson: String): Option[Double] =
    "\"sentinel\"\\s*:\\s*([0-9.eE+-]+)".r.findFirstMatchIn(budgetJson)
      .map(_.group(1).toDouble)

  /** Whole-run contention verdict (VERDICT r12 #2): the per-ROUND
    * sentinel discard catches noise bursts inside a run, but a run on
    * a uniformly loaded host sails through it and lands in the round
    * artifact looking like a 1.4× regression (r12's driver artifact:
    * 142 s where three certified-quiet same-rev runs measured
    * 103–106 s; the same round's bigram_lift measured 963 s contended
    * vs 31 s isolated). This compares the RUN's sentinel median to the
    * budget's stamped certified-quiet sentinel: above
    * [[ContendedBand]]× the run is stamped `"contended":true` in the
    * JSON line itself, so a judge diffing BENCH_r{N}.json across
    * rounds can detect host load from the artifact alone. The band is
    * 2×: the ~30 ms sentinel swings ±40% round-to-round, but the
    * MEDIAN over the run's iterations holds the quiet reading inside
    * ~1.5× (the host-rebuild shift itself measured 1.3×) while real
    * contention lands far past it. A contended run also refuses
    * budget staging (same discipline as dirty trees).
    */
  val ContendedBand = 2.0
  private[graft] def isContended(budgetJson: String,
                                 sentMedian: Double): Boolean =
    budgetSentinel(budgetJson)
      .exists(b => b > 0 && sentMedian > ContendedBand * b)

  private[graft] def overBudgetFrom(budgetJson: String,
                                    timed: Seq[(String, Double)]): Seq[(String, Double)] = {
    val budgets = budgetSections(budgetJson)._1
    val ratios = for {
      (n, t) <- timed
      b <- budgets.get(n) if b > 0 && t > 0
    } yield n -> t / b
    if (ratios.isEmpty) Seq.empty
    else {
      val sorted = ratios.map(_._2).sorted
      val band = math.max(sorted((sorted.size - 1) / 2), 1e-9)
      ratios.filter(_._2 > 2.0)
        .map { case (n, r) => n -> r / band }
        .filter(_._2 > 2.0).sortBy(-_._2)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession()
    // scale shuffle width with the data, not the host (VERDICT r12 #3:
    // a constant 32 at sf10's 60M-row lineitem packed ~2M rows per
    // shuffle partition and nondeterministically killed the JVM)
    graft.core.Tuning.autoShufflePartitions(spark, sfDir)

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // warmup: touch every table + run one small aggregate; a missing
    // table must not kill the run before the JSON line is printed
    graft.core.Tables.All.foreach { t =>
      try force(graft.core.Tables(spark, sfDir, t).limit(1))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $t failed: ${e.getMessage}")
      }
    }

    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    // Between queries (outside the timed region) drop every persisted /
    // localCheckpoint'd RDD block. These are otherwise freed only when
    // the driver GCs the RDD reference — across 80+ queries × iters the
    // leaked blocks fill the block manager and late queries measure GC
    // thrash instead of their plan (token_count: 23s leaked vs ~0.4s).
    // blocking=true: async removal would storm the block manager while
    // the NEXT query is being timed (orders_monthly_status measured 14s
    // of someone else's cleanup with blocking=false).
    def dropBlocks(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    // The leak dropBlocks can NOT reach (VERDICT r13 #3: bigram_lift
    // 268 s in-run vs 29.5 s isolated at sf10): shuffle files and
    // broadcasts are freed by ContextCleaner only when the driver GCs
    // their ShuffleDependency/Broadcast reference — a run that never
    // GCs old-gen accumulates EVERY prior query's shuffle output on
    // spark.local.dir (tens of GB at sf10) plus its broadcast blocks
    // on-heap, and late queries measure page-cache eviction + GC
    // pressure instead of their plan. The sweep forces the GC between
    // queries (outside every timed region), gives the cleaner thread a
    // beat to drain (shuffle removal is blocking, see GraftSession), and
    // logs what remains — local-dir bytes, post-GC heap, cumulative
    // codegen compilations — so any residual run-state growth is
    // visible in the round log instead of needing artifact archaeology.
    val gcDrainMs = 200L
    def sweepRunState(tag: String): Unit = {
      dropBlocks()
      // Deterministic shuffle-file cleanup (VERDICT r14 #2): GC +
      // ContextCleaner left ~12 GB of shuffle files on local.dir at
      // sf10 because the loop's live references keep the
      // ShuffleDependency objects reachable. Unregister every shuffle
      // explicitly — blocking, so the NEXT timed region never overlaps
      // someone else's deletion IO.
      val drained = try {
        org.apache.spark.graft.BenchBus.drainShuffles(spark.sparkContext)
      } catch { case _: Throwable => -1 }
      System.gc()
      Thread.sleep(gcDrainMs)
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) >> 20
      val localMb = try {
        org.apache.spark.graft.BenchBus.localDirBytes(spark.sparkContext) >> 20
      } catch { case _: Throwable => -1L }
      val codegenN = try {
        org.apache.spark.metrics.source
          .CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      } catch { case _: Throwable => -1L }
      System.err.println(
        s"[bench] state $tag: localdir=${localMb}MB heap=${heapMb}MB " +
          s"codegen=$codegenN shufflesDrained=$drained")
    }
    // optional comma-separated name filter for local iteration; the
    // driver sets no filter and measures everything
    val onlyEnv = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)

    val wanted = graft.queries.QueryRegistry.all.sortBy(_.name)
      .filter(q => onlyEnv.forall(_.contains(q.name)))
    // untimed setup BEFORE the timed loop (the mart materialize, the
    // IVF index build), its cost stamped on stderr; a query whose
    // setup failed is surfaced in the "failed" list, never silently
    // absent and never timed with its setup folded into the sample
    val preFailed = graft.queries.QuerySpec.runSetups(spark, sfDir, wanted)
    if (wanted.exists(_.setup.isDefined)) sweepRunState("after setup")
    val qs0 = wanted.filterNot(q => preFailed(q.name)).map(q => q.name -> q.build)

    // Cheap fixed-plan sentinel, timed once per round: its median across
    // rounds calibrates "this host was quiet"; a round where it blows
    // past 3x median was hit by a noise burst and is discarded.
    val sentinelName = "dim_source"

    // per-query shuffle read+write bytes, counted around each timed run
    val bytes = new graft.core.GraftSession.TaskBytes(spark)

    final case class Sample(round: Int, name: String, sec: Double, ok: Boolean,
                            shufBytes: Long = 0L)
    val samples = (1 to iters).flatMap { round =>
      val qSamples = qs0.map { case (name, fn) =>
        val (ok, _, sb, t) = bytes.measured {
          try { force(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        }
        sweepRunState(s"after r$round $name")
        System.err.println(f"[bench] round $round $name: $t%.2f${if (ok) "" else " FAILED"}")
        Sample(round, name, t, ok, sb)
      }
      val (sent, sentOk) = {
        val t0 = System.nanoTime()
        val ok =
          try { force(graft.queries.QueryRegistry.named(sentinelName).build(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] sentinel failed: ${e.getMessage}")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      sweepRunState(s"after r$round sentinel")
      System.err.println(f"[bench] round $round sentinel: $sent%.3f${if (sentOk) "" else " FAILED"}")
      qSamples :+ Sample(round, "__sentinel", sent, ok = sentOk)
    }

    // A failed sentinel is a fast-fail time, not a calibration reading:
    // only SUCCESSFUL sentinel runs feed the median, a round whose
    // sentinel failed cannot be certified quiet (treated as noisy), and
    // if no round has a good sentinel, noise filtering is skipped
    // entirely rather than filtered against garbage.
    val sentTimes = samples.filter(s => s.name == "__sentinel" && s.ok)
      .map(s => s.round -> s.sec).toMap
    val noisyRounds =
      if (sentTimes.isEmpty) {
        System.err.println("[bench] sentinel never succeeded; noise filtering skipped")
        Set.empty[Int]
      } else {
        val v = sentTimes.values.toSeq.sorted
        val sentMedian = v(v.size / 2)
        (1 to iters).filter { r =>
          sentTimes.get(r).forall(_ > 3 * sentMedian)
        }.toSet
      }
    if (noisyRounds.nonEmpty)
      System.err.println(s"[bench] discarding noisy rounds: ${noisyRounds.toSeq.sorted.mkString(",")}")

    // Per query: min over ok samples from quiet rounds; if a query has
    // no quiet-round ok sample, fall back to any ok sample; if none,
    // it's failed.
    val results: Seq[(String, Option[Double])] = qs0.map { case (name, _) =>
      val ok = samples.filter(s => s.name == name && s.ok)
      val quiet = ok.filterNot(s => noisyRounds(s.round))
      val pick = if (quiet.nonEmpty) quiet else ok
      name -> (if (pick.nonEmpty) Some(pick.map(_.sec).min) else None)
    }
    val failed = wanted.map(_.name).filter(preFailed) ++
      results.collect { case (n, None) => n }
    val timed = results.collect { case (n, Some(t)) => n -> t }
    val total = timed.map(_._2).sum

    // per-query shuffle bytes: min across ok samples (bytes are
    // plan-determined; min discards any residual cross-query
    // attribution slop, which can only inflate)
    val shuffleBytes: Seq[(String, Long)] = qs0.flatMap { case (name, _) =>
      val ok = samples.filter(s => s.name == name && s.ok)
      if (ok.isEmpty) None else Some(name -> ok.map(_.shufBytes).min)
    }

    // ---- absolute per-query perf budget (BASELINE_QUERIES.json) ----
    // The committed budget is a certified-quiet sf0.1 sweep's timings;
    // current timings are compared band-normalized (see
    // [[overBudgetFrom]]) so a uniform host-throughput shift — the
    // r5/r6 environmental band — cancels and only idiosyncratic
    // per-query regressions land in the `over` list. The check the
    // verdicts used to reconstruct from artifact archaeology, made
    // mechanical.
    val sentMedianNow: Option[Double] = {
      val v = samples.filter(s => s.name == "__sentinel" && s.ok)
        .map(_.sec).sorted
      if (v.isEmpty) None else Some(v(v.size / 2))
    }
    val budgetFile = new java.io.File("BASELINE_QUERIES.json")
    // Whole-run contention verdict vs the COMMITTED budget's stamped
    // certified-quiet sentinel (see isContended) — read before the
    // re-baseline block below can replace the file, so the verdict is
    // always against the budget this run was measured under.
    val committedJsonOpt: Option[String] =
      if (!budgetFile.exists()) None
      else Some(new String(java.nio.file.Files.readAllBytes(budgetFile.toPath)))
    // The committed budget (and its sentinel) is by construction the
    // sf0.1 certified sweep (BENCH_PROTOCOL.md), and the sentinel
    // query's table scales with SF — so the comparison is only valid
    // at or below the budget's scale (below, it is conservative: the
    // sentinel can only be faster on less data, so a 2x reading is
    // still real contention). A larger-SF run would mislabel its own
    // data-scaling as host load; skip the verdict there.
    val sfComparable: Boolean =
      try sfDir.split("/").last.stripPrefix("sf").toDouble <= 0.1
      catch { case _: Exception => false }
    val contended: Boolean = (for {
      bj <- committedJsonOpt; sm <- sentMedianNow if sfComparable
    } yield isContended(bj, sm)).getOrElse(false)
    for (bj <- committedJsonOpt; sm <- sentMedianNow; bs <- budgetSentinel(bj))
      System.err.println(f"[bench] sentinel median $sm%.3fs vs budget's " +
        f"certified $bs%.3fs (${sm / bs}%.2fx, band ${ContendedBand}x)" +
        (if (contended) " — CONTENDED: timings reflect host load, not code"
         else ""))
    // Re-baseline with SPARK_GRAFT_WRITE_BUDGET=1 on a quiet host.
    // Protocol (BENCH_PROTOCOL.md): a single certified-quiet run is
    // NOT enough — round 9's two certified runs differed 14% total,
    // so one run can bake that band into every per-query bar. The
    // writer therefore stages the first quiet run as a candidate
    // (target/baseline_candidate.json) and only a SECOND quiet run
    // within 10% total spread commits the budget, taking the
    // per-query MIN of the two (the same noise-rejection as the
    // per-sample min). A second run outside 10% replaces the
    // candidate — start over on a quieter host.
    if (sys.env.contains("SPARK_GRAFT_WRITE_BUDGET")) {
      if (noisyRounds.nonEmpty || failed.nonEmpty || sentMedianNow.isEmpty ||
          contended)
        System.err.println("[bench] NOT writing budget: run not certified quiet " +
          s"(noisy=${noisyRounds.size}, failed=${failed.size}, " +
          s"contended=$contended)")
      else {
        val candFile = new java.io.File("target/baseline_candidate.json")
        // Candidate provenance (ADVICE r10): a staged candidate from an
        // OLDER code version, or from a run over a different query
        // subset, must never min-merge into the committed budget —
        // mismatched timings would bake in silently and queries absent
        // from run 2 would drop from the budget. Each candidate is
        // stamped with the git rev and a hash of its query-name set;
        // the merge step refuses on any mismatch (replacing the
        // candidate), so only two same-binary same-surface runs commit.
        def gitRev: String = try {
          val p = new ProcessBuilder("git", "rev-parse", "HEAD").start()
          val out = new String(p.getInputStream.readAllBytes()).trim
          p.waitFor()
          if (!out.matches("[0-9a-f]{40}")) "unknown"
          else {
            // The direct-scalac workflow builds from the WORKING TREE,
            // so a dirty tree means the running binary differs from
            // HEAD — exactly the same-binary mismatch this stamp exists
            // to refuse. Stamp "-dirty" so two runs only min-merge when
            // the tree was clean at the same rev (ADVICE r11).
            val d = new ProcessBuilder("git", "status", "--porcelain").start()
            val dirty = new String(d.getInputStream.readAllBytes()).trim.nonEmpty
            d.waitFor()
            if (dirty) out + "-dirty" else out
          }
        } catch { case _: Exception => "unknown" }
        def querySetSha(ts: Seq[(String, Double)]): String = {
          val md = java.security.MessageDigest.getInstance("SHA-256")
          md.digest(ts.map(_._1).sorted.mkString("\n").getBytes("UTF-8"))
            .take(8).map("%02x".format(_)).mkString
        }
        val rev = gitRev
        val qsha = querySetSha(timed)
        def runJson(ts: Seq[(String, Double)], shuf: Seq[(String, Long)],
                    sentinel: Double): String = {
          val body = ts.sortBy(_._1)
            .map { case (n, t) => s"""    "$n": $t""" }.mkString(",\n")
          val shufBody = shuf.sortBy(_._1)
            .map { case (n, b) => s"""    "$n": $b""" }.mkString(",\n")
          s"""{\n  "sentinel": $sentinel,\n  "git_rev": "$rev",\n  "queryset_sha": "$qsha",\n  "budgets": {\n$body\n  },\n  "shuffle": {\n$shufBody\n  }\n}\n"""
        }
        // A dirty tree never stages or merges: the "-dirty" suffix makes
        // two dirty runs at the same HEAD stamp IDENTICALLY even when
        // their working-tree edits differ, so letting them min-merge
        // would mix two different binaries into one budget — the exact
        // mismatch the stamp exists to refuse. Same for an unreadable
        // rev ("unknown" == "unknown" proves nothing). Commit first.
        if (rev == "unknown" || rev.endsWith("-dirty")) {
          System.err.println("[bench] NOT staging budget: working tree is " +
            s"dirty or rev unreadable ($rev) — two different dirty binaries " +
            "stamp identically; commit before re-baselining")
        } else {
        val prior: Option[(Map[String, Double], Map[String, Double], Double)] =
          if (!candFile.exists()) None
          else {
            val txt = new String(
              java.nio.file.Files.readAllBytes(candFile.toPath))
            val priorRev = "\"git_rev\"\\s*:\\s*\"([^\"]+)\"".r
              .findFirstMatchIn(txt).map(_.group(1))
            val priorQsha = "\"queryset_sha\"\\s*:\\s*\"([0-9a-f]+)\"".r
              .findFirstMatchIn(txt).map(_.group(1))
            if (!priorRev.contains(rev) || !priorQsha.contains(qsha)) {
              System.err.println("[bench] staged candidate is from a " +
                s"different binary/query set (rev ${priorRev.getOrElse("?")}" +
                s" vs $rev, qset ${priorQsha.getOrElse("?")} vs $qsha) — " +
                "discarding it; this run stages fresh")
              None
            } else {
              val (b, s) = budgetSections(txt)
              val sent = "\"sentinel\"\\s*:\\s*([0-9.eE+-]+)".r
                .findFirstMatchIn(txt).map(_.group(1).toDouble)
              sent.map(v => (b, s, v))
            }
          }
        prior match {
          case None =>
            candFile.getParentFile.mkdirs()
            java.nio.file.Files.writeString(candFile.toPath,
              runJson(timed, shuffleBytes, sentMedianNow.get))
            System.err.println(f"[bench] staged quiet-run CANDIDATE " +
              f"(total $total%.1f); re-run with SPARK_GRAFT_WRITE_BUDGET=1 " +
              "within 10% to commit BASELINE_QUERIES.json")
          case Some((priorBudgets, priorShuffle, priorSent)) =>
            val priorTotal = priorBudgets.values.sum
            val spread = quietSpread(total, priorTotal)
            if (spread > 0.10) {
              java.nio.file.Files.writeString(candFile.toPath,
                runJson(timed, shuffleBytes, sentMedianNow.get))
              System.err.println(f"[bench] NOT writing budget: quiet runs " +
                f"disagree ${spread * 100}%.0f%% (${priorTotal}%.1f vs " +
                f"$total%.1f) — candidate replaced, re-run on a quieter host")
            } else {
              val minT = timed.map { case (n, t) =>
                n -> math.min(t, priorBudgets.getOrElse(n, t)) }
              val minS = shuffleBytes.map { case (n, b) =>
                n -> math.min(b, priorShuffle.getOrElse(n, b.toDouble).toLong) }
              java.nio.file.Files.writeString(budgetFile.toPath,
                runJson(minT, minS,
                  math.min(sentMedianNow.get, priorSent)))
              candFile.delete()
              System.err.println(s"[bench] wrote ${budgetFile.getName} from " +
                f"two quiet runs (spread ${spread * 100}%.0f%%, per-query min)")
            }
        }
        }
      }
    }
    val budgetJsonOpt: Option[String] =
      if (!budgetFile.exists()) None
      else Some(new String(java.nio.file.Files.readAllBytes(budgetFile.toPath)))
    val overBudget: Seq[(String, Double)] =
      budgetJsonOpt.map(overBudgetFrom(_, timed)).getOrElse(Seq.empty)
    if (overBudget.nonEmpty)
      System.err.println(overBudget
        .map { case (n, r) => f"$n=${r}%.1fx" }
        .mkString("[bench] over_budget (band-normalized, >2x): ", " ", ""))
    val overShuffle: Seq[(String, Double)] =
      budgetJsonOpt.map(overShuffleFrom(_, shuffleBytes)).getOrElse(Seq.empty)
    if (overShuffle.nonEmpty)
      System.err.println(overShuffle
        .map { case (n, r) => f"$n=${r}%.1fx" }
        .mkString("[bench] over_shuffle (raw bytes ratio, >2x & >1MiB): ", " ", ""))

    // full-precision detail for humans (stderr — never in the tail budget)
    System.err.println(timed.map { case (n, t) => f"$n=$t%.3f" }.mkString("[bench] detail: ", " ", ""))
    System.err.println(shuffleBytes.map { case (n, b) => s"$n=$b" }
      .mkString("[bench] shuffle_bytes: ", " ", ""))

    // Compact final line: largest precision that fits the tail budget.
    // "0.1", not r2's "sf0.1"/full path — two chars of budget; the
    // numeric form is self-describing under the "sf" key
    val sfShort = sfDir.split("/").last.stripPrefix("sf")
    def fmt(t: Double, dec: Int): String = {
      val s = BigDecimal(t).setScale(dec, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }
    def line(entries: Seq[(String, Double)], f: Double => String,
             shed: Int): String = {
      val qs = entries.map { case (n, t) => "\"" + n + "\":" + f(t) }
        .mkString("{", ",", "}")
      val failedPart =
        if (failed.isEmpty) ""
        else failed.map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]")
      // band-normalized >2x budget breaches (each ratio divided by the
      // lower-median ratio across the budgeted surface — the sentinel
      // is deliberately NOT the normalizer, see overBudgetFrom) —
      // empty on a healthy round, so the tail budget only pays for it
      // when it matters
      val overPart =
        if (overBudget.isEmpty) ""
        else overBudget.map { case (n, r) =>
          "\"" + n + ":" + fmt(r, 1) + "x\""
        }.mkString(",\"over\":[", ",", "]")
      // shuffle-volume breaches (raw bytes ratio vs the committed
      // shuffle section — see overShuffleFrom); empty on a healthy
      // round, so the tail budget only pays for it when it matters
      val overShufPart =
        if (overShuffle.isEmpty) ""
        else overShuffle.map { case (n, r) =>
          "\"" + n + ":" + fmt(r, 1) + "x\""
        }.mkString(",\"over_shuffle\":[", ",", "]")
      // whole-run contention verdict (see isContended) — stamped in
      // the artifact itself so host load is machine-detectable when
      // diffing BENCH_r{N}.json across rounds; absent on quiet runs,
      // so the tail budget only pays for it when it matters
      val contPart = if (contended) ",\"contended\":true" else ""
      // shed ladder for REDUNDANT constant fields, dropped only when
      // full query coverage would not otherwise fit: the driver's
      // artifact already records sf in its outer JSON, and the unit is
      // contractually always seconds (both always remain on stderr)
      val totalStr = fmt(total, if (shed >= 2) 0 else 2)
      val unitPart = if (shed >= 2) "" else "\"unit\":\"sec\","
      val sfPart = if (shed >= 1) "" else s""","sf":"$sfShort""""
      s"""{"metric":"total","value":$totalStr,$unitPart"queries":$qs$failedPart$overPart$overShufPart$contPart$sfPart}"""
    }
    // The driver's capture is the last 2000 chars of stdout, and the r2
    // artifact's tail ends exactly at the line's final char — trailing
    // whitespace is stripped, so the full 2000 belongs to the line;
    // 1996 leaves a 4-char margin.
    val budget = 1996
    // precision ladder: uniform 3/2 decimals, then magnitude-adaptive
    // (sub-second resolution only where it matters), then uniform 1,
    // then progressively integer-seconds for the big values — the last
    // level keeps 1 decimal only under 1s, where a whole-second
    // rounding would erase the measurement entirely
    val levels: Seq[Double => String] = Seq(
      t => fmt(t, 3), t => fmt(t, 2),
      t => if (t < 10) fmt(t, 2) else fmt(t, 1), t => fmt(t, 1),
      t => if (t < 10) fmt(t, 1) else fmt(t, 0),
      t => if (t < 1) fmt(t, 1) else fmt(t, 0))
    // Coverage-first fallback tiers. Tier 1: everything under real
    // names. Tiers 3-4: BOTH dashboard families under self-describing
    // 3-char stand-in keys — q1i..q5i = the inline build-path
    // dashboards, q1m..q5m = the materialized-mart read-path twins —
    // so both families keep artifact history no matter which tier the
    // budget lands on. (Earlier rounds alternated one family per round
    // by parity inference here; that inference was fragile under
    // re-runs AND unnecessary — the ten stand-in keys cost ~60 chars,
    // which the precision ladder absorbs long before coverage must
    // shed. Since r6 the steady-state tier is 2 anyway, where both
    // families ride under compressed real names + verbatim q1m..q5m.)
    // Tiers 5-6 (emergency): no dashboards. Every dropped timing stays
    // in the stderr detail.
    // Tier ladder, monotone in information content: (1) verbatim names;
    // (2) name-compressed, still EVERY distinct timing (legend on
    // stderr) — strictly more coverage than any family shed; (3-4) both
    // dashboard families as 3-char stand-ins, verbatim then compressed;
    // (5-6) emergency: no dashboards. Within a tier the precision/shed
    // ladders run first, so compression engages only once verbatim
    // names cannot fit at ANY precision.
    // computed over the FULL legend name set — identical to the
    // committed BENCH_KEYS.md by construction — and timed names look
    // up into it: a subset-computed map could decode differently from
    // the legend the moment a collision/suffix ever engages
    val shortKey = shortKeys(legendNames)
    // q1m..q5m are in legendNames and self-map (names no longer than
    // their would-be key pass through verbatim); the inline stand-ins
    // q1i..q5i are synthesized in entryTiers and resolve via the
    // getOrElse pass-through — ReservedKeys keeps derived keys out of
    // both namespaces
    val entryTiers = tiers(timed, shortKey)
    val candidates =
      for ((es, comp) <- entryTiers; shed <- 0 to 2; f <- levels)
        yield (line(es, f, shed), comp)
    val (out, compressed) =
      candidates.find(_._1.length <= budget).getOrElse(candidates.last)
    if (compressed)
      System.err.println(shortKey.toSeq.sortBy(_._1)
        .map { case (n, k) => s"$k=$n" }
        .mkString("[bench] legend: ", " ", ""))
    if (out.length > budget)
      System.err.println(s"[bench] WARNING: JSON line ${out.length} chars exceeds tail budget $budget")
    System.err.println(s"[bench] JSON line length: ${out.length}")
    println(out)
    spark.stop()
  }
}
