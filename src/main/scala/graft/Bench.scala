package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is fully materialized through the noop sink (count() would
  * let Catalyst prune work). Failures are loud: the failing query is
  * reported at -1 and the process exits non-zero after the JSON line.
  *
  * Next to seconds, the artifact carries per-query SHUFFLE-WRITE and
  * SPILL megabytes plus EXECUTOR CPU seconds (a listener sums task
  * metrics around each timed run): seconds say a query got slower,
  * shuffle bytes say WHY — a plan regression moves bytes (a lost
  * broadcast, a new exchange), box contention doesn't — and CPU
  * seconds say WHO PAID: a host burst inflates wall-clock but not the
  * task CPU total, so a wall regression with flat CPU is environmental
  * drift, not code (r13 lost days adjudicating exactly that class with
  * interleaved A/Bs; cpu_s makes it readable from two artifacts).
  * Spill > 0 flags partitions outgrowing executor memory before any
  * timing shows it. Values are best-effort (listener events can trail
  * a job by a beat) and informational — the timing contract is
  * unchanged.
  */
object Bench {

  /** Running totals of task-level shuffle write + spill bytes + CPU ns. */
  private final class MetricsListener extends org.apache.spark.scheduler.SparkListener {
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    val cpu = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        cpu.addAndGet(m.executorCpuTime)
      }
    }
  }

  /** One benched query: both timed runs, per-run-mean shuffle/spill
    * MB, per-run-mean executor CPU seconds. */
  private final case class QRow(
      name: String, runs: Seq[Double], shuffleMb: Double, spillMb: Double, cpuS: Double)

  /** The latest committed BENCH_FULL_r<NN>.json, parsed once. */
  private final case class PrevFull(
      name: String, qsec: Map[String, Double], cpu: Map[String, Double],
      shuffle: Map[String, Double], sf: Option[String]) {
    /** The cpu_flat control (r14 advice: "environmental" was too
      * conclusive a name for a cpu-only signal — driver-side plan
      * blowups inflate wall without touching executor CPU): a wall
      * regression is auto-classified cpu_flat only with BOTH
      * corroborating signals — executor CPU grew <= 10% AND shuffle
      * bytes are unchanged (<= 10% relative or <= 0.2 MB absolute —
      * a lost broadcast / new exchange moves bytes). Abstains (the
      * regression stays unadjudicated) when the prior artifact lacks
      * either metric or a reading is ~0. */
    def cpuFlat(q: QRow): Boolean =
      cpu.get(q.name).exists(pc => pc > 0.05 && q.cpuS > 0 && q.cpuS / pc <= 1.10) &&
        shuffle.get(q.name).exists(ps =>
          math.abs(q.shuffleMb - ps) <= math.max(0.2, 0.10 * math.max(ps, 0.0)))
  }

  /** Pre-bench contention probe (r8 verdict task 4 — three rounds of
    * driver benches in a row were contended, each costing a diagnosis
    * cycle): a FIXED single-thread integer busy-loop, timed twice, min
    * taken. On an idle box this measures a stable machine constant
    * (~0.2-0.4 s here); on a contended box the OS deschedules the
    * loop and the number inflates proportionally — so the artifact
    * carries a contention measurement taken BEFORE any query ran,
    * independent of Spark, JIT, or plan changes. Readers compare
    * `cal` across artifacts from the same box: cal(noisy)/cal(idle)
    * ≈ the inflation factor to expect on every wall-clock number. */
  private def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 400000000) { // fixed iteration count, never data-dependent
        x = x * 6364136223846793005L + 1442695040888963407L
        i += 1
      }
      // fold x into the result so the loop cannot be dead-code-eliminated
      (System.nanoTime() - t0) / 1e6 + (x & 1)
    }
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // cal probes accumulate: one BEFORE any query (the original
    // contention pre-probe), plus — when the first pass flags the box —
    // one more right before the flagged queries are re-timed (r16
    // verdict task 8: every driver run self-flagged contended; a
    // re-measured stretch under a quiet late cal lets ONE bench
    // invocation land an uncontended artifact instead of deferring to
    // a diagnosis round). All raw probes stay in the artifact ("cals");
    // the contention flag uses the min — honest, because min-of-runs
    // per query means the reported seconds are dominated by whichever
    // window was quiet.
    var cals = List(calibrate())
    def calMs = cals.min
    val spark = Session.local()

    // Warm the JVM/codegen once so per-query times measure the plan, not JIT.
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    // Dev-loop filters: SPARK_GRAFT_ONLY=q1,q2 times just those
    // queries; SPARK_GRAFT_EXCLUDE=q3,q4 drops named queries —
    // dev/sweep.sh sets it on the SCALED run at tiles >= 100 to leave
    // out the exhaustive-exact-baseline scaffolding whose cost is
    // workload-priced tiles² by construction (hours per query at
    // 100×); the exclusion list is recorded in the sweep artifact.
    // Unset (the driver's invocation) = the full suite.
    // filter(_.nonEmpty): an EMPTY env value means "no filter", not
    // the unknown query name "" (sweep.sh passes "" at small tiles)
    val exclude = sys.env.get("SPARK_GRAFT_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // Fail fast on unknown names (mirrors Verify): a misspelled filter
    // would silently time nothing (or silently time everything).
    (only.toSeq :+ exclude).foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"bench filter names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // Locale.ROOT: String.format follows the JVM default locale, and a
    // comma decimal separator would corrupt the JSON artifact
    def num(v: Double, fmt: String): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    def s3(v: Double): String = if (v < 0) "-1" else num(v, "%.3f")
    def mb(v: Double): String = num(v, "%.1f")
    // Contamination guard (r11 verdict task 6 — twice the round's
    // headline number was polluted by adjacent heavy work and the
    // diagnosis needed mtime archaeology): the artifact itself says
    // when its numbers are suspect. The threshold is calibrated to an
    // IDLE run of the current dev box (~505-515 ms) and is therefore
    // box-specific — SPARK_GRAFT_CAL_CONTENDED_MS overrides it on any
    // other machine (r12 advice: without the override a faster/slower
    // box is permanently flagged contended, or never). Spread on an
    // idle run stays near 1.0-1.3 on any box.
    val CalContendedMs = sys.env.get("SPARK_GRAFT_CAL_CONTENDED_MS")
      .map(_.toDouble).getOrElse(550.0)
    val SpreadContended = 3.0
    // Per-query trust statistic: the ratio of the two SMALLEST runs —
    // does a second quiet measurement corroborate the min we report?
    // The old max/min form contradicted the retry-until-stable design:
    // the extra run exists to REJECT a one-off burst by min-of-three,
    // yet the rejected outlier stayed in the max and permanently
    // flagged the artifact. On this VM's quasi-periodic burst cadence
    // that made every ~80-min 100× sweep contended by construction
    // (r13/r15/r16: ann_ivf [5.2, 23.3, 2.3] and, an hour later,
    // [3.5, 22.7, 2.5] — the min corroborated within 10% both times,
    // the artifact flagged anyway). A burst that covers BOTH runs of
    // one query escapes either form equally — that window is what the
    // cal probe and the committed multi-round bands cover. All raw
    // runs stay in the artifact, so the rejected outliers remain
    // visible, not laundered.
    def spreadOf(rs: Seq[QRow]): Double =
      rs.collect { case q if q.runs.min >= 0.5 =>
        val sorted = q.runs.sorted
        if (sorted.size < 2) 1.0 else sorted(1) / sorted(0)
      }.foldLeft(1.0)(math.max)
    def contendedOf(rs: Seq[QRow]): Boolean =
      calMs > CalContendedMs || spreadOf(rs) > SpreadContended
    // Prior-round full artifact, parsed ONCE: feeds both the stderr
    // round-diff and the artifact's explicit regression block (r12
    // verdict task 6 — a promised-but-never-run adjudication shipped
    // silently twice; now the committed artifact itself carries the
    // unadjudicated list, empty or not, so a dangling regression is
    // visible in the tree).
    def parseArtifact(f: java.io.File): Option[PrevFull] =
      try {
        val content = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val pair = "\"([A-Za-z0-9_]+)\"\\s*:\\s*(-?[0-9.]+)".r
        // whitespace-tolerant: our own artifacts are compact, but a
        // hand-repaired or pretty-printed prior file must still parse
        val qsec = pair
          .findAllMatchIn(content.substring(
            content.indexOf("\"queries\":"), content.indexOf("\"runs\":")))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        // per-query CPU seconds (flat map — absent in pre-r14
        // artifacts, in which case the CPU control simply abstains)
        def flatMapAt(key: String): Map[String, Double] = {
          val idx = content.indexOf("\"" + key + "\":")
          if (idx < 0) Map.empty[String, Double]
          else pair
            .findAllMatchIn(content.substring(idx, content.indexOf("}", idx) + 1))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
        val prevSf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(content).map(_.group(1))
        Some(PrevFull(f.getName, qsec,
          flatMapAt("cpu_s"), flatMapAt("shuffle_mb"), prevSf))
      } catch { case _: Exception => None }
    val committedFulls: Seq[PrevFull] = {
      // Never read THIS run's own output path as a "committed" prior:
      // a stale artifact left at SPARK_GRAFT_BENCH_OUT by a killed run
      // (r16: the session died mid-bench, leaving a partial
      // BENCH_FULL_r16.json) would otherwise become both the baseline
      // (self-comparison against half-timed numbers) and a pollutant
      // in the historical band.
      val ownOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .map(p => new java.io.File(p).getCanonicalPath)
      val files = new java.io.File(".").listFiles((_, n) =>
        n.matches("BENCH_FULL_r\\d+\\.json"))
      if (files == null) Seq.empty
      else files.toSeq
        .filterNot(f => ownOut.contains(f.getCanonicalPath))
        .sortBy(f =>
          "\\d+".r.findFirstIn(f.getName).map(_.toInt).getOrElse(0))
        .flatMap(parseArtifact)
    }
    val prevFull: Option[PrevFull] = committedFulls.lastOption
    // Per-query historical MAX wall across EVERY committed same-sf
    // artifact — the band that closes the r15 bpe_merges adjudication
    // class mechanically: a sub-2s seat whose generated-code JIT state
    // dominates its wall oscillates across same-code rounds
    // (bpe_merges r11-r15: 1.52/1.38/1.23/0.88/1.42), so a "regression"
    // that lands at or under its own committed history is the seat
    // re-visiting its band, not a change — classified "within_band",
    // never silently: the bucket is in the committed artifact.
    val histMax: Map[String, Double] = committedFulls
      .filter(p => p.sf.forall(_ == sfDir))
      .flatMap(_.qsec)
      .groupMapReduce(_._1)(_._2)(math.max)
    // A regression is UNADJUDICATED when this run is slower than the
    // prior committed full artifact by >0.5 s AND >25% (min-of-runs)
    // at the same sf. Only an UNCONTENDED run can accuse — a contended
    // box inflates everything, so the block records the suppression
    // instead of a false list. Since r14 per-query EXECUTOR CPU is a
    // second control (r13 verdict task 5), and since r15 the bucket is
    // named for what it MEASURES, not a conclusion (r14 advice): a
    // wall regression with flat executor CPU (<= +10%) AND unchanged
    // shuffle bytes lands in "cpu_flat" — the signature of host/fs
    // drift, but also of a driver-side planning blowup, so cpu_flat
    // entries still get a stderr nudge rather than silent clearance.
    // The control abstains — regression stays unadjudicated — when the
    // prior artifact lacks cpu_s/shuffle_mb or a reading is ~0.
    def regressionBlock(rs: Seq[QRow]): String =
      prevFull match {
        case Some(prev) if prev.sf.forall(_ == sfDir) =>
          val suppressed = contendedOf(rs)
          val cand =
            if (suppressed) Seq.empty[QRow]
            else rs.filter { q =>
              q.runs.min >= 0 && prev.qsec.getOrElse(q.name, -1.0) > 0 &&
                q.runs.min - prev.qsec(q.name) > 0.5 && q.runs.min / prev.qsec(q.name) > 1.25
            }
          // band first: a seat at-or-under its committed multi-round
          // max is oscillation, whatever its CPU did (JIT state is
          // part of what oscillates on sub-2s seats)
          val (bandQ, rest) = cand.partition(q =>
            histMax.get(q.name).exists(h => q.runs.min <= h * 1.05))
          val (flatQ, unadjQ) = rest.partition(prev.cpuFlat)
          def m(qs: Seq[QRow]): String = qs.map(q =>
            "\"" + q.name + "\":[" + s3(prev.qsec(q.name)) + "," + s3(q.runs.min) + "]")
            .mkString("{", ",", "}")
          def mBand(qs: Seq[QRow]): String = qs.map(q =>
            "\"" + q.name + "\":[" + s3(prev.qsec(q.name)) + "," + s3(q.runs.min) +
              "," + s3(histMax.getOrElse(q.name, -1.0)) + "]")
            .mkString("{", ",", "}")
          s""","regressions":{"baseline":"${prev.name}",""" +
            s""""rule":"+0.5s and +25%, uncontended; at or under the committed multi-round max (x1.05) => within_band [prev,cur,band_max]; else cpu_s <= +10% and shuffle unchanged => cpu_flat (likely environmental; verify driver-side)",""" +
            s""""within_band":${mBand(bandQ)},""" +
            s""""cpu_flat":${m(flatQ)},""" +
            s""""suppressed_contended":$suppressed,""" +
            s""""unadjudicated":${m(unadjQ)}}"""
        case _ => ""
      }
    def fullJson(rs: Seq[QRow]): String = {
      val qs = rs.map(q => "\"" + q.name + "\":" + s3(q.runs.min)).mkString("{", ",", "}")
      val rr = rs.map(q => "\"" + q.name + "\":" + q.runs.map(s3).mkString("[", ",", "]"))
        .mkString("{", ",", "}")
      val sh = rs.map(q => "\"" + q.name + "\":" + mb(q.shuffleMb)).mkString("{", ",", "}")
      val sp = rs.map(q => "\"" + q.name + "\":" + mb(q.spillMb)).mkString("{", ",", "}")
      val cp = rs.map(q => "\"" + q.name + "\":" + num(q.cpuS, "%.2f")).mkString("{", ",", "}")
      val tot = rs.collect { case q if q.runs.min >= 0 => q.runs.min }.sum
      s"""{"metric":"total","value":${s3(tot)},"unit":"sec","queries":$qs,""" +
        s""""runs":$rr,"shuffle_mb":$sh,"spill_mb":$sp,"cpu_s":$cp,""" +
        s""""cal":${num(calMs, "%.0f")},""" +
        s""""cals":${cals.reverse.map(num(_, "%.0f")).mkString("[", ",", "]")},""" +
        s""""spread":${num(spreadOf(rs), "%.2f")},"contended":${contendedOf(rs)},""" +
        s""""sf":"$sfDir"${regressionBlock(rs)}}"""
    }
    // The full artifact is (re)written after EVERY query, not only at
    // exit: a multi-hour scale sweep killed mid-run (round timeout,
    // OOM) used to lose every per-query measurement it had already
    // paid for — r10 lost its completed 100× half exactly this way.
    // SPARK_GRAFT_BENCH_OUT redirects it to a caller-owned path:
    // bench_full.json is a SHARED name, and r11's sweep lost its
    // completed scaled half to a concurrent bench overwriting it
    // between the sweep's last write and its copy step.
    val fullOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    def writeFull(rs: Seq[QRow], quiet: Boolean): Unit = {
      val targets = fullOut.map(Seq(_)).getOrElse(
        Seq(sys.props.getOrElse("user.dir", "."), "/tmp")
          .map(d => java.nio.file.Paths.get(d, "bench_full.json").toString))
      for (t <- targets) {
        try {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(t), fullJson(rs).getBytes("UTF-8"))
          if (!quiet) System.err.println(s"[bench] full JSON -> $t")
        } catch { case e: Exception =>
          if (!quiet) System.err.println(s"[bench] could not write $t: ${e.getMessage}")
        }
      }
    }
    var failed = List.empty[String]
    val benched = scala.collection.mutable.ArrayBuffer.empty[QRow]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.contains(name)) && !exclude.contains(name)
      }
      .foreach { case (name, fn) =>
      def once(): Unit = fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val ok =
        try { once(); true } // warm-up: codegen/JIT compile off the clock
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed ::= name
            false
        }
      // Two timed runs, report the min: a single multi-second GC pause
      // on a shared box otherwise lands on one unlucky query. Before
      // each, drop cached intermediates the previous run materialized —
      // a query must pay its own cache-build cost, not reuse another's.
      // BOTH run times are kept in the output ("runs"): a large spread
      // between them makes box contention self-diagnosing in the
      // artifact instead of looking like a plan regression.
      def timedOnce(): Double = {
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        once()
        (System.nanoTime() - t0) / 1e9
      }
      // metric counters snapshot around the timed runs (AFTER warm-up,
      // so index builds/JIT stay off the books): the per-run-mean delta
      // attributes shuffle/spill/CPU to this query (best-effort —
      // trailing listener events land on the next query's account)
      val sw0 = metrics.shuffleWrite.get(); val sp0 = metrics.spill.get()
      val cp0 = metrics.cpu.get()
      val runs =
        if (!ok) Seq(-1.0)
        else try {
          // Retry-until-stable (r7: a contended driver box made four
          // queries look 3-6× regressed and cost a full diagnosis
          // cycle): while the two SMALLEST runs disagree by >30%, take
          // another (two smallest, not max/min, since r16 — the whole
          // point of the retry is that an outlier run is rejected, so
          // stability is judged on the runs that remain) — up to four
          // total, so a burst window gets at most two extra chances to
          // produce the corroborating quiet measurement. Extra runs are
          // best-effort: if one throws (most likely on exactly the
          // contended box that triggered it), keep the GOOD
          // measurements instead of reporting a phantom failure.
          var acc = Seq(timedOnce(), timedOnce())
          def unstable(rs: Seq[Double]): Boolean = {
            val s = rs.sorted
            s(1) / s(0) > 1.30 && s(0) > 0.2
          }
          try {
            while (acc.size < 4 && unstable(acc)) acc = acc :+ timedOnce()
          } catch { case _: Throwable => () }
          acc
        }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED (timed run): ${e.getMessage}")
            failed ::= name
            Seq(-1.0)
        }
      val nRuns = math.max(runs.size, 1)
      val shuffleMb = (metrics.shuffleWrite.get() - sw0) / nRuns.toDouble / 1048576.0 // per-run mean
      val spillMb = (metrics.spill.get() - sp0) / nRuns.toDouble / 1048576.0
      val cpuS = (metrics.cpu.get() - cp0) / nRuns.toDouble / 1e9
      benched += QRow(name, runs, shuffleMb, spillMb, cpuS)
      writeFull(benched.toSeq, quiet = true)
    }
    val firstPass: Seq[QRow] = benched.toSeq
    // Cal-gated re-measurement (r16 verdict task 8 — every driver run
    // self-flagged contended, each costing a diagnosis round): when the
    // first pass flags the box (late-probe cal high OR spread > 3, the
    // r6/r7/r8 false-regression class), take ONE fresh cal probe and
    // give a bounded flagged stretch one more timed attempt at the end
    // of the suite: by then the contending load has often moved on, and
    // min-of-runs lets a single quiet measurement correct a query that
    // only LOOKED slow. The stretch = every query whose own two
    // smallest runs disagree > 3x (the ones driving the spread flag)
    // plus the 10 slowest (they carry the total when cal is the
    // trigger), capped at 24. Under the two-smallest spread (r16) a
    // quiet extra run NARROWS the query's corroboration ratio — also
    // exactly right: the min now has a second agreeing measurement
    // behind it, and the disagreeing outliers stay visible in "runs".
    // The contention flag uses the MIN cal probe — honest because the
    // seconds it vouches for are themselves min-of-runs, re-taken for
    // the flagged stretch inside the late probe's window; all raw
    // probes stay in the artifact ("cals").
    // r17 addition to the same task: a burst that covers BOTH runs of a
    // query escapes cal AND spread (observed this round: cube_agg
    // [3.52, 3.59] on a run whose probes read idle — vs 0.26 committed
    // and 0.30 isolated), so apparent regressions against the committed
    // baseline get re-timed at end of suite even on an "uncontended"
    // pass. Same candidate rule as the artifact's regression block
    // (>0.5 s and >25%, not within the committed band), so a seat the
    // re-time cannot absolve lands in "unadjudicated" exactly as
    // before; min-of-runs means a genuine regression keeps its number.
    val regressionSuspects: Seq[String] = prevFull match {
      case Some(prev) if prev.sf.forall(_ == sfDir) =>
        firstPass.filter { q =>
          q.runs.min >= 0 && prev.qsec.getOrElse(q.name, -1.0) > 0 &&
            q.runs.min - prev.qsec(q.name) > 0.5 &&
            q.runs.min / prev.qsec(q.name) > 1.25 &&
            !histMax.get(q.name).exists(h => q.runs.min <= h * 1.05)
        }.map(_.name)
      case _ => Seq.empty
    }
    val results =
      if (!contendedOf(firstPass) && regressionSuspects.isEmpty) firstPass
      else {
        cals = calibrate() :: cals
        val unstable = firstPass.filter { q =>
          q.runs.min >= 0.5 && {
            val s = q.runs.sorted
            s.size >= 2 && s(1) / s(0) > SpreadContended
          }
        }.map(_.name)
        val slow =
          if (contendedOf(firstPass))
            firstPass.filter(_.runs.min >= 0)
              .sortBy(-_.runs.min).take(10).map(_.name)
          else Seq.empty // quiet pass: only the apparent regressions re-time
        val retime = (regressionSuspects ++ unstable ++ slow).distinct.take(24)
        System.err.println(
          f"[bench] first pass flagged (cal ${cals.head}%.0f ms late probe, " +
            f"spread ${spreadOf(firstPass)}%.2f, ${regressionSuspects.size} apparent " +
            f"regressions) — re-timing ${retime.mkString(", ")}")
        firstPass.map { q =>
          if (!retime.contains(q.name)) q
          else {
            // up to TWO extra runs (r17): after one quiet re-time of a
            // badly inflated seat the two smallest runs are [quiet,
            // inflated] and still flag the artifact — the min needs a
            // second agreeing measurement to corroborate (the same
            // ≤30% rule the retry-until-stable pass uses), so take one
            // more only while the two smallest still disagree
            def once(): Option[Double] =
              try {
                spark.sharedState.cacheManager.clearCache()
                val t0 = System.nanoTime()
                SparkEntry.queries(q.name)(spark, sfDir)
                  .write.format("noop").mode("overwrite").save()
                Some((System.nanoTime() - t0) / 1e9)
              } catch { case _: Throwable => None }
            def uncorroborated(rs: Seq[Double]): Boolean = {
              val s = rs.filter(_ >= 0).sorted
              s.size >= 2 && s(1) / s(0) > 1.30 && s(0) > 0.2
            }
            var runs = q.runs ++ once()
            if (uncorroborated(runs)) runs = runs ++ once()
            q.copy(runs = runs)
          }
        }
      }
    val total = results.collect { case q if q.runs.min >= 0 => q.runs.min }.sum
    // TWO stdout JSON lines, full-map first, compact LAST (r16 verdict
    // task 2 — the driver has been blind per-query two rounds running —
    // reconciled with the r01–r07 truncation evidence): the committed
    // BENCH_r01–r07 artifacts show the driver keeps exactly the LAST
    // 2000 chars of output and parses a line that starts with `{` at a
    // line start inside that window (r05/r06 printed one full-map
    // ~4 KB line — its head fell outside the window and "value" was
    // lost; r07's line was complete but `[info]`-prefixed by sbt and
    // also unparsed). A 153-query map cannot fit 2000 chars, so ONE
    // line cannot carry both. Instead: the FULL line (metric, value,
    // AND the complete per-query seconds map — a strict superset, so a
    // parser landing on it needs nothing else) goes first, and the
    // compact line (total + count + slowest-10, hard budget <= 1 KB)
    // goes LAST. A 2000-char window sees: the full line's tail (no
    // line-start `{`, so it cannot half-parse) followed by the whole
    // compact line — exactly the r08+ behavior that has parsed every
    // round. A capture wider than the full line gets per-query data.
    // Nothing is renamed or removed; the full detail (both runs,
    // shuffle/spill MB, cpu_s) additionally lives in bench_full.json.
    val slowTen = results.filter(_.runs.min >= 0).sortBy(-_.runs.min).take(10)
      .map(q => "\"" + q.name + "\":" + s3(q.runs.min))
      .mkString("{", ",", "}")
    // Box-contention flag in the artifact itself: the worst run-to-run
    // ratio across queries ≥0.5 s. ~1.0-1.3 = idle box, trust the
    // numbers; >>1.3 = contended — re-measure before calling anything
    // a regression (the r7 false-regression class).
    val spread = spreadOf(results)
    val contended = contendedOf(results)
    if (contended)
      System.err.println(
        f"[bench] WARNING: box looks CONTENDED (cal ${calMs}%.0f ms vs idle ~510, " +
          f"spread ${spread}%.2f) — treat these numbers as suspect; re-run on an idle box " +
          "before calling anything a regression")
    val compact =
      s"""{"metric":"total","value":${s3(total)},"unit":"sec","n":${results.size},"spread":${num(spread, "%.2f")},"cal":${num(calMs, "%.0f")},"contended":$contended,"sf":"$sfDir","slowest":$slowTen}"""
    writeFull(results, quiet = false) // final write includes any re-timed runs
    val slowest = results.filter(_.runs.min >= 0).sortBy(-_.runs.min).take(10)
    System.err.println(f"[bench] total ${total}%.1fs over ${results.size} queries; slowest 10:")
    slowest.foreach { q =>
      System.err.println(
        f"[bench]   ${q.name}%-24s ${q.runs.min}%7.2fs  shuffle ${q.shuffleMb}%8.1f MB  cpu ${q.cpuS}%7.2f s")
    }
    // Round-over-round self-comparison (r10 verdict task 7: bench_full
    // is overwritten every run, so the r9-vs-r10 per-query comparison
    // had to be reconstructed from slowest-10 lists): diff this run
    // against the LATEST committed BENCH_FULL_r<NN>.json in cwd, to
    // stderr only. Purely informational — shuffle-MB and cpu_s deltas
    // in the two full files stay the ground truth for plan-vs-noise
    // adjudication.
    try {
      prevFull match {
        case Some(prev) if only.isEmpty && prev.sf.forall(_ == sfDir) =>
          val deltas = results.collect {
            case q if q.runs.min >= 0 && prev.qsec.getOrElse(q.name, -1.0) > 0 =>
              (q, prev.qsec(q.name), q.runs.min, q.runs.min - prev.qsec(q.name))
          }.sortBy(-_._4)
          System.err.println(s"[bench] vs ${prev.name} (same sf) — top regressions:")
          deltas.take(10).filter(_._4 > 0.1).foreach { case (q, p, c, d) =>
            System.err.println(f"[bench]   ${q.name}%-24s $p%7.2fs -> $c%7.2fs  (+$d%.2fs)")
          }
          val totPrev = deltas.map(_._2).sum
          val totCur = deltas.map(_._3).sum
          System.err.println(
            f"[bench] common-query total: $totPrev%.1fs -> $totCur%.1fs")
          // the artifact-block twin, loudly: an unadjudicated
          // regression must be impossible to miss in the run log too,
          // and cpu_flat entries get their own non-conclusive nudge
          // (r14 advice: a driver-side planning blowup has the same
          // flat-CPU signature as environmental drift)
          val (cpuFlat, unadj) = deltas
            .filter { case (_, p, c, d) => d > 0.5 && c / p > 1.25 }
            .partition { case (q, _, _, _) => prev.cpuFlat(q) }
          if (!contended && unadj.nonEmpty)
            System.err.println(
              s"[bench] WARNING: UNADJUDICATED regressions (>0.5s and >25% on an " +
                s"uncontended run, not cpu_flat-cleared) recorded in the artifact: " +
                unadj.map(_._1.name).mkString(", ") + " — A/B these before committing claims")
          if (!contended && cpuFlat.nonEmpty)
            System.err.println(
              s"[bench] note: cpu_flat regressions (wall up, executor CPU + shuffle flat — " +
                s"likely environmental, but a driver-side planning regression looks the same): " +
                cpuFlat.map(_._1.name).mkString(", "))
        case _ => ()
      }
    } catch { case e: Exception =>
      System.err.println(s"[bench] round-diff skipped: ${e.getMessage}")
    }
    spark.stop()
    // Budget enforced at emit time: a future query-name explosion must
    // fail HERE, visibly, not silently re-break the driver's parse.
    require(compact.length <= 1024,
      s"bench stdout line is ${compact.length} bytes; the driver tail-captures ~2KB — keep it <= 1024")
    val fullLine = {
      val qs = results.map(q => "\"" + q.name + "\":" + s3(q.runs.min))
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${s3(total)},"unit":"sec","n":${results.size},"queries":$qs,"spread":${num(spread, "%.2f")},"cal":${num(calMs, "%.0f")},"contended":$contended,"sf":"$sfDir"}"""
    }
    println(fullLine)
    println(compact)
    if (failed.nonEmpty) {
      System.err.println(s"[bench] failed queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
