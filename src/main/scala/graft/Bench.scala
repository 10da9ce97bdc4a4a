package graft
import java.util.Locale

/** Benchmark entry: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line the driver parses. The line must stay SHORT and be
  * the LAST thing on stdout: the driver keeps only a ~2.5 kB tail of the
  * output and parses the trailing JSON line, so per-query keys are the
  * "qNN" prefixes and values are rounded to ms (BENCH_r01/r02 were both
  * `parsed:null` because the full-name line outgrew the tail window and
  * sbt's "[success]" epilogue printed after it — see Global/showSuccess
  * in build.sbt).
  */
object Bench {
  /** Cumulative (stealJiffies, totalJiffies) from /proc/stat — the
    * host-contention counter that explains inflated readings. (0, 0)
    * where /proc/stat is unavailable. */
  private def cpuStat(): (Long, Long) =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      // fields: user nice system idle iowait irq softirq steal [guest
      // guest_nice] — guest times are already folded into user/nice,
      // so the denominator takes only the first eight
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (steal0, total0) = cpuStat()
    // Opt-in subset for targeted measurements (scale-exponent carves,
    // reliable-cut re-timings): comma-separated short or full names,
    // e.g. SPARK_GRAFT_BENCH_ONLY=q242,q302. Default: every query. A
    // typo'd name throws rather than shrinking the run silently.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only.fold(SparkEntry.queries) { o =>
      val wanted = SparkEntry.resolve(o).map(_._1).toSet
      SparkEntry.queries.filter { case (n, _) => wanted(n) }
    }
    val spark = GraftSession(GraftSession.cores)
    // Warm the JVM once (codegen, parquet reader, shuffle machinery, and
    // the Structured Streaming stack) so the first timed query doesn't
    // absorb one-time JIT/classload costs.
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    try graft.streaming.Streaming
      .q28StreamDedup(spark, "/root/testdata/sf0.001").count()
    catch { case _: Throwable => () }
    // Two full passes, best-of per query: the host shows double-digit
    // steal-time percentages, so any single pass can be inflated ~2× by
    // noisy-neighbor spikes; the per-query minimum is the engine's actual
    // cost. Pass 1 also amortizes residual first-touch costs. A query
    // that throws yields None for the pass — failures are reported in an
    // "errors" list and excluded from the min/total rather than letting a
    // fast exception path masquerade as a legitimate time.
    def time(name: String, fn: SparkEntry.Query): Option[Double] = {
      // attribution for session-memo builds (VERDICT r14 item 6): the
      // build cost of a shared frame lands inside whichever timed query
      // touches it first — record which (an AtomicReference set, ~ns)
      graft.engine.MemoTrace.payer.set(name)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      if (ok) Some((System.nanoTime() - t0) / 1e9) else None
    }
    def short(n: String) = n.takeWhile(_ != '_')
    def pass(): Map[String, Option[Double]] =
      selected.map { case (name, fn) => name -> time(name, fn) }
    val (p1, p2) = (pass(), pass())
    val names = selected.keys.toSeq.sorted
    // Contention-burst recovery: a noisy-neighbor spike lasting minutes
    // can cover the SAME query region in both passes (BENCH_r03 recorded
    // 48-64s for queries that cost <2.5s on a quiet host), so best-of-2
    // alone isn't enough. Any query whose two readings disagree >2× or
    // whose best reading is anomalously slow (>5× the pass-1 median) gets
    // one targeted re-measure later in time — outside the burst with high
    // probability — and the min of all readings is reported. Cost is a
    // few extra query runs, only when readings are already suspect. The
    // reference median is the QUIETER pass's (min of the two pass
    // medians): a burst spanning most of one pass would inflate that
    // pass's median and mute the very detector this exists for.
    def median(p: Map[String, Option[Double]]): Double = {
      val v = p.values.flatten.toSeq.sorted
      if (v.isEmpty) 0.0 else v(v.size / 2)
    }
    val med = math.min(median(p1), median(p2))
    def suspect(rs: Seq[Double]): Boolean =
      rs.isEmpty || rs.max > 2 * rs.min || rs.min > 5 * med + 0.5
    val measured0 = names.map { n =>
      val rs = (p1(n) ++ p2(n)).toSeq
      val rerun = if (suspect(rs)) time(n, SparkEntry.queries(n)) else None
      n -> (rs ++ rerun)
    }
    // Burst-proofing, second tier (VERDICT r14 item 7): a contention
    // burst can cover a query's two passes AND its targeted re-measure
    // (r14 recorded spreads of 10-12× that survived the rerun). Any
    // query whose readings still disagree >2× after the first rerun
    // gets ONE more re-measure, later in time again; the reported
    // value stays min-of-all-readings — extra readings can only
    // tighten it, never change the methodology.
    val measured = measured0.map { case (n, rs) =>
      val again =
        if (rs.nonEmpty && rs.max > 2 * rs.min) time(n, SparkEntry.queries(n))
        else None
      n -> (rs ++ again)
    }
    val ok = measured.collect { case (n, rs) if rs.nonEmpty => n -> rs }
    val errors = measured.collect { case (n, rs) if rs.isEmpty => n }
    // "q01_flag_share_count" -> "q01": keys are unique by construction.
    def f3(v: Double) = "%.3f".formatLocal(Locale.ROOT, v)
    val qs = ok.map { case (k, rs) => "\"" + short(k) + "\":" + f3(rs.min) }
      .mkString("{", ",", "}")
    // Per-query SPREAD (max/min - 1 over this run's readings): best-of-N
    // absorbs spikes but HIDES them — one tree measured 366-414 s across
    // quiet-host repeats in r12, so a round-over-round per-query ratio
    // can be pure noise. The spread column lets the comparison discount
    // noisy readings mechanically: a query in `noisy` (spread > 30%) had
    // readings too far apart for its best to be trusted to ±30%.
    val spreads = ok.map { case (n, rs) =>
      n -> (if (rs.size < 2) 0.0 else rs.max / rs.min - 1.0) }
    val spreadJson = spreads
      .map { case (k, s) => "\"" + short(k) + "\":" + f3(s) }
      .mkString("{", ",", "}")
    val noisyJson = spreads.collect { case (n, s) if s > 0.30 =>
      "\"" + short(n) + "\"" }.mkString("[", ",", "]")
    val errJson = errors.map("\"" + short(_) + "\"").mkString("[", ",", "]")
    val total = f3(ok.map(_._2.min).sum)
    spark.stop()
    // Steal-time annotation (VERDICT r10 item 6): the fraction of this
    // run's host CPU time stolen by the hypervisor/noisy neighbors, so
    // round-over-round ratios carry their own noise context instead of
    // needing prose caveats. -1 when /proc/stat is unavailable.
    val (steal1, total1) = cpuStat()
    val stealPct =
      if (total1 > total0) f3((steal1 - steal0) * 100.0 / (total1 - total0))
      else "-1"
    // Truncation-proofing (BENCH_r08 lost 113 per-query times because the
    // single giant line outgrew the driver's ~2.5 kB stdout tail): the
    // FULL per-query map goes to a file in the repo, the full line is
    // printed for human eyes, and the FINAL line — the one the driver's
    // trailing-JSON parse and tail capture always see whole — is a short
    // self-contained headline (total, count, errors, slowest-5) that can
    // never outgrow the tail window.
    // memo-build attribution (VERDICT r14 item 6): which timed query
    // paid for each session-memoized shared derivation, so per-query
    // ratios around the shared families stay interpretable. Goes only
    // to the FULL detail file, never the driver-parsed short line.
    val memoJson = graft.engine.MemoTrace.log
      .map { case (m, q) => "\"" + m + "\":\"" + q + "\"" }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","steal_pct":$stealPct,"queries":$qs,"spreads":$spreadJson,"noisy":$noisyJson,"errors":$errJson,"memo_builds":$memoJson,"sf":"$sfDir"}"""
    // a SUBSET run must never clobber the committed full-run record:
    // without an explicit SPARK_GRAFT_BENCH_OUT it lands in /tmp
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "/tmp/BENCH_SUBSET.json"
      else "/root/repo/BENCH_FULL.json")
    // A failed detail write must advertise detail:null — a stale
    // previous-round file at outPath would otherwise be silently parsed
    // as THIS run's per-query data (ADVICE r9).
    val detailJson =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          (fullLine + "\n").getBytes("UTF-8"))
        "\"" + outPath + "\""
      } catch {
        case t: Throwable =>
          println(s"WARNING: BENCH_FULL write to $outPath failed: ${t.getMessage}")
          "null"
      }
    println(fullLine)
    val slow5 = ok.sortBy(-_._2.min).take(5)
      .map { case (k, rs) => "\"" + short(k) + "\":" + f3(rs.min) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${ok.size},"steal_pct":$stealPct,"queries":$slow5,"errors":$errJson,"sf":"$sfDir","detail":$detailJson}""")
  }
}
