package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One workload: a repeatable set-up, one untimed warm pass, and timed
  * cycles of operations. Outputs the correctness gate needs are written
  * by [[export]], after the timed region.
  */
trait Workload {
  def prepare(): Unit
  def warm(): Unit
  def hasMore: Boolean
  /** Cycles every run times, however long they take. */
  def minCycles: Int = 1
  def cycle(rec: Recorder): Unit
  def export(out: String, rec: Recorder): Unit
  /** Layer metrics read from the spans of a traced run. */
  def layerMetrics(rec: Recorder): Seq[(String, Double)]
}

/** Operation samples, failures and free-form facts for the result file. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val facts = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  var items = 0L

  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** Time one operation; an exception counts it as failed. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      sample(kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        errors += s"$kind: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"
        None
    }
  }

  def fact(k: String, v: Any): Unit = facts(k) = v match {
    case s: String => Json.str(s)
    case other => String.valueOf(other)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
}

/** Host canaries, the same probes the program's own sweep carries: a
  * fixed single-threaded spin loop, and /proc/stat user/steal/iowait
  * shares over the run.
  */
object Canary {
  @volatile private var sink = 0L

  def spinMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 28)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }

  def cpuTicks(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val l = src.getLines().next()
        if (l.startsWith("cpu ")) l.trim.split("\\s+").drop(1).map(_.toLong) else Array.empty
      } finally src.close()
    } catch { case _: Throwable => Array.empty }

  /** (user, steal, iowait) percent of all jiffies between two readings. */
  def shares(a: Array[Long], b: Array[Long]): Seq[(String, String)] =
    if (a.length < 8 || b.length < 8) Seq.empty
    else {
      val d = b.zip(a).map { case (p, q) => math.max(0L, p - q) }
      val total = math.max(1L, d.sum).toDouble
      Seq("user_pct" -> Json.num(d(0) * 100 / total), "steal_pct" -> Json.num(d(7) * 100 / total),
        "iowait_pct" -> Json.num(d(4) * 100 / total))
    }
}

object Main {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The session `graft.Bench` builds, on local[cpus], with every
    * scratch and spill directory under `work`.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = graft.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `graft.Bench`'s per-operation hygiene. */
  def hygiene(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    graft.sources.Scratch.reap()
  }

  /** Used heap after a full collection: the live set at this point, once
    * every block the cycle persisted has really been dropped and the
    * context cleaner has released what the first collection freed. (A
    * peak of used heap is not reported: on local[n] the executors' memory
    * pages and G1's adaptive eden set it, and it spread by ~20 % between
    * runs.)
    */
  def liveHeapMb(spark: SparkSession): Double = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val in = opt("input")
    val out = opt("out")
    val work = opt("work")
    val cpus = opt("cpus").toInt

    val spin0 = Canary.spinMs()
    val cpu0 = Canary.cpuTicks()
    val spark = session(cpus, work)
    val inputsReady = new java.io.File(s"$in/inputs.json")
    val waitUntil = System.currentTimeMillis() + 60000L
    while (!inputsReady.exists()) {
      require(System.currentTimeMillis() < waitUntil, s"no inputs in $in")
      Thread.sleep(20)
    }
    val rec = new Recorder
    val wl: Workload = workload match {
      case "grid_refresh" => new GridRefresh(spark, in, work, seed)
      case "llm_data" => new LlmData(new CorpusDedup(spark, in, work, out), new VectorDials(spark, in, out))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val readyMs = System.currentTimeMillis()
    // set-up runs three times (fresh state each time); its median is reported
    val prepMs = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); wl.prepare(); hygiene(spark); (System.nanoTime() - t0) / 1e6
    }
    val w0 = System.nanoTime()
    wl.warm()
    hygiene(spark)
    val warmMs = (System.nanoTime() - w0) / 1e6

    // Traced runs alternate traced and untraced cycles: the counts come
    // from the first (traced) cycle, and the paired cycle walls give the
    // tracing overhead on the same kinds of operation (every cycle of a
    // workload runs the same steps). They run at least two cycles.
    val minCycles = math.max(wl.minCycles, if (traced) 2 else 1)
    val cycleWalls = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var cycle = 0
    var liveMb = 0.0
    while ((cycle < minCycles || System.nanoTime() < deadline) && wl.hasMore) {
      val tracedCycle = traced && cycle % 2 == 0
      if (tracedCycle) Trace.start(spark) else Trace.stop()
      Trace.cycle = cycle
      val c0 = System.nanoTime()
      wl.cycle(rec)
      cycleWalls += ((tracedCycle, (System.nanoTime() - c0) / 1e6))
      cycle += 1
      // between cycles, outside their walls: the live-heap high-water mark
      liveMb = math.max(liveMb, liveHeapMb(spark))
    }
    Trace.stop()
    val timedS = cycleWalls.map(_._2).sum / 1e3
    val cpu1 = Canary.cpuTicks()
    val spin1 = Canary.spinMs()

    // outside the timed region: outputs for the correctness gate
    val e0 = System.nanoTime()
    wl.export(out, rec)
    val exportMs = (System.nanoTime() - e0) / 1e6

    val layer: Seq[(String, Double)] =
      if (!traced) Seq.empty
      else {
        val on = cycleWalls.filter(_._1).map(_._2).toSeq
        val off = cycleWalls.filterNot(_._1).map(_._2).toSeq
        val overhead = if (off.isEmpty) Double.NaN else (median(on) / median(off) - 1) * 100
        Trace.write(s"$out/spans.json", s"$workload-$seed")
        wl.layerMetrics(rec) ++ Spans.engineMetrics(cpus) :+ ("tracing.overhead_pct" -> overhead)
      }

    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "ready_ms" -> readyMs.toString,
      "prepare_ms" -> Json.arr(prepMs),
      "warm_ms" -> Json.num(warmMs),
      "timed_s" -> Json.num(timedS),
      "export_ms" -> Json.num(exportMs),
      "cycles" -> cycle.toString,
      "cycle_walls_ms" -> Json.arr(cycleWalls.map(_._2).toSeq),
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "errors" -> rec.errors.map(Json.str).mkString("[", ",", "]"),
      "items" -> rec.items.toString,
      "live_heap_mb" -> Json.num(liveMb),
      "samples" -> Json.obj(rec.samples.toSeq.map { case (k, v) => k -> Json.arr(v.toSeq) }),
      "facts" -> Json.obj(rec.facts.toSeq),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "canary" -> Json.obj(Seq("spin_ms_before" -> Json.num(spin0), "spin_ms_after" -> Json.num(spin1)) ++
        Canary.shares(cpu0, cpu1)),
    ))
    val w = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
    try w.println(json) finally w.close()
    // the run directory is removed by the caller: skip the shutdown hooks'
    // cleanup and the session's orderly stop
    Runtime.getRuntime.halt(0)
  }
}
