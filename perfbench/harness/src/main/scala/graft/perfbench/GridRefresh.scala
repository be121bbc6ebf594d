package graft.perfbench

import graft.operators.{Mv, Resample, Reshape}
import graft.pipeline.Pipeline
import graft.sources.{Tx, VersionedCache}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Trace.span

/** The reference's scheduled job with its dashboard: each refresh probes
  * the resume cursor, pulls one keyset page of the landing stream,
  * transforms it, merges it into a `Tx` sink, retracts older periods
  * through deletion vectors, and follows the sink's change feed into an
  * hourly rollup. Three dashboard reads then go through a `VersionedCache`
  * (they read past the page's deletion vectors), and a maintenance cycle
  * (compact deletes, vacuum) closes the page. Every page runs every kind
  * of operation, so the warm pass (page 0) and each timed cycle do the
  * same work. One cycle = one page; every run times at least two.
  */
final class GridRefresh(spark: SparkSession, in: String, work: String, seed: Long)
    extends Workload {
  private val Fuels = Seq("WIND", "GAS", "SOLAR")
  private val Keys = Seq("DATETIME")

  private val landing = spark.read.parquet(s"$in/landing.parquet").drop("batch")
  private val (seedRows, batchRows, batches) = {
    val r = spark.read.parquet(s"$in/landing.parquet").agg(count_if(col("batch") === -1),
      count_if(col("batch") === 0), max(col("batch"))).head()
    (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toInt + 1)
  }
  private val retractions: Map[Int, Seq[String]] =
    spark.read.parquet(s"$in/retractions.parquet").collect().toSeq
      .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getString(1)) }

  private var rep = 0
  private var sink = ""
  private var mvPath = ""
  private var cache: VersionedCache = null
  private var page = 0
  private var lastReads: Seq[(String, String, String)] = Seq.empty // (read, from, to)
  private var cacheGets = 0
  private var cacheHits = 0
  private var bytesWritten = 0L
  private var readFiles = Seq.empty[Double]
  private var spaceAmp = Double.NaN

  private def hour(df: DataFrame) = df.withColumn("bucket_h",
    date_trunc("hour", col("DATETIME")).cast("timestamp_ntz"))
  private def wK = floor(col("WIND") * 1000).cast("long")
  private def rollup(df: DataFrame) = hour(df).groupBy("bucket_h")
    .agg(count(lit(1)).as("n_rows"), sum(wK).as("sum_w"), min(wK).as("min_w"), max(wK).as("max_w"))

  private def follow(): Unit = Mv.followChangesBounded(spark, sink, mvPath, Seq("bucket_h"),
    adds = Seq("n_rows" -> lit(1L), "sum_w" -> col("w")),
    support = "n_rows",
    mins = Seq("min_w" -> col("w")),
    maxs = Seq("max_w" -> col("w")),
    project = df => hour(df).select(col("bucket_h"), wK.as("w"), col("_change")),
    rescan = (dirty, toV) => rollup(Tx.read(spark, sink, toV)).join(dirty, Seq("bucket_h"), "left_semi"))

  private def dirBytes(path: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }
  }

  /** Bytes of files a write step added to the sink (traced runs only). */
  private def written[T](body: => T): T =
    if (!Trace.enabled) body
    else {
      val before = dirBytes(sink)
      val r = body
      bytesWritten += dirBytes(sink).collect { case (p, n) if !before.contains(p) => n }.sum
      r
    }

  /** Data and deletion-vector files the latest snapshot reads. */
  private def dataFiles(): Double = Tx.latest(sink).map { sp =>
    (sp.dirs.values ++ sp.tombs.values.flatten).toSeq.map { d =>
      Option(new java.io.File(s"$sink/$d").listFiles()).map(_.count(f => f.isFile &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))).getOrElse(1)
    }.sum.toDouble
  }.getOrElse(0.0)

  def prepare(): Unit = {
    rep += 1
    val base = s"$work/grid/rep$rep"
    if (rep > 1) deleteTree(new java.io.File(s"$work/grid/rep${rep - 1}"))
    sink = s"$base/sink"
    mvPath = s"$base/mv"
    page = 0
    val res = Pipeline.transform(Pipeline.keysetPage(landing, 0L, seedRows))
    Tx.commitMerge(spark, sink, res.clean, Keys, nBuckets = 8)
    res.release()
    follow()
    cache = new VersionedCache(() => Tx.read(spark, sink),
      () => Tx.latest(sink).map(_.version).getOrElse(-1L))
  }

  def warm(): Unit = refresh(new Recorder)

  def hasMore: Boolean = page < batches

  /** A page takes ~10 s on 4 cores and varies by tens of percent from page
    * to page, so every run times two.
    */
  override def minCycles: Int = 2

  def cycle(rec: Recorder): Unit = {
    refresh(rec)
    Main.hygiene(spark)
  }

  /** One scheduled run, its dashboard reads, and maintenance. */
  private def refresh(rec: Recorder): Unit = {
    val b = page
    page += 1
    rec.op("refresh") {
      span("grid.refresh") {
        val cursor = span("pipeline.cursor") {
          Tx.latest(sink)
          Pipeline.lastId(Tx.read(spark, sink))
        }
        val res = span("pipeline.transform") {
          Pipeline.transform(Pipeline.keysetPage(landing, cursor, batchRows))
        }
        span("tx.commit") { written(Tx.commitMerge(spark, sink, res.clean, Keys, nBuckets = 8)) }
        rec.items += res.totalRaw
        res.release()
        import spark.implicits._
        val keys = retractions(b).toDF("DATETIME")
          .select(to_timestamp(col("DATETIME"), "yyyy-MM-dd'T'HH:mm:ss").as("DATETIME"))
        span("tx.delete_vectors") { written(Tx.commitDeleteVectors(spark, sink, keys, Keys)) }
        span("mv.follow") { follow() }
      }
    }
    rec.fact("applied_batches", page)
    dashboard(rec, b)
    rec.op("maintain") {
      span("tx.maintain") {
        written(Tx.compactDeletes(spark, sink))
        Tx.vacuum(sink, keepVersions = 2)
        Tx.vacuum(mvPath, keepVersions = 2)
      }
    }
  }

  private def table(): DataFrame = span("cache.get") {
    val before = cache.loads
    val df = cache.get()
    if (Trace.enabled) cacheGets += 1
    if (cache.loads > before) {
      if (Trace.enabled) readFiles :+= dataFiles()
      span("cache.reload") { df.count() }
    } else if (Trace.enabled) cacheHits += 1
    df
  }

  /** Date bounds, a resampled range and an unpivoted day, at seeded ranges. */
  private def dashboard(rec: Recorder, b: Int): Unit = {
    val r = new java.util.Random(seed * 1000003L + b)
    val d0 = java.time.LocalDate.of(2024, 1, 1).plusDays(r.nextInt(60).toLong)
    val (rFrom, rTo) = (s"$d0 00:00:00", s"${d0.plusDays(14)} 00:00:00")
    val u0 = d0.plusDays(r.nextInt(14).toLong)
    val (uFrom, uTo) = (s"$u0 00:00:00", s"$u0 23:59:59")
    lastReads = Seq(("bounds", "", ""), ("resample", rFrom, rTo), ("unpivot", uFrom, uTo))
    rec.op("read") {
      span("dashboard.bounds") { table().agg(min("DATETIME"), max("DATETIME")).collect() }
    }
    rec.op("read") {
      span("dashboard.resample") {
        Resample.resampleThenFilter(table().select("DATETIME", "WIND", "GAS", "SOLAR", "GENERATION"),
          "DATETIME", "1d", rFrom, rTo).collect()
      }
    }
    rec.op("read") {
      span("dashboard.unpivot") {
        Reshape.unpivot(Resample.filterByDate(table(), "DATETIME", uFrom, uTo)
          .select((Seq("DATETIME") ++ Fuels).map(col): _*), Seq("DATETIME"), Fuels).collect()
      }
    }
  }

  def export(out: String, rec: Recorder): Unit = {
    def ntz(df: DataFrame, c: String) = df.withColumn(c, col(c).cast("timestamp_ntz"))
    val live = Tx.read(spark, sink)
    ntz(live.select((Seq("_id", "DATETIME", "GAS", "COAL", "NUCLEAR", "WIND", "SOLAR", "GENERATION") ++
      Seq("GAS_perc", "WIND_perc", "SOLAR_perc")).map(col): _*), "DATETIME")
      .write.mode("overwrite").parquet(s"$out/sink")
    Tx.read(spark, mvPath).select("bucket_h", "n_rows", "sum_w", "min_w", "max_w")
      .write.mode("overwrite").parquet(s"$out/mv")
    // the last refresh's reads, repeated on the same (final) sink version
    val df = cache.get()
    lastReads.foreach {
      case ("bounds", _, _) =>
        ntz(ntz(df.agg(min("DATETIME").as("lo"), max("DATETIME").as("hi")), "lo"), "hi")
          .write.mode("overwrite").parquet(s"$out/read_bounds")
      case ("resample", a, b) =>
        rec.fact("resample_from", a); rec.fact("resample_to", b)
        ntz(Resample.resampleThenFilter(df.select("DATETIME", "WIND", "GAS", "SOLAR", "GENERATION"),
          "DATETIME", "1d", a, b), "DATETIME").write.mode("overwrite").parquet(s"$out/read_resample")
      case (_, a, b) =>
        rec.fact("unpivot_from", a); rec.fact("unpivot_to", b)
        ntz(Reshape.unpivot(Resample.filterByDate(df, "DATETIME", a, b)
          .select((Seq("DATETIME") ++ Fuels).map(col): _*), Seq("DATETIME"), Fuels), "DATETIME")
          .write.mode("overwrite").parquet(s"$out/read_unpivot")
    }
    if (Trace.spans.nonEmpty) {
      val liveDir = s"$work/grid/live"
      live.write.mode("overwrite").parquet(liveDir)
      val liveBytes = dirBytes(liveDir).filter(_._1.endsWith(".parquet")).values.sum.toDouble
      spaceAmp = dirBytes(sink).values.sum / math.max(1.0, liveBytes)
    }
  }

  def layerMetrics(rec: Recorder): Seq[(String, Double)] = {
    // landing bytes: the replayed rows' string cells, as the source sends them
    val r = landing.select(landing.columns.map(c => sum(length(col(c)))).reduce(_ + _)).head()
    val landingBytes = rec.items * r.getLong(0).toDouble / landing.count()
    Seq(
      "pipeline.cursor_ms" -> Spans.selfMs("pipeline.cursor"),
      "pipeline.transform_ms" -> Spans.selfMs("pipeline.transform"),
      "pipeline.transform_jobs" -> Spans.firstCycle("pipeline.transform", "jobs"),
      "tx.commit_ms" -> Spans.selfMs("tx.commit"),
      "tx.commit_jobs" -> Spans.firstCycle("tx.commit", "jobs"),
      "tx.delete_ms" -> Spans.selfMs("tx.delete_vectors"),
      "tx.maintain_ms" -> Spans.selfMs("tx.maintain"),
      "tx.write_amp" -> bytesWritten / math.max(1.0, landingBytes),
      "tx.space_amp" -> spaceAmp,
      "tx.read_files" -> Main.median(readFiles),
      "mv.follow_ms" -> Spans.selfMs("mv.follow"),
      "mv.follow_jobs" -> Spans.firstCycle("mv.follow", "jobs"),
      "cache.hit_ratio" -> cacheHits.toDouble / math.max(1, cacheGets),
      "cache.reload_ms" -> Spans.selfMs("cache.reload"),
      "dashboard.exec_ms" -> Spans.selfMs("dashboard."),
      "dashboard.jobs" -> Spans.firstCycle("dashboard.", "jobs"),
    )
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
