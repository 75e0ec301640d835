package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One closed-loop benchmark run of a named workload, driven through the
  * engine's public entry points only. Writes a raw result file (every
  * latency sample, setup times, anchors, and the traced counters) that
  * `perfbench/run.py` turns into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --out FILE [--inject-failure 0|1]
  *        Main --dump-oracle FILE */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump-oracle").foreach { f =>
      Files.writeString(Paths.get(f), Json(graft.SparkEntry.oracleSql))
      return
    }
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work"))
    val inject = args.get("inject-failure").contains("1")
    val cpus = Runtime.getRuntime.availableProcessors

    def newWorkload(spark: SparkSession, rep: Int): Workload = workload match {
      case "surface" => new SurfaceWorkload(spark, args("data"), seed, work, inject)
      case "table" => new TableWorkload(spark, args("data") + "/orders.parquet", seed,
        work.resolve(s"table$rep"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- setup: session build to ready, repeated; the last one is used --
    var spark: SparkSession = null
    var wl: Workload = null
    val setupS = (0 until SetupReps).map { rep =>
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = Session.build(cpus, work, traced)
      wl = newWorkload(spark, rep)
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }

    val trace = new Trace(spark)
    if (traced) trace.install()
    val sweep = new Sweep(spark, Paths.get(System.getProperty("java.io.tmpdir")))

    // ---- untimed warm-up pass: every output checked ----------------------
    val c0 = System.nanoTime()
    val checks = wl.check(sweep)
    val checkS = (System.nanoTime() - c0) / 1e9

    // ---- timed passes, closed loop, one driver thread --------------------
    // Traced runs alternate untraced and traced passes (untraced first and
    // last) so the trace's own cost is measured in the same run, with the
    // drift of a warming JVM or a growing table history averaged out.
    val anchors = mutable.ArrayBuffer(Anchor.run(spark))
    sweep.run()
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double, Seq[OpRecord])]
    def measured = passes.map(_._2).sum
    val minPasses = if (traced) 3 else 1
    // another pass starts while it ends the run nearer to `seconds` than
    // stopping would
    while (passes.size < minPasses ||
        (traced && passes.size % 2 == 0) ||
        measured + measured / passes.size / 2 < seconds) {
      val tracedPass = traced && passes.size % 2 == 1
      trace.enabled = tracedPass
      val recs = wl.pass(passes.size, trace, sweep)
      // the timed region of a pass is its ops; sweeps between them are not
      val wall = recs.map(_.seconds).sum
      trace.enabled = false
      passes += ((tracedPass, wall, recs))
      anchors += Anchor.run(spark)
      sweep.run()
    }

    val extra = wl.finish()
    wl.release()
    sweep.run()
    val heapMb = settledHeapMb()

    val tracedRecs = passes.filter(_._1).flatMap(_._3).toSeq
    val layers = if (!traced) Map.empty[String, Double]
      else Layers.summarize(tracedRecs, passes.count(_._1), cpus, extra)
    val (selfT, spansOk) = if (traced) trace.selfTimes() else (Map.empty[String, Double], true)
    if (traced) {
      val spanFile = work.resolve("spans.jsonl")
      Files.write(spanFile, trace.allSpans.map(s => Json(Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end))).asJava)
    }

    val out = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setupS, "check_s" -> checkS, "measured_s" -> measured,
      "checks" -> checks.map(c => Map("op" -> c.op, "error" -> c.error, "out" -> c.out)),
      "passes" -> passes.map { case (tr, wall, recs) => Map(
        "traced" -> tr, "wall_s" -> wall,
        "ops" -> recs.map(r => Map("op" -> r.name, "kind" -> r.kind, "s" -> r.seconds,
          "error" -> r.error)))
      },
      "anchors_s" -> anchors.toSeq,
      "live_heap_mb" -> heapMb,
      "extra" -> extra,
      "layers" -> layers,
      "self_s" -> selfT,
      "spans_ok" -> spansOk,
      "per_op" -> tracedRecs.map(r => Map("op" -> r.name, "kind" -> r.kind,
        "pass" -> r.pass, "s" -> r.seconds, "counters" -> r.counters)))
    Files.writeString(Paths.get(args("out")), Json(out))
    spark.stop()
    sys.exit(0) // a lingering non-daemon thread must not hold the run open
  }

  /** Used heap after full GCs, repeated until it stops falling: Spark's
    * context cleaner frees broadcasts and shuffles only after a GC has
    * enqueued their references, so one GC can leave dead blocks behind. */
  def settledHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def usedMb() = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = usedMb()
    var cur = usedMb()
    var rounds = 2
    while (cur < prev * 0.99 && rounds < 8) { prev = cur; cur = usedMb(); rounds += 1 }
    cur
  }
}

/** Session construction: local[nproc], UTC, scratch dirs inside the work
  * directory; traced runs count filesystem calls. */
object Session {
  def build(cpus: Int, work: Path, countFsOps: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
    val s = (if (countFsOps) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFileSystem].getName) else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Blocking clean-up between ops, outside every timed region: caches,
  * persisted RDDs, stream state, temp views, streams, and the temp dirs
  * the op created. */
final class Sweep(spark: SparkSession, tmp: Path) {
  private def listTmp(): Set[Path] =
    if (!Files.isDirectory(tmp)) Set.empty
    else { val s = Files.list(tmp); try s.iterator().asScala.toSet finally s.close() }
  private var known = listTmp()

  def run(): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => })
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.graftx.Bridge.unloadStreamState()
    spark.catalog.listTables().collect()
      .withFilter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
    (listTmp() -- known).foreach(p => Sweep.delete(p.toFile))
    known = listTmp()
  }
}

object Sweep {
  def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length
}

/** The fixed 10M-row machine anchor of `graft.Bench`, run untimed around
  * every pass. Recorded only; no metric is normalized by it. */
object Anchor {
  def run(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val base = spark.range(10000000L).select(
      (pmod(xxhash64(col("id")), lit(10000L)).cast("double") / 100.0).as("d1"))
    base.agg(min(col("d1")), max(col("d1")), avg(col("d1")), stddev_pop(col("d1"))).collect()
    base.filter(col("d1") > 50.0).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
