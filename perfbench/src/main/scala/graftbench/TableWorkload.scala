package graftbench

import java.nio.file.Path

import scala.collection.immutable.HashMap
import scala.collection.mutable

import graft.sources.{VersionedTable => VT}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded `VersionedTable` session over `orders`, projected to
  * (o_orderkey, o_custkey, o_orderstatus, cents). Writes (append, upsert,
  * pruned delete) each refresh the counts/sums/stats sidecars; reads
  * (latest, time travel, pruned range, live metadata, change feed) are
  * checked against a driver-side model of the live rows; `autoMaintain`
  * runs after every second write. */
final class TableWorkload(spark: SparkSession, orders: String, seed: Long,
    dir: Path) extends Workload {
  import spark.implicits._

  private type Rec = (Long, String, Long) // custkey, status, cents
  private val path = dir.resolve("t").toString
  private val rnd = Workload.rng(seed)
  private val keyCol = "o_orderkey"
  private val valueCols = Seq("o_custkey", "o_orderstatus", "cents")
  private val statuses = Array("F", "O", "P")
  private val batchRows = 500
  private val maintainEvery = 2

  private var live = HashMap.empty[Long, Rec]
  private val snapshots = mutable.Map.empty[Long, HashMap[Long, Rec]]
  private var nextKey = 0L
  private var writes = 0

  private def latest: Long = VT.latestVersion(path).get

  private def toDF(rows: Seq[(Long, Rec)]): DataFrame =
    rows.map { case (k, (c, s, v)) => (k, c, s, v) }
      .toDF(keyCol, "o_custkey", "o_orderstatus", "cents")

  private def randomRec(): Rec =
    (rnd.nextInt(1500).toLong, statuses(rnd.nextInt(3)), rnd.nextInt(5000000).toLong)

  /** The sidecar refresh an ingest job runs after every write, so the
    * metadata answers stay live. */
  private def refresh(trace: Trace, v: Long): Unit = {
    trace.span("vt.writeCounts", "table")(VT.writeCounts(spark, path, v))
    trace.span("vt.writeSums", "table")(VT.writeSums(spark, path, v, "cents"))
    trace.span("vt.writeStats", "table")(VT.writeStats(spark, path, v, keyCol))
  }

  private def published(v: Long): Unit = snapshots(v) = live

  def setup(): Unit = {
    val base = spark.read.parquet(orders)
      .select(col(keyCol), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    live = HashMap.from(base.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))))
    nextKey = live.keysIterator.max + 1
    VT.create(base, path)
    refresh(new Trace(spark), 0L)
    published(0L)
  }

  // ---- model answers ---------------------------------------------------
  private def agg(m: Iterable[(Long, Rec)]): (Long, Long, Long) =
    (m.size.toLong, m.iterator.map(_._2._3).sum, m.iterator.map(_._1).sum)

  private def aggOf(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L)),
      coalesce(sum(col(keyCol)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def expect[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"model mismatch in $what: got $got, want $want")

  // ---- ops: each returns its check verdict (None = matches the model) ----
  private sealed trait Op { def name: String; def kind: String }
  private case class Write(name: String, kind: String = "write")(val run: Trace => Int) extends Op
  private case class Read(name: String)(val run: Trace => Option[String]) extends Op { def kind = "read" }

  private def append = Write("append") { trace =>
    val rows = (0 until batchRows).map { i => (nextKey + i) -> randomRec() }
    nextKey += batchRows
    val v = trace.span("vt.commit", "table")(VT.commit(toDF(rows), path, "append"))
    live ++= rows
    published(v); refresh(trace, v)
    rows.size
  }

  private def upsert = Write("upsert") { trace =>
    val keys = live.keysIterator.toVector
    val old = Iterator.continually(keys(rnd.nextInt(keys.size))).distinct.take(batchRows / 2).toSeq
    val fresh = (0 until batchRows / 2).map(nextKey + _)
    nextKey += batchRows / 2
    val rows = (old ++ fresh).map(k => k -> randomRec())
    val v = trace.span("vt.upsert", "table")(VT.upsert(spark, path, toDF(rows), Seq(keyCol)))
    live ++= rows
    published(v); refresh(trace, v)
    rows.size
  }

  private def delete = Write("delete") { trace =>
    val keys = live.keysIterator.toVector.sorted
    val lo = keys(rnd.nextInt(keys.size - batchRows))
    val hi = lo + batchRows / 5
    val v = trace.span("vt.deleteWhere", "table")(VT.deleteWhere(spark, path,
      col(keyCol).between(lo, hi), Seq((keyCol, lo, hi))))
    live = live.filterNot { case (k, _) => k >= lo && k <= hi }
    published(v); refresh(trace, v)
    0
  }

  private def maintain = Write("maintain", "maintain") { trace =>
    trace.span("vt.autoMaintain", "table")(
      VT.autoMaintain(spark, path, statsCol = Some(keyCol)))
    val v = latest
    published(v); refresh(trace, v)
    0
  }

  private def readLatest = Read("read_latest") { trace =>
    val got = trace.span("vt.read", "table")(aggOf(VT.read(spark, path)))
    expect("read latest", got, agg(live))
  }

  private def readVersion = Read("read_version") { trace =>
    val vs = snapshots.keys.toVector.sorted
    val v = vs(rnd.nextInt(vs.size))
    val got = trace.span("vt.readVersion", "table")(aggOf(VT.readVersion(spark, path, v)))
    expect(s"readVersion($v)", got, agg(snapshots(v)))
  }

  private var scanned = 0L
  private def readWhere = Read("read_where") { trace =>
    val keys = live.keysIterator.toVector.sorted
    val lo = keys(rnd.nextInt(keys.size))
    val hi = lo + 2 * batchRows
    val got = trace.span("vt.readWhere", "table")(
      aggOf(VT.readWhere(spark, path, latest, keyCol, lo, hi)))
    scanned = got._1
    expect(s"readWhere($lo,$hi)", got, agg(live.filter { case (k, _) => k >= lo && k <= hi }))
  }

  private def metaLive = Read("meta_live") { trace =>
    val v = latest
    val n = trace.span("vt.countAtLive", "table")(VT.countAtLive(spark, path, v))
    val s = trace.span("vt.sumAtLive", "table")(VT.sumAtLive(spark, path, v, "cents"))
    val (c, cents, _) = agg(live)
    expect("countAtLive/sumAtLive", (n, s), (Some(c), Some(cents)))
  }

  private def changes = Read("changes") { trace =>
    val v = latest
    val after = math.max(0L, v - 2)
    val got = trace.span("vt.changesSince", "table") {
      VT.changesSince(spark, path, after, Seq(keyCol), valueCols) match {
        case None => Map.empty[String, Long]
        case Some((df, _)) => df.groupBy("change").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    }
    val (a, b) = (snapshots(after), snapshots(v))
    val want = Map(
      "added" -> b.keysIterator.count(k => !a.contains(k)).toLong,
      "removed" -> a.keysIterator.count(k => !b.contains(k)).toLong,
      "changed" -> b.count { case (k, r) => a.get(k).exists(_ != r) }.toLong)
      .filter(_._2 > 0)
    expect(s"changesSince($after)", got, want)
  }

  /** One pass: four writes, five reads, two maintenance cycles. */
  private def schedule: Seq[Op] = Seq(append, readLatest, upsert, readWhere,
    delete, metaLive, append, readVersion, changes)

  private def runSchedule(ops: Seq[Op], index: Int, trace: Trace,
      sweep: Sweep): Seq[OpRecord] =
    ops.flatMap { op =>
      val one = runOne(op, index, trace, sweep)
      if (op.kind != "write") Seq(one)
      else {
        writes += 1
        if (writes % maintainEvery == 0) Seq(one, runOne(maintain, index, trace, sweep))
        else Seq(one)
      }
    }

  private def runOne(op: Op, index: Int, trace: Trace, sweep: Sweep): OpRecord = {
    var verdict: Option[String] = None
    var rows = 0
    val rec = trace.op(op.name, op.kind, index) {
      op match {
        case w: Write => rows = w.run(trace)
        case r: Read => verdict = r.run(trace)
      }
    }
    sweep.run()
    val extra = Map("table.rows_in" -> rows.toDouble) ++
      (if (op.name == "read_where") Map("table.rows_out" -> scanned.toDouble) else Map.empty)
    rec.copy(error = rec.error.orElse(verdict),
      counters = if (rec.traced) rec.counters ++ extra else rec.counters)
  }

  /** Untimed warm-up: every op kind once (three writes, one maintenance
    * cycle). Every op is checked against the model as it runs, here and in
    * the timed passes. */
  def check(sweep: Sweep): Seq[Check] = {
    val untraced = new Trace(spark)
    val recs = runSchedule(Seq(append, readLatest, upsert, readWhere, delete,
      metaLive, readVersion, changes), -1, untraced, sweep) :+
      runOne(maintain, -1, untraced, sweep)
    writes = 0
    recs.map(r => Check(r.name, r.error, ""))
  }

  def pass(index: Int, trace: Trace, sweep: Sweep): Seq[OpRecord] =
    runSchedule(schedule, index, trace, sweep)

  override def release(): Unit = { live = HashMap.empty; snapshots.clear() }

  /** Storage amplification and the table's shape, measured untimed. */
  override def finish(): Map[String, Double] = {
    val v = latest
    val once = dir.resolve("live_once").toString
    VT.read(spark, path).coalesce(1).write.mode("overwrite")
      .option("compression", "snappy").parquet(once)
    val liveBytes = Sweep.bytesUnder(new java.io.File(once)).toDouble
    val tableBytes = Sweep.bytesUnder(new java.io.File(path)).toDouble
    Map(
      "table.storage_amp" -> tableBytes / liveBytes,
      "table.bytes_per_row" -> liveBytes / live.size,
      "table.versions" -> VT.versions(path).size.toDouble,
      "table.live_files" -> VT.filesAt(path, v).size.toDouble,
      "table.dv_shards" -> VT.dvsAt(path, v).size.toDouble)
  }
}
