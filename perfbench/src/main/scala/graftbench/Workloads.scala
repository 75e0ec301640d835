package graftbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** An untimed check result; `out` is where a query's result was written
  * for the oracle compare (empty for model-checked workloads). */
final case class Check(op: String, error: Option[String], out: String)

trait Workload {
  /** Work that belongs to "session ready": warm-up reads, staging. */
  def setup(): Unit
  /** The untimed warm-up pass; every output is checked or kept for checking. */
  def check(sweep: Sweep): Seq[Check]
  /** One timed pass over the op list. */
  def pass(index: Int, trace: Trace, sweep: Sweep): Seq[OpRecord]
  /** Untimed end-of-run measurements. */
  def finish(): Map[String, Double] = Map.empty
  /** Drop the harness's own state (models) before the heap is measured. */
  def release(): Unit = ()
}

object Workload {
  /** The run's random source. The seed is mixed first: java.util.Random's
    * first draws are correlated across consecutive seeds, which would pin
    * the same op to the same slot for seeds 1, 2, 3, ... */
  def rng(seed: Long): Random = new Random(new java.util.SplittableRandom(seed).nextLong())
}

object SurfaceWorkload {
  /** A fixed subset of `SparkEntry.queries`: the Table/Column surface and
    * one streaming face. */
  val queries: Seq[String] = Seq(
    "q1_agg", "q_filter", "q_topk", "q_join", "q_describe", "q_csv_roundtrip",
    "q_stream_quality")
  /** Unchecked `noop` passes after the checked one, before timing. */
  val warmPasses = 2
}

/** Surface: each op is one `SparkEntry` query, built with `fn(spark, dir)`
  * and run into the `noop` sink. The order is shuffled by the seed, once
  * per run. */
final class SurfaceWorkload(spark: SparkSession, dir: String, seed: Long,
    work: Path, inject: Boolean) extends Workload {
  private val all = graft.SparkEntry.queries
  // an op against a table that does not exist: must be reported failed
  private val missing = "q1_agg@missing_table"
  private val fns: Map[String, (SparkSession, String) => DataFrame] =
    SurfaceWorkload.queries.map(n => n -> all(n)).toMap ++
      (if (inject) Map(missing -> ((s: SparkSession, d: String) => all("q1_agg")(s, d + "/missing")))
       else Map.empty)
  private val order = Workload.rng(seed).shuffle(fns.keys.toSeq.sorted)
  private val warmTables = Seq("lineitem", "orders", "customer", "documents")

  def setup(): Unit = {
    warmTables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    graft.queries.BucketedTables.ensure(spark, dir)
  }

  /** Writes every result out for the oracle compare, then runs unchecked
    * passes into the `noop` sink until the JIT has mostly settled: after the
    * checked pass alone, the timed passes of a run still fell by 20-30%
    * from the first to the fourth, and that slope was most of the spread
    * between runs. */
  def check(sweep: Sweep): Seq[Check] = {
    val checks = order.map { n =>
      val out = work.resolve("out").resolve(n).toString
      val err = try {
        fns(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out); None
      } catch { case e: Throwable => Some(e.toString.take(500)) }
      sweep.run()
      Check(n, err, out)
    }
    val untraced = new Trace(spark)
    (1 to SurfaceWorkload.warmPasses).foreach(_ => pass(-1, untraced, sweep))
    checks
  }

  def pass(index: Int, trace: Trace, sweep: Sweep): Seq[OpRecord] = order.map { n =>
    val rec = trace.op(n, "query", index) {
      val df = trace.span("queries.build", "queries")(fns(n)(spark, dir))
      trace.span("action", "action")(df.write.format("noop").mode("overwrite").save())
    }
    sweep.run()
    rec
  }
}
