package graftbench

/** Per-layer metrics of a traced run, per traced pass, from the op
  * records' counters. */
object Layers {
  private val perPass = Seq(
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compiles", "codegen.compile_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.sched_delay_s",
    "exec.task_s", "exec.task_cpu_s", "exec.task_gc_s", "exec.input_rows",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.fetch_wait_s",
    "exec.spill_mb", "exec.failed_tasks",
    "stream.batches", "stream.batch_s", "stream.rows",
    "jvm.gc_s", "jvm.gc_count")

  def summarize(recs: Seq[OpRecord], passes: Int, cpus: Int,
      extra: Map[String, Double]): Map[String, Double] = {
    val n = math.max(1, passes).toDouble
    def sum(k: String, rs: Seq[OpRecord] = recs): Double =
      rs.map(_.counters.getOrElse(k, 0.0)).sum
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val mb = 1048576.0

    val queries = recs.filter(_.kind == "query")
    val writes = recs.filter(_.kind == "write")
    val maintains = recs.filter(_.kind == "maintain")
    val reads = recs.filter(_.kind == "read")
    val ranged = recs.filter(_.name == "read_where")
    def fsOps(rs: Seq[OpRecord]): Double = rs.map(r => Snapshot.fsOps(r.counters)).sum

    // core utilisation of the timed action: queries time their action span;
    // a table op is all action
    val (actTask, actWall) =
      if (queries.nonEmpty) (sum("task_s@action"), sum("s@action"))
      else (sum("exec.task_s"), recs.map(_.seconds).sum)

    perPass.map(k => k -> sum(k) / n).toMap ++ Map(
      "queries.build_s" -> sum("s@queries.build") / n,
      "queries.build_jobs" -> sum("jobs@queries.build") / n,
      "queries.build_share" -> ratio(sum("s@queries.build"), queries.map(_.seconds).sum),
      "exec.core_util" -> ratio(actTask, cpus * actWall),
      "sources.open_ops" -> sum("fs.op_open") / n,
      "sources.list_ops" -> sum("fs.op_list_status") / n,
      "sources.status_ops" -> sum("fs.op_get_file_status") / n,
      "sources.bytes_read_mb" -> sum("fs.bytesRead") / mb / n,
      "sources.bytes_written_mb" -> sum("fs.bytesWritten") / mb / n,
      "sources.build_ops" -> sum("fs_ops@queries.build") / n,
      "table.commit_jobs" -> ratio(sum("exec.jobs", writes), writes.size),
      "table.commit_fs_ops" -> ratio(fsOps(writes), writes.size),
      "table.read_fs_ops" -> ratio(fsOps(reads), reads.size),
      "table.scan_rows_per_row" -> ratio(sum("exec.input_rows", ranged), sum("table.rows_out", ranged)),
      "table.write_amp" -> ratio(sum("fs.bytesWritten", writes),
        sum("table.rows_in", writes) * extra.getOrElse("table.bytes_per_row", 0.0)),
      "table.maintain_s" -> maintains.map(_.seconds).sum / n,
      "table.maintains" -> maintains.size / n,
      "table.maintain_rewritten_mb" -> sum("fs.bytesWritten", maintains) / mb / n)
  }
}
