package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics (layer = graft module) from the traced ops of one
  * run. Every metric is printed on every workload; a layer the workload
  * does not exercise reads 0. Counts and times are per traced op unless
  * the name says otherwise.
  *
  * Stage attribution inside `graft.Main.run`, first match wins: a stage
  * with a GraftJdbcSink call site is sources.jdbc; one that writes output
  * files is wikidata.layout; one whose lineage reaches the dump scan is
  * wikidata.parse (the shred's first operators, and reads of the cached
  * claims, run pipelined in it); any other stage (exchanges after the
  * scan) is wikidata.shred. Pipelining limits the split: on
  * ingest_duckdb every stage ends in the sink, so the parse and shred
  * work those stages do is counted under sources.jdbc.
  */
object Layers {
  /** name -> (unit, better) — the per-layer metric set, in print order. */
  val All: Seq[(String, String, String)] = Seq(
    ("wikidata.parse.busy_s", "s", "lower"),
    ("wikidata.parse.lines", "count", "lower"),
    ("wikidata.parse.entities", "count", "higher"),
    ("wikidata.parse.yield", "ratio", "higher"),
    ("wikidata.parse.input_bytes", "bytes", "lower"),
    ("wikidata.shred.busy_s", "s", "lower"),
    ("wikidata.shred.claims_rows", "count", "higher"),
    ("wikidata.shred.rows.vertex", "count", "higher"),
    ("wikidata.shred.rows.edge", "count", "higher"),
    ("wikidata.shred.rows.string", "count", "higher"),
    ("wikidata.shred.rows.quantity", "count", "higher"),
    ("wikidata.shred.rows.coordinates", "count", "higher"),
    ("wikidata.shred.rows.time", "count", "higher"),
    ("wikidata.shred.cache_bytes", "bytes", "lower"),
    ("wikidata.layout.write_s", "s", "lower"),
    ("wikidata.layout.files_written", "count", "lower"),
    ("wikidata.layout.bytes_written", "bytes", "lower"),
    ("wikidata.layout.shuffle_bytes", "bytes", "lower"),
    ("wikidata.layout.spill_bytes", "bytes", "lower"),
    ("wikidata.layout.files_read_per_point", "count", "lower"),
    ("wikidata.layout.prune_ratio", "ratio", "higher"),
    ("wikidata.layout.rows_scanned_per_row_returned", "ratio", "lower"),
    ("sources.jdbc.write_s", "s", "lower"),
    ("sources.jdbc.rows", "count", "higher"),
    ("sources.jdbc.rows_per_s", "1/s", "higher"),
    ("sources.jdbc.tail_s", "s", "lower"),
    ("sources.jdbc.db_bytes", "bytes", "lower"),
    ("sources.snapshot.commit_s.merge_mor", "s", "lower"),
    ("sources.snapshot.commit_s.delete_keys", "s", "lower"),
    ("sources.snapshot.commit_s.append_batch", "s", "lower"),
    ("sources.snapshot.commit_s.consolidate_dv", "s", "lower"),
    ("sources.snapshot.jobs_per_commit", "count", "lower"),
    ("sources.snapshot.driver_s_per_commit", "s", "lower"),
    ("sources.snapshot.bytes_written_per_user_byte", "ratio", "lower"),
    ("sources.snapshot.files_per_read", "count", "lower"),
    ("sources.snapshot.scans_per_read", "count", "lower"),
    ("sources.snapshot.dv_outstanding", "count", "lower"),
    ("sources.snapshot.manifest_bytes", "bytes", "lower"),
    ("sources.cdc_stream.startup_s", "s", "lower"),
    ("sources.cdc_stream.batches_per_drain", "count", "lower"),
    ("sources.cdc_stream.batch_ms", "ms", "lower"),
    ("sources.cdc_stream.plan_ms", "ms", "lower"),
    ("sources.cdc_stream.rows_per_drain", "count", "higher"),
    ("spark.driver.analysis_ms", "ms", "lower"),
    ("spark.driver.optimization_ms", "ms", "lower"),
    ("spark.driver.planning_ms", "ms", "lower"),
    ("spark.driver.sql_executions", "count", "lower"),
    ("spark.driver.gap_s", "s", "lower"),
    ("spark.executor.jobs", "count", "lower"),
    ("spark.executor.stages", "count", "lower"),
    ("spark.executor.tasks", "count", "lower"),
    ("spark.executor.run_s", "s", "lower"),
    ("spark.executor.cpu_s", "s", "lower"),
    ("spark.executor.gc_s", "s", "lower"),
    ("spark.executor.input_bytes", "bytes", "lower"),
    ("spark.executor.shuffle_read_bytes", "bytes", "lower"),
    ("spark.executor.shuffle_write_bytes", "bytes", "lower"),
    ("spark.executor.spill_bytes", "bytes", "lower"),
    ("spark.executor.busy_frac", "ratio", "higher"))

  private val CommitNames = Map("mergeMoR" -> "merge_mor", "deleteKeys" -> "delete_keys",
    "appendBatch" -> "append_batch", "consolidateDeleteVectors" -> "consolidate_dv")

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def compute(tr: Tracer, w: Workload, samples: Seq[Sample], cores: Int): Seq[Metric] = {
    import Tracer._
    val traced = samples.filter(_.traced)
    val ops = traced.map(_.op).toSet
    val n = math.max(1, ops.size).toDouble
    val spans = tr.spans.asScala.toSeq.filter(s => ops.contains(s.op))
    val spanById = spans.map(s => s.id -> s).toMap
    val jobs = tr.jobs.asScala.toSeq.filter(j => spanById.contains(j.span))
    val jobIds = jobs.map(_.jobId).toSet
    val stages = tr.stages.asScala.toSeq.filter(s => jobIds.contains(s.jobId))
    val jobOf = jobs.map(j => j.jobId -> j).toMap
    def ancestors(id: Int): List[Span] =
      spanById.get(id).map(s => s :: ancestors(s.parent)).getOrElse(Nil)
    def underSpan(j: Job, name: String) = ancestors(j.span).exists(_.name == name)
    def jobsOfOp(op: Long) = jobs.filter(j => spanById(j.span).op == op)
    def jobsUnder(s: Span) = jobs.filter(j => ancestors(j.span).exists(_.id == s.id))
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    All.foreach { case (k, _, _) => m(k) = 0.0 }

    // --- ingest: stages inside graft.Main.run, by signature ---
    val ingestStages = stages.filter(s => underSpan(jobOf(s.jobId), "graft.Main.run"))
    def layerOf(s: Stage): String =
      if (s.jdbc) "jdbc" else if (s.outputBytes > 0) "layout" else if (s.scansDump) "parse" else "shred"
    val byLayer = ingestStages.groupBy(layerOf)
    def runS(layer: String) = byLayer.getOrElse(layer, Nil).map(_.runMs).sum / 1000.0 / n
    if (ingestStages.nonEmpty) {
      val parse = byLayer.getOrElse("parse", Nil)
      val counts = w.layerCounts
      m("wikidata.parse.busy_s") = runS("parse")
      m("wikidata.parse.lines") = parse.map(_.inputRecords).sum / n
      m("wikidata.parse.input_bytes") = parse.map(_.inputBytes).sum / n
      m("wikidata.shred.busy_s") = runS("shred")
      m("wikidata.shred.cache_bytes") = tr.cacheBytesPeak.toDouble
      val valid = counts.getOrElse("input.lines", 0.0) - counts.getOrElse("input.noise_lines", 0.0)
      m("wikidata.parse.yield") = if (valid > 0) counts.getOrElse("wikidata.parse.entities", 0.0) / valid else 0.0
      val jdbc = byLayer.getOrElse("jdbc", Nil)
      if (jdbc.isEmpty) {
        val layout = byLayer.getOrElse("layout", Nil)
        m("wikidata.layout.write_s") = runS("layout")
        m("wikidata.layout.bytes_written") = layout.map(_.outputBytes).sum / n
        m("wikidata.layout.shuffle_bytes") = ingestStages.map(_.shuffleWriteBytes).sum / n
        m("wikidata.layout.spill_bytes") = ingestStages.map(_.spillBytes).sum / n
      } else {
        m("sources.jdbc.write_s") = runS("jdbc")
        val rows = Gen.Tables.map(t => counts.getOrElse(s"wikidata.shred.rows.$t", 0.0)).sum
        m("sources.jdbc.rows") = rows
        val wall = Stats.unionLength(jdbc.map(_.interval)) / 1e6 / n
        m("sources.jdbc.rows_per_s") = if (wall > 0) rows / wall else 0.0
        // end of the last sink job to the end of Main.run: index build + close
        val tails = spans.filter(_.name == "graft.Main.run").flatMap { s =>
          val ends = jdbc.filter(st => ancestors(jobOf(st.jobId).span).exists(_.id == s.id)).map(_.endUs)
          if (ends.isEmpty) None else Some((s.endUs - ends.max) / 1e6)
        }
        m("sources.jdbc.tail_s") = mean(tails)
      }
      counts.foreach { case (k, v) => if (m.contains(k)) m(k) = v }
    } else w.layerCounts.foreach { case (k, v) => if (m.contains(k)) m(k) = v }

    // --- snapshot commits ---
    val commitSpans = spans.filter(s => s.name.startsWith("SnapshotTable.") &&
      CommitNames.contains(s.name.stripPrefix("SnapshotTable.")))
    CommitNames.foreach { case (fn, key) =>
      m(s"sources.snapshot.commit_s.$key") =
        mean(commitSpans.filter(_.name == s"SnapshotTable.$fn").map(s => (s.endUs - s.startUs) / 1e6))
    }
    if (commitSpans.nonEmpty) {
      m("sources.snapshot.jobs_per_commit") = commitSpans.map(s => jobsUnder(s).size.toDouble).sum / commitSpans.size
      m("sources.snapshot.driver_s_per_commit") =
        mean(commitSpans.map(s => Stats.uncovered(s.interval, jobsUnder(s).map(_.interval)) / 1e6))
    }

    // --- CDC stream drains, from streaming progress ---
    val drains = spans.filter(_.name == "cdc_stream.drain")
    val progress = tr.progress.asScala.toSeq.filter(p =>
      drains.exists(d => p.startUs >= d.startUs - 1000 && p.startUs <= d.endUs + 1000))
    if (drains.nonEmpty) {
      m("sources.cdc_stream.startup_s") = mean(drains.flatMap { d =>
        val ps = progress.filter(p => p.startUs >= d.startUs - 1000 && p.startUs <= d.endUs + 1000)
        if (ps.isEmpty) None else Some(math.max(0L, ps.map(_.startUs).min - d.startUs) / 1e6)
      })
      m("sources.cdc_stream.batches_per_drain") = progress.size.toDouble / drains.size
      m("sources.cdc_stream.batch_ms") = mean(progress.map(_.batchMs.toDouble))
      m("sources.cdc_stream.plan_ms") = mean(progress.map(_.planMs.toDouble))
      m("sources.cdc_stream.rows_per_drain") = progress.map(_.rows).sum.toDouble / drains.size
    }

    // --- Spark driver ---
    val execs = tr.executions.asScala.toSeq
    m("spark.driver.analysis_ms") = mean(execs.map(_.analysisMs))
    m("spark.driver.optimization_ms") = mean(execs.map(_.optimizationMs))
    m("spark.driver.planning_ms") = mean(execs.map(_.planningMs))
    m("spark.driver.sql_executions") = execs.size / n
    val opSpans = spans.filter(_.parent == 0)
    m("spark.driver.gap_s") = mean(opSpans.map(s => Stats.uncovered(s.interval, jobsOfOp(s.op).map(_.interval)) / 1e6))

    // --- executor ---
    m("spark.executor.jobs") = jobs.size / n
    m("spark.executor.stages") = stages.size / n
    m("spark.executor.tasks") = stages.map(_.tasks).sum / n
    m("spark.executor.run_s") = stages.map(_.runMs).sum / 1000.0 / n
    m("spark.executor.cpu_s") = stages.map(_.cpuMs).sum / 1000.0 / n
    m("spark.executor.gc_s") = stages.map(_.gcMs).sum / 1000.0 / n
    m("spark.executor.input_bytes") = stages.map(_.inputBytes).sum / n
    m("spark.executor.shuffle_read_bytes") = stages.map(_.shuffleReadBytes).sum / n
    m("spark.executor.shuffle_write_bytes") = stages.map(_.shuffleWriteBytes).sum / n
    m("spark.executor.spill_bytes") = stages.map(_.spillBytes).sum / n
    val opWallMs = traced.map(_.ms).sum
    m("spark.executor.busy_frac") = if (opWallMs > 0) stages.map(_.runMs).sum / (opWallMs * cores) else 0.0

    val units = All.map { case (k, u, _) => k -> u }.toMap
    m.toSeq.map { case (k, v) => Metric(k, v, units(k)) }
  }
}
