package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.wikidata.{ShreddedLayout, WikidataShredder}
import graft.sources.{SnapshotCdcSourceProvider, SnapshotTable}

/** One timed operation: its latency class, the span name of the public
  * call it makes, and a body that runs the call (timed) and returns the
  * output check (run untimed). */
final case class Op(cls: String, name: String, body: () => (() => Boolean))

/** A workload: inputs built from the seed during `setup`, then a closed
  * loop of ops from `next`. Only the generated files reach graft. */
trait Workload {
  /** Per-op watchdog limit; an op over it counts as failed. */
  def timeoutMs: Long
  /** Build the workload's inputs; called several times, each in a fresh
    * directory, and the last one is kept for the measurement. */
  def setup(rep: Int): Unit
  def next(i: Int): Op
  /** Untimed ops run before the window, so the JIT and Spark's code
    * caches are warm when timing starts (checked like any op). */
  def warmupOps: Int
  /** The window runs at least this many ops, even past --seconds. */
  def minOps: Int = 1
  /** Sub-operation timings of ops made of several calls. */
  val parts: mutable.ArrayBuffer[Part] = mutable.ArrayBuffer.empty
  /** Checks run once after setup (counted as attempted ops). */
  def setupChecks(): Seq[Boolean] = Nil
  /** Artifact bytes per input byte — see README for each workload's pair. */
  def outBytesPerInByte: Double
  /** Workload-specific figures printed beside the gated metrics. */
  def extra(samples: Seq[Sample]): Seq[Metric] = Nil
  /** Per-layer counts that only the workload knows (output rows, files). */
  def layerCounts: Map[String, Double] = Map.empty
}

final case class Sample(cls: String, name: String, ms: Double, traced: Boolean, op: Long)
final case class Part(op: Long, cls: String, name: String, ms: Double)
final case class Metric(name: String, value: Double, unit: String)

final class Ctx(val spark: SparkSession, val seed: Long, val work: File, val tracer: Option[Tracer]) {
  def span[T](name: String, op: Long)(body: => T): T =
    tracer.fold(body)(_.span(name, op)(body))
  def dir(name: String): File = new File(work, name)
}

object Workloads {
  val Names: Seq[String] = Seq("ingest_layout", "ingest_duckdb", "graph_query", "snapshot_refresh")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest_layout" => new Ingest(ctx, entities = 3000, duckdb = false)
    case "ingest_duckdb" => new Ingest(ctx, entities = 1000, duckdb = true)
    case "graph_query" => new GraphQuery(ctx)
    case "snapshot_refresh" => new SnapshotRefresh(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def perSecond(n: Double, s: Double): Double = if (s > 0) n / s else 0.0
}

import Workloads._

/** Dump -> artifact through `graft.Main.run`: the parquet layout or the
  * reference's `.duckdb` file. One op = one full ingest of the dump. */
final class Ingest(ctx: Ctx, entities: Int, duckdb: Boolean) extends Workload {
  import ctx._
  val timeoutMs = 120000L
  val warmupOps = 1
  // a median of three: with two ops per window (a mean) one slow ingest,
  // a full GC landing in it, moved a run's figure by 40%
  override val minOps = 3
  private var model: Gen.Model = _
  private var dump: File = _
  private var outBytes = 0L
  private val rows = mutable.Map.empty[String, Double]
  private var dbBytes = 0L
  private var filesWritten = 0L

  def setup(rep: Int): Unit = {
    dump = dir(s"setup$rep/dump")
    model = Gen.generate(seed, entities, parts = 8, dump)
    Gen.writeModel(model, dir(s"setup$rep/dump.model.json"))
  }

  def next(i: Int): Op = {
    val out = dir(s"out$i" + (if (duckdb) ".duckdb" else ""))
    Op("ingest", "graft.Main.run", () => {
      span("graft.Main.run", i) {
        graft.Main.run(spark, dump.getPath, out.getPath)
      }
      graft.GraftCache.clear()
      () => check(out)
    })
  }

  private def check(out: File): Boolean = {
    val bytes = if (duckdb) du(out) + du(new File(out.getPath + ".wal")) else du(out)
    outBytes = bytes
    val ok =
      if (duckdb) {
        val (sums, idx) = Check.duckdbSums(out.getPath)
        dbBytes = bytes
        sums.foreach { case (t, s) => rows(t) = s.rows.toDouble }
        Gen.Tables.forall(t => sums(t) == model.sums(t)) && Check.ExpectedIndexes.subsetOf(idx)
      } else {
        val sums = Gen.Tables.map(t => t -> Check.layoutSum(spark, out.getPath, t)).toMap
        sums.foreach { case (t, s) => rows(t) = s.rows.toDouble }
        filesWritten = countParquet(out)
        Gen.Tables.forall(t => sums(t) == model.sums(t))
      }
    rm(out)
    ok
  }

  private def countParquet(f: File): Long =
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else Option(f.listFiles()).map(_.map(countParquet).sum).getOrElse(0L)

  def outBytesPerInByte: Double = outBytes.toDouble / model.uncompressedBytes

  override def extra(samples: Seq[Sample]): Seq[Metric] = {
    val busyS = samples.map(_.ms).sum / 1000
    Seq(Metric("entities_per_s", perSecond(samples.size * model.entities.toDouble, busyS), "1/s"),
      Metric("entities", model.entities.toDouble, "count"),
      Metric("dump_uncompressed_bytes", model.uncompressedBytes.toDouble, "bytes"),
      Metric("dump_gzip_bytes", model.compressedBytes.toDouble, "bytes"))
  }

  override def layerCounts: Map[String, Double] = {
    val claims = Gen.Tables.filterNot(_ == "vertex").map(t => rows.getOrElse(t, 0.0)).sum
    Map("wikidata.parse.entities" -> rows.getOrElse("vertex", 0.0),
      "wikidata.shred.claims_rows" -> claims) ++
      Gen.Tables.map(t => s"wikidata.shred.rows.$t" -> rows.getOrElse(t, 0.0)) ++
      (if (duckdb) Map("sources.jdbc.db_bytes" -> dbBytes.toDouble)
       else Map("wikidata.layout.files_written" -> filesWritten.toDouble)) ++
      Map("input.noise_lines" -> model.noiseLines.toDouble, "input.lines" -> model.lines.toDouble)
  }
}

/** Consumer SQL over a layout built in setup: (property, src) point
  * lookups through forProperty, 1-hop neighbours with labels, bounded
  * P279 ancestor closure (point class); typed quantity and time range
  * filters and per-property claim counts (scan class). */
final class GraphQuery(ctx: Ctx) extends Workload {
  import ctx._
  val timeoutMs = 30000L
  // twenty queries, two cycles of the op kinds: with four, the JIT was
  // still warming and runs spread by 14%
  val warmupOps = 20
  val entities = 1000
  private var model: Gen.Model = _
  private var layout: String = _
  private var outBytes = 0L
  private var edgesBy: Map[(Long, Long), Seq[Long]] = _
  private var labels: Map[Long, String] = _
  private var propCounts: Map[Long, Long] = _
  private val pointStats = mutable.ArrayBuffer.empty[(Double, Double, Double)] // files, files total, rows scanned/returned

  def setup(rep: Int): Unit = {
    val base = dir(s"setup$rep")
    model = Gen.generate(seed, entities, parts = 8, new File(base, "dump"))
    layout = new File(base, "layout").getPath
    graft.Main.run(spark, new File(base, "dump").getPath, layout)
    graft.GraftCache.clear()
    outBytes = du(new File(layout))
    edgesBy = model.edge.groupBy { case (s, p, _) => (p, s) }.map { case (k, v) => k -> v.map(_._3).toSeq }
    labels = model.vertex.map(v => v.id -> v.label).toMap
    propCounts = model.edge.groupBy(_._2).map { case (p, v) => p -> v.size.toLong }
  }

  override def setupChecks(): Seq[Boolean] =
    Gen.Tables.map(t => Check.layoutSum(spark, layout, t) == model.sums(t))

  def outBytesPerInByte: Double = outBytes.toDouble / model.uncompressedBytes

  private def edges(p: Long): DataFrame = ShreddedLayout.forProperty(spark, layout, "edge", p)
  private def pickProp(rng: SplittableRandom): Long = rng.nextInt(4) match {
    case 0 => Gen.pid(Gen.P31)
    case 1 => Gen.pid(Gen.P279)
    case _ => Gen.pid(Gen.Generic(rng.nextInt(3)))
  }

  /** Files and rows a point query's scans read, from its executed plan. */
  private def recordScan(df: DataFrame, returned: Int): Unit = if (tracer.exists(_.on)) {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    def metric(s: org.apache.spark.sql.execution.FileSourceScanExec, k: String) =
      s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    val files = scans.map(metric(_, "numFiles")).sum
    val total = scans.map(_.relation.location.inputFiles.length.toDouble).sum
    val rowsScanned = scans.map(metric(_, "numOutputRows")).sum
    pointStats.synchronized(pointStats += ((files, total, rowsScanned / math.max(1, returned))))
  }

  def next(i: Int): Op = {
    val rng = new SplittableRandom(seed * 1000003L + i)
    val src = 1L + rng.nextInt(entities)
    // a fixed cycle of op kinds, so every run has the same class mix;
    // the seed varies only the keys and ranges
    i % 10 match {
      case 0 | 1 | 2 =>
        val p = pickProp(rng)
        Op("point", "lookup", () => {
          val df = span("ShreddedLayout.forProperty", i)(edges(p).filter(col("src_id") === src).select("dst_id"))
          val got = span("collect", i)(df.collect()).map(_.getLong(0)).sorted.toSeq
          () => { recordScan(df, got.size); got == edgesBy.getOrElse((p, src), Nil).sorted }
        })
      case 3 | 4 =>
        val p = pickProp(rng)
        Op("point", "neighbours", () => {
          val df = span("ShreddedLayout.forProperty", i) {
            val v = ShreddedLayout.read(spark, layout, "vertex").select(col("id"), col("label"))
            edges(p).filter(col("src_id") === src)
              .join(v, col("dst_id") === col("id"), "left").select("dst_id", "label")
          }
          val got = span("collect", i)(df.collect())
            .map(r => (r.getLong(0), Option(r.getString(1)))).sorted.toSeq
          () => {
            recordScan(df, got.size)
            got == edgesBy.getOrElse((p, src), Nil).map(d => (d, labels.get(d).flatMap(Option(_)))).sorted
          }
        })
      case 5 =>
        Op("point", "ancestors", () => {
          val p279 = Gen.pid(Gen.P279)
          var frontier = Set(src)
          val seen = mutable.Set.empty[Long]
          val hops = mutable.ArrayBuffer.empty[(DataFrame, Int)]
          while (hops.size < 3 && frontier.nonEmpty) {
            val df = span("ShreddedLayout.forProperty", i)(
              edges(p279).filter(col("src_id").isin(frontier.toSeq: _*)).select("dst_id"))
            val got = span("collect", i)(df.collect()).map(_.getLong(0)).toSet
            hops += ((df, got.size))
            frontier = got -- seen
            seen ++= got
          }
          val found = seen.toSet
          () => {
            hops.foreach { case (df, n) => recordScan(df, n) }
            found == ancestors(src, p279, 3)
          }
        })
      case 6 | 7 =>
        val lo = (rng.nextLong(2000000L) - 100000L) / 100.0
        val hi = lo + 2000.0
        Op("scan", "quantity_range", () => {
          val n = span("ShreddedLayout.forProperty", i)(
            ShreddedLayout.forProperty(spark, layout, "quantity", Gen.pid(Gen.PQtyBounded))
              .filter(col("amount").between(lo, hi)).count())
          () => n == model.quantity.count(q => q.pid == Gen.pid(Gen.PQtyBounded) && q.amount >= lo && q.amount <= hi)
        })
      case 8 =>
        val a = Gen.micros(1800 + rng.nextInt(200), 1, 1)
        val b = a + 10L * 365 * 86400000000L
        Op("scan", "time_range", () => {
          val n = span("ShreddedLayout.forProperty", i)(
            ShreddedLayout.forProperty(spark, layout, "time", Gen.pid(Gen.PTime))
              .filter(col("time_micros").between(a, b)).count())
          () => n == model.time.count(t => t.micros.exists(m => m >= a && m <= b))
        })
      case _ =>
        Op("scan", "claim_counts", () => {
          val got = span("ShreddedLayout.read", i)(
            ShreddedLayout.read(spark, layout, "edge").groupBy("property_id").count().collect())
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          () => got == propCounts
        })
    }
  }

  private def ancestors(src: Long, p: Long, hops: Int): Set[Long] = {
    var frontier = Set(src)
    val seen = mutable.Set.empty[Long]
    for (_ <- 0 until hops if frontier.nonEmpty) {
      val got = frontier.flatMap(s => edgesBy.getOrElse((p, s), Nil))
      frontier = got -- seen
      seen ++= got
    }
    seen.toSet
  }

  override def extra(samples: Seq[Sample]): Seq[Metric] =
    Seq(Metric("layout_bytes", outBytes.toDouble, "bytes"))

  override def layerCounts: Map[String, Double] = {
    val ps = pointStats.synchronized(pointStats.toList)
    if (ps.isEmpty) Map.empty
    else Map(
      "wikidata.layout.files_read_per_point" -> ps.map(_._1).sum / ps.size,
      "wikidata.layout.prune_ratio" -> (1.0 - ps.map(_._1).sum / math.max(1.0, ps.map(_._2).sum)),
      "wikidata.layout.rows_scanned_per_row_returned" -> ps.map(_._3).sum / ps.size)
  }
}

/** Incremental refresh of the dump's vertex table held as a snapshot
  * table: per step a label-update merge (mergeMoR), deletes
  * (deleteKeys) and new entities (appendBatch), then a head point read
  * and aggregate, the change feed since the previous step and a CDC
  * stream drain, and a consolidation of the deletion vectors. */
final class SnapshotRefresh(ctx: Ctx) extends Workload {
  import ctx._
  val timeoutMs = 60000L
  val warmupOps = 1
  val entities = 1000
  val Updates = 40; val Deletes = 20; val Appends = 40
  private var table: String = _
  private var ckpt: String = _
  private var setupRatio = 0.0
  private val live = mutable.LinkedHashMap.empty[Long, (String, String)]
  private val dvKeys = mutable.Set.empty[Long]
  private var nextId = 0L
  private var prevVersion = 0L
  private var setupDrainRows = -1L
  private var step = 0
  private val commitBytes = mutable.ArrayBuffer.empty[(Double, Double)] // bytes written, user bytes
  private val reads = mutable.ArrayBuffer.empty[(Double, Double)] // files, scans
  private val dvBefore = mutable.ArrayBuffer.empty[Double]

  private val schema = StructType(Seq(StructField("id", LongType), StructField("label", StringType),
    StructField("description", StringType)))

  def setup(rep: Int): Unit = {
    val base = dir(s"setup$rep")
    val m = Gen.generate(seed, entities, parts = 8, new File(base, "dump"))
    table = new File(base, "table").getPath
    ckpt = new File(base, "ckpt").getPath
    val vertex = WikidataShredder.shred(WikidataShredder.parseFile(spark, new File(base, "dump").getPath)).vertex
    SnapshotTable.commit(vertex, table, append = false, statsColumns = Seq("id"))
    graft.GraftCache.clear()
    setupDrainRows = drain().values.sum
    live.clear()
    m.vertex.foreach(v => live(v.id) = (v.label, v.description))
    dvKeys.clear()
    nextId = entities + 1L
    prevVersion = SnapshotTable.currentVersion(table)
    step = 0
    setupRatio = du(new File(table)).toDouble / liveBytes
  }

  override def setupChecks(): Seq[Boolean] = Seq(setupDrainRows == live.size.toLong)

  def outBytesPerInByte: Double = setupRatio

  private def liveBytes: Double = live.iterator.map { case (_, (l, d)) =>
    8 + Option(l).map(_.getBytes(UTF_8).length).getOrElse(0) + Option(d).map(_.getBytes(UTF_8).length).getOrElse(0)
  }.sum.toDouble

  private def userBytes(rows: Seq[Row]): Double = rows.map { r =>
    8 + Option(r.getString(1)).map(_.getBytes(UTF_8).length).getOrElse(0) +
      Option(r.getString(2)).map(_.getBytes(UTF_8).length).getOrElse(0)
  }.sum.toDouble

  /** Run the CDC stream to the current head; change-type -> row count. */
  private def drain(): Map[String, Long] = {
    val counts = mutable.Map.empty[String, Long]
    val q = spark.readStream
      .format(SnapshotCdcSourceProvider.format)
      .option("path", table)
      .option("key", "id")
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy("_change_type").count().collect()
          .foreach(r => counts(r.getString(0)) = counts.getOrElse(r.getString(0), 0L) + r.getLong(1))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    counts.toMap
  }

  private def head(): DataFrame = SnapshotTable.read(spark, table)

  private def traced: Boolean = tracer.exists(_.on)

  /** Bytes a commit adds under the table directory, against the bytes of
    * user data it carries (traced runs only: it lists the table). */
  /** One refresh step: its sub-operations in order, each (class, name,
    * timed body returning its untimed check). */
  private def stepParts(i: Long): List[(String, String, () => (() => Boolean))] = {
    step += 1
    val s = step
    val rng = new SplittableRandom(seed * 7919L + s)
    val ids = live.keysIterator.filter(_ < Gen.PidOffset).toIndexedSeq
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(Updates + Deletes, ids.size)) picked += ids(rng.nextInt(ids.size))
    val (upd, del) = picked.toSeq.splitAt(Updates)
    val updRows = upd.map(id => Row(id, s"upd-$s-$id", live(id)._2))
    val newRows = (0 until Appends).map(k => Row(nextId + k, s"new-$s-$k", if (k % 3 == 0) null else s"added in step $s"))
    nextId += Appends
    val probe = upd.headOption.getOrElse(ids(0))
    def df(rows: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val expectFeed = Map("update_preimage" -> upd.size.toLong, "update_postimage" -> upd.size.toLong,
      "delete" -> del.size.toLong, "insert" -> Appends.toLong)

    val parts = List(
      commit("mergeMoR", i, userBytes(updRows)) {
        val (deleted, _, _) = SnapshotTable.mergeMoR(df(updRows), table, "id")
        updRows.foreach(r => live(r.getLong(0)) = (r.getString(1), r.getString(2)))
        dvKeys ++= upd
        deleted == upd.size
      },
      commit("deleteKeys", i, 8.0 * del.size) {
        SnapshotTable.deleteKeys(spark.createDataFrame(java.util.Arrays.asList(del.map(Row(_)): _*),
          StructType(Seq(StructField("id", LongType)))), table, "id")
        del.foreach(live.remove)
        dvKeys ++= del
        true
      },
      commit("appendBatch", i, userBytes(newRows)) {
        val ok = SnapshotTable.appendBatch(df(newRows), table, batchId = s.toLong)
        newRows.foreach(r => live(r.getLong(0)) = (r.getString(1), r.getString(2)))
        ok
      },
      ("read", "point", () => {
        val d = span("SnapshotTable.read", i)(head().filter(col("id") === probe))
        val got = span("collect", i)(d.collect()).map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
        () => { recordRead(d); got == live.get(probe).map { case (l, ds) => (probe, l, ds) }.toSeq }
      }),
      ("read", "aggregate", () => {
        val d = span("SnapshotTable.read", i)(head().agg(count(lit(1)), count(col("label")), sum(col("id"))))
        val r = span("collect", i)(d.collect()).head
        () => {
          recordRead(d)
          (r.getLong(0), r.getLong(1), r.getLong(2)) ==
            ((live.size.toLong, live.values.count(_._1 != null).toLong, live.keys.sum))
        }
      }),
      ("read", "changeFeed", () => {
        val to = SnapshotTable.currentVersion(table)
        val got = span("SnapshotTable.changeFeed", i)(
          SnapshotTable.changeFeed(spark, table, prevVersion, to, "id").groupBy("_change_type").count().collect())
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        prevVersion = to
        () => got == expectFeed
      }),
      ("cdc", "drain", () => { val got = span("cdc_stream.drain", i)(drain()); () => got == expectFeed }))
    // every step consolidates, so all steps do the same work and the
    // median does not jump when a faster build fits one more step
    parts :+ commit("consolidateDeleteVectors", i, 0.0) {
      val (before, _, keys) = SnapshotTable.consolidateDeleteVectors(spark, table)
      dvBefore += before.toDouble
      prevVersion = SnapshotTable.currentVersion(table)
      keys == dvKeys.size.toLong
    }
  }

  /** A commit sub-operation; traced runs also record, untimed, the bytes
    * it added under the table directory against the user bytes it carries. */
  private def commit(name: String, i: Long, user: Double)(call: => Boolean): (String, String, () => (() => Boolean)) =
    ("commit", name, () => {
      val before = if (traced) du(new File(table)) else 0L
      val ok = span(s"SnapshotTable.$name", i)(call)
      () => {
        if (traced) commitBytes += ((du(new File(table)) - before).toDouble -> user)
        ok
      }
    })

  private def recordRead(df: DataFrame): Unit = if (traced) {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    val scans = helper.collect(plan) { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    val v2 = helper.collect(plan) { case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s }
    val files = scans.map(_.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)).sum
    reads += ((files, (scans.size + v2.size).toDouble))
  }

  /** One op = one refresh step; its sub-operations are timed one by one
    * into [[parts]] (commit / read / cdc classes) and checked after it. */
  def next(i: Int): Op = Op("step", "refresh", () => {
    val checks = stepParts(i).map { case (cls, name, body) =>
      val t0 = System.nanoTime()
      val check = body()
      parts += Part(i, cls, name, (System.nanoTime() - t0) / 1e6)
      check
    }
    // reads compare against the model as of the step's commits, which
    // no later sub-operation of the step changes
    () => checks.forall(_())
  })

  override def extra(samples: Seq[Sample]): Seq[Metric] =
    Seq(Metric("table_bytes_per_live_byte", du(new File(table)).toDouble / liveBytes, "ratio"),
      Metric("steps", step.toDouble, "count"))

  override def layerCounts: Map[String, Double] = {
    val cb = commitBytes.toList
    val rd = reads.toList
    val manifest = new File(table, s"manifests/v${SnapshotTable.currentVersion(table)}.manifest")
    Map(
      "sources.snapshot.bytes_written_per_user_byte" ->
        (if (cb.isEmpty) 0.0 else cb.map(_._1).sum / math.max(1.0, cb.map(_._2).sum)),
      "sources.snapshot.files_per_read" -> (if (rd.isEmpty) 0.0 else rd.map(_._1).sum / rd.size),
      "sources.snapshot.scans_per_read" -> (if (rd.isEmpty) 0.0 else rd.map(_._2).sum / rd.size),
      "sources.snapshot.dv_outstanding" -> (if (dvBefore.isEmpty) 0.0 else dvBefore.sum / dvBefore.size),
      "sources.snapshot.manifest_bytes" -> du(manifest).toDouble)
  }
}
