package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{Copy, SparkEntry}
import graft.exec.{Fs, Pipeline, Sinks}
import graft.meta.Catalog
import graft.model._
import graft.plan.{Analyzer, PlanConfig}

/** `Catalog.collect` keeps a per-process cache of (row count, bytes). The
  * benchmark reads its size before and after a call: a call that adds no
  * entry was served from the cache. The cache is found by reflection; if
  * it cannot be found the run fails, since hits could then not be
  * counted. */
object CatalogCache {
  private lazy val map: scala.collection.Map[_, _] = {
    val f = Catalog.getClass.getDeclaredFields.find(_.getName.contains("collected"))
      .getOrElse(throw new IllegalStateException(
        "Catalog.collect's cache field `collected` not found: cache hits cannot be counted"))
    f.setAccessible(true)
    f.get(Catalog) match {
      case m: scala.collection.Map[_, _] => m
      case other => throw new IllegalStateException(
        s"Catalog's `collected` is a ${other.getClass.getName}, not a Map: cache hits cannot be counted")
    }
  }

  def size: Int = map.size

  /** Calls among `calls` that were cache hits, given the size before. */
  def hits(before: Int, calls: Int): Int = math.max(0, calls - (size - before))
}

/** A `graft.Copy.run` workload into a file destination, with one fresh
  * hard-link directory of the sources per operation so that every copy
  * pays the catalog count a fresh `graft.Copy` process pays. */
final class CopyWorkload(work: Path, inputDir: String, tables: Seq[String]) {

  private val conf = PlanConfig()
  CatalogCache.size // fails the run now if the cache cannot be found

  /** customer lands in a clustered rowstore on its key; the extension
    * tables in clustered columnstores; the rest in clean heaps. */
  private val destMeta: Map[String, TableMeta] =
    if (tables.size == 1) Map.empty
    else Map(
      "customer" -> Pipeline.cleanDest(Catalog.declared("customer"), Storage.ClusteredRowstore)) ++
      Seq("events", "documents", "embeddings").map(t =>
        t -> Pipeline.cleanDest(Catalog.declared(t), Storage.ClusteredColumnstore))

  private val dests = ArrayBuffer.empty[Map[String, Any]]
  private var timedCacheHits = 0

  private def linkSources(k: Int): Path = {
    val dir = work.resolve(s"links/op-$k")
    Files.createDirectories(dir)
    tables.distinct.foreach { t =>
      val src = Paths.get(inputDir, s"$t.parquet")
      val dst = dir.resolve(s"$t.parquet")
      if (Files.isDirectory(src)) {
        Files.createDirectories(dst)
        Files.list(src).iterator().asScala.foreach(f => Files.createLink(dst.resolve(f.getFileName), f))
      } else Files.createLink(dst, src)
    }
    dir
  }

  private def dest(k: Int): String = work.resolve(s"dest/op-$k").toString

  def untraced(spark: SparkSession, k: Int): Main.Op = {
    val src = linkSources(k)
    val before = CatalogCache.size
    val t0 = System.nanoTime()
    val code = Copy.run(spark, src.toString, dest(k), tables, destMeta = destMeta,
      truncateTables = true)
    val secs = (System.nanoTime() - t0) / 1e9
    finish(k, src, secs, code, CatalogCache.hits(before, tables.distinct.size))
  }

  /** Bookkeeping of one operation, outside its timed region. The
    * destination is kept for the content check that follows the run. */
  private def finish(k: Int, src: Path, secs: Double, code: Int, hits: Int): Main.Op = {
    timedCacheHits += hits
    val notes = ArrayBuffer.empty[String]
    if (code != 0) notes += s"exit $code"
    if (hits != 0) notes += s"$hits catalog cache hits"
    dests += Map("op" -> k, "dir" -> dest(k))
    Fs.deleteTree(src)
    Main.Op("", secs, code, notes.isEmpty, notes.mkString("; "))
  }

  /** Replays the phase order `Copy.run` documents, one span per call into
    * a layer's public function: expand the table list, check safety and
    * collect every table, analyze, snapshot the footprint, copy each
    * table, re-stat the footprint, reconcile. */
  def traced(spark: SparkSession, k: Int, tracer: Tracer, layers: Layers)
      : (Main.Op, Map[String, Double]) = {
    val src = linkSources(k).toString
    val dst = dest(k)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    layers.take()
    var code = 0
    var hits = 0
    var footprintFiles = 0
    val items = ArrayBuffer.empty[WorkItem]
    val t0 = System.nanoTime()
    val trace = tracer.operation("copy.op") {
      val names = tracer.span("copy.expand")(Pipeline.expandTableList(tables))
      val analyzed = names.flatMap { t =>
        if (code != 0) None
        else if (!Catalog.declared.contains(t) ||
            !tracer.span("exec.safety")(Pipeline.safetyCheck(spark, src, t))) { code = 2; None }
        else {
          val before = CatalogCache.size
          val s = tracer.span("meta.collect")(Catalog.collect(spark, src, t))
          hits += CatalogCache.hits(before, 1)
          val d = destMeta.getOrElse(t, Pipeline.cleanDest(s))
          tracer.span("plan.analyze")(Analyzer.analyze(s, d, conf)) match {
            case AnalysisOutcome.Success(is) => items ++= is; Some((s, d))
            case failure => code = Copy.analysisExitCode(failure); None
          }
        }
      }
      if (code == 0) {
        def footprint(): Map[String, Map[String, (Long, Long)]] =
          analyzed.map { case (s, _) =>
            val fp = tracer.span("exec.footprint")(Pipeline.sourceFootprint(spark, src, s.name))
            footprintFiles += fp.size
            s.name -> fp
          }.toMap
        val pre = footprint()
        analyzed.foreach { case (s, d) =>
          tracer.span("exec.copy")(
            Pipeline.copyTable(spark, src, dst, s, d, conf, reconcile = false))
        }
        if (footprint() != pre) code = 2
        else if (!analyzed.forall { case (s, d) =>
            tracer.span("exec.reconcile")(
              Sinks.committedRowCount(spark, s"$dst/${d.name}.parquet")) == s.rowCount
          }) code = 2
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val c = layers.take()
    val spans = tracer.ofTrace(trace)
    val root = spans.find(_.parent == 0).get
    def s(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def n(name: String) = spans.count(_.name == name).toDouble
    val copy = c.getOrElse("exec.copy", new Counters)
    val copyS = s("exec.copy")
    val srcRows = items.map(_.table).distinct.map(_.rowCount).sum.toDouble
    val destFiles = items.map(_.table.name).distinct.map(t =>
      Sinks.committedFiles(spark, s"$dst/$t.parquet").size).sum
    val cores = spark.sparkContext.defaultParallelism
    val slices = items.map(_.slice)
    val m = Map[String, Double](
      "copy.gap_s" -> (root.seconds - spans.filter(_.parent == root.id).map(_.seconds).sum),
      "meta.collect_s" -> s("meta.collect"),
      "meta.collect_calls" -> n("meta.collect"),
      "meta.jobs" -> c.get("meta.collect").map(_.jobs.toDouble).getOrElse(0.0),
      "meta.cache_hits" -> hits.toDouble,
      "plan.analyze_s" -> s("plan.analyze"),
      "plan.work_items" -> items.size.toDouble,
      "plan.slices_physical" -> slices.count(_.isInstanceOf[SliceSpec.Physical]).toDouble,
      "plan.slices_logical" -> slices.count(_.isInstanceOf[SliceSpec.Logical]).toDouble,
      "plan.slices_whole" -> slices.count(_ == SliceSpec.Whole).toDouble,
      "exec.safety_s" -> s("exec.safety"),
      "exec.footprint_s" -> s("exec.footprint"),
      "exec.footprint_files" -> footprintFiles.toDouble,
      "exec.copy_s" -> copyS,
      "exec.jobs" -> copy.jobs.toDouble,
      "exec.stages" -> copy.stages.toDouble,
      "exec.tasks" -> copy.tasks.toDouble,
      "exec.failed_tasks" -> copy.failedTasks.toDouble,
      "exec.task_s" -> copy.taskMs / 1e3,
      "exec.core_util" -> (if (copyS > 0) copy.taskMs / 1e3 / (copyS * cores) else 0.0),
      "exec.scan_stage_s" -> copy.scanStageMs / 1e3,
      "exec.write_stage_s" -> copy.writeStageMs / 1e3,
      "exec.records_read" -> copy.recordsRead.toDouble,
      "exec.read_amp" -> (if (srcRows > 0) copy.recordsRead / srcRows else 0.0),
      "exec.bytes_read" -> copy.bytesRead.toDouble,
      "exec.records_written" -> copy.recordsWritten.toDouble,
      "exec.bytes_written" -> copy.bytesWritten.toDouble,
      "exec.shuffle_write_bytes" -> copy.shuffleWrite.toDouble,
      "exec.shuffle_read_bytes" -> copy.shuffleRead.toDouble,
      "exec.spill_bytes" -> copy.spill.toDouble,
      "exec.gc_s" -> copy.gcMs / 1e3,
      "exec.dest_files" -> destFiles.toDouble,
      "exec.reconcile_s" -> s("exec.reconcile"),
      "op.traced_s" -> secs)
    (finish(k, Paths.get(src), secs, code, hits), m)
  }

  def checkRecord: Map[String, Any] = Map(
    "tables" -> tables,
    "file_dests" -> dests.toSeq,
    "timed_cache_hits" -> timedCacheHits)
}

/** The declared-query layer, traced on the small input set: one pass that
  * materialises every result for the oracle check, then one traced pass
  * over the headline declared queries plus connected components, each
  * through the noop sink, in a seed-shuffled order. */
final class QueryPass(work: Path, seed: Long, dir: String) {
  val keys: Seq[String] = new scala.util.Random(seed).shuffle(QueryPass.Keys)
  private lazy val queries = SparkEntry.queries
  private var keySplit = Map.empty[String, Map[String, Double]]

  /** Writes every key's result and its oracle SQL for the check. */
  def materialise(spark: SparkSession): Unit = {
    val out = work.resolve("qres")
    val oracles = SparkEntry.oracleSql
    val missing = keys.filterNot(oracles.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    keys.foreach(key =>
      queries(key)(spark, dir).write.mode("overwrite").parquet(out.resolve(key).toString))
    Files.writeString(out.resolve("oracle_sql.json"),
      Main.json(keys.map(key => key -> oracles(key)).toMap))
  }

  def traced(spark: SparkSession, tracer: Tracer, layers: Layers)
      : (Main.Op, Map[String, Double]) = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    layers.take()
    val t0 = System.nanoTime()
    val trace = tracer.operation("ops.pass") {
      keys.foreach(key => tracer.span(s"ops.$key")(
        queries(key)(spark, dir).write.mode("overwrite").format("noop").save()))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val byKey = layers.take()
    val c = byKey.values
    val spans = tracer.ofTrace(trace)
    def planning(x: Counters) = (x.analysisMs + x.optimizationMs + x.planningMs) / 1e3
    val planningS = c.map(planning).sum
    val jobS = c.map(_.jobMs).sum / 1e3
    val perKey = keys.map(key =>
      key -> spans.filter(_.name == s"ops.$key").map(_.seconds).sum)
    // the same split for each key, for the run record
    keySplit = perKey.map { case (key, t) =>
      val x = byKey.getOrElse(s"ops.$key", new Counters)
      key -> Map("s" -> t, "planning_s" -> planning(x), "job_s" -> x.jobMs / 1e3,
        "driver_s" -> (t - planning(x) - x.jobMs / 1e3), "jobs" -> x.jobs.toDouble)
    }.toMap
    val m = perKey.map { case (key, t) => s"ops.${key}_s" -> t }.toMap ++ Map[String, Double](
      "ops.analysis_s" -> c.map(_.analysisMs).sum / 1e3,
      "ops.optimization_s" -> c.map(_.optimizationMs).sum / 1e3,
      "ops.planning_s" -> c.map(_.planningMs).sum / 1e3,
      "ops.job_s" -> jobS,
      "ops.driver_s" -> (secs - planningS - jobS),
      "ops.jobs" -> c.map(_.jobs).sum.toDouble,
      "ops.stages" -> c.map(_.stages).sum.toDouble,
      "ops.shuffle_bytes" -> c.map(_.shuffleWrite).sum.toDouble,
      "ops.spill_bytes" -> c.map(_.spill).sum.toDouble,
      "ops.gc_s" -> c.map(_.gcMs).sum / 1e3,
      "ops.pass_s" -> secs)
    (Main.Op("", secs, 0, ok = true, ""), m)
  }

  def checkRecord: Map[String, Any] = Map(
    "keys" -> keys,
    "results_dir" -> work.resolve("qres").toString,
    "traced_by_key" -> keySplit)
}

object QueryPass {
  /** The headline declared queries and connected components. */
  val Keys: Seq[String] = Seq(
    "scan_project", "scan_ordered", "scan_physical_partition",
    "scan_logical_partition", "bulk_insert_sink", "bulk_insert_ordered",
    "bulk_insert_partitioned", "pipeline_full_copy", "join_broadcast_dim",
    "join_shuffle_fact", "bucketed_join_colocated", "dedup_minhash_lsh",
    "dedup_simhash", "sim_brute_force_topk", "events_sessionize",
    "text_token_count", "join_bloom_prefilter", "pipeline_zorder_layout",
    "text_entropy_filter", "graph_connected_components")
}
