package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.meta.Catalog

/** The benchmark's measuring process: one `GraftSession` at `local[N]`,
  * one client in a closed loop (each operation starts when the previous
  * one has returned), through the engine's public entry points.
  *
  * Usage (normally started by `run.py`, which builds, generates inputs
  * and checks outputs):
  *
  *   perfbench.Main --workload W --seed S --seconds T --trace 0|1
  *     --cpus N --source DIR --small DIR --work DIR --out FILE
  *
  * The record written to `--out` holds every operation's time and exit
  * code, the set-up times, the destinations left for the output check,
  * and with `--trace 1` the spans and per-layer metrics.
  */
object Main {

  final case class Op(kind: String, seconds: Double, exit: Int, ok: Boolean, note: String,
      jitMs: Long = 0L, gcMs: Long = 0L)

  /** JIT compilation and GC time this process has spent so far, in ms. */
  def jvmWork: (Long, Long) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    (ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus")
    val work = Paths.get(a("work")).toAbsolutePath
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up, five times: the first is cold (process start to a ready
    // session), the others rebuild the session in the warm process. A
    // session is ready once it has run a job.
    val w0 = Workload(workload, a("source"), work, seed)
    def setUp(): SparkSession = {
      val s = GraftSession.build(cpus)
      s.range(1).count()
      s
    }
    var spark = setUp()
    val setups = scala.collection.mutable.ArrayBuffer(
      (System.currentTimeMillis() - jvmStartMs) / 1e3)
    for (_ <- 1 to 4) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = setUp()
      setups += (System.nanoTime() - t0) / 1e9
    }

    // the listener only listens in the traced run, so it costs the
    // untraced operations nothing
    val layers = new Layers
    if (traced) {
      spark.sparkContext.addSparkListener(layers)
      spark.listenerManager.register(layers)
    }
    val tracer = new Tracer(spark.sparkContext, layers)

    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val traces = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    def run(kind: String, k: Int): Unit = {
      val (jit0, gc0) = jvmWork
      val op =
        try {
          if (kind == "traced") {
            val (op, metrics) = w0.traced(spark, k, tracer, layers)
            traces += metrics
            op
          } else w0.untraced(spark, k)
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $kind op $k threw: $e")
          e.printStackTrace()
          Op(kind, Double.NaN, -1, ok = false, e.toString)
        }
      val (jit1, gc1) = jvmWork
      ops += op.copy(kind = kind, jitMs = jit1 - jit0, gcMs = gc1 - gc0)
    }

    var k = 0
    run("warmup", k)
    // untimed operations for as long as the timed window lasts (at least
    // two), so the timed ones start from compiled code rather than from
    // the tail of the JIT's warm-up, however short an operation is
    val settleEnd = System.nanoTime() + (seconds * 1e9).toLong
    var settled = 0
    while (System.nanoTime() < settleEnd || settled < 2) {
      k += 1
      run("settle", k)
      settled += 1
    }
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var timed = 0
    while (System.nanoTime() < deadline || timed < 2) {
      k += 1
      run("timed", k)
      timed += 1
      if (traced) { k += 1; run("traced", k) }
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    // The traced catalog run also traces the declared-query layer, on the
    // small input set: one pass that materialises every result for the
    // oracle check, then one traced pass through the noop sink. Its
    // metrics are its own (`ops.*`), apart from the copy replays'.
    var queryMetrics = Map.empty[String, Double]
    val queries =
      if (traced && workload == "copy_catalog_all") {
        val q = new QueryPass(work, seed, a("small"))
        q.materialise(spark)
        val (op, metrics) = q.traced(spark, tracer, layers)
        ops += op.copy(kind = "query_pass")
        queryMetrics = metrics
        Some(q)
      } else None

    // medians over the copy replays of the run
    val perLayer: Map[String, Double] =
      traces.flatMap(_.keys).distinct.map { m =>
        m -> median(traces.flatMap(_.get(m)).toSeq)
      }.toMap ++ queryMetrics

    val record = Map(
      "workload" -> workload,
      "seed" -> seed,
      "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "setup_s" -> setups.toSeq,
      "measured_s" -> measuredS,
      "ops" -> ops.toSeq.map(o => Map("kind" -> o.kind, "seconds" -> o.seconds,
        "exit" -> o.exit, "ok" -> o.ok, "note" -> o.note, "jit_ms" -> o.jitMs,
        "gc_ms" -> o.gcMs)),
      "check" -> w0.checkRecord,
      "query_check" -> queries.map(_.checkRecord),
      "per_layer" -> perLayer,
      "spans" -> tracer.all.map(s => Map("trace" -> s.trace, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)),
      "peak_rss_mb" -> peakRssMb)
    spark.stop()
    Files.writeString(Paths.get(a("out")), json(record))
  }

  private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
}

/** The two workloads: one `Copy.run` of lineitem, or of all ten tables. */
object Workload {
  def apply(name: String, source: String, work: Path, seed: Long): CopyWorkload = name match {
    case "copy_lineitem_heap" => new CopyWorkload(work, source, Seq("lineitem"))
    case "copy_catalog_all" =>
      // the seed sets the order of the literal table list
      new CopyWorkload(work, source, new scala.util.Random(seed).shuffle(Catalog.tableNames))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
