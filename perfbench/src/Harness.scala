package perfbench

import graft.{SparkEntry, Tables}
import graft.functions.HashKernels
import graft.mr.{JobRegistry, MRRunner, MRSpec}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The JVM half of the benchmark: one closed-loop client on `local[cores]`.
  *
  * Usage: `Harness key=value ...` (run.py writes the arguments). It sets up
  * the session `setups` times, runs `warmup` untimed jobs, times jobs for
  * `seconds` (and at least `min_jobs` of them), and writes every job's
  * output plus a result JSON for run.py to check. With `trace=1` the timed
  * loop alternates untraced jobs with traced ones (listeners attached,
  * spans recorded), and the per-layer profiles follow.
  */
object Harness {
  final case class Span(id: Int, name: String, parent: Int, job: Int, startNs: Long, endNs: Long)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    new Harness(a).run()
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jnum(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def jobj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")
}

final class Harness(a: Map[String, String]) {
  import Harness._

  private val workload = a("workload")
  private val seconds = a("seconds").toDouble
  private val trace = a("trace") == "1"
  private val cores = a("cores").toInt
  private val work = a("work")
  private val isMr = workload.startsWith("mr_")
  private val minJobs = a("min_jobs").toInt

  // MR workloads: text files → MRRunner.run with R output files
  private lazy val files = a("files").split(',').toSeq
  private lazy val nOut = a("r").toInt
  private lazy val mapKb = a("mapkb").toInt
  private lazy val userId = a("job")
  // query workloads: registered queries over the fixture, each pass in its
  // own seeded order; `profile` queries run only in the traced profiles
  private lazy val queries = a("queries").split(',').toSeq
  private lazy val profileQueries = a("profile").split(',').toSeq
  private lazy val orderRng = new scala.util.Random(a("seed").toLong)
  private lazy val sf = a("sf")
  private val mixTables = Seq("documents")

  private var spark: SparkSession = _
  private val probe = new Probe
  private var tracing = false
  private val spans = ArrayBuffer.empty[Span]
  private var jobId = 0
  private val jobsJson = ArrayBuffer.empty[String]
  private val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Per traced job: wall, process CPU and the listener counters, summed
    * over its calls; per query as well for the mix.
    */
  private val tracedJobs = ArrayBuffer.empty[Map[String, Double]]

  private def span[A](name: String, parent: Int)(f: => A): (A, Span) = {
    val id = spans.size
    val t0 = System.nanoTime
    val r = f
    val s = Span(id, name, parent, jobId, t0, System.nanoTime)
    if (tracing) spans += s
    (r, s)
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** One timed engine call: wall and process CPU seconds, the error if it
    * threw, and (when tracing) the listener counters of exactly this call.
    */
  private final case class Call(wallS: Double, cpuS: Double, error: Option[String],
                                c: Counters, gcS: Double)

  private def call(name: String, parent: Int)(f: => Unit): Call = {
    if (tracing) { drain(); probe.take() }
    val g0 = gcMs()
    val c0 = cpuNs()
    val (err, s) = span(name, parent) {
      try { f; None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    }
    val cpu = (cpuNs() - c0) / 1e9
    val gc = (gcMs() - g0) / 1e3
    val c = if (tracing) { drain(); probe.take() } else new Counters
    Call((s.endNs - s.startNs) / 1e9, cpu, err, c, gc)
  }

  private def layerOf(c: Call): Map[String, Double] = {
    val k = c.c
    val wall = c.wallS
    Map(
      "wall_s" -> wall, "cpu_s" -> c.cpuS, "jvm.gc_s" -> c.gcS,
      "plan.analysis_s" -> k.analysisMs / 1e3, "plan.optimization_s" -> k.optimizationMs / 1e3,
      "plan.planning_s" -> k.planningMs / 1e3,
      "sched.stages" -> k.stages.toDouble, "sched.tasks" -> k.tasks.toDouble,
      "sched.outside_stage_s" -> math.max(0.0, wall - k.stageUnionMs / 1e3),
      "exec.run_s" -> k.runMs / 1e3, "exec.cpu_s" -> k.cpuNs / 1e9, "exec.gc_s" -> k.gcMs / 1e3,
      "exec.peak_mem_mb" -> k.peakMemB / 1048576.0,
      "exec.busy_frac" -> (if (wall > 0) k.runMs / 1e3 / (wall * cores) else 0.0),
      "shuffle.write_mb" -> k.shWriteB / 1048576.0, "shuffle.write_records" -> k.shWriteRec.toDouble,
      "shuffle.read_mb" -> k.shReadB / 1048576.0, "shuffle.write_s" -> k.shWriteNs / 1e9,
      "shuffle.fetch_wait_s" -> k.fetchWaitMs / 1e3, "shuffle.spill_mb" -> k.spillB / 1048576.0,
      "input.records" -> k.inputRec.toDouble, "output.records" -> k.outputRec.toDouble,
      "map_stage_s" -> k.mapStageMs / 1e3, "reduce_stage_s" -> k.reduceStageMs / 1e3,
      "stream.batches" -> k.batches.toDouble, "stream.trigger_s" -> k.triggerMs / 1e3,
      "stream.add_batch_s" -> k.addBatchMs / 1e3, "stream.state_commit_s" -> k.stateCommitMs / 1e3,
      "stream.state_rows" -> k.stateRows.toDouble,
      "stream.outside_trigger_s" -> math.max(0.0, wall - k.triggerMs / 1e3))
  }

  private def sumMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map { key =>
      val vs = ms.flatMap(_.get(key))
      key -> (if (key == "exec.peak_mem_mb") vs.max else vs.sum)
    }.toMap

  // ---- set-up: session + inputs registered and scanned once ----------------

  private def inputPaths: Seq[String] = if (isMr) files else mixTables.map(t => s"$sf/$t.parquet")

  private def scanInputs(): Unit =
    if (isMr) spark.read.textFile(files: _*).write.format("noop").mode("overwrite").save()
    else mixTables.foreach(t => spark.read.parquet(s"$sf/$t.parquet").write.format("noop").mode("overwrite").save())

  private def setUp(n: Int): Seq[(Double, Double)] = (0 until n).map { _ =>
    if (spark != null) spark.stop()
    System.gc() // the last session's garbage is not collected inside the next set-up
    val t0 = System.nanoTime
    spark = Tables.localSession(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime
    scanInputs()
    val t2 = System.nanoTime
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  // ---- jobs ---------------------------------------------------------------

  private def outDir(): String = {
    val d = s"$work/out/job_$jobId"
    new File(d).mkdirs()
    d
  }

  private def mrSpec(out: String): MRSpec =
    MRSpec(cores, (0 until cores).map(i => s"localhost:${50051 + i}"), files, out, nOut, mapKb, userId)

  private def callJson(c: Call): Seq[(String, String)] = Seq(
    "wall_s" -> jnum(c.wallS), "cpu_s" -> jnum(c.cpuS),
    "error" -> c.error.map(jstr).getOrElse("null"))

  /** One job of the closed loop; returns its wall seconds. */
  private def runJob(phase: String, qs: => Seq[String] = queries): Double = {
    val out = outDir()
    val (wall, json) =
      if (isMr) {
        val c = call("job", -1) { MRRunner.run(spark, mrSpec(out)) }
        if (tracing) tracedJobs += layerOf(c)
        (c.wallS, callJson(c))
      } else mixPass(out, qs)
    jobsJson += jobj(Seq("id" -> jobId.toString, "phase" -> jstr(phase), "out" -> jstr(out)) ++ json)
    jobId += 1
    wall
  }

  /** One pass over the mix. Each query's result is collected inside the
    * timed call; writing it out for the oracle check happens after.
    */
  private def mixPass(out: String, qs: Seq[String]): (Double, Seq[(String, String)]) = {
    val t0 = System.nanoTime
    val c0 = cpuNs()
    val jobSpan = spans.size
    if (tracing) spans += Span(jobSpan, "job", -1, jobId, t0, 0L) // end set below
    val parts = orderRng.shuffle(qs).map { q =>
      var result: Option[(Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)] = None
      val layerName = if (q.contains("_stream_")) s"streaming.$q" else s"operators.$q"
      val c = call(layerName, if (tracing) jobSpan else -1) {
        val df = SparkEntry.queries(q)(spark, sf)
        result = Some((df.collect(), df.schema))
      }
      val saveErr = result.flatMap { case (rows, schema) =>
        try {
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
          None
        } catch { case e: Throwable => Some(s"saving result: ${e.getMessage}".take(500)) }
      }
      (q, c.copy(error = c.error.orElse(saveErr)))
    }
    val t1 = System.nanoTime
    if (tracing) spans(jobSpan) = spans(jobSpan).copy(endNs = t1)
    val wall = parts.map(_._2.wallS).sum
    val cpu = parts.map(_._2.cpuS).sum
    if (tracing) {
      val per = parts.map { case (q, c) => q -> layerOf(c) }
      val total = sumMaps(per.map(_._2))
      tracedJobs += total ++ Map("wall_s" -> wall, "cpu_s" -> cpu,
        "exec.busy_frac" -> (if (wall > 0) total("exec.run_s") / (wall * cores) else 0.0)) ++
        per.flatMap { case (q, m) => m.map { case (k, v) => s"$q/$k" -> v } }
    }
    val partsJson = parts.map { case (q, c) => jobj(Seq("name" -> jstr(q)) ++ callJson(c)) }
    (wall, Seq("wall_s" -> jnum(wall), "cpu_s" -> jnum(cpu),
      "error" -> parts.flatMap(p => p._2.error.map(e => s"${p._1}: $e")).headOption.map(jstr).getOrElse("null"),
      "pass_wall_s" -> jnum((t1 - t0) / 1e9), "parts" -> partsJson.mkString("[", ", ", "]")))
  }

  private def loop(phase: String): Unit = {
    val t0 = System.nanoTime
    var n = 0
    while (n < minJobs || (System.nanoTime - t0) / 1e9 < seconds) { runJob(phase); n += 1 }
  }

  // ---- per-layer profiles (trace=1 only) ----------------------------------

  /** One chain of timed noop-sink prefixes of the MR job, each one layer
    * longer than the last: scan, then `flatMap(job.map)`, then `transform`.
    * The traced job that follows is the last link (the sink).
    */
  private def mrPrefixChain(): (Double, Double, Double) = {
    val session = spark
    import session.implicits._
    val job = JobRegistry.get(userId)
    val splitKey = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(splitKey, mapKb * 1024L)
    def lines: Dataset[String] = spark.read.textFile(files: _*)
    def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()
    val root = spans.size
    spans += Span(root, "mr.prefixes", -1, jobId, System.nanoTime, 0L)
    val scan = call("mr.prefix.scan", root)(noop(lines)).wallS
    val map = call("mr.prefix.map", root)(noop(lines.flatMap(job.map _))).wallS
    val tr = call("mr.prefix.transform", root)(noop(MRRunner.transform(spark, lines, job, nOut))).wallS
    spans(root) = spans(root).copy(endNs = System.nanoTime)
    spark.conf.unset(splitKey)
    (scan, map, tr)
  }

  /** Self times of the MR phases: per loop iteration, the differences of its
    * prefix chain and traced job (scan → map → shuffle/sort/reduce → sink),
    * then the median of each; their sum is the layer-summed job time.
    */
  private def mrLayers(chains: Seq[(Double, Double, Double)], runs: Seq[Double]): Unit = {
    val session = spark
    import session.implicits._
    val parts = chains.zip(runs).map { case ((scan, map, tr), run) => (scan, map - scan, tr - map, run - tr) }
    layer("mr.map_s") = median(parts.map(_._2))
    layer("mr.shuffle_sort_reduce_s") = median(parts.map(_._3))
    layer("mr.sink_s") = median(parts.map(_._4))
    layer("trace.layer_sum_s") = median(parts.map(_._1)) + layer("mr.map_s") +
      layer("mr.shuffle_sort_reduce_s") + layer("mr.sink_s")
    val last = new File(s"$work/out/job_${jobId - 1}").listFiles().filter(_.getName.startsWith("part-"))
    layer("mr.sink_files") = last.length.toDouble
    layer("mr.sink_mb") = last.map(_.length).sum / 1048576.0
    val pairsOut = spark.read.textFile(files: _*).flatMap(JobRegistry.get(userId).map _).count()
    layer("mr.pairs_out") = pairsOut.toDouble
    val shRec = median(tracedJobs.map(_("shuffle.write_records")))
    layer("mr.shuffle_pairs_per_emit") = if (pairsOut > 0) shRec / pairsOut else 0.0
  }

  private var blackhole = 0L

  /** ns per row of one kernel over `n` rows: two warm passes, then the
    * median of five timed passes.
    */
  private def nsPerRow(n: Int)(f: Int => Any): Double = {
    val reps = (0 until 7).map { _ =>
      var sink = 0L
      val t0 = System.nanoTime
      var i = 0
      while (i < n) { sink += f(i).hashCode; i += 1 }
      blackhole += sink
      (System.nanoTime - t0).toDouble / n
    }
    median(reps.drop(2))
  }

  /** The hottest `graft.functions` kernel of the curation query (q36's
    * MinHash signature: 32 permutations over 3-token shingles), called
    * directly over the fixture's document texts.
    */
  private def kernels(): Unit = {
    val texts = spark.read.parquet(s"$sf/documents.parquet").where("text IS NOT NULL").select("text")
      .collect().map(r => UTF8String.fromString(r.getString(0)))
    val (ns, _) = span("kernels.minhash_sig", -1) {
      nsPerRow(texts.length)(i => HashKernels.minhashSig(texts(i), 32, 3).length)
    }
    layer("kernels.minhash_sig.ns_per_row") = ns
  }

  private def listen(on: Boolean): Unit =
    if (on) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      spark.streams.addListener(probe.streaming)
    } else {
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
      spark.streams.removeListener(probe.streaming)
    }

  /** Untraced and traced jobs alternate (at least four pairs, and for
    * `seconds`), so the JIT still warming during the loop does not show up
    * as tracing overhead; an MR traced job comes right after its prefix
    * chain. Then the one-off profiles run traced.
    */
  private def traceRun(): Unit = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime
    val untraced, walls = ArrayBuffer.empty[Double]
    val chains = ArrayBuffer.empty[(Double, Double, Double)]
    while (walls.size < 4 || (System.nanoTime - t0) / 1e9 < seconds) {
      untraced += runJob("timed")
      tracing = true
      listen(on = true)
      if (isMr) chains += mrPrefixChain()
      walls += runJob("traced")
      listen(on = false)
      tracing = false
    }
    val untracedP50 = median(untraced)
    tracing = true
    listen(on = true)
    val scan = call("tables.scan", -1)(scanInputs())
    layer("tables.scan_s") = scan.wallS
    layer("tables.scan_mb") = inputPaths.map(p => new File(p).length).sum / 1048576.0
    def med(k: String): Double = median(tracedJobs.flatMap(_.get(k)))
    Seq("plan.analysis_s", "plan.optimization_s", "plan.planning_s", "sched.stages", "sched.tasks",
      "sched.outside_stage_s", "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.busy_frac",
      "shuffle.write_mb", "shuffle.write_records", "shuffle.read_mb", "shuffle.write_s",
      "shuffle.fetch_wait_s", "shuffle.spill_mb", "jvm.gc_s").foreach(k => layer(k) = med(k))
    layer("exec.peak_mem_mb") = tracedJobs.flatMap(_.get("exec.peak_mem_mb")).maxOption.getOrElse(0.0)
    layer("trace.job_p50_s") = median(walls)
    layer("trace.untraced_job_p50_s") = untracedP50
    layer("trace.overhead_s") = median(walls) - untracedP50
    if (isMr) {
      layer("mr.lines_in") = med("input.records")
      layer("mr.keys_out") = med("output.records")
      layer("mr.map_stage_s") = med("map_stage_s")
      layer("mr.reduce_stage_s") = med("reduce_stage_s")
      mrLayers(chains.toSeq, walls.toSeq)
    } else {
      // the streaming queries run twice, traced; the second run is kept
      // out of the loop medians above and reported on its own
      val streamRuns = (0 until 2).map { _ => runJob("profile", profileQueries); tracedJobs.remove(tracedJobs.size - 1) }
      (queries ++ profileQueries).foreach { q =>
        val p = if (q.contains("_stream_")) s"streaming.$q" else s"operators.$q"
        def m(k: String): Double =
          if (profileQueries.contains(q)) streamRuns.last(s"$q/$k") else med(s"$q/$k")
        layer(s"$p.s") = m("wall_s")
        if (q.contains("_stream_")) {
          layer(s"$p.batches") = m("stream.batches")
          layer(s"$p.trigger_s") = m("stream.trigger_s")
          layer(s"$p.add_batch_s") = m("stream.add_batch_s")
          layer(s"$p.state_commit_s") = m("stream.state_commit_s")
          layer(s"$p.state_rows") = m("stream.state_rows")
          layer(s"$p.outside_trigger_s") = m("stream.outside_trigger_s")
        } else {
          layer(s"$p.cpu_s") = m("exec.cpu_s")
          layer(s"$p.stages") = m("sched.stages")
          layer(s"$p.shuffle_mb") = m("shuffle.write_mb")
        }
      }
      layer("trace.layer_sum_s") = queries.map(q => layer(s"operators.$q.s")).sum
      kernels()
    }
    layer("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def run(): Unit = {
    val setups = setUp(a("setups").toInt)
    (0 until a("warmup").toInt).foreach(_ => runJob("warmup"))
    if (trace) traceRun() else loop("timed")
    val spansPath = s"$work/spans.jsonl"
    Files.write(Paths.get(spansPath), spans.map { s =>
      jobj(Seq("id" -> s.id.toString, "name" -> jstr(s.name), "parent" -> s.parent.toString,
        "job" -> s.job.toString, "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
    val json = jobj(Seq(
      "setups" -> setups.map { case (s, sc) => jobj(Seq("session_s" -> jnum(s), "scan_s" -> jnum(sc))) }
        .mkString("[", ", ", "]"),
      "jobs" -> jobsJson.mkString("[\n", ",\n", "]"),
      "layers" -> jobj(layer.map { case (k, v) => k -> jnum(v) }),
      "spans" -> jstr(spansPath),
      "oracle_sql" -> (if (isMr) "{}"
        else jobj((queries ++ profileQueries).map(q => q -> jstr(SparkEntry.oracleSql(q))))),
      "vm_hwm_kb" -> vmHwmKb().toString))
    Files.write(Paths.get(a("result")), json.getBytes(UTF_8))
  }
}
