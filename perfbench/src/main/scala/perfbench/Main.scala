package perfbench

import scala.collection.mutable

import graft.{ScopedCache, Tables}
import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark JVM. `run.py` launches it for a set-up sample
  * (`--mode setup`), for a set-up sample and a cold pass (`--mode cold`)
  * and for the measured run (`--mode run`).
  *
  * Every mode creates a fresh session and registers every table of the
  * workload through `Tables.load`, then prints `PERFBENCH_READY`; the
  * launcher times JVM start to that line as `setup_s`. A set-up sample
  * ends there. The other modes make one cold pass over the workload's
  * ops; a run then makes steady passes in a seeded order for about
  * `--seconds`. Both write the raw samples to `--out` as JSON.
  * Statistics and the oracle comparison are done by the launcher. */
object Main {
  final case class Opts(mode: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String, out: String,
                        cores: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("mode"), m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("work"), m("out"),
      m("cores").toInt)
  }

  /** Only the cold pass: no warm-up and no steady passes. */
  def coldOnly(o: Opts): Boolean = o.mode == "cold"

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[ScratchRedirectFs].getName)
      .config("spark.hadoop.perfbench.scratch.from",
        new java.io.File(graft.operators.Lake.scratch("layout")).getParent)
      .config("spark.hadoop.perfbench.scratch.to", s"${o.work}/scratch")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[ScratchRedirectFs],
      s"file: resolves to ${fs.getClass.getName}, not the scratch redirect")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val loadStart = System.nanoTime()
    Workloads.tables(o.workload).foreach {
      case "events" => Tables.events(spark, o.data)
      case t => Tables.load(spark, o.data, t)
    }
    val loadS = (System.nanoTime() - loadStart) / 1e9
    println("PERFBENCH_READY")
    System.out.flush()
    // a set-up sample ends here; its session holds nothing to keep
    if (o.mode == "setup") Runtime.getRuntime.halt(0)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "tables_load_s" -> loadS,
      "tables_load_calls" -> Workloads.tables(o.workload).size)
    val body =
      if (o.workload == "lake_ingest") new Ingest(spark, o, tracer).run()
      else new QueryRun(spark, o, tracer).run()
    result ++= body
    result("rss_hwm_kb") = rssHwmKb()
    if (!coldOnly(o)) result("heap_retained_bytes") = retainedHeap()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), Json(result))
    // everything measured and checked is written; the session and its
    // temporary files go with the JVM
    println("PERFBENCH_DONE")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  def rssHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  /** Heap still in use after a full collection, with the session and
    * everything it caches alive. */
  def retainedHeap(): Long = {
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed
  }

  /** Every regular file under `f` (or `f` itself). */
  def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(files)
    else Seq(f)

  def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

/** The query workloads: a cold pass, then steady passes. */
final class QueryRun(spark: SparkSession, o: Main.Opts, tracer: Option[Tracer]) {
  private val ops = Workloads.queryMix
  private val expected = mutable.HashMap.empty[String, String]
  private val samples = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val sc = spark.sparkContext
  private var persistedMax = 0
  private var storageBytesMax = 0L
  private var leakedMax = 0
  private val layoutBuilt = mutable.ArrayBuffer.empty[(String, String, Long)]

  private def traced[T](name: String, layer: String)(body: => T): T =
    tracer.fold(body)(_.span(name, layer)(body))

  /** One op call: build the DataFrame, then collect it. Tracing splits
    * the action into planning and execution. */
  private def call(op: String, pass: Int): Unit = {
    val module = Workloads.moduleOf(op)
    val rec = mutable.LinkedHashMap[String, Any]("op" -> op, "module" -> module, "pass" -> pass)
    val tracing = tracer.exists(_.enabled)
    var callId = -1
    try {
      val q = Workloads.query(op)
      val (df, rows) = traced(op, module) {
        callId = tracer.filter(_.enabled).map(_.calls.size - 1).getOrElse(-1)
        val t0 = System.nanoTime()
        val df = traced(s"$module.build", module)(q.fn(spark, o.data))
        val t1 = System.nanoTime()
        if (tracing) traced("spark.plan", "spark")(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val rows = traced(s"$module.action", module)(df.collect())
        val t3 = System.nanoTime()
        rec("build_s") = (t1 - t0) / 1e9
        rec("action_s") = (t3 - t1) / 1e9
        if (tracing) rec("plan_s") = (t2 - t1) / 1e9
        (df, rows)
      }
      rec("rows") = rows.length
      if (tracing) {
        rec("plan_phases_ms") = df.queryExecution.tracker.phases
          .map { case (k, v) => k -> v.durationMs }
        rec("files_read") = tracer.get.filesRead(df.queryExecution.executedPlan)
      }
      check(op, pass, df.columns.toSeq, rows, df.schema, rec)
    } catch {
      case e: Throwable =>
        rec("ok") = false
        rec("error") = Main.errorText(e)
        System.err.println(s"PERFBENCH FAILURE ${o.workload} $op pass=$pass: ${Main.errorText(e)}")
        e.printStackTrace()
    } finally ScopedCache.releaseAll()
    if (callId >= 0) rec("call") = callId
    if (tracing) {
      persistedMax = math.max(persistedMax, sc.getPersistentRDDs.size)
      storageBytesMax = math.max(storageBytesMax,
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }
    samples += rec
  }

  /** The cold pass records each result's hash and writes the rows for
    * the oracle; steady passes must reproduce the cold hash. */
  private def check(op: String, pass: Int, cols: Seq[String], rows: Array[Row],
                    schema: org.apache.spark.sql.types.StructType,
                    rec: mutable.Map[String, Any]): Unit = {
    val h = Canon.hash(cols, rows)
    rec("hash") = h
    if (pass == 0) {
      expected(op) = h
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(s"${o.work}/out/$op")
      rec("ok") = true
    } else expected.get(op) match {
      case Some(`h`) => rec("ok") = true
      case Some(_) =>
        rec("ok") = false
        rec("error") = "result differs from the cold-pass result"
      case None =>
        rec("ok") = false
        rec("error") = "no verified cold-pass result to compare with"
    }
  }

  /** Top-level entries of the layout roots (graft's scratch root and the
    * session warehouse, which holds bucketed tables):
    * root/name -> (bytes, newest mtime). */
  private def scratchState(): Map[String, (Long, Long)] =
    Seq("scratch", "warehouse").flatMap { root =>
      Option(new java.io.File(s"${o.work}/$root").listFiles()).map(_.toSeq).getOrElse(Nil)
        .map { d =>
          val fs = Main.files(d)
          s"$root/${d.getName}" -> ((fs.map(_.length()).sum, fs.map(_.lastModified()).maxOption.getOrElse(0L)))
        }
    }.toMap

  private def endPass(): Unit =
    if (tracer.exists(_.enabled)) leakedMax = math.max(leakedMax, sc.getPersistentRDDs.size)

  def run(): mutable.LinkedHashMap[String, Any] = {
    tracer.foreach(_.enabled = true)
    ops.foreach { op =>
      val before = if (tracer.isDefined) scratchState() else Map.empty[String, (Long, Long)]
      call(op, 0)
      if (tracer.isDefined) {
        val after = scratchState()
        after.foreach { case (dir, st) =>
          if (!before.get(dir).contains(st)) layoutBuilt += ((op, dir, st._1))
        }
      }
    }
    endPass()

    val rng = new scala.util.Random(o.seed)
    val s0 = System.nanoTime()
    val deadline = s0 + (o.seconds * 1e9).toLong
    // Whole passes only, at least one, so every run samples every op
    // equally often; another pass starts only when the last one's
    // duration still fits before the deadline. A traced run makes at
    // least two and traces each op in every other pass, half of the ops
    // starting traced, so the tracing overhead is measured on the same
    // data and session.
    val minPasses = if (Main.coldOnly(o)) 0 else if (tracer.isDefined) 2 else 1
    var pass = 0
    var lastPassNs = 0L
    while (pass < minPasses ||
        !Main.coldOnly(o) && System.nanoTime() + lastPassNs <= deadline) {
      pass += 1
      val p0 = System.nanoTime()
      rng.shuffle(ops).foreach { op =>
        tracer.foreach(_.enabled = (ops.indexOf(op) + pass) % 2 == 0)
        call(op, pass)
      }
      tracer.foreach(_.enabled = true)
      endPass()
      lastPassNs = System.nanoTime() - p0
    }
    val steadyS = (System.nanoTime() - s0) / 1e9
    tracer.foreach { t => t.enabled = false; t.drain() }

    val out = mutable.LinkedHashMap[String, Any](
      "steady_wall_s" -> steadyS, "steady_passes" -> pass,
      "samples" -> samples,
      "oracle_sql" -> ops.flatMap(op => Workloads.query(op).oracle.map(op -> _)).toMap)
    tracer.foreach { t =>
      out("trace") = mutable.LinkedHashMap[String, Any](
        "cache_persisted_rdds_max" -> persistedMax,
        "cache_storage_bytes_max" -> storageBytesMax,
        "cache_leaked_rdds" -> leakedMax,
        "layout_built" -> layoutBuilt.map { case (op, d, b) => Map("op" -> op, "dir" -> d, "bytes" -> b) },
        "calls" -> Traces.calls(t))
    }
    out
  }
}
